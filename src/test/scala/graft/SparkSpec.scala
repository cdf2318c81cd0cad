package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites (one per JVM; sbt forks once). */
object SparkSpec {
  val Cpus = 4
  lazy val spark: SparkSession = LocalSession(Cpus)
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
  override def afterAll(): Unit = () // keep the shared session alive
}
