package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
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

  /** Collects `df` on one evaluation path — whole-stage generated code
    * (`codegen`) or every expression interpreted — after asserting the
    * executed plan takes that path. A projection over a local relation
    * would be folded into a new local relation by interpreted eval at
    * plan time, so that rule is kept out on both paths, and a generated
    * class that fails to compile fails the run instead of falling back.
    */
  def collectOn(codegen: Boolean)(df: => DataFrame): Array[Row] = {
    val conf = Seq(
      "spark.sql.codegen.factoryMode" -> (if (codegen) "FALLBACK"
        else "NO_CODEGEN"),
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    val prev = conf.map { case (key, _) => key -> spark.conf.getOption(key) }
    conf.foreach { case (key, v) => spark.conf.set(key, v) }
    try {
      val d = df
      val plan = d.queryExecution.executedPlan
      val fused = plan.find(_.isInstanceOf[WholeStageCodegenExec]).isDefined
      assert(fused == codegen, s"whole-stage codegen $fused in\n$plan")
      d.collect()
    } finally prev.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
  }
}
