package perfbench

import java.nio.file.{Files, Path}

import graft.sources.{Fantoir, InseeDeces, Sirene, ZipCsv}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The generated import files parse, through the repo's own `sources.*`
  * readers, to exactly the row counts the generators report.
  */
class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private lazy val dir: Path = {
    Files.createDirectories(java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir")))
    Files.createTempDirectory("perfbench-gen")
  }

  override def afterAll(): Unit = spark.stop()

  test("FANTOIR: each record type parses to the generated count") {
    val path = dir.resolve("fantoir.txt")
    val counts = Gen.fantoir(path, seed = 7, voies = 1234)
    val parts = Fantoir.dispatch(spark, path.toString)
    for (t <- Seq("direction", "commune", "voie"))
      assert(parts(t).count() == counts(t), t)
    assert(parts("header").count() == 1)
    // blank nature codes, as in real files
    assert(parts("voie").filter(col("code_nature_de_voie") === "").count() > 0)
  }

  test("SIRENE: each zip parses with its dessin to the generated count") {
    val sdir = dir.resolve("sirene")
    val counts = Gen.sirene(sdir, seed = 7, rows = 500)
    val sources = Sirene.dataSources(sdir)
    assert(sources.map(_._1) == Seq("StockEtablissement", "StockUniteLegale"))
    for ((t, zip, dessin) <- sources) {
      val table = Sirene.tableDef(t,
        spark.read.option("header", "true").csv(dessin.toString))
      val df = Sirene.castTo(ZipCsv.readCsv(spark, zip.toString), table)
      assert(df.count() == counts(table.name), t)
    }
    // blank cells and missing sigles, as in real files
    val ul = sources.find(_._1 == "StockUniteLegale").get
    val raw = ZipCsv.readCsv(spark, ul._2.toString)
    assert(raw.filter(col("sigleUniteLegale").isNull).count() > 0)
  }

  test("deaths: the fixed-offset file parses to the generated count") {
    val path = dir.resolve("deces.txt")
    val counts = Gen.deces(path, seed = 7, rows = 800)
    val df = InseeDeces.read(spark, path.toString)
    assert(df.count() == counts("deces"))
    // fewer than 8 prénoms leaves the last columns null
    assert(df.filter(col("prenom8").isNull).count() == counts("deces"))
    assert(df.filter(col("nom") === "").count() == 0)
  }

  test("the same seed gives the same bytes") {
    val a = dir.resolve("a.txt")
    val b = dir.resolve("b.txt")
    Gen.deces(a, seed = 3, rows = 50)
    Gen.deces(b, seed = 3, rows = 50)
    assert(Files.readAllBytes(a).sameElements(Files.readAllBytes(b)))
  }

  test("stream batches mix near-duplicates in equally, by seed") {
    val ids = (1L to 103L).reverse
    val dups = (1L to 103L by 5).toSet // 21 ids: 2 a batch of 10
    val b = Gen.batches(ids, dups, seed = 5, perBatch = 10)
    assert(b.size == 10)
    assert(b.forall(x => x.size == 10 && x.count(dups) == 2))
    assert(b.flatten.distinct.size == 100)
    assert(Gen.batches(ids, dups, seed = 5, perBatch = 10) == b)
    assert(Gen.batches(ids, dups, seed = 6, perBatch = 10) != b)
  }
}
