package graft

import graft.functions._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.unsafe.types.UTF8String

/** Pins every string kernel three ways at once: whole-stage codegen
  * output equals interpreted output value for value, and both equal
  * the kernel method called on the driver. The kernels are the ones
  * SQL registration installs ([[TextKernel.sql]]), called through SQL.
  *
  * Input is parquet read back from disk with `ConvertToLocalRelation`
  * kept out, so the projection really runs in the generated code (or
  * in the interpreter); rows cover null, empty, whitespace-only,
  * short, long and hostile-unicode text.
  */
class TextKernelSpec extends SparkSpec {
  import spark.implicits._
  GraftFunctions.register(spark)

  private val texts: Seq[String] = Seq(
    null, "", " ", " \t\n\u000b\f\r ", "a", "ab", "ba", "a b",
    "hello brave new world of spark",
    "the cat sat on the mat the cat sat on the mat",
    "Ünïcödé ﬆring with ✓ and 😀 a 😀 a 𝔘𝔫𝔦",
    " nbsp is content zero​width ﻿bom",
    "é́ Z̶a̷l̸g̵o مرحبا עולם 中文 文字 中文",
    "x\ty  x\ny \r x", "AAA!!! 123 ??? ...",
    (0 until 600).map(i => s"w${i % 37}").mkString(" "),
    "ab" * 3000)

  private def utf8(t: String): UTF8String = UTF8String.fromString(t)

  /** The integer arguments each SQL-registered string kernel is run
    * with; a kernel missing here fails the first test. */
  private val args: Map[String, Seq[Seq[Int]]] = Map(
    "poly_hash" -> Seq(Nil),
    "quality_stats" -> Seq(Nil),
    "word_shingles" -> Seq(Seq(1), Seq(3)),
    "word_shingle_hashes" -> Seq(Seq(1), Seq(2)),
    "gram_hashes" -> Seq(Seq(1), Seq(5)),
    "gram_rows" -> Seq(Seq(5)),
    "cdc_segments" -> Seq(Seq(2), Seq(5)),
    "winnow_fingerprints" -> Seq(Seq(5, 4), Seq(1, 1)),
    "dup_cover" -> Seq(Seq(1, 2, 3)),
    "top_grams" -> Seq(Seq(1, 2, 5)))

  /** One kernel call: its SQL text and its descriptor. */
  private case class Case(sql: String, kernel: TextKernel.Kernel)

  private def cases(text: String): Seq[Case] =
    for (k <- TextKernel.sql; a <- args.getOrElse(k.name, Nil)) yield
      Case((text +: a.map(_.toString)).mkString(s"${k.name}(", ", ", ")"),
        k.kernel(a))

  /** Doubles as raw bits, rows and arrays as lists, so a collected
    * value and a converted driver value compare structurally. */
  private def norm(v: Any): Any = v match {
    case null => null
    case x: Double => java.lang.Double.doubleToRawLongBits(x)
    case r: Row => r.toSeq.map(norm).toList
    case xs: scala.collection.Seq[_] => xs.map(norm).toList
    case x => x
  }

  private lazy val parquet: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_text_kernel")
    val path = dir.resolve("t.parquet").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t").write.parquet(path)
    spark.read.parquet(path)
  }

  /** Every case's output per id, on one evaluation path. */
  private def run(codegen: Boolean): Map[Long, Seq[Any]] = {
    val calls = cases("t")
    collectOn(codegen)(
      parquet.select(col("id") +: calls.map(c => expr(c.sql)): _*))
      .map(r => r.getLong(0) -> calls.indices.map(i => norm(r.get(i + 1))))
      .toMap
  }

  test("codegen, interpreted and the kernel called on the driver agree " +
    "for every string kernel") {
    assert(args.keySet == TextKernel.sql.map(_.name).toSet)
    val gen = run(codegen = true)
    val interp = run(codegen = false)
    assert(gen.size == texts.size && interp.size == texts.size)
    for ((t, id) <- texts.zipWithIndex; (c, i) <- cases("t").zipWithIndex) {
      val ref = if (t == null) null else norm(CatalystTypeConverters
        .convertToScala(c.kernel.eval(utf8(t)), c.kernel.dataType))
      val (g, n) = (gen(id.toLong)(i), interp(id.toLong)(i))
      assert(g == n, s"${c.sql} row $id: codegen $g != interpreted $n")
      assert(g == ref, s"${c.sql} row $id: codegen $g != kernel $ref")
    }
  }

  test("poly_hash, like every string kernel, refuses a non-string " +
    "column at analysis") {
    // without the check a bigint reaches the kernel and fails only at
    // task time (ClassCastException: Long is not UTF8String)
    for (c <- cases("id")) {
      val err = intercept[org.apache.spark.sql.AnalysisException](
        parquet.select(expr(c.sql)).collect())
      assert(err.getMessage.contains(
        s"${c.kernel.name} needs a string column, got BIGINT"), err.getMessage)
    }
  }

  test("the SQL surface refuses malformed argument lists by name") {
    def refused(sql: String): String =
      intercept[IllegalArgumentException](
        parquet.select(expr(sql)).collect()).getMessage
    assert(refused("word_shingles(t, 3, 4)") ==
      "word_shingles(text, n) takes exactly 2 arguments, got 3")
    assert(refused("quality_stats(t, 1)") ==
      "quality_stats(text) takes exactly 1 argument, got 2")
    assert(refused("gram_hashes(t, 0)") ==
      "gram_hashes(text, n): n must be >= 1, got 0")
    assert(refused("winnow_fingerprints(t, 5, length(t))").startsWith(
      "winnow_fingerprints(text, k, w): w must be an integer literal"))
    assert(refused("dup_cover(t)") ==
      "dup_cover(text, n, ...) takes at least 2 arguments, got 1")
    // the descriptor's own bound applies on both surfaces
    assert(refused("cdc_segments(t, 1)").contains("divisor=1: expected >= 2"))
    // the vector kernels share the list: a third vector is not dropped
    assert(refused("vector_dot(array(1.0), array(2.0), array(3.0))") ==
      "vector_dot(a, b) takes exactly 2 arguments, got 3")
  }
}
