package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pins the fused [[graft.functions.NearestCentroids]] expression to the
  * composed formulation it replaced (`array_min` / `array_sort` over k
  * per-centroid l2Sq structs): same argmin, same (distance, id) tie
  * ordering, same ragged/null/float conventions — on both the codegen
  * and interpreted evaluation paths, each asserted on the executed plan
  * (`toDF` input would otherwise be evaluated at plan time).
  */
class NearestCentroidsSpec extends SparkSpec {
  import spark.implicits._

  /** The pre-fusion reference formulation, kept here as the oracle. */
  private def composedTopN(v: Column, cents: Seq[Seq[Double]],
                           n: Int): Column = {
    val scored = array(cents.zipWithIndex.map { case (c, i) =>
      struct(VectorFunctions.l2Sq(v, typedLit(c)).as("d"),
        lit(i + 1).as("cid"))
    }: _*)
    slice(array_sort(scored), 1, math.min(n, cents.size))
      .cast("array<struct<d:double,cid:int>>")
  }

  // deterministic pseudo-random doubles in [-1, 1]
  private def pseudo(seed: Int): Double =
    math.sin(seed * 127.1 + 311.7) % 1.0

  private val dim = 7
  private val cents: Seq[Seq[Double]] =
    (0 until 11).map(c => (0 until dim).map(d => pseudo(c * 100 + d)))
  // two exactly-duplicated centroids force distance ties
  private val centsWithTies: Seq[Seq[Double]] =
    cents ++ Seq(cents(3), cents(7))

  private def vectors = {
    val full = (0 until 40).map(r =>
      (r.toLong, Array.tabulate(dim)(d => pseudo(r * 1000 + d).toFloat)))
    // ragged (short), on-centroid (exact tie with a duplicated centroid),
    // and empty vectors
    val edge = Seq(
      (100L, Array.tabulate(3)(d => pseudo(9000 + d).toFloat)),
      (101L, cents(3).map(_.toFloat).toArray),
      (102L, Array.empty[Float]))
    (full ++ edge).toDF("id", "v")
  }

  /** The fused ids per vector on one evaluation path, after checking
    * them against the composed form. The composed form runs in its own
    * query: its higher-order functions have no generated code and would
    * keep the fused expression out of whole-stage codegen. */
  private def compareAll(n: Int, cs: Seq[Seq[Double]],
                         codegen: Boolean = true): Map[Long, Seq[Int]] = {
    def ids(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val fused = ids(collectOn(codegen)(vectors.select(col("id"),
      VectorFunctions.nearestCentroids(col("v"), cs, n))))
    val composed = ids(vectors.select(col("id"), transform(
      composedTopN(col("v"), cs, n), s => s.getField("cid"))).collect())
    val bad = fused.filter { case (id, f) => composed(id) != f }
    assert(fused.size == composed.size && bad.isEmpty,
      s"fused != composed for n=$n: $bad")
    fused
  }

  test("fused top-1 and top-n match the composed form (incl. ties, " +
    "ragged, empty)") {
    for (n <- Seq(1, 3, 11, 25)) compareAll(n, centsWithTies)
    compareAll(1, cents)
  }

  test("ties resolve to the smallest centroid id on both paths") {
    // vector 101 sits exactly on centroid 4 == centroid 12
    for (codegen <- Seq(true, false)) {
      val row = collectOn(codegen)(vectors.filter(col("id") === 101L)
        .select(VectorFunctions.nearestCentroids(col("v"), centsWithTies, 2)))
        .head.getSeq[Int](0)
      assert(row.head == 4, s"tie should pick id 4, got $row ($codegen)")
    }
  }

  test("NaN vector elements rank all centroids last, ties by id — ids " +
    "1..n, never an unfilled 0 slot (both eval paths)") {
    val df = Seq((1L, Array(Float.NaN, 0.5f, 0.25f)),
      (2L, Array(0.5f, Float.NaN))).toDF("id", "v")
    def run(codegen: Boolean): Seq[Seq[Int]] = collectOn(codegen)(df
      .select(VectorFunctions.nearestCentroids(col("v"), cents.take(5), 3)))
      .map(_.getSeq[Int](0)).toSeq
    // NaN in every distance ⇒ composed (d, cid) NaN-last ordering
    // degenerates to cid order; fused must agree
    for (codegen <- Seq(true, false))
      assert(run(codegen) == Seq(Seq(1, 2, 3), Seq(1, 2, 3)), codegen)
  }

  test("n = 0 returns an empty array instead of throwing") {
    val out = vectors.limit(2)
      .select(VectorFunctions.nearestCentroids(col("v"), cents, 0))
      .collect().map(_.getSeq[Int](0).toSeq)
    assert(out.forall(_.isEmpty))
  }

  test("interpreted eval matches codegen") {
    for (n <- Seq(1, 4, 13))
      assert(compareAll(n, centsWithTies, codegen = false) ==
        compareAll(n, centsWithTies), s"n=$n")
  }

  test("auto-knobs: floors keep every ORACLE SF at the historical " +
    "setting; growth keeps cell/bucket population bounded") {
    import graft.operators.{IvfIndex, Similarity}
    // driver corpora: sf0.001/sf0.01 = 500, sf0.1 = 2000 embeddings
    for (n <- Seq(500L, 2000L)) {
      assert(IvfIndex.kFor(n) == 8)
      assert(Similarity.planesFor(n) == 6)
    }
    assert(IvfIndex.kFor(20000L) == 80) // the ~sf1 corpus
    assert(Similarity.planesFor(20000L) == 10)
    // the top-k path's floor pins its historical planes=4 at the
    // ORACLE SFs (500 vectors); by design it already scales to 6 at
    // sf0.1's 2000 — s02 is a no-oracle row, so only sf0.001/sf0.01
    // content is contractual
    assert(Similarity.planesFor(500L, floor = 4) == 4)
    assert(Similarity.planesFor(2000L, floor = 4) == 6)
    assert(Similarity.planesFor(20000L, floor = 4) == 10)
    // growth law: expected population stays within 2x of the target
    for (n <- Seq(100000L, 10000000L, 1000000000L)) {
      val cell = n.toDouble / IvfIndex.kFor(n)
      assert(cell <= 250.0 && IvfIndex.kFor(n) <= n)
      val bucket = n.toDouble / (1L << Similarity.planesFor(n))
      assert(bucket <= 32.0)
    }
  }

  test("double-element arrays work; null vectors assign null (a fix " +
    "over the composed form, which ranked null distances)") {
    val df = Seq((1L, Seq(0.5, -0.25, 0.75)), (2L, null))
      .toDF("id", "v")
    val out = df.select(col("id"),
      VectorFunctions.nearestCentroids(col("v"), cents.take(4), 2)
        .as("fused"),
      transform(composedTopN(col("v"), cents.take(4), 2),
        s => s.getField("cid")).as("composed"))
      .collect().sortBy(_.getLong(0))
    assert(out(0).getSeq[Int](1) == out(0).getSeq[Int](2))
    // null in → null out (the composed array_min compared null `d`
    // struct fields and produced an arbitrary-looking centroid id)
    assert(out(1).isNullAt(1))
  }
}
