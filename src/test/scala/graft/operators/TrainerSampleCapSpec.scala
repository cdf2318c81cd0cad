package graft.operators

import org.apache.spark.sql.functions._

/** The trainer-sample cap contract (VERDICT r7 Next #7): `collectSample`
  * is the one driver-side collect whose size is a parameter, so the
  * ceiling is load-bearing — it is what makes "the full corpus never
  * reaches the driver" a mechanical property rather than a convention.
  */
class TrainerSampleCapSpec extends graft.SparkSpec {

  test("collectSample refuses caps above MaxCap and non-positive caps") {
    assert(Sampling.MaxCap == 65536)
    val df = spark.range(4).select(col("id"),
      array(lit(1.0f), lit(2.0f)).as("emb"))
    intercept[IllegalArgumentException] {
      Sampling.collectSample(df, "id", "emb", Sampling.MaxCap + 1)
    }
    intercept[IllegalArgumentException] {
      Sampling.collectSample(df, "id", "emb", 0)
    }
  }

  test("a cap at the ceiling collects at most cap rows, deterministically") {
    val df = spark.range(10).select(col("id"),
      array(col("id").cast("float"), lit(0.0f)).as("emb"))
    val s = Sampling.collectSample(df, "id", "emb", Sampling.MaxCap)
    assert(s.length == 10) // corpus smaller than cap: everything, once
    val capped = Sampling.collectSample(df, "id", "emb", 3)
    assert(capped.length == 3)
    assert(capped.map(_.head).toSeq == Seq(0.0, 1.0, 2.0)) // id order
  }

  // ---- ORDER pins (ADVICE r13 #4) ----------------------------------
  // IvfIndex.fit seeds its first kEff centroids as sample.take(kEff),
  // so collectSample's contract is not just "deterministic rows" but
  // "rows IN the orderBy order". That currently rides two Spark
  // internals (TakeOrderedAndProject emitting one sorted partition,
  // and the repartition(1) round-robin pre-sort being skipped at
  // numPartitions == 1) — these pins make a Spark upgrade that
  // reorders the path fail loudly instead of silently changing every
  // trained centroid.

  // vectors encode their id so order is observable from the returned
  // Array[Array[Double]] alone; 8 input partitions exercise the
  // executor-side merge the sf100 fix moved the collect onto
  private def vecCorpus = spark.range(0, 200, 1, 8)
    .selectExpr("id", "array(cast(id as double), 1.0d) as vec")

  test("collectSample(byHash = false) returns rows IN ascending-id " +
      "order, not merely a deterministic set") {
    val got = Sampling
      .collectSample(vecCorpus, "id", "vec", cap = 37)
      .map(_(0).toLong)
    assert(got.toSeq == (0L until 37L),
      "sample must be the ordered prefix, in order — centroid " +
        "seeding depends on the sequence, not the set")
  }
}
