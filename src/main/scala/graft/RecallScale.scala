package graft

import graft.operators.{IvfIndex, PqIndex, Similarity}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** ANN recall at SCALE (VERDICT r14 Next #2; a measurement main, not
  * part of the driver contract): `RecallSpec` pins the
  * tier floors at the gate SF only, while the auto-knobs
  * (`IvfIndex.kFor`, `Similarity.planesFor`) ride corpus count — this
  * harness measures recall@5 of the SERVING read path
  * ([[PqIndex.searchRefined]], ADC shortlist + exact re-rank) and the
  * knob-riding shortlist tiers (IVF, SRP-LSH) against exact
  * brute-force cosine top-5 ground truth on a scaled-up corpus
  * (default: the sf10 seeded-QR embeddings, build-audited in
  * [[ScaleUp]]).
  *
  * Ground truth is one distributed corpus pass per run (broadcast
  * queries, window top-5); only the nQ·5 pair lists land on the
  * driver. Output: one JSON line per tier + a summary line, redirected
  * into `bench/recall_r15_*.json` by the runner.
  */
object RecallScale {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/scale/sf10")
    val nQ = if (args.length > 1) args(1).toInt else 100
    val spark = LocalSession()

    val emb = Tables.load(spark, dir, "embeddings")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = emb.count()
    val queries = emb.filter(col("vec_id") < nQ)
    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    val (exact, exactSec) = timed(pairs(
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)))
    def f(v: Double): String = "%.4f".formatLocal(java.util.Locale.US, v)
    println(s"""{"metric":"recall_ground_truth","pairs":${exact.size},""" +
      s""""corpus_vecs":$n,"queries":$nQ,"sec":${f(exactSec)},""" +
      s""""sf":"$dir"}""")

    def report(tier: String, floorAtGate: Double,
               got: => org.apache.spark.sql.DataFrame): Double = {
      val (p, sec) = timed(pairs(got))
      val recall = exact.intersect(p).size.toDouble / exact.size
      println(s"""{"metric":"recall_at_5","tier":"$tier",""" +
        s""""value":${f(recall)},"gate_sf_floor":$floorAtGate,""" +
        s""""pairs":${p.size},"sec":${f(sec)},"sf":"$dir"}""")
      recall
    }

    // the serving path: PQ codes (m=8, 256 codewords — the s07/s12
    // budget) + exact re-rank, swept across shortlist sizes (args(2+))
    // to measure the shortlist-vs-corpus-count curve; the default
    // sweep brackets the auto-knob (PqIndex.shortlistFor)
    val codebook = PqIndex.fit(emb, "vec_id", "embedding",
      m = 8, k = 256, iters = 3)
    val encoded = PqIndex.encode(emb, "vec_id", "embedding", codebook)
      .persist(StorageLevel.MEMORY_AND_DISK)
    encoded.count() // the one-time index build, outside the read timing
    val shortlists: Seq[Int] =
      if (args.length > 2) args.drop(2).toSeq.map(_.toInt)
      else Seq(100, PqIndex.shortlistFor(n))
    val refined = shortlists.map { sl =>
      report(s"pq_refine_shortlist$sl", 0.90,
        PqIndex.searchRefined(encoded, emb, queries, "vec_id",
          "embedding", codebook, k = 5, shortlist = sl))
    }.last

    // knob-riding shortlist tiers, at the knobs the corpus count picks.
    // The IVF read is a full nProbe CURVE (VERDICT r15 stretch #7):
    // the knob needs its own recall-vs-cost evidence the way
    // shortlistFor has, not one point.
    val kIvf = IvfIndex.kFor(n)
    val cents = IvfIndex.fit(emb, "vec_id", "embedding", kIvf, iters = 3)
    val ivfCurve = Seq(1, 2, 4, 8).map { np =>
      np -> report(s"ivf_k${kIvf}_probe$np", if (np == 2) 0.75 else 0.0,
        IvfIndex.search(emb, queries, "vec_id", "embedding", cents,
          k = 5, nProbe = np))
    }
    val ivf = ivfCurve.find(_._1 == 2).get._2

    val planes = Similarity.planesFor(n)
    report(s"srp_lsh_planes$planes", 0.15,
      Similarity.lshTopK(emb, queries, "vec_id", "embedding", k = 5,
        planes = planes))
    // multi-probe (radius 1): the recall the plane growth spent,
    // bought back at (1+planes)× the bounded candidate volume
    val lshMp = report(s"srp_lsh_planes${planes}_probe1", 0.15,
      Similarity.lshTopK(emb, queries, "vec_id", "embedding", k = 5,
        planes = planes, probeRadius = 1))
    // QUERY-DIRECTED multi-probe (r16): same bucket budget as blind
    // radius 1, then the budget ladder — the serving question is what
    // recall a bounded candidate volume buys when probes are spent in
    // margin order (Lv et al. VLDB 2007). Every rung is CLAMPED to the
    // perturbation universe (ADVICE r17: at planes <= 6 — small
    // corpora under planesFor's floor — 1 + 4·planes exceeds the
    // radius-2 universe and lshTopKDirected would throw, crashing the
    // whole run; probeBudgetFor applies the same clamp to the serving
    // knob) so small-SF runs degrade to the full universe instead.
    val r2Universe = 1 + planes + planes * (planes - 1) / 2
    val dirBudgets =
      Seq(1 + planes, 1 + 2 * planes, 1 + 4 * planes)
        .map(math.min(_, r2Universe)).distinct
    val lshDir = dirBudgets.map { pb =>
      pb -> report(s"srp_lsh_planes${planes}_directed$pb", 0.15,
        Similarity.lshTopKDirected(emb, queries, "vec_id", "embedding",
          k = 5, planes = planes, probeBuckets = pb))
    }.last._2
    // radius-3 universe at the SAME top budget (VERDICT r16 stretch
    // #8): does admitting triple flips — which only displace pairs
    // when three margins are all narrow — buy one more cheap rung, at
    // a FIXED candidate volume? (r3 universe = r2 + the one narrowest
    // triple, so the clamp ceiling is one higher)
    val r3Budget = math.min(1 + 4 * planes, r2Universe + 1)
    report(s"srp_lsh_planes${planes}_directed${r3Budget}_r3", 0.15,
      Similarity.lshTopKDirected(emb, queries, "vec_id", "embedding",
        k = 5, planes = planes, probeBuckets = r3Budget,
        maxRadius = 3))

    println(s"""{"metric":"recall_scale_summary","refined":${f(refined)},""" +
      s""""ivf":${f(ivf)},"lsh_mp":${f(lshMp)},"lsh_dir":${f(lshDir)},""" +
      s""""corpus_vecs":$n,"queries":$nQ,"sf":"$dir"}""")
    spark.stop()
  }
}
