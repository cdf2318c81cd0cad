package graft

import org.apache.spark.sql.functions._

/** Test-gate form of [[BroadcastAudit]] (the d41 kill class: a
  * broadcast-join build side whose subtree contains a Generate, so the
  * size estimate is the pre-explode input's and a corpus-scaled frame
  * can slip under the auto-broadcast line). The r12 surface sweep
  * adjudicated every flagged site by hand (STATUS_r12 §10); this suite
  * encodes that adjudication as an explicit per-query allowlist so any
  * NEW generated-frame broadcast fails `sbt test` instead of waiting
  * for the next manual sweep.
  *
  * The allowlist authorizes QUERIES, with the adjudicated reason per
  * entry; the gate asserts the flagged set is a SUBSET (an entry whose
  * broadcasts disappear — e.g. a join gets pinned — must not fail the
  * build, it just leaves a stale allowlist row for the next cleanup).
  */
class BroadcastGateSpec extends SparkSpec {
  import spark.implicits._

  test("detector fires on a deliberately-unpinned generated broadcast " +
       "and stays quiet once the join is merge-pinned") {
    // mirror of the pre-pin d41 validation: an exploded frame forced
    // into the build side of a broadcast join
    val docs = (1L to 50L).map(i => (i, s"text $i words here"))
      .toDF("id", "text")
    val grams = docs.select(col("id"),
      explode(split(col("text"), " ")).as("tok"))
    val bad = docs.join(broadcast(grams), Seq("id"))
    assert(BroadcastAudit.generatedBroadcasts(
      bad.queryExecution.executedPlan).nonEmpty,
      "the detector must flag an explicit broadcast over an explode")
    val good = docs.join(grams.hint("merge"), Seq("id"))
    assert(BroadcastAudit.generatedBroadcasts(
      good.queryExecution.executedPlan).isEmpty,
      "a merge-pinned generated join must not flag")
  }

  // STATUS_r12 §10 adjudication, by class. A query listed here may
  // broadcast generated frames; anything else may not.
  private val Allowlist: Map[String, String] = Map(
    // measured-bound decisions (r13): EdJoin computes the frame's TRUE
    // byte bound from exact corpus length moments and broadcasts only
    // under a 64 MB cap — the estimate-guess window cannot pick these
    "d40_edit_nn" -> "measured-bound (EdJoin length moments)",
    "d41_edit_pairs" -> "measured-bound (EdJoin length moments)",
    "d42_edit_dedup_survivors" -> "measured-bound (EdJoin length moments)",
    // bounded overshoot: band frames build on the CACHED signature
    // relation (estimate = actual cached bytes), explode multiplier is
    // exactly the band count (16) — worst mis-broadcast ~16×10 MB,
    // wasteful never fatal
    "d06_minhash_lsh_pairs" -> "bounded overshoot (cached sigs ×16 bands)",
    "d20_decontam_near_dup" -> "bounded overshoot (cached sigs ×16 bands)",
    // safe: narrow count/vocabulary frames (8-16-byte rows) whose true
    // size tracks row count sub-linearly in input bytes — the
    // under-estimate window implies a small true frame
    "d26_rarest_token" -> "safe (vocabulary count frame)",
    "d35_bigram_lm_score" -> "safe (vocabulary count frame)",
    "d37_cross_doc_dup_frac" -> "safe (per-doc count frame)",
    "d38_exact_span_residual" -> "safe (per-doc count frame)",
    // legitimately bounded: aggregated to constant size pre-broadcast
    "d51_curation_pipeline" ->
      "bounded (per-language rates, 1-row totals; decontam idx pinned r13)",
    "s13_label_centroid_stats" -> "bounded (per-label stats)",
    "s15_bm25_scores" -> "bounded (3-token DF frame)",
    "w06_global_quantiles" -> "bounded (quantile boundary frames)",
    // deliberately broadcast (r16): the DIRECTED-probe explode runs on
    // the QUERY side, which is bounded-small by the API contract
    // (queries × probeBuckets rows, probeBuckets ≤ 1+p+p(p−1)/2 — at
    // the bench surface 5 queries × ≤53 buckets); the corpus side
    // never explodes.
    "s17_lsh_directed_topk" ->
      "bounded (query-side probe-list explode, ≤ queries×probeBuckets)",
    // r17: s17 plus ONE radius-3 bucket per query at the same budget —
    // identical adjudication, the explode stays query-side and the
    // probe list grows by at most one mask
    "s18_lsh_directed_r3_topk" ->
      "bounded (query-side probe-list explode, ≤ queries×probeBuckets)")

  test("no query outside the adjudicated allowlist broadcasts a " +
       "generated frame (sf0.1 plans, the sweep SF the allowlist was " +
       "adjudicated at)") {
    val dir = "/root/testdata/sf0.1"
    assume(new java.io.File(s"$dir/documents.parquet").exists(),
      s"$dir not present on this machine")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(BroadcastAudit.Trainers)
    val offenders = names.flatMap { name =>
      // plan construction only — nothing executes except the memoized
      // pre-plan audits (PpJoin injectivity, EdJoin length moments)
      val n = scala.util.Try(BroadcastAudit.generatedBroadcasts(
        SparkEntry.queries(name)(spark, dir)
          .queryExecution.executedPlan).size).getOrElse(0)
      if (n > 0 && !Allowlist.contains(name)) Some(s"$name ($n)") else None
    }
    assert(offenders.isEmpty,
      "generated-frame broadcast outside the adjudicated allowlist — " +
        "pin the join (hint(\"merge\")) or adjudicate it in " +
        s"BroadcastGateSpec: ${offenders.mkString(", ")}")
  }
}
