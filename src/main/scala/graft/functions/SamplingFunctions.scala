package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, content-addressed sampling for corpus pipelines.
  *
  * Training-data splits must be REPRODUCIBLE (the same document lands in
  * the same split on every run, on any cluster layout) and LEAK-FREE
  * (membership is a pure function of content, never of row order or
  * partitioning). Both fall out of bucketing by a content hash:
  * `bucket = hash(text) mod 100`, then comparing the bucket against
  * per-split or per-stratum rate thresholds.
  *
  * The hash here is [[TextFunctions.rollingHashMod]] so the DuckDB
  * oracle can replicate the exact assignment (see d12). At 100 TB you
  * would swap in `xxhash64(text)` — one codegen'd call instead of a
  * per-char fold — without changing any semantics below; both are
  * content hashes, and everything downstream only sees the bucket.
  * Either way the computation is a stateless map-side projection: no
  * shuffle, no RNG state, no driver coordination, and the same document
  * always draws the same bucket even across retries/speculative tasks
  * (Spark's `rand()`-based `sample()` guarantees none of that).
  */
object SamplingFunctions {

  /** Content bucket in [0, buckets). */
  def hashBucket(c: Column, buckets: Int = 100): Column =
    TextFunctions.rollingHashMod(c) % buckets

  /** Train/val/test assignment from a bucket: [0,trainPct) → train,
    * [trainPct, trainPct+valPct) → val, rest → test.
    */
  def splitLabel(bucket: Column, trainPct: Int = 80,
                 valPct: Int = 10): Column =
    when(bucket < trainPct, lit("train"))
      .when(bucket < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
}
