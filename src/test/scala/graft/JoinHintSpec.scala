package graft

import org.apache.spark.sql.functions._

/** Join-strategy hints are the operational tuning levers at scale — a
  * misestimated dim that won't broadcast, a skewed SMJ that should
  * shuffle-hash. This pins that each hint actually lands in the
  * physical plan (and that the default differs), so the levers
  * documented in ARCHITECTURE.md §4 stay real — and that AQE's
  * runtime skew split, the lever that needs no hint, fires.
  */
class JoinHintSpec extends SparkSpec {
  import spark.implicits._

  private def fact = (1L to 5000L).map(i => (i % 100, i)).toDF("k", "v")
  private def dim = (0L until 100L).map(i => (i, s"d$i")).toDF("k", "label")

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("broadcast hint forces BHJ even with broadcast disabled by conf") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val unhinted = fact.join(dim, Seq("k"))
      assert(!planOf(unhinted).contains("BroadcastHashJoin"),
        "with the threshold off, the default must not broadcast")
      val hinted = fact.join(broadcast(dim), Seq("k"))
      assert(planOf(hinted).contains("BroadcastHashJoin"),
        "the broadcast hint must override the conf")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("merge and shuffle_hash hints pick SMJ and SHJ respectively") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val smj = fact.hint("merge").join(dim.hint("merge"), Seq("k"))
      assert(planOf(smj).contains("SortMergeJoin"), planOf(smj).take(300))
      val shj = fact.join(dim.hint("shuffle_hash"), Seq("k"))
      assert(planOf(shj).contains("ShuffledHashJoin"),
        planOf(shj).take(300))
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("AQE OptimizeSkewedJoin splits a manufactured hot key at runtime") {
    // the skew lever that needs no hint: lowered thresholds + a
    // 90%-hot-key fact side force the runtime re-plan, visible in the
    // final adaptive plan as a skew=true join over a skewed
    // AQEShuffleRead
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

      val left = spark.range(0, 200000).select(
        when(col("id") % 10 =!= 0, lit(1L)).otherwise(col("id")).as("k"),
        concat(lit("payload_payload_payload_payload_"), col("id"))
          .as("payload"))
      val right = spark.range(0, 200000).select(col("id").as("k"),
        concat(lit("dim_"), col("id")).as("label"))
      val joined = left.join(right, "k")
      assert(joined.collect().length == 200000) // every row matches once

      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), "AQE must finalize the plan")
      assert(p.contains("skew=true"),
        s"join must be re-planned as a skew join:\n${p.take(600)}")
      assert(p.contains("AQEShuffleRead skewed"),
        "the hot side's shuffle read must be split")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
