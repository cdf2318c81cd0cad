package graft

import org.apache.spark.sql.SparkSession

/** Re-grain a scaled corpus for the stream replay harness
  * ([[StreamBench]]): `maxFilesPerTrigger` batches a file stream by
  * FILES, so the replay protocol's batch size is set by the file grain —
  * the r15-era protocol is documents and embeddings in 90 files each
  * (50,000 rows → ~556/file; trigger 3 → 30 batches, the shape every
  * streambench artifact since r15 reports):
  *
  *   sbt "runMain graft.ScaleUp /root/testdata/sf0.1 target/scale/sf1 10"
  *   sbt "runMain graft.Regrain target/scale/sf1 target/scale/sf1_grained"
  *
  * Only the two replayed tables are re-grained; the rest copy through
  * unchanged so `Tables.load` works against the grained dir too. Hit
  * sets are file-layout-invariant (spec-pinned trigger invariance), so
  * the round-robin repartition needs no determinism guarantee.
  */
object Regrain {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("target/scale/sf1")
    val dst = if (args.length > 1) args(1) else "target/scale/sf1_grained"
    val files = if (args.length > 2) args(2).toInt else 90
    val spark = LocalSession()
    run(spark, src, dst, files)
    spark.stop()
  }

  private[graft] def run(spark: SparkSession, src: String, dst: String,
                         files: Int): Unit =
    for (t <- Tables.all) {
      val df = Tables.load(spark, src, t)
      val out =
        if (t == "documents" || t == "embeddings") df.repartition(files)
        else df
      out.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"regrain: wrote $t")
    }
}
