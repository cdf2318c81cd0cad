package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer

/** The stream replay harness end to end over a six-file re-grained
  * corpus: one line per (modality, trigger) carrying both sides'
  * rates, counters, the fold index's meta and batch latencies, with
  * `hits` for a report modality and `fully_scrubbed` for a transform
  * one; and a replay longer than Spark's retained progress window
  * fails instead of rating its tail.
  */
class StreamBenchSpec extends SparkSpec {
  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_streambench").toString
    Regrain.run(spark, "/root/testdata/sf0.001", d, files = 6)
    d
  }

  private def modalities(names: String*): Seq[StreamBench.Modality] =
    names.map(n => StreamBench.modalities.find(_.name == n).get)

  test("one line per (modality, trigger), each with its own counter") {
    val lines = ArrayBuffer.empty[String]
    StreamBench.run(spark, dir, Seq(2), modalities("minhash", "segment"))(
      lines += _)
    val json = lines.toSeq.map(new ObjectMapper().readTree(_))
    assert(json.map(_.get("modality").asText) === Seq("minhash", "segment"))
    val shared = Seq("files_per_trigger", "unit", "pinned_per_sec",
      "foldin_per_sec", "ratio", "batches", "folds", "folded_rows",
      "compactions", "pinned_max_batch_ms", "foldin_max_batch_ms",
      "foldin_batch_ms_p50", "foldin_batch_ms_p95", "pinned_load",
      "foldin_load", "calm", "corpus_rows", "sf")
    for ((j, (own, other)) <- json.zip(Seq("hits" -> "fully_scrubbed",
        "fully_scrubbed" -> "hits"))) {
      val modality = j.get("modality").asText
      for (f <- shared ++ Seq(s"pinned_$own", s"foldin_$own"))
        assert(j.has(f), s"$modality lacks $f")
      assert(!j.has(s"pinned_$other") && !j.has(s"foldin_$other"),
        s"$modality reports $other")
      assert(j.get("metric").asText === "stream_replay")
      assert(j.get("files_per_trigger").asInt === 2)
      // six files, two per trigger; every batch folds or advances the
      // watermark of a fully scrubbed batch
      assert(j.get("batches").asInt === 3, modality)
      assert(j.get("folds").asInt === 3, modality)
    }
    // the counters this fixture reads: the pinned side (the batch face
    // per micro-batch) and the fold-in side find the same hits and
    // scrub the same documents, so a rewiring of either shows here
    val Seq(minhash, segment) = json
    assert(minhash.get("pinned_hits").asLong === 56L)
    assert(minhash.get("foldin_hits").asLong === 56L)
    assert(segment.get("pinned_fully_scrubbed").asLong === 500L)
    assert(segment.get("foldin_fully_scrubbed").asLong === 500L)
  }

  test("a replay past the retained progress window fails, naming it") {
    val session = spark.newSession()
    session.conf.set("spark.sql.streaming.numRecentProgressUpdates", "2")
    val e = intercept[IllegalStateException] {
      StreamBench.run(session, dir, Seq(1), modalities("minhash"))(_ => ())
    }
    assert(e.getMessage.contains("numRecentProgressUpdates"))
  }
}
