package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import scala.util.control.NonFatal

/** Surface-wide audit for the d41 bug class (a measurement main, not
  * driver contract): a BroadcastExchange whose subtree contains a
  * Generate (explode). Explode output carries its INPUT's size
  * estimate, so a corpus-scaled generated frame (all shingles, all
  * deletion variants, all chunks) can sit under the 10 MB
  * auto-broadcast line while weighing gigabytes — the driver-kill mode
  * that stayed latent in d41 through three scale decades of local runs
  * (driver = executor JVM) until the sf30 sweep's stage-count step
  * exposed it.
  *
  * Every flagged site needs adjudication, not automatic rejection: a
  * generated frame that is AGGREGATED to bounded size (top-20
  * boilerplate lists, per-source rates) is a legitimate broadcast.
  * The audit prints the broadcast subtree's head so the reviewer can
  * tell which case each flag is.
  *
  * Usage: runMain graft.BroadcastAudit [sfDir] [query ...]
  * Defaults to every query except the trainer set (driver-side
  * iterations at CONSTRUCTION — the Bench.scala exemption list).
  */
object BroadcastAudit {
  private[graft] val Trainers =
    Set("s05_ivf_topk", "s07_pq_topk", "s08_ivfpq_topk", "s09_opq_topk",
      "s10_ivfpq_residual_topk", "s11_opq_learned_topk",
      "s12_pq_refine_topk", "s14_semdedup_survivors",
      "s16_semantic_decontam_pairs", "d11_dedup_survivors",
      "i01_ivf_list_stats")

  private def hasGenerate(p: SparkPlan): Boolean =
    p.exists {
      case _: org.apache.spark.sql.execution.GenerateExec => true
      case a: AdaptiveSparkPlanExec => hasGenerate(a.inputPlan)
      case _ => false
    }

  // AQE's inputPlan carries broadcast JOINS without materialized
  // BroadcastExchange nodes (exchanges are inserted per query stage
  // at runtime), so the detector keys on the join's BUILD side —
  // validated against the known-bad pre-pin d41 plan, which a
  // BroadcastExchange-only matcher missed entirely.
  private def buildSides(p: SparkPlan): Seq[SparkPlan] = p.collect {
    case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
      b.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
        case _ => b.right
      }
    case b: org.apache.spark.sql.execution.joins
        .BroadcastNestedLoopJoinExec =>
      b.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
        case _ => b.right
      }
    case e: BroadcastExchangeLike => e.child
  }

  /** Broadcast build sides whose subtree contains a Generate — the
    * d41 kill-class signature. Shared by the diagnostic main and the
    * [[BroadcastGateSpec]] regression gate so both judge the same
    * evidence.
    */
  def generatedBroadcasts(plan: SparkPlan): Seq[SparkPlan] = {
    val inner = plan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    buildSides(inner).filter(hasGenerate)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted.filterNot(Trainers)
    val spark = LocalSession()

    // Queries whose generated-frame broadcasts are MEASURED decisions
    // (r13): EdJoin bounds the frame's true bytes from exact corpus
    // length moments and broadcasts only under MeasuredBroadcastCap —
    // the estimate-guess window this audit exists to catch cannot
    // select those plans. Their hits print as AUTHORIZED (with the
    // same subtree head, so a reviewer still sees every broadcast)
    // rather than FLAG, keeping genuine regressions elsewhere loud.
    val measuredBound = Set("d40_edit_nn", "d41_edit_pairs",
      "d42_edit_dedup_survivors")
    var flagged = 0
    var authorized = 0
    names.foreach { name =>
      try {
        val hits = generatedBroadcasts(
          SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan)
        hits.foreach { b =>
          val label = if (measuredBound(name)) {
            authorized += 1; "AUTHORIZED(measured-bound)"
          } else { flagged += 1; "FLAG" }
          println(s"$label $name: broadcast over generated subtree:")
          println(b.toString.linesIterator.take(6)
            .map("    " + _).mkString("\n"))
        }
      } catch {
        case NonFatal(e) =>
          println(s"SKIP $name: ${e.getClass.getSimpleName}")
      }
    }
    println(s"audit complete: $flagged flagged, $authorized " +
      s"measured-bound-authorized broadcast(s) over ${names.size} plans")
    spark.stop()
  }
}
