package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike

/** Detector for the d41 bug class: a broadcast-join build side whose
  * subtree contains a Generate (explode). Explode output carries its
  * INPUT's size estimate, so a corpus-scaled generated frame (all
  * shingles, all deletion variants, all chunks) can sit under the
  * 10 MB auto-broadcast line while weighing gigabytes — the driver-kill
  * mode that stayed latent in d41 through three scale decades of local
  * runs (driver = executor JVM) until the sf30 sweep's stage-count step
  * exposed it.
  *
  * Every flagged site needs adjudication, not automatic rejection: a
  * generated frame that is AGGREGATED to bounded size (top-20
  * boilerplate lists, per-source rates) is a legitimate broadcast.
  * [[BroadcastGateSpec]] runs the detector over the query surface
  * (minus [[Trainers]], which iterate driver-side at CONSTRUCTION) and
  * holds the adjudicated per-query allowlist.
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
    * d41 kill-class signature, as [[BroadcastGateSpec]] judges it.
    */
  def generatedBroadcasts(plan: SparkPlan): Seq[SparkPlan] = {
    val inner = plan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    buildSides(inner).filter(hasGenerate)
  }
}
