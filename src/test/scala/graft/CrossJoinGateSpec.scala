package graft

import org.apache.spark.GraftTestBridge
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Suite-wide cartesian/nested-loop plan gate — the WindowGateSpec
  * pattern applied to the OTHER silent scale killer: a join that
  * degrades to CartesianProduct or BroadcastNestedLoopJoin multiplies
  * its inputs, and an accidental one (a join-key typo, a condition that
  * stopped being an equi-join after a refactor) is O(|A|·|B|) at 100 TB
  * while returning plausible-looking rows. The repo's ~23 crossJoin
  * sites are all DELIBERATE bounded audits (aggregate-sized or scalar
  * sides); this spec turns that claim into an enforced inventory: every
  * query whose plan contains such a node must be whitelisted with the
  * reason its sides are bounded, and stale entries are deleted, not
  * kept as loopholes.
  *
  * Coverage matches WindowGateSpec, from the same [[PlanSweep]]:
  * executed plans of the returned DataFrame plus every INTERNAL eager
  * action (driverLiteral collects); per-query failures are reported
  * after the full sweep so one broken query can't mask the rest.
  */
class CrossJoinGateSpec extends SparkSpec {

  /** query name → why its cartesian/BNLJ sides are bounded. Three
    * classes, every entry one of them:
    *  - SCALAR-NORMALIZER: a 1-row (or few-row) global aggregate
    *    crossJoined onto a grouped relation for a share/ppm division —
    *    output = |grouped relation|, broadcast side ≤ a handful of rows.
    *  - BROADCAST-PROBE: an ANN query point / codebook / ground-truth
    *    set broadcast against candidates under a non-equi condition —
    *    broadcast side is constant-sized by construction.
    *  - CAPPED-PAIR-AUDIT: an audit over pairs of a bottomKByHash-capped
    *    sample (k ≤ 4096 / 512), so the product is a fixed constant at
    *    any corpus size (the r11-verdict-verified q206/q212 class). */
  private val whitelist: Map[String, String] = Map(
    "q102_mix_weights" -> "SCALAR-NORMALIZER: corpus token total × |sources|",
    "q118_corrupt_csv" -> "SCALAR-NORMALIZER: two 1-row parse-mode counts crossed into one row",
    "q125_heavy_hitters" -> "SCALAR-NORMALIZER: stream length N × ≤k·shards MG candidates",
    "q129_event_transitions" -> "SCALAR-NORMALIZER: transition total × |type pairs|",
    "q133_attribution" -> "SCALAR-NORMALIZER: conversion total × |channels|",
    "q138_kcore" -> "SCALAR-NORMALIZER: 1-row core summary × 1-row iteration count",
    "q139_hll_merge" -> "SCALAR-NORMALIZER: exact count × 1-row merged-sketch estimate (×2)",
    "q145_time_decay" -> "SCALAR-NORMALIZER: decay normalizer × |event types|",
    "q148_source_quota" -> "SCALAR-NORMALIZER: global budget × |sources|",
    "q150_skew_profile" -> "SCALAR-NORMALIZER: total volume × |key buckets|",
    "q155_ks_drift" -> "SCALAR-NORMALIZER: split sizes × ≤1000-row quantized-score CDF",
    "q161_ivf_pq" -> "BROADCAST-PROBE: query vector + PQ codebooks (≤16·256 rows) × probed candidates (×4)",
    "q165_source_lift" -> "SCALAR-NORMALIZER: global rate × |sources|",
    "q178_source_divergence" -> "SCALAR-NORMALIZER: corpus totals × |source×bucket| (P and Q normalizers)",
    "q180_benford" -> "SCALAR-NORMALIZER: total count × 9 digit rows",
    "q184_probe_sweep" -> "BROADCAST-PROBE: 10-row exact top-k × per-probe results",
    "q195_split_difficulty" -> "SCALAR-NORMALIZER: split sizes × quantized-score CDF (q155 class)",
    "q206_blocking_recall" -> "CAPPED-PAIR-AUDIT: k=4096 bottomKByHash sample pairs (×2)",
    "q207_dedup_thresholds" -> "SCALAR-NORMALIZER: pair total × 5-row threshold grid",
    "q212_kendall_tau" -> "CAPPED-PAIR-AUDIT: C(512,2) bottomKByHash pairs (×2)",
    "q50_cosine_topk" -> "BROADCAST-PROBE: single query vector × corpus scan",
    "q51_ann_ivf" -> "BROADCAST-PROBE: query vector × centroids, then × probed-cell candidates")

  private def nlNodes(p: SparkPlan): Seq[String] =
    PlanSweep.nodes(p).collect {
      case _: CartesianProductExec => "cartesian"
      case b: BroadcastNestedLoopJoinExec => s"bnlj(${b.joinType})"
    }

  test("every cartesian/nested-loop join in every query's plan is a whitelisted bounded audit") {
    val PlanSweep.Sweep(plans, failed) = PlanSweep(sf)
    val flagged = plans.collect {
      case (name, ps) if ps.all.exists(nlNodes(_).nonEmpty) =>
        name -> ps.all.map(nlNodes).find(_.nonEmpty).get.mkString(",")
    }
    val offenders = flagged.filterNot { case (n, _) => whitelist.contains(n) }
    val usedWhitelist = flagged.map(_._1).filter(whitelist.contains).toSet
    assert(offenders.isEmpty,
      s"cartesian/nested-loop join outside the whitelist:\n" +
        offenders.map { case (n, w) => s"  $n: $w" }.mkString("\n"))
    assert(failed.isEmpty,
      s"${failed.size} queries failed before their plan could be " +
        s"audited:\n" +
        failed.map { case (n, e) => s"  $n: $e" }.mkString("\n"))
    // the whitelist must stay the COMPLETE inventory — an entry whose
    // nested-loop join disappeared is stale and gets deleted, not kept
    // as a loophole for future regressions
    val stale = whitelist.keySet -- usedWhitelist
    assert(stale.isEmpty, s"stale whitelist entries (no cartesian/BNLJ " +
      s"in their plan anymore): ${stale.mkString(", ")}")
  }

  private def broadcastSideRows(p: SparkPlan): Seq[Long] = {
    def exchanges(n: SparkPlan): Seq[Long] = n.collect {
      case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
        e.metrics.get("numOutputRows").map(_.value).toSeq
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case s: QueryStageExec => exchanges(s.plan)
    }.flatten
    p.collect {
      case b: BroadcastNestedLoopJoinExec =>
        val build = b.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
          case _ => b.right
        }
        exchanges(build)
      case a: AdaptiveSparkPlanExec => broadcastSideRows(a.executedPlan)
      case s: QueryStageExec => broadcastSideRows(s.plan)
    }.flatten
  }

  /** The whitelist above asserts each nested-loop side is bounded BY
    * CONSTRUCTION; this probe makes the bound NUMERIC (r12 verdict item
    * 7): it executes every whitelisted query, reads the actual broadcast
    * row counts off the executed plans' metrics, and fails if any
    * exceeds the documented class ceiling (the largest bounded side in
    * the inventory is q161's 16·256-entry PQ codebook and the k=4096
    * capped-pair samples). A whitelisted query whose "bounded" side
    * silently becomes corpus-shaped (pairs, tokens) blows through 4096
    * at any SF and fails with the measured number, not a trust
    * argument. Measured sizes are printed so the inventory stays
    * auditable round over round. */
  test("whitelisted nested-loop joins: measured broadcast sides stay under the class ceiling") {
    val ceiling = 4200L
    val measured = mutable.LinkedHashMap[String, Seq[Long]]()
    val captured = mutable.ArrayBuffer[(String, SparkPlan)]()
    @volatile var current = "<init>"
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        captured.synchronized { captured += current -> qe.executedPlan }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      for (name <- whitelist.keys.toSeq.sorted) {
        current = name
        val df = SparkEntry.queries(name)(spark, sf)
        df.collect() // populate the plan's metrics
        GraftTestBridge.flushListeners(spark.sparkContext)
        val plans = (df.queryExecution.executedPlan +:
          captured.synchronized {
            val p = captured.filter(_._1 == name).map(_._2).toSeq
            captured.clear(); p
          })
        val rows = plans.flatMap(broadcastSideRows)
        if (rows.nonEmpty) measured += name -> rows
        spark.catalog.clearCache()
      }
    } finally {
      GraftTestBridge.flushListeners(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    info("measured broadcast-side rows per whitelisted query:")
    measured.foreach { case (n, rs) => info(s"  $n: ${rs.mkString(", ")}") }
    val over = measured.collect {
      case (n, rs) if rs.exists(_ > ceiling) => s"$n: ${rs.mkString(", ")}"
    }
    assert(over.isEmpty,
      s"whitelisted 'bounded' broadcast sides exceeded $ceiling rows — " +
        s"the boundedness claim no longer holds:\n  ${over.mkString("\n  ")}")
    // cartesian-class entries would need both sides probed; the current
    // inventory has zero true cartesians, and the first gate test keeps
    // it that way (any new one must be whitelisted, and this probe then
    // needs extending).
  }
}
