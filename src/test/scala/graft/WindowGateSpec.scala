package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.WindowExec

/** Suite-wide WindowExec plan gate (r10 verdict task 4): walk EVERY
  * query's physical plan and assert every window operator is
  * key-partitioned — an unpartitioned WindowExec is a single-partition
  * sort of its whole input, the one shape that silently serializes a
  * 1000-executor job. Individual specs proved this for q199 (r10); this
  * spec turns the one-off audit into a regression gate over the full
  * surface, so the next q111 (an unpartitioned vocab rank that predated
  * the two-level pattern and hid for 4 rounds) fails CI the day it's
  * written.
  *
  * Coverage is plan-complete, not just the returned DataFrame: the
  * shared [[PlanSweep]] also holds the executed plan of every INTERNAL
  * eager action (the driverLiteral collects inside q200/q205/q131
  * etc.). The whitelist below is the complete inventory of
  * deliberate single-partition windows, each justified by a bounded,
  * documented input.
  */
class WindowGateSpec extends SparkSpec {

  /** Deliberate global windows — every entry names the reason its input
    * is bounded (aggregate-sized), so a single partition is correct and
    * cheap, not a scale bug. */
  private val whitelist: Map[String, String] = Map(
    "q08_league_table" -> ("reference-shaped league rank over the " +
      "25-row nation aggregate (§2 W1: global ranking is the spec)"),
    "q155_ks_drift" -> ("KS statistic needs the joint CDF over the " +
      "distinct-score relation — score deciles are quantized to ≤1000 " +
      "distinct values before the window (documented in Round9)"),
    "q195_split_difficulty" -> ("same distinct-score CDF shape as " +
      "q155, over quantized scores, |input| ≤ distinct score values"),
    "q176_score_bias_auc" -> ("Mann–Whitney neg-below cumulative over " +
      "the |distinct scores| relation — bounded by the integer ppm " +
      "domain (≤10⁶+1 rows), the documented q155 class"))

  private def globalWindows(p: SparkPlan): Seq[WindowExec] =
    PlanSweep.nodes(p).collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }

  test("every WindowExec in every query's plan (incl. internal eager actions) is key-partitioned, modulo the documented whitelist") {
    val PlanSweep.Sweep(plans, failed) = PlanSweep(sf)
    val offenders = plans.collect {
      case (name, ps) if !whitelist.contains(name) &&
          ps.all.exists(globalWindows(_).nonEmpty) =>
        name -> ps.all.flatMap(globalWindows).head
          .windowExpression.mkString(",").take(120)
    }
    val usedWhitelist = plans.collect {
      case (name, ps) if whitelist.contains(name) &&
          globalWindows(ps.returned).nonEmpty => name
    }.toSet
    assert(offenders.isEmpty,
      s"unpartitioned WindowExec outside the whitelist:\n" +
        offenders.map { case (n, w) => s"  $n: $w" }.mkString("\n"))
    // A query the gate can't plan is a query the gate can't certify —
    // still a failure, but reported AFTER the full sweep so a broken
    // table never hides a window regression elsewhere.
    assert(failed.isEmpty,
      s"${failed.size} queries failed before their plan could be " +
        s"audited:\n" +
        failed.map { case (n, e) => s"  $n: $e" }.mkString("\n"))
    // the whitelist must stay the COMPLETE inventory — an entry whose
    // global window disappeared is stale and gets deleted, not kept as
    // a loophole for future regressions
    val stale = whitelist.keySet -- usedWhitelist
    assert(stale.isEmpty, s"stale whitelist entries (no global window " +
      s"in their plan anymore): ${stale.mkString(", ")}")
  }
}
