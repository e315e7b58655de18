package graft

import org.apache.spark.GraftTestBridge
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** The one plan-audit sweep the suite-wide plan gates (WindowGateSpec,
  * CrossJoinGateSpec) read from: every query is built once on the shared
  * spec session, keeping the executed plan of the returned DataFrame and
  * of every INTERNAL eager action it ran (the driverLiteral collects
  * inside q200/q205/q131 etc.). A QueryExecutionListener captures the
  * internal plans, with a synchronous listener flush per query so
  * attribution can't race. A query that fails is recorded and the sweep
  * goes on, so one broken table never masks the audit of the rest (the
  * r11 lesson: a regenerated events table broke 27 queries at once). */
object PlanSweep {

  /** A query's executed plans: the returned frame's, then its eager
    * actions'. */
  final case class Plans(returned: SparkPlan, internal: Seq[SparkPlan]) {
    def all: Seq[SparkPlan] = returned +: internal
  }

  final case class Sweep(plans: Seq[(String, Plans)],
      failed: Seq[(String, String)])

  /** Every operator of `p`, unwrapped through AQE and its query stages
    * (their subtrees hide from a plain collect). */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p.collect {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case n => Seq(n)
  }.flatten

  private val sweeps = new java.util.concurrent.ConcurrentHashMap[String, Sweep]

  /** The sweep over the tables in `sf`, run once per JVM. */
  def apply(sf: String): Sweep = sweeps.computeIfAbsent(sf, k => run(k))

  private def run(sf: String): Sweep = {
    val spark = SparkSpec.session
    val captured = mutable.ArrayBuffer[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        captured.synchronized { captured += qe.executedPlan }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    val plans = mutable.ArrayBuffer[(String, Plans)]()
    val failed = mutable.ArrayBuffer[(String, String)]()
    spark.listenerManager.register(listener)
    try {
      for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
        try {
          val df = fn(spark, sf)
          val returned = df.queryExecution.executedPlan
          // flush async listener events while they still belong to `name`
          GraftTestBridge.flushListeners(spark.sparkContext)
          plans += name -> Plans(returned, captured.synchronized(captured.toSeq))
        } catch {
          case e: Throwable =>
            failed += name -> e.toString.linesIterator.next().take(160)
        }
        GraftTestBridge.flushListeners(spark.sparkContext)
        captured.synchronized(captured.clear())
        spark.catalog.clearCache()
      }
    } finally {
      GraftTestBridge.flushListeners(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    Sweep(plans.toSeq, failed.toSeq)
  }
}
