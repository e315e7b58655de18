package graft

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Suite-wide interpreted-UDF plan gate over the shared [[PlanSweep]]: no
  * query's plan, nor the plan of any eager action it runs while being
  * built, may contain a `ScalaUDF`. A Scala `udf()` is opaque to the
  * optimizer (no pushdown, no constant folding), converts every row to
  * Scala objects and back, and splits whole-stage codegen around it; the
  * engine's text and vector rules ([[ops.Features]], [[functions]]) are
  * native or codegen expressions instead. Cached subplans are walked
  * too, so a UDF cannot hide behind `.cache()`. The whitelist is the
  * complete inventory of deliberate UDFs, each with its reason.
  */
class UdfGateSpec extends SparkSpec {

  /** Deliberate UDFs as (query, defining class of the UDF's function,
    * reason): a UDF is allowed only in its query and only from its
    * class, so a new `udf()` elsewhere in the same query still fails. */
  private val whitelist: Seq[(String, String, String)] = Seq(
    ("q36_udf_pixels", "graft.ops.UdfSurface$", "the explicit `udf()` " +
      "twin of the native q25 pixel pipeline (toColorNamesUdf): it " +
      "exists to prove UDF parity with the reference's registration " +
      "surface"),
    ("q84_bloom_semijoin", "graft.ops.Round4$", "the Bloom-filter probe " +
      "ships a driver-built sketch inside the closure, the way " +
      "InjectRuntimeFilter ships its bloom subquery"),
    ("q60_ml_metrics", "org.apache.spark.ml.feature.VectorAssembler$",
      "Spark ML's VectorAssembler.transform assembles the feature " +
        "vector in a UDF; the random-forest fit needs that vector"),
    ("q60_ml_metrics",
      "org.apache.spark.ml.classification.ProbabilisticClassificationModel$",
      "Spark ML's model.transform emits rawPrediction, probability and " +
        "prediction through UDFs"),
    ("q60_ml_metrics", "org.apache.spark.sql.ml.InternalFunctionRegistration$",
      "Spark ML's vector_to_array, the only way to read a probability " +
        "out of an ML vector column"))

  private def nodes(p: SparkPlan): Seq[SparkPlan] =
    PlanSweep.nodes(p).flatMap {
      case s: InMemoryTableScanExec => s +: nodes(s.relation.cachedPlan)
      case n => Seq(n)
    }

  /** The defining class of every ScalaUDF's function in `p`. */
  private def udfOrigins(p: SparkPlan): Seq[String] =
    nodes(p).flatMap(_.expressions.flatMap(_.collect {
      case u: ScalaUDF => u.function.getClass.getName
    }))

  private def allowed(query: String, origin: String): Boolean =
    whitelist.exists { case (q, cls, _) =>
      q == query && origin.startsWith(cls) }

  test("no interpreted ScalaUDF in any query's plan (incl. internal eager actions and cached subplans), modulo the documented whitelist") {
    val PlanSweep.Sweep(plans, failed) = PlanSweep(sf)
    val found = plans.flatMap { case (name, ps) =>
      ps.all.flatMap(udfOrigins).distinct.map(name -> _)
    }
    val offenders = found.filterNot { case (n, o) => allowed(n, o) }
    assert(offenders.isEmpty, "ScalaUDF outside the whitelist:\n" +
      offenders.map { case (n, o) => s"  $n: $o" }.mkString("\n"))
    assert(failed.isEmpty,
      s"${failed.size} queries failed before their plan could be " +
        s"audited:\n" +
        failed.map { case (n, e) => s"  $n: $e" }.mkString("\n"))
    // an entry whose UDF disappeared is stale and gets deleted, not kept
    // as a loophole for a future UDF in that query
    val stale = whitelist.filterNot { case (q, cls, _) =>
      found.exists { case (n, o) => n == q && o.startsWith(cls) } }
    assert(stale.isEmpty, "stale whitelist entries (no such ScalaUDF in " +
      "their plan anymore): " +
      stale.map { case (q, cls, _) => s"$q $cls" }.mkString(", "))
  }
}
