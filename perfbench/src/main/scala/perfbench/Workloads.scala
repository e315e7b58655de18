package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The named query sets the benchmark runs. Each is taken whole from the
  * engine's query registry, so a query added to a module joins its set. */
object Workloads {
  type Query = (SparkSession, String) => DataFrame

  private def number(name: String): Int =
    name.drop(1).takeWhile(_.isDigit).toIntOption.getOrElse(-1)

  /** The reference notebook's five pipelines (sales rollups, football DAG,
    * as-of plus-minus, pixel colours, Spark-ML fit) and the relational,
    * scalar, text and source operators around them: mostly scan, join and
    * aggregate execution behind a cheap build. */
  def reference: Map[String, Query] = {
    import graft._
    ops.Relational.queries ++ ops.Temporal.queries ++ ops.Scalars.queries ++
      ops.UdfSurface.queries ++ ops.Text.queries ++ ops.Sources.queries ++
      ops.Grouping.queries ++ ml.Pipelines.queries ++ multimodal.Multimodal.queries
  }

  /** Pair-join queries the pruning work targets besides Dedup and Similarity. */
  val PairJoins: Set[Int] = Set(105, 121, 127, 142, 151, 160)

  /** Dedup and similarity search plus the pair-join queries: shuffle-,
    * cache- and CPU-heavy, where pruning and payload splitting show. */
  def pairwise: Map[String, Query] =
    graft.ops.Dedup.queries ++ graft.ops.Similarity.queries ++
      graft.SparkEntry.queries.filter { case (n, _) => PairJoins(number(n)) }

  /** The engine's queries that drain a stream with `Trigger.AvailableNow`:
    * version feeds (q219, q220), stream sinks (q225), the document change
    * feed (q240), replication (q259), sinks under table maintenance (q272)
    * and ingest behind a materialized view (q276). */
  val Drains: Set[Int] = Set(219, 220, 225, 240, 259, 272, 276)

  /** The streaming drains of the lakehouse block: micro-batch planning,
    * write-ahead-log commits and versioned-table writes behind a
    * driver-side build. */
  def streaming: Map[String, Query] =
    graft.SparkEntry.queries.filter { case (n, _) => Drains(number(n)) }

  val names: Seq[String] = Seq("reference", "pairwise", "streaming")

  /** Timed passes an untraced run makes at least. The tail percentile needs
    * ten samples beyond it, so it lies above the median only from 22
    * samples on: `pairwise` takes two passes (32 samples, p68.7), while
    * `reference` has 46 queries in one. The 7 `streaming` drains would
    * need four passes, more than the benchmark's time budget holds per
    * run; their tail is the median. */
  def minPasses(name: String): Int = if (name == "pairwise") 2 else 1

  def apply(name: String): Seq[(String, Query)] = (name match {
    case "reference" => reference
    case "pairwise" => pairwise
    case "streaming" => streaming
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }).toSeq.sortBy(_._1)
}
