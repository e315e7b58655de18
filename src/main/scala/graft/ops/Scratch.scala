package graft.ops

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** The scratch-table lifecycle shared by the lakehouse queries
  * (q214–q293) and their specs: a throwaway `GraftCatalog` warehouse,
  * bounded AvailableNow drains into it, and the MV-rewrite off switch.
  * Every query builds its fixture in a fresh warehouse under a fresh
  * catalog name, collects an audit-sized result, and leaves neither
  * /tmp dirs nor session-conf entries behind, so repeated bench /
  * verify calls stay independent.
  */
object Scratch {

  /** Runs `body` against a fresh warehouse registered as catalog `cat`.
    * The warehouse is `<root>/wh` under a new temp root named after
    * `tag`; [[dir]] hands out sibling dirs (sinks, checkpoints) under
    * the same root. The `finally` unregisters the catalog and deletes
    * the root with everything in it. Catalog names are unique per call:
    * Spark caches a catalog plugin by name, so a reused name would keep
    * pointing at a deleted warehouse. */
  def withCatalog[T](spark: SparkSession, tag: String)
      (body: (String, Path) => T): T = {
    val root = Files.createTempDirectory(s"graft_$tag")
    val wh = Files.createDirectory(root.resolve("wh"))
    val cat = root.getFileName.toString.replaceAll("[^A-Za-z0-9_]", "_")
    try {
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
      body(cat, wh)
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }
  }

  /** A scratch dir beside warehouse `wh`, deleted with it by
    * [[withCatalog]]. */
  def dir(wh: Path, name: String): Path =
    Files.createDirectory(wh.resolveSibling(name))

  /** Upper bound on one AvailableNow drain of a fixture-sized stream. */
  private val DrainBoundMs = 180000L

  /** Waits for an AvailableNow query `q` to drain and terminate. A
    * stream failure is rethrown; a stream still running at the bound is
    * stopped before the throw, so it never outlives its fixture. */
  def drain(q: StreamingQuery, what: String): Unit =
    drain(q, what, DrainBoundMs)

  private[graft] def drain(q: StreamingQuery, what: String,
      boundMs: Long): Unit = {
    if (!q.awaitTermination(boundMs)) {
      q.stop()
      throw new IllegalStateException(
        s"$what drain did not terminate under AvailableNow")
    }
    q.exception.foreach(throw _)
  }

  private[graft] val MvRewriteKey = "spark.graft.mv.rewrite"

  /** Runs `body` with the MV rewrite rule off, then restores the
    * caller's setting — set or unset — even when `body` throws. */
  def withoutMvRewrite[T](spark: SparkSession)(body: => T): T = {
    val prev = spark.conf.getOption(MvRewriteKey)
    spark.conf.set(MvRewriteKey, "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(MvRewriteKey, v)
      case None => spark.conf.unset(MvRewriteKey)
    }
  }

  /** Appends generative rows [lo, hi) to `$cat.$table` as ONE file
    * sorted by doc_id, through a column-list INSERT. */
  def insertRange(spark: SparkSession, cat: String, table: String,
      lo: Int, hi: Int): Unit = {
    spark.read.format("graft.sources.GraftDocsSource")
      .option("rows", hi.toString).load()
      .filter(col("doc_id") >= lo)
      .coalesce(1).sortWithinPartitions("doc_id")
      .createOrReplaceTempView(s"${cat}_b")
    spark.sql(
      s"""INSERT INTO $cat.$table (doc_id, title, fp, n_words)
         |SELECT doc_id, title, fp, n_words FROM ${cat}_b""".stripMargin)
    spark.catalog.dropTempView(s"${cat}_b")
  }

  /** Plan facts of `df`'s optimized plan: whether it scans the table
    * stored under a given dir, and whether any Aggregate survived. */
  def planFacts(df: DataFrame): (Path => Boolean, Boolean) = {
    val plan = df.queryExecution.optimizedPlan
    val scans = (dir: Path) => plan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation
          if s.scan.description.contains(dir.toString) => s
    }.nonEmpty
    val aggregates = plan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty
    (scans, aggregates)
  }
}
