package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{GraftTableMeta, GraftVersions}
import OpsUtil.Q

/** Round-13 operators: the snapshot-versioning face of the warehouse
  * connector as verified queries — time travel, version-diff CDC, and
  * snapshot retention.
  *
  * Why a training-data pipeline needs these (capability extension beyond
  * the reference, which reads immutable files and has no mutation story
  * — /root/reference/Assignment-python.py:134): "which exact rows did
  * run X train on" must stay answerable after the corpus is curated in
  * place. `VERSION AS OF` answers it (q216); "what changed between the
  * snapshot run X used and the snapshot run Y used" is the incremental
  * re-train trigger (q217); and retention (q218) is what keeps unbounded
  * history from becoming unbounded storage at 100 TB.
  *
  * All three build a scratch versioned table from the generative corpus
  * (every column a closed-form function of doc_id, so the DuckDB oracle
  * regenerates each snapshot from range()), mutate it through the SQL
  * row-level commands, and tear the scratch warehouse down in a finally
  * block after collecting their audit-sized result via
  * [[OpsUtil.driverLiteral]] (the q214 lifecycle pattern).
  */
object Round13 {
  /** Build the round's shared version history as `$cat.t`: v0 empty
    * (CREATE versioned), v1 = rows [0,30) (CTAS append), v2 = UPDATE
    * (n_words=0 where doc_id<5), v3 = DELETE (doc_id>=20), v4 = INSERT
    * of generative rows [40,45). */
  private def buildHistory(spark: SparkSession, cat: String): Unit = {
    spark.read.format("graft.sources.GraftDocsSource")
      .option("rows", "30").load()
      .writeTo(s"$cat.t").tableProperty("versioned", "true").create()
    spark.sql(s"UPDATE $cat.t SET n_words = 0 WHERE doc_id < 5")
    spark.sql(s"DELETE FROM $cat.t WHERE doc_id >= 20")
    spark.read.format("graft.sources.GraftDocsSource")
      .option("rows", "45").load()
      .filter(col("doc_id") >= 40)
      .createOrReplaceTempView(s"${cat}_inserts")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM ${cat}_inserts")
    spark.catalog.dropTempView(s"${cat}_inserts")
  }

  // ---------------------------------------------------------------------
  // q216: time travel — every snapshot of a curated table, audited
  // ---------------------------------------------------------------------

  /** One row per snapshot in the table's version log, each aggregated
    * from an actual `VERSION AS OF` read after all mutations have
    * landed: proves the log (operation labels from the manifests) and
    * the pinned reads (row counts and exact integer sums per snapshot)
    * agree with the closed-form history. Scale shape: each snapshot
    * read is a manifest-scoped file scan + one map-side-combined global
    * aggregate; nothing shuffles wider than one row per version. */
  val q216TimeTravel: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "ver_q216") { (cat, wh) =>
      buildHistory(spark, cat)
      val log = GraftVersions.listVersions(wh.resolve("t"))
      val perVersion = log.map { v =>
        spark.sql(
          s"""SELECT ${v.version}L AS version, '${v.op}' AS op,
             |  COUNT(*) AS n_rows,
             |  COALESCE(SUM(n_words), 0) AS sum_words,
             |  COALESCE(SUM(doc_id), 0) AS sum_doc_id
             |FROM $cat.t VERSION AS OF ${v.version}""".stripMargin)
      }.reduce(_ unionByName _)
      OpsUtil.driverLiteral(perVersion.orderBy("version"))
    }

  // ---------------------------------------------------------------------
  // q217: version-diff CDC — what changed between consecutive snapshots
  // ---------------------------------------------------------------------

  /** Row-level change feed derived from snapshot pairs: for each
    * consecutive version transition, rows added, rows removed (an
    * updated row counts as one of each — full-row CDC semantics), and
    * the net word delta. This is the incremental-retrain trigger: a
    * consumer pinned at version a computes exactly what it must
    * reprocess to catch up to version b. The exact row diff
    * (EXCEPT ALL both ways) is the precise path; at 100 TB the manifest
    * file-diff prunes it — only files ADDED or REMOVED between the two
    * manifests can contain changed rows, so each EXCEPT scans the
    * changed files, not the corpus. */
  val q217VersionChanges: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "ver_q217") { (cat, wh) =>
      buildHistory(spark, cat)
      val log = GraftVersions.listVersions(wh.resolve("t"))
      val transitions = log.sliding(2).map { case Seq(a, b) =>
        def snap(v: Long) = spark.sql(
          s"SELECT doc_id, title, fp, n_words FROM $cat.t VERSION AS OF $v")
        val added = snap(b.version).exceptAll(snap(a.version))
          .agg(count(lit(1)).as("n"), coalesce(sum("n_words"), lit(0L)).as("w"))
          .head()
        val removed = snap(a.version).exceptAll(snap(b.version))
          .agg(count(lit(1)).as("n"), coalesce(sum("n_words"), lit(0L)).as("w"))
          .head()
        (b.version, b.op, added.getLong(0), removed.getLong(0),
          added.getLong(1) - removed.getLong(1))
      }.toSeq
      import spark.implicits._
      OpsUtil.driverLiteral(
        transitions.toDF("to_version", "op", "rows_added", "rows_removed",
          "words_delta").orderBy("to_version"))
    }

  // ---------------------------------------------------------------------
  // q218: snapshot retention — vacuum expires history, live data intact
  // ---------------------------------------------------------------------

  /** Retention audit: vacuum the shared 5-version history down to the
    * last 2 snapshots, then prove from reads (not trust) that exactly
    * the old versions expired, expired reads fail, the oldest retained
    * snapshot and the live table still read their exact pre-vacuum
    * contents, and no file referenced by a retained manifest was
    * deleted. Cleanup work is proportional to #files (manifest set
    * difference), never a data rewrite — the property that makes
    * retention affordable on a 100 TB corpus. */
  val q218SnapshotRetention: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "ver_q218") { (cat, wh) =>
      buildHistory(spark, cat)
      val tdir = wh.resolve("t")
      val before = GraftVersions.listVersionNumbers(tdir)
      val stats = GraftVersions.vacuum(tdir, keepLast = 2)
      val after = GraftVersions.listVersionNumbers(tdir)
      val expiredReadFails =
        try { spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1").collect(); false }
        catch { case _: Exception => true }
      val retainedFiles =
        GraftVersions.listVersions(tdir).flatMap(_.files).toSet
      val onDisk = tdir.toFile.listFiles().map(_.getName)
        .filter(_.matches(graft.sources.GraftFiles.partFileRegex)).toSet
      val oldest = spark.sql(
        s"""SELECT COUNT(*) AS n, COALESCE(SUM(n_words), 0) AS w
           |FROM $cat.t VERSION AS OF ${after.head}""".stripMargin).head()
      val live = spark.sql(
        s"""SELECT COUNT(*) AS n, COALESCE(SUM(n_words), 0) AS w
           |FROM $cat.t""".stripMargin).head()
      import spark.implicits._
      OpsUtil.driverLiteral(Seq((
        before.length.toLong, stats.expiredVersions.length.toLong,
        after.length.toLong, after.head, after.last,
        expiredReadFails, onDisk == retainedFiles,
        oldest.getLong(0), oldest.getLong(1),
        live.getLong(0), live.getLong(1)
      )).toDF("versions_before", "versions_expired", "versions_after",
        "oldest_retained", "newest_retained", "expired_read_fails",
        "disk_matches_manifests", "oldest_rows", "oldest_sum_words",
        "live_rows", "live_sum_words"))
    }

  // ---------------------------------------------------------------------
  // q219: the version feed, oracle-checked — streaming on the verify bar
  // ---------------------------------------------------------------------

  /** The commit-log change feed ([[graft.sources.GraftVersionFeed]]) as a
    * verified query — the first STREAMING query on the oracle surface
    * (every other streaming seam is spec-verified): build an append-only
    * versioned table, drain its feed with `Trigger.AvailableNow` into a
    * parquet sink, commit more rows, drain AGAIN from the same
    * checkpoint, and emit the sink's cumulative state after each drain.
    * Exactly-once incremental consumption is what the numbers prove:
    * drain 2 lands ONLY the rows of the commits after drain 1's
    * checkpointed version (a re-emission would inflate rows/sums; a
    * missed commit would deflate them). Both drains are hard-bounded:
    * a feed that fails to terminate is stopped and thrown, never hung.
    */
  val q219VersionFeed: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "ver_q219") { (cat, wh) =>
      val sink = Scratch.dir(wh, "feed")
      // unlike Scratch.insertRange: one file per source partition
      def appendRange(lo: Int, hi: Int): Unit = {
        spark.read.format("graft.sources.GraftDocsSource")
          .option("rows", hi.toString).load()
          .filter(col("doc_id") >= lo)
          .createOrReplaceTempView(s"${cat}_ins")
        spark.sql(s"INSERT INTO $cat.t SELECT * FROM ${cat}_ins")
        spark.catalog.dropTempView(s"${cat}_ins")
      }
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "10").load()
        .writeTo(s"$cat.t").tableProperty("versioned", "true").create()
      appendRange(10, 12)                                   // v2
      def drain(): Unit = {
        val q = spark.readStream.table(s"$cat.t")
          .writeStream.format("parquet")
          .option("path", s"$sink/data")
          .option("checkpointLocation", s"$sink/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        Scratch.drain(q, "q219: version-feed")
      }
      def sinkState(phase: String): DataFrame =
        spark.read.parquet(s"$sink/data")
          .agg(count(lit(1)).as("rows_in_sink"),
            coalesce(sum("n_words"), lit(0L)).as("sum_words"))
          .select(lit(phase).as("phase"), col("rows_in_sink"),
            col("sum_words"))
      drain()
      val initial = OpsUtil.driverLiteral(sinkState("a_initial"))
      appendRange(12, 15)                                   // v3
      drain()
      val incr = OpsUtil.driverLiteral(sinkState("b_incremental"))
      initial.unionByName(incr).orderBy("phase")
    }

  // ---------------------------------------------------------------------
  // q220: OPTIMIZE-style compaction as a dataChange=false commit
  // ---------------------------------------------------------------------

  /** Small-file compaction, verified end to end: many small commits
    * leave 10 part files; [[GraftVersions.compact]] rewrites the live
    * rows into ONE file as a `dataChange=false` snapshot. Proven from
    * reads: the live rows/sums are unchanged, the pre-compaction
    * snapshot still time-travels, and a FRESH change-feed drain over
    * the whole history emits each row exactly ONCE (a feed that
    * re-emitted the compacted file would double every row — the
    * Delta dataChange=false contract, caught by arithmetic). At
    * 100 TB this is the nightly OPTIMIZE: one read + one write of
    * live data, commit work proportional to #files, no log rewrite. */
  val q220Compaction: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "ver_q220") { (cat, wh) =>
      val sink = Scratch.dir(wh, "feed")
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "10").load()
        .writeTo(s"$cat.t").tableProperty("versioned", "true").create()
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "12").load().filter(col("doc_id") >= 10)
        .createOrReplaceTempView(s"${cat}_ins")
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM ${cat}_ins") // v2
      spark.catalog.dropTempView(s"${cat}_ins")
      val tdir = wh.resolve("t")
      val filesBefore = GraftVersions.latest(tdir).get.files.length.toLong
      val compacted = GraftVersions.compact(spark, tdir, targetFiles = 1)
      val live = spark.sql(
        s"""SELECT COUNT(*) AS n, COALESCE(SUM(n_words), 0) AS w
           |FROM $cat.t""".stripMargin).head()
      val preCompact = spark
        .sql(s"SELECT COUNT(*) AS n FROM $cat.t VERSION AS OF 2").head()
      val q = spark.readStream.table(s"$cat.t")
        .writeStream.format("parquet")
        .option("path", s"$sink/data")
        .option("checkpointLocation", s"$sink/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      Scratch.drain(q, "q220: version-feed")
      val feed = spark.read.parquet(s"$sink/data")
        .agg(count(lit(1)).as("n"),
          coalesce(sum("n_words"), lit(0L)).as("w")).head()
      import spark.implicits._
      OpsUtil.driverLiteral(Seq((
        filesBefore, compacted.files.length.toLong,
        live.getLong(0), live.getLong(1), preCompact.getLong(0),
        feed.getLong(0), feed.getLong(1)
      )).toDF("files_before", "files_after", "live_rows", "live_sum_words",
        "precompact_rows", "feed_rows", "feed_sum_words"))
    }

  // ---------------------------------------------------------------------
  // q221: RESTORE — rewind a curated table, keeping the bad history
  // ---------------------------------------------------------------------

  /** Delta-style RESTORE as a verified query: seed, then a DELETE and
    * an UPDATE (the "bad" commits), then restore to v1 — a NEW commit
    * whose file set is v1's, zero data movement — then prove the table
    * is still writable with one more append. One row per snapshot in
    * the final log, each aggregated from an actual `VERSION AS OF`
    * read: the restore row must be BIT-IDENTICAL in rows/sums to v1's
    * (sharing its files), and the bad commits stay auditable in place.
    * The incident-recovery path every curated corpus eventually needs:
    * rewind is O(1) in data, and nothing is lost until vacuum. */
  val q221Restore: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "ver_q221") { (cat, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "10").load()
        .writeTo(s"$cat.t").tableProperty("versioned", "true").create()
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id >= 5")           // v2
      spark.sql(s"UPDATE $cat.t SET n_words = 0 WHERE doc_id = 1") // v3
      val tdir = wh.resolve("t")
      GraftVersions.restore(tdir, 1L)                              // v4
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "12").load().filter(col("doc_id") >= 10)
        .createOrReplaceTempView(s"${cat}_ins")
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM ${cat}_ins")    // v5
      spark.catalog.dropTempView(s"${cat}_ins")
      val perVersion = GraftVersions.listVersions(tdir).map { v =>
        spark.sql(
          s"""SELECT ${v.version}L AS version, '${v.op}' AS op,
             |  COUNT(*) AS n_rows,
             |  COALESCE(SUM(n_words), 0) AS sum_words
             |FROM $cat.t VERSION AS OF ${v.version}""".stripMargin)
      }.reduce(_ unionByName _)
      OpsUtil.driverLiteral(perVersion.orderBy("version"))
    }

  // ---------------------------------------------------------------------
  // q222: the history metadata table — the commit log from SQL
  // ---------------------------------------------------------------------

  /** `SELECT ... FROM cat.t.history` (Iceberg's metadata-table idiom /
    * Delta's DESCRIBE HISTORY): the commit log as a relation, resolved
    * through the catalog's multipart-identifier path. The history here
    * is append+compact+restore so every column incl. the FILE COUNTS is
    * closed-form: the CTAS seed plans min(8, rows)=8 generative
    * partitions, the clamped insert min(8, 2)=2, compaction lands 1,
    * and restore re-references v1's 8. Audit-sized scan: one partition
    * over #versions manifest lines, never data. */
  val q222History: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "ver_q222") { (cat, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "10").load()
        .writeTo(s"$cat.t").tableProperty("versioned", "true").create()
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "12").load().filter(col("doc_id") >= 10)
        .createOrReplaceTempView(s"${cat}_ins")
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM ${cat}_ins")   // v2
      spark.catalog.dropTempView(s"${cat}_ins")
      val tdir = wh.resolve("t")
      GraftVersions.compact(spark, tdir, targetFiles = 1)         // v3
      GraftVersions.restore(tdir, 1L)                             // v4
      OpsUtil.driverLiteral(spark.sql(
        s"""SELECT version, op, data_change, n_files
           |FROM $cat.t.history ORDER BY version""".stripMargin))
    }

  // ---------------------------------------------------------------------
  // q223: file skipping — manifest min/max stats prune the scan
  // ---------------------------------------------------------------------

  /** Data skipping on the warehouse tables, verified from planned work:
    * versioned commits record per-file doc_id min/max in their
    * manifests, and a scan with a pushed doc_id range PLANS ONLY the
    * files whose range intersects it (parquet-style unit pruning:
    * files skipped early, rows still filtered exactly). Three clamped
    * appends leave 6 files with known disjoint ranges; a BETWEEN over
    * 2 of them plans exactly 2 input partitions. Then range-clustered
    * compaction (repartitionByRange + sortWithinPartitions — the
    * Z-order-lite layout) rewrites into 2 disjoint sorted files and
    * the same-shaped selective query plans exactly 1. The planned
    * counts are IN the output row: a pruning regression breaks the
    * oracle hash, not just a perf trend. At 100 TB this is the
    * difference between touching 3 files and 30,000. */
  val q223FileSkipping: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "ver_q223") { (cat, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "10").option("partitions", "2").load()
        .writeTo(s"$cat.t").tableProperty("versioned", "true").create()
      for (lo <- Seq(10, 20)) {
        spark.read.format("graft.sources.GraftDocsSource")
          .option("rows", (lo + 10).toString).option("partitions", "2").load()
          .filter(col("doc_id") >= lo)
          .createOrReplaceTempView(s"${cat}_ins")
        spark.sql(s"INSERT INTO $cat.t SELECT * FROM ${cat}_ins")
        spark.catalog.dropTempView(s"${cat}_ins")
      }
      val tdir = wh.resolve("t")
      def planned(pred: String): Long =
        spark.sql(s"SELECT * FROM $cat.t WHERE $pred")
          .rdd.getNumPartitions.toLong
      def agg(pred: String) = spark.sql(
        s"""SELECT COUNT(*) AS n, COALESCE(SUM(n_words), 0) AS w
           |FROM $cat.t WHERE $pred""".stripMargin).head()
      val totalFiles = GraftVersions.latest(tdir).get.entries.length.toLong
      val plannedRange = planned("doc_id BETWEEN 12 AND 17")
      val aggRange = agg("doc_id BETWEEN 12 AND 17")
      val compacted = GraftVersions.compact(spark, tdir, targetFiles = 2,
        clusterBy = Seq("doc_id"))
      val plannedAfter = planned("doc_id BETWEEN 2 AND 7")
      val aggAfter = agg("doc_id BETWEEN 2 AND 7")
      import spark.implicits._
      OpsUtil.driverLiteral(Seq((
        totalFiles, plannedRange, aggRange.getLong(0), aggRange.getLong(1),
        compacted.entries.length.toLong, plannedAfter,
        aggAfter.getLong(0), aggAfter.getLong(1)
      )).toDF("total_files", "planned_files_range", "rows_range",
        "sum_words_range", "files_after_compact", "planned_after_compact",
        "rows_after_compact", "sum_words_after_compact"))
    }

  // ---------------------------------------------------------------------
  // q224: OPTIMIZE ZORDER BY — multi-dimensional clustering for skipping
  // ---------------------------------------------------------------------

  /** Z-order compaction verified from planned work on BOTH clustered
    * dimensions. 256 generative rows land hash-scattered across 8
    * files (repartition on fp), so every file spans nearly the full
    * doc_id AND fp range and a selective predicate on either column
    * must plan all 8. `GraftVersions.compact(clusterBy = doc_id, fp)`
    * rewrites them into 4 Z-ordered files — interleaved-bits Morton
    * layout, range-partitioned on the Z-value — giving each file a
    * tight HYPER-RECTANGLE in (doc_id, fp) space: the same half-range
    * predicates now plan 2 files on either axis. Planned file counts
    * ride IN the output row (the q223 pattern), so a layout or pruning
    * regression breaks the oracle hash. Row/aggregate results are
    * closed-form (fp = first-15-hex-of-md5, n_words = id%91+9), so
    * DuckDB recomputes them exactly. One clustering pass serving
    * MULTIPLE filter axes is the point of Z-order at 100 TB: a
    * single-column sort would make one axis perfect and leave the
    * other unprunable. */
  val q224ZOrder: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "ver_q224") { (cat, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "256").load()
        .repartition(8, col("fp"))
        .writeTo(s"$cat.t").tableProperty("versioned", "true").create()
      val tdir = wh.resolve("t")
      // 2^58 = quarter point of the 60-bit fp domain: comfortably inside
      // the fp-low half-space, so the claim "fp-high quadrant files are
      // skipped" doesn't ride on the exact data midpoint the Z-scaling
      // derives from the observed min/max
      val fpMid = 288230376151711744L
      def planned(pred: String): Long =
        spark.sql(s"SELECT * FROM $cat.t WHERE $pred")
          .rdd.getNumPartitions.toLong
      def agg(pred: String) = spark.sql(
        s"""SELECT COUNT(*) AS n, COALESCE(SUM(n_words), 0) AS w
           |FROM $cat.t WHERE $pred""".stripMargin).head()
      val filesBefore = GraftVersions.latest(tdir).get.entries.length.toLong
      val plannedIdBefore = planned("doc_id < 128")
      val plannedFpBefore = planned(s"fp < $fpMid")
      val info = GraftVersions.compact(spark, tdir, targetFiles = 4,
        clusterBy = Seq("doc_id", "fp"))
      val plannedIdAfter = planned("doc_id < 128")
      val plannedFpAfter = planned(s"fp < $fpMid")
      val aggId = agg("doc_id < 128")
      val aggFp = agg(s"fp < $fpMid")
      import spark.implicits._
      OpsUtil.driverLiteral(Seq((
        filesBefore, plannedIdBefore, plannedFpBefore,
        info.entries.length.toLong, plannedIdAfter, plannedFpAfter,
        aggId.getLong(0), aggId.getLong(1), aggFp.getLong(0), aggFp.getLong(1)
      )).toDF("files_before", "planned_id_before", "planned_fp_before",
        "files_after", "planned_id_after", "planned_fp_after",
        "rows_id", "sum_words_id", "rows_fp", "sum_words_fp"))
    }

  // ---------------------------------------------------------------------
  // q225: streaming sink — exactly-once writes INTO a versioned table
  // ---------------------------------------------------------------------

  /** The write-side closure of the streaming loop: q219 proved the
    * commit log streams OUT exactly once; this proves a stream lands
    * IN a versioned table exactly once. A versioned source table's
    * change feed is piped via `writeStream.toTable` into a versioned
    * sink table ([[graft.sources.GraftDocsStreamingWrite]]): every
    * micro-batch commits one manifest carrying `txn=appId:epoch`, and
    * a replayed epoch is skipped against that ledger — Delta's
    * idempotent-write contract. Two AvailableNow drains over one
    * checkpoint (initial + incremental after more source commits)
    * must produce zero duplicate rows, closed-form aggregates, one
    * stable appId across the restart (the queryId the checkpoint
    * persists), and one ledgered commit per consumed source commit.
    * At 100 TB this is how a corpus ingests a firehose: commit work
    * per batch proportional to that batch's files, replay-safe with
    * no reconciliation job. */
  val q225StreamSink: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "ver_q225") { (cat, wh) =>
      val cp = Scratch.dir(wh, "ckpt")
      // unlike Scratch.insertRange: one file per source partition
      def appendRange(lo: Int, hi: Int): Unit = {
        spark.read.format("graft.sources.GraftDocsSource")
          .option("rows", hi.toString).load()
          .filter(col("doc_id") >= lo)
          .createOrReplaceTempView(s"${cat}_ins")
        spark.sql(s"INSERT INTO $cat.src SELECT * FROM ${cat}_ins")
        spark.catalog.dropTempView(s"${cat}_ins")
      }
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "20").load()
        .writeTo(s"$cat.src").tableProperty("versioned", "true").create()
      appendRange(20, 30)
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "0").option("partitions", "1").load()
        .writeTo(s"$cat.dst").tableProperty("versioned", "true").create()
      def drain(): Unit = {
        val q = spark.readStream.table(s"$cat.src")
          .writeStream
          .option("checkpointLocation", cp.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable(s"$cat.dst")
        Scratch.drain(q, "q225: stream-sink")
      }
      drain()                       // consumes src v0(enable), v1, v2
      appendRange(30, 35)           // src v3
      drain()                       // same checkpoint: v3 only
      val dstDir = wh.resolve("dst")
      val txns = GraftVersions.listVersions(dstDir).flatMap(_.txn)
      val stats = spark.table(s"$cat.dst")
        .agg(count(lit(1)).as("rows_in_dst"),
          countDistinct(col("doc_id")).as("distinct_ids"),
          coalesce(sum("n_words"), lit(0L)).as("sum_words"))
        .withColumn("txn_commits", lit(txns.length.toLong))
        .withColumn("distinct_app_ids",
          lit(txns.map(_._1).distinct.length.toLong))
        .withColumn("max_epoch", lit(txns.map(_._2).max))
      OpsUtil.driverLiteral(stats)
    }

  // ---------------------------------------------------------------------
  // q226: Bloom-filter file skipping — point lookups min/max can't prune
  // ---------------------------------------------------------------------

  /** Per-file Bloom indexes (`TBLPROPERTIES('bloom.columns'='fp,title')`)
    * verified from planned work. The table is doc_id-clustered (8
    * contiguous-range files), so every file spans the whole fp/title
    * domain and min/max stats can never prune a point lookup on them —
    * the precise gap blooms close. A `fp = <literal>` lookup plans
    * exactly the 1 file containing that document (bloom miss = proof of
    * absence; a false positive would only add a scanned file, never
    * lose a row), same for `title = 'doc-200'`, and a value that exists
    * nowhere plans 0 files. At 100 TB this is the difference between a
    * point lookup opening 3 files and 30,000 — on exactly the columns
    * the layout was NOT sorted by. Planned counts ride in the hashed
    * row (q223 pattern). */
  val q226BloomSkipping: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "ver_q226") { (cat, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "256").option("partitions", "8").load()
        .writeTo(s"$cat.t")
        .tableProperty("versioned", "true")
        .tableProperty("bloom.columns", "fp,title")
        .create()
      val fp137 = graft.sources.GraftDocsSource.fp(137L)
      def planned(pred: String): Long =
        spark.sql(s"SELECT * FROM $cat.t WHERE $pred")
          .rdd.getNumPartitions.toLong
      def agg(pred: String) = spark.sql(
        s"""SELECT COUNT(*) AS n, COALESCE(SUM(n_words), 0) AS w
           |FROM $cat.t WHERE $pred""".stripMargin).head()
      val total = GraftVersions.latest(wh.resolve("t")).get.entries.length.toLong
      val aggFp = agg(s"fp = $fp137")
      val aggTitle = agg("title = 'doc-200'")
      import spark.implicits._
      OpsUtil.driverLiteral(Seq((
        total,
        planned(s"fp = $fp137"), aggFp.getLong(0), aggFp.getLong(1),
        planned("title = 'doc-200'"), aggTitle.getLong(0),
        aggTitle.getLong(1),
        planned("fp = 999"), agg("fp = 999").getLong(0)
      )).toDF("total_files", "planned_fp_point", "rows_fp_point",
        "words_fp_point", "planned_title_point", "rows_title_point",
        "words_title_point", "planned_fp_missing", "rows_fp_missing"))
    }

  // ---------------------------------------------------------------------
  // q227: CHECK constraints — write-time data quality gates
  // ---------------------------------------------------------------------

  /** Write-time CHECK constraints (`TBLPROPERTIES('check.<name>'=
    * '<boolean SQL>')`, compiled through the real analyzer and enforced
    * per row in every writer — batch INSERT, the COW UPDATE rewrite,
    * and streaming all share the path). A violating write FAILS AS A
    * UNIT: the staged commit never lands, the version log doesn't
    * advance, and the table's contents are bit-identical to before —
    * proven here by attempting a bad INSERT and a bad UPDATE between
    * good ones and hashing the surviving state + version count. This
    * is Delta's constraint contract, and for a training corpus it is
    * the cheapest possible quality gate: bad rows are rejected at the
    * door instead of quarantined by a later audit pass over 100 TB. */
  val q227CheckConstraints: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "ver_q227") { (cat, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "30").load()
        .writeTo(s"$cat.t")
        .tableProperty("versioned", "true")
        .tableProperty("check.words", "n_words BETWEEN 9 AND 99")
        .tableProperty("check.id_pos", "doc_id >= 0")
        .create()
      def rejected(sql: String): Boolean =
        try { spark.sql(sql); false }
        catch {
          case e: Throwable =>
            // only a constraint rejection counts; anything else is a bug
            val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
              .map(_.getMessage).filter(_ != null).mkString(" | ")
            if (!msgs.contains("CHECK constraint")) throw e
            true
        }
      val badInsert =
        rejected(s"INSERT INTO $cat.t SELECT 500L, 'bad', 1L, 500")
      val badUpdate =
        rejected(s"UPDATE $cat.t SET n_words = -1 WHERE doc_id < 3")
      spark.sql(s"UPDATE $cat.t SET n_words = 50 WHERE doc_id < 3") // passes
      val versions = GraftVersions.listVersionNumbers(wh.resolve("t")).length
      val state = spark.sql(
        s"""SELECT COUNT(*) AS n, SUM(n_words) AS w, SUM(doc_id) AS ids
           |FROM $cat.t""".stripMargin).head()
      import spark.implicits._
      OpsUtil.driverLiteral(Seq((
        badInsert, badUpdate, versions.toLong,
        state.getLong(0), state.getLong(1), state.getLong(2)
      )).toDF("bad_insert_rejected", "bad_update_rejected", "n_versions",
        "rows_live", "sum_words_live", "sum_ids_live"))
    }

  // ---------------------------------------------------------------------
  // q228: merge-on-read DELETE — deletion vectors instead of rewrites
  // ---------------------------------------------------------------------

  /** The deletion-vector delete path, audited per snapshot: a table
    * with `delete.mode=merge-on-read` takes scattered DELETEs as
    * manifest-resident position masks ([[graft.sources.GraftDV]], via
    * Spark's SupportsDelta/WriteDelta contract with `(_file, _pos)`
    * row ids) — the data files are NEVER rewritten, which the output
    * row proves two ways: `files_rewritten` (manifest names not in the
    * original append) stays 0 through every delete, and
    * `bytes_immutable` compares each original part file's bytes
    * against a snapshot taken before the deletes. Per version the row
    * carries live row count / sum(doc_id) from an actual VERSION AS OF
    * read plus `masked_rows` (total DV cardinality in that manifest) —
    * all closed-form over range(40). OPTIMIZE then materializes the
    * masks away (`masked_rows` back to 0) with the live rows
    * unchanged. At 100 TB: a delete touching 3 rows in each of 10⁵
    * gigabyte-files commits a few KB of masks instead of rewriting
    * 100 TB; the read-side cost is a sorted-mask skip per file. */
  val q228MorDelete: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "ver_q228") { (cat, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "40").load()
        .repartitionByRange(4, col("doc_id"))
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("delete.mode", "merge-on-read").create()
      val tdir = wh.resolve("t")
      val originals = GraftVersions.latest(tdir).get.files
      val bytesBefore = originals.map(n =>
        n -> java.util.Arrays.hashCode(Files.readAllBytes(tdir.resolve(n)))).toMap
      // scattered predicates (not provable from min/max stats, not
      // even translatable): the planner falls through the metadata
      // path onto the MOR row-level path
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id % 7 = 3")
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id % 7 = 5")
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id < 10 AND doc_id % 2 = 0")
      GraftVersions.compact(spark, tdir, targetFiles = 2,
        clusterBy = Seq("doc_id"))
      val log = GraftVersions.listVersions(tdir)
      val perVersion = log.map { v =>
        val masked = v.entries.flatMap(_.dv).map(_.cardinality.toLong).sum
        val rewritten = v.files.count(n => !originals.contains(n)).toLong
        val immutable = originals.forall(n =>
          java.util.Arrays.hashCode(Files.readAllBytes(tdir.resolve(n))) ==
            bytesBefore(n))
        spark.sql(
          s"""SELECT ${v.version}L AS version, '${v.op}' AS op,
             |  COUNT(*) AS n_rows, COALESCE(SUM(doc_id), 0) AS sum_ids,
             |  ${masked}L AS masked_rows, ${rewritten}L AS files_rewritten,
             |  $immutable AS bytes_immutable
             |FROM $cat.t VERSION AS OF ${v.version}""".stripMargin)
      }.reduce(_ unionByName _)
      OpsUtil.driverLiteral(perVersion.orderBy("version"))
    }

  // ---------------------------------------------------------------------
  // q229: metadata-only DELETE — stats-provable deletes never touch data
  // ---------------------------------------------------------------------

  /** The three-tier delete story on one table, cheapest tier first:
    * (1) `DELETE WHERE doc_id >= 30` on a range-clustered table is
    * PROVABLE from the manifest's per-file min/max — every file is
    * wholly in or wholly out — so Spark's
    * OptimizeMetadataOnlyDeleteFromTable + the connector's
    * SupportsDeleteV2 turn it into ONE manifest advance
    * (`delete-metadata`) dropping the all-match file: no scan job, no
    * rewrite, and `disk_files` proves the dropped file's bytes still
    * exist for time travel. (2) `DELETE WHERE doc_id >= 25` is PARTIAL
    * on the [20,30) file, canDeleteWhere says no, and the same SQL
    * falls back to the copy-on-write rewrite (`delete`) of exactly
    * that one file (`files_rewritten` = 1, runtime group filtering
    * scoping the rewrite). The output row pins the op labels, the
    * file accounting, and VERSION AS OF aggregates per snapshot — a
    * regression in either tier breaks the hash. Tier (3), masks, is
    * q228. At 100 TB, tier 1 is how `DELETE WHERE date < retention`
    * on a date-clustered corpus finishes in milliseconds. */
  val q229MetadataDelete: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "ver_q229") { (cat, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "40").load()
        .repartitionByRange(4, col("doc_id"))
        .writeTo(s"$cat.t").tableProperty("versioned", "true").create()
      val tdir = wh.resolve("t")
      val originals = GraftVersions.latest(tdir).get.files
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id >= 30") // provable
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id >= 25") // partial -> COW
      def diskFiles: Long = {
        val s = Files.list(tdir)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.count(p => p.getFileName.toString
            .matches(graft.sources.GraftFiles.partFileRegex)).toLong
        } finally s.close()
      }
      val log = GraftVersions.listVersions(tdir)
      val perVersion = log.map { v =>
        val rewritten = v.files.count(n => !originals.contains(n)).toLong
        spark.sql(
          s"""SELECT ${v.version}L AS version, '${v.op}' AS op,
             |  COUNT(*) AS n_rows, COALESCE(SUM(doc_id), 0) AS sum_ids,
             |  ${v.files.length}L AS manifest_files,
             |  ${rewritten}L AS files_rewritten
             |FROM $cat.t VERSION AS OF ${v.version}""".stripMargin)
      }.reduce(_ unionByName _)
      // all four original files still on disk (time travel needs them)
      // plus the one COW replacement
      val disk = diskFiles
      OpsUtil.driverLiteral(perVersion
        .withColumn("disk_files", lit(disk)).orderBy("version"))
    }

  // ---------------------------------------------------------------------
  // q230: manifest statistics drive the cost-based optimizer
  // ---------------------------------------------------------------------

  /** SupportsReportStatistics, verified through the numbers the
    * PLANNER actually consumes: the warehouse scan reports
    * manifest-resident row/byte counts (`rows=`/`bytes=` written at
    * commit, minus deletion-vector cardinality), and the output row
    * pins `stats_rows_*` read straight off the optimized plan's
    * DataSourceV2ScanRelation — before a MOR delete (500) and after
    * (500 − 71), proving statistics track masks without any file
    * access. The join itself (big generative corpus ⋈ small curated
    * table) aggregates to closed-form sums DuckDB recomputes. The
    * plan-level consequence — Spark auto-broadcasting the small side
    * with NO hint — is asserted in DeletionVectorSpec; at 100 TB this
    * is what turns "join the corpus to a curated exclusion list" from
    * an accidental full shuffle into a broadcast hash join. */
  val q230StatsCbo: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "ver_q230") { (cat, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "500").load()
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("delete.mode", "merge-on-read").create()
      def reportedRows: Long =
        spark.table(s"$cat.t").queryExecution.optimizedPlan.collectFirst {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
            r.stats.rowCount.map(_.toLong).getOrElse(-1L)
        }.getOrElse(-1L)
      val statsBefore = reportedRows
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id % 7 = 3") // 71 rows masked
      val statsAfter = reportedRows
      val big = spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "20000").load()
      val joined = big.join(spark.table(s"$cat.t").select("doc_id"), "doc_id")
        .agg(count(lit(1)).as("n_joined"),
          sum("n_words").as("sum_words_joined"))
        .head()
      import spark.implicits._
      OpsUtil.driverLiteral(Seq((
        statsBefore, statsAfter, joined.getLong(0), joined.getLong(1)
      )).toDF("stats_rows_before", "stats_rows_after",
        "n_joined", "sum_words_joined"))
    }

  // ---------------------------------------------------------------------
  // q231: ALTER TABLE SET/UNSET TBLPROPERTIES — mutable table behavior
  // ---------------------------------------------------------------------

  /** The property-ALTER lifecycle as one audited row: (1) adding a
    * CHECK constraint VALIDATES the existing rows first (Delta's ADD
    * CONSTRAINT contract — one scan, violations reject the ALTER), so
    * `alter_ok` lands but `alter_rejected` (a constraint 25 existing
    * rows violate) must fail; (2) the landed constraint gates
    * subsequent writes (`bad_insert_rejected`, version log unmoved);
    * (3) UNSET lifts it and the same row inserts; (4) ALTER switching
    * `delete.mode` to merge-on-read changes the NEXT delete's
    * execution path — same SQL, masks instead of rewrite — pinned by
    * `masked_rows` > 0 and `final_op`. Behavior, not just storage, is
    * what ALTER mutates; every count is closed-form over range(30). */
  val q231AlterProperties: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "ver_q231") { (cat, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "30").load()
        .writeTo(s"$cat.t").tableProperty("versioned", "true").create()
      val tdir = wh.resolve("t")
      spark.sql(
        s"ALTER TABLE $cat.t SET TBLPROPERTIES ('check.pos_words' = 'n_words > 0')")
      val alterOk =
        GraftTableMeta.read(tdir).contains("check.pos_words")
      val alterRejected =
        try {
          spark.sql(
            s"ALTER TABLE $cat.t SET TBLPROPERTIES ('check.tiny' = 'doc_id < 5')")
          false
        } catch { case e: Exception =>
          e.getMessage != null && e.getMessage.contains("25 existing row(s)")
        }
      val versionsBefore = GraftVersions.listVersions(tdir).length
      val badInsertRejected =
        try {
          spark.sql(s"INSERT INTO $cat.t SELECT 777L, 'bad', 7L, 0")
          false
        } catch { case _: Exception => true }
      val versionsUnmoved =
        GraftVersions.listVersions(tdir).length == versionsBefore
      spark.sql(s"ALTER TABLE $cat.t UNSET TBLPROPERTIES ('check.pos_words')")
      spark.sql(s"INSERT INTO $cat.t SELECT 777L, 'ok-now', 7L, 0")
      spark.sql(
        s"ALTER TABLE $cat.t SET TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id % 5 = 2")
      val last = GraftVersions.latest(tdir).get
      val masked = last.entries.flatMap(_.dv).map(_.cardinality.toLong).sum
      val state = spark.sql(
        s"""SELECT COUNT(*) AS n, COALESCE(SUM(doc_id), 0) AS ids,
           |  COALESCE(SUM(n_words), 0) AS words FROM $cat.t""".stripMargin)
        .head()
      import spark.implicits._
      OpsUtil.driverLiteral(Seq((
        alterOk, alterRejected, badInsertRejected, versionsUnmoved,
        last.op, masked, state.getLong(0), state.getLong(1), state.getLong(2)
      )).toDF("alter_ok", "alter_rejected", "bad_insert_rejected",
        "versions_unmoved", "final_op", "masked_rows",
        "rows_live", "sum_ids_live", "sum_words_live"))
    }

  // ---------------------------------------------------------------------
  // q232: merge-on-read UPDATE — masks for old rows, tiny files for new
  // ---------------------------------------------------------------------

  /** The MOR story completed for UPDATE: with
    * `update.mode=merge-on-read`, Spark's delta-write contract splits
    * each matched row into a DELETE of its `(_file,_pos)` row id plus a
    * REINSERT of the updated row (`representUpdateAsDeleteAndInsert`) —
    * the old version is masked where it lies, the new version lands in
    * a small fresh part file, and both halves commit as ONE manifest
    * advance. The audit row per snapshot pins: the op label, the
    * constant row count (an update never changes cardinality), the
    * moving sum(n_words), total mask cardinality, files added beyond
    * the original four, and `bytes_immutable` over the originals. The
    * second UPDATE targets a row whose live version sits in a
    * REPLACEMENT file from the first — masking it makes that 1-row
    * file 100% masked, so it drops from the manifest entirely (masks
    * compose across generations). OPTIMIZE then folds everything back
    * to clean files. At 100 TB a scattered UPDATE commits masks plus
    * only the changed rows' bytes — vs copy-on-write's rewrite of
    * every touched gigabyte. */
  val q232MorUpdate: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "ver_q232") { (cat, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "40").load()
        .repartitionByRange(4, col("doc_id"))
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("update.mode", "merge-on-read").create()
      val tdir = wh.resolve("t")
      val originals = GraftVersions.latest(tdir).get.files
      val bytesBefore = originals.map(n =>
        n -> java.util.Arrays.hashCode(Files.readAllBytes(tdir.resolve(n)))).toMap
      spark.sql(s"UPDATE $cat.t SET n_words = 0 WHERE doc_id % 7 = 3")
      spark.sql(s"UPDATE $cat.t SET n_words = 1 WHERE doc_id = 3")
      GraftVersions.compact(spark, tdir, targetFiles = 2,
        clusterBy = Seq("doc_id"))
      val log = GraftVersions.listVersions(tdir)
      val perVersion = log.map { v =>
        val masked = v.entries.flatMap(_.dv).map(_.cardinality.toLong).sum
        val added = v.files.count(n => !originals.contains(n)).toLong
        val immutable = originals.forall(n =>
          java.util.Arrays.hashCode(Files.readAllBytes(tdir.resolve(n))) ==
            bytesBefore(n))
        spark.sql(
          s"""SELECT ${v.version}L AS version, '${v.op}' AS op,
             |  COUNT(*) AS n_rows, COALESCE(SUM(n_words), 0) AS sum_words,
             |  ${masked}L AS masked_rows, ${added}L AS files_added,
             |  $immutable AS bytes_immutable
             |FROM $cat.t VERSION AS OF ${v.version}""".stripMargin)
      }.reduce(_ unionByName _)
      OpsUtil.driverLiteral(perVersion.orderBy("version"))
    }

  // ---------------------------------------------------------------------
  // q233: bucketed warehouse tables — storage-partitioned join on
  // real written (and mutated) data
  // ---------------------------------------------------------------------

  /** The q136 storage-partitioned-join story on REAL written tables:
    * `PARTITIONED BY (bucket(8, doc_id))` persists a physical layout;
    * every write path fans rows into per-bucket files whose bucket ids
    * ride in the manifest; the scan groups files by bucket class and
    * reports `KeyGroupedPartitioning`, so joining two such tables on
    * doc_id plans with NO exchange on either side — and the layout
    * SURVIVES MUTATION: side a takes a merge-on-read delete (masks
    * only), side b an OPTIMIZE rewrite (the bucketed writer fans the
    * compaction output too). The output row pins the join aggregates
    * (closed-form over the surviving ids) plus the manifest's layout
    * accounting (both sides fully bucketed, 8 distinct classes each);
    * the zero-exchange plan shape and its shuffle-join control are
    * asserted in BucketedWarehouseSpec. At 100 TB this is the layout
    * that keeps corpus⋈corpus joins — dedup-pair resolution, split
    * assignment, CDC reconciliation — entirely off the wire, even as
    * the tables keep absorbing deletes and compactions. */
  val q233BucketedSpj: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "ver_q233") { (cat, wh) =>
      val confKeys = Seq("spark.sql.sources.v2.bucketing.enabled")
      val prev = confKeys.map(k => k -> spark.conf.getOption(k))
      try {
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        def mkTable(name: String, rows: Int): Unit =
          spark.read.format("graft.sources.GraftDocsSource")
            .option("rows", rows.toString).load()
            .writeTo(s"$cat.$name")
            .partitionedBy(bucket(8, col("doc_id")))
            .tableProperty("versioned", "true")
            .tableProperty("delete.mode", "merge-on-read").create()
        mkTable("a", 400)
        mkTable("b", 300)
        spark.sql(s"DELETE FROM $cat.a WHERE doc_id % 11 = 4")
        GraftVersions.compact(spark, wh.resolve("b"), targetFiles = 2)
        def layout(t: String): (Boolean, Long) = {
          val es = GraftVersions.latest(wh.resolve(t)).get.entries
          (es.nonEmpty && es.forall(_.bucket.isDefined),
            es.flatMap(_.bucket).distinct.length.toLong)
        }
        val (aOk, aBuckets) = layout("a")
        val (bOk, bBuckets) = layout("b")
        val j = spark.table(s"$cat.a").select("doc_id", "n_words")
          .join(spark.table(s"$cat.b").select("doc_id", "fp"), "doc_id")
          .agg(count(lit(1)).as("n"), sum("n_words").as("w"),
            sum(col("fp") % 1000).as("f"))
          .head()
        import spark.implicits._
        OpsUtil.driverLiteral(Seq((
          aOk && bOk, aBuckets, bBuckets,
          j.getLong(0), j.getLong(1), j.getLong(2)
        )).toDF("all_bucketed", "buckets_a", "buckets_b",
          "n_joined", "sum_words_joined", "sum_fp_mod"))
      } finally {
        prev.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None)    => spark.conf.unset(k)
        }
      }
    }

  // ---------------------------------------------------------------------
  // q234: merge-on-read MERGE — the full three-action matrix on masks
  // ---------------------------------------------------------------------

  /** MERGE completes the merge-on-read trilogy
    * (`merge.mode=merge-on-read`): one statement's matched-UPDATE
    * (split into mask + reinsert), matched-DELETE (mask), and
    * not-matched-INSERT (plain new file) all flow through the one
    * delta writer and commit as ONE manifest advance. The source rows
    * [15,40) hit the 3-file table so that the [10,19] file is
    * PARTIALLY masked (5 of 10) and the [20,29] file is FULLY masked —
    * dropped from the live set outright — while [30,40) arrives as
    * fresh inserts; the audit row per snapshot pins live rows /
    * sum(n_words) / residual mask count / original-byte immutability,
    * all closed-form. At 100 TB this is the CDC-upsert shape: a MERGE
    * touching 0.1% of rows commits masks + the changed rows' bytes,
    * not a rewrite of every touched file. */
  val q234MorMerge: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "ver_q234") { (cat, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "30").load()
        .repartitionByRange(3, col("doc_id"))
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("merge.mode", "merge-on-read").create()
      val tdir = wh.resolve("t")
      val originals = GraftVersions.latest(tdir).get.files
      val bytesBefore = originals.map(n =>
        n -> java.util.Arrays.hashCode(Files.readAllBytes(tdir.resolve(n)))).toMap
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "40").load().filter(col("doc_id") >= 15)
        .createOrReplaceTempView(s"${cat}_src")
      spark.sql(
        s"""MERGE INTO $cat.t t USING ${cat}_src s ON t.doc_id = s.doc_id
           |WHEN MATCHED AND s.doc_id % 2 = 0 THEN UPDATE SET n_words = 0
           |WHEN MATCHED THEN DELETE
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      spark.catalog.dropTempView(s"${cat}_src")
      val log = GraftVersions.listVersions(tdir)
      val perVersion = log.map { v =>
        val masked = v.entries.flatMap(_.dv).map(_.cardinality.toLong).sum
        val immutable = originals.forall(n =>
          java.util.Arrays.hashCode(Files.readAllBytes(tdir.resolve(n))) ==
            bytesBefore(n))
        spark.sql(
          s"""SELECT ${v.version}L AS version, '${v.op}' AS op,
             |  COUNT(*) AS n_rows, COALESCE(SUM(n_words), 0) AS sum_words,
             |  ${masked}L AS masked_rows, $immutable AS bytes_immutable
             |FROM $cat.t VERSION AS OF ${v.version}""".stripMargin)
      }.reduce(_ unionByName _)
      OpsUtil.driverLiteral(perVersion.orderBy("version"))
    }

  // ---------------------------------------------------------------------
  // q235: the `files` metadata table — manifest health from SQL
  // ---------------------------------------------------------------------

  /** Iceberg's `t.files` as a DSv2 metadata table: the live manifest
    * queryable as a relation (file, bucket, physical rows/bytes,
    * deletion-vector cardinality, doc_id min/max, bloom presence). The
    * operator's health dashboard — bucket skew, mask buildup wanting
    * an OPTIMIZE, stats coverage — answered by a #files-sized manifest
    * read that opens ZERO data files. Here: a bucket(4) table of 40
    * rows takes a scattered MOR delete (2 masks per residue class);
    * grouping the metadata relation by bucket pins physical rows (10),
    * masks (2), and the residue-class doc_id envelope (min=b,
    * max=36+b) — every cell closed-form. */
  val q235FilesTable: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "ver_q235") { (cat, wh) =>
      // 2 input partitions × 4 buckets → 8 files of 5 rows: the
      // scattered delete masks 1 row per file, never a whole file (a
      // fully-masked file would drop and shrink the physical counters
      // — the drop behavior is q228/q232's story)
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "40").option("partitions", "2").load()
        .writeTo(s"$cat.t")
        .partitionedBy(bucket(4, col("doc_id")))
        .tableProperty("versioned", "true")
        .tableProperty("delete.mode", "merge-on-read").create()
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id % 5 = 2")
      OpsUtil.driverLiteral(spark.sql(
        s"""SELECT bucket, SUM(rows) AS rows_physical,
           |  SUM(masked) AS masked_rows,
           |  MIN(min_doc_id) AS min_id, MAX(max_doc_id) AS max_id,
           |  SUM(rows) - SUM(masked) AS rows_live
           |FROM $cat.t.files GROUP BY bucket ORDER BY bucket""".stripMargin))
    }

  // ---------------------------------------------------------------------
  // q236: SQL-callable maintenance — CALL system.optimize/restore/vacuum
  // ---------------------------------------------------------------------

  /** The nightly maintenance job as a SQL script (Spark 4 DSv2
    * procedures, Iceberg's `system.*` shape): a versioned table takes
    * a metadata DELETE (drops its [30,40) file), then
    * `CALL system.optimize('t', 2, 'doc_id')` compacts the 3 live
    * files into 2 range-clustered ones, `CALL system.restore('t', 1)`
    * rewinds to the pre-delete snapshot (zero data movement — the
    * restore manifest references the ORIGINAL files, which is why the
    * vacuum below deletes nothing), and `CALL system.vacuum('t', 2)`
    * expires versions 0-2. Every procedure's audited RESULT ROW feeds
    * the output — retention/compaction regressions break the hash, not
    * a trend. At 100 TB: maintenance runs from the same SQL gateway as
    * queries, no driver-side tooling required. */
  val q236Procedures: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "ver_q236") { (cat, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "40").load()
        .repartitionByRange(4, col("doc_id"))
        .writeTo(s"$cat.t").tableProperty("versioned", "true").create()
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id >= 30")
      val opt = spark.sql(s"CALL $cat.system.optimize('t', 2, 'doc_id')").head()
      val res = spark.sql(s"CALL $cat.system.restore('t', 1)").head()
      val vac = spark.sql(s"CALL $cat.system.vacuum('t', 2)").head()
      val state = spark.sql(
        s"""SELECT COUNT(*) AS n, COALESCE(SUM(doc_id), 0) AS ids
           |FROM $cat.t""".stripMargin).head()
      import spark.implicits._
      OpsUtil.driverLiteral(Seq((
        opt.getLong(0), opt.getLong(1),
        res.getLong(0), res.getLong(1), res.getLong(2),
        vac.getLong(0), vac.getLong(1), vac.getLong(2),
        state.getLong(0), state.getLong(1)
      )).toDF("opt_files_before", "opt_files_after",
        "restored_version", "restore_new_version", "restore_n_files",
        "vacuum_expired", "vacuum_deleted", "oldest_retained",
        "rows_live", "sum_ids_live"))
    }

  // ---------------------------------------------------------------------
  // q237: manifest aggregate pushdown — COUNT(*) without opening a file
  // ---------------------------------------------------------------------

  /** The first query anyone runs on a 100 TB table — `SELECT COUNT(*)`
    * — answered from the MANIFEST: the scan builder recognizes
    * unfiltered COUNT/MIN/MAX aggregations and folds them from the
    * live snapshot's per-file `rows=` counters and min/max stats at
    * plan time (complete pushdown; zero data files opened), exactly
    * how Iceberg/Delta answer it. The audit row pins the exactness
    * rules as behavior: COUNT stays pushed and DV-EXACT after a
    * merge-on-read delete (live = physical − masks); MIN/MAX push
    * only while NO file is masked (a mask could hide the extremum —
    * after the delete they fall back to the ordinary scan and stay
    * correct); a WHERE keeps the ordinary path; a time-travel read
    * folds the PINNED manifest. The pushed/declined flags come off
    * the executed plans, so a pushdown regression breaks the hash. */
  val q237ManifestAgg: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "ver_q237") { (cat, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "40").load()
        .repartitionByRange(4, col("doc_id"))
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("delete.mode", "merge-on-read").create()
      def pushed(sql: String): Boolean =
        spark.sql(sql).queryExecution.executedPlan.toString
          .contains("manifest-agg")
      val countPushed = pushed(s"SELECT COUNT(*) FROM $cat.t")
      val nBefore = spark.sql(s"SELECT COUNT(*) FROM $cat.t").head().getLong(0)
      val mmPushed = pushed(s"SELECT MIN(doc_id), MAX(n_words) FROM $cat.t")
      val mm = spark.sql(
        s"SELECT MIN(doc_id), MAX(n_words) FROM $cat.t").head()
      val wherePushed = pushed(s"SELECT COUNT(*) FROM $cat.t WHERE doc_id > 5")
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id % 7 = 3")
      val countPushedAfter = pushed(s"SELECT COUNT(*) FROM $cat.t")
      val nAfter = spark.sql(s"SELECT COUNT(*) FROM $cat.t").head().getLong(0)
      val mmPushedAfter = pushed(s"SELECT MIN(doc_id) FROM $cat.t")
      val minAfter = spark.sql(s"SELECT MIN(doc_id) FROM $cat.t")
        .head().getLong(0)
      val nAsOf = spark.sql(s"SELECT COUNT(*) FROM $cat.t VERSION AS OF 1")
        .head().getLong(0)
      import spark.implicits._
      OpsUtil.driverLiteral(Seq((
        countPushed, nBefore, mmPushed, mm.getLong(0), mm.getInt(1).toLong,
        wherePushed, countPushedAfter, nAfter, mmPushedAfter, minAfter,
        nAsOf
      )).toDF("count_pushed", "n_before", "minmax_pushed", "min_id",
        "max_words", "where_pushed", "count_pushed_after", "n_after",
        "minmax_pushed_after", "min_id_after", "n_asof_v1"))
    }

  val queries: Map[String, Q] = Map(
    "q216_time_travel" -> q216TimeTravel,
    "q217_version_changes" -> q217VersionChanges,
    "q218_snapshot_retention" -> q218SnapshotRetention,
    "q219_version_feed" -> q219VersionFeed,
    "q220_compaction_versioned" -> q220Compaction,
    "q221_restore" -> q221Restore,
    "q222_history_table" -> q222History,
    "q223_file_skipping" -> q223FileSkipping,
    "q224_zorder" -> q224ZOrder,
    "q225_stream_sink" -> q225StreamSink,
    "q226_bloom_skipping" -> q226BloomSkipping,
    "q227_check_constraints" -> q227CheckConstraints,
    "q228_mor_delete" -> q228MorDelete,
    "q229_metadata_delete" -> q229MetadataDelete,
    "q230_stats_cbo" -> q230StatsCbo,
    "q231_alter_properties" -> q231AlterProperties,
    "q232_mor_update" -> q232MorUpdate,
    "q233_bucketed_spj" -> q233BucketedSpj,
    "q234_mor_merge" -> q234MorMerge,
    "q235_files_table" -> q235FilesTable,
    "q236_procedures" -> q236Procedures,
    "q237_manifest_agg" -> q237ManifestAgg,
  )

  /** The scratch table's history is a closed-form function of doc_id
    * (n_words = i%91+9), so every snapshot aggregates in pure SQL:
    * v0 empty; v1 = rows [0,30); v2 zeroes n_words for i<5; v3 keeps
    * i<20; v4 appends rows [40,45). */
  val oracle: Map[String, String] = Map(
    "q216_time_travel" ->
      """WITH w AS (SELECT i, i % 91 + 9 AS nw FROM range(0, 45) t(i)),
        |v(version, op, n_rows, sum_words, sum_doc_id) AS (VALUES
        |  (0, 'enable', 0, 0, 0),
        |  (1, 'append', 30,
        |    (SELECT SUM(nw) FROM w WHERE i < 30),
        |    (SELECT SUM(i) FROM w WHERE i < 30)),
        |  (2, 'update', 30,
        |    (SELECT SUM(CASE WHEN i < 5 THEN 0 ELSE nw END) FROM w
        |      WHERE i < 30),
        |    (SELECT SUM(i) FROM w WHERE i < 30)),
        |  (3, 'delete', 20,
        |    (SELECT SUM(CASE WHEN i < 5 THEN 0 ELSE nw END) FROM w
        |      WHERE i < 20),
        |    (SELECT SUM(i) FROM w WHERE i < 20)),
        |  (4, 'append', 25,
        |    (SELECT SUM(CASE WHEN i < 5 THEN 0 WHEN i < 20 THEN nw
        |                     WHEN i >= 40 THEN nw END) FROM w
        |      WHERE i < 20 OR i >= 40),
        |    (SELECT SUM(i) FROM w WHERE i < 20 OR i >= 40)))
        |SELECT CAST(version AS BIGINT) AS version, op,
        |  CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(sum_words AS BIGINT) AS sum_words,
        |  CAST(sum_doc_id AS BIGINT) AS sum_doc_id
        |FROM v ORDER BY version""".stripMargin,
    "q217_version_changes" ->
      """WITH w AS (SELECT i, i % 91 + 9 AS nw FROM range(0, 45) t(i)),
        |v(to_version, op, rows_added, rows_removed, words_delta) AS (VALUES
        |  (1, 'append', 30, 0, (SELECT SUM(nw) FROM w WHERE i < 30)),
        |  (2, 'update', 5, 5, (SELECT -SUM(nw) FROM w WHERE i < 5)),
        |  (3, 'delete', 0, 10,
        |    (SELECT -SUM(nw) FROM w WHERE i >= 20 AND i < 30)),
        |  (4, 'append', 5, 0, (SELECT SUM(nw) FROM w WHERE i >= 40)))
        |SELECT CAST(to_version AS BIGINT) AS to_version, op,
        |  CAST(rows_added AS BIGINT) AS rows_added,
        |  CAST(rows_removed AS BIGINT) AS rows_removed,
        |  CAST(words_delta AS BIGINT) AS words_delta
        |FROM v ORDER BY to_version""".stripMargin,
    "q218_snapshot_retention" ->
      """WITH w AS (SELECT i, i % 91 + 9 AS nw FROM range(0, 45) t(i)),
        |v3 AS (SELECT COUNT(*) AS n,
        |         SUM(CASE WHEN i < 5 THEN 0 ELSE nw END) AS sw
        |       FROM w WHERE i < 20),
        |v4 AS (SELECT COUNT(*) AS n,
        |         SUM(CASE WHEN i < 5 THEN 0 WHEN i < 20 THEN nw
        |                  WHEN i >= 40 THEN nw END) AS sw
        |       FROM w WHERE i < 20 OR i >= 40)
        |SELECT CAST(5 AS BIGINT) AS versions_before,
        |  CAST(3 AS BIGINT) AS versions_expired,
        |  CAST(2 AS BIGINT) AS versions_after,
        |  CAST(3 AS BIGINT) AS oldest_retained,
        |  CAST(4 AS BIGINT) AS newest_retained,
        |  TRUE AS expired_read_fails, TRUE AS disk_matches_manifests,
        |  CAST((SELECT n FROM v3) AS BIGINT) AS oldest_rows,
        |  CAST((SELECT sw FROM v3) AS BIGINT) AS oldest_sum_words,
        |  CAST((SELECT n FROM v4) AS BIGINT) AS live_rows,
        |  CAST((SELECT sw FROM v4) AS BIGINT) AS live_sum_words""".stripMargin,
    "q219_version_feed" ->
      """WITH w AS (SELECT i, i % 91 + 9 AS nw FROM range(0, 15) t(i))
        |SELECT 'a_initial' AS phase,
        |  CAST(12 AS BIGINT) AS rows_in_sink,
        |  CAST((SELECT SUM(nw) FROM w WHERE i < 12) AS BIGINT) AS sum_words
        |UNION ALL
        |SELECT 'b_incremental' AS phase,
        |  CAST(15 AS BIGINT) AS rows_in_sink,
        |  CAST((SELECT SUM(nw) FROM w) AS BIGINT) AS sum_words
        |ORDER BY phase""".stripMargin,
    // files_before: the CTAS seed plans min(8, 10) = 8 generative
    // partitions (8 part files) and the filtered insert's pushed
    // doc_id clamp [10,12) leaves min(8, 2) = 2 — pushdown-derived
    // write parallelism, so the count is closed-form too
    "q220_compaction_versioned" ->
      """WITH w AS (SELECT i, i % 91 + 9 AS nw FROM range(0, 12) t(i))
        |SELECT CAST(10 AS BIGINT) AS files_before,
        |  CAST(1 AS BIGINT) AS files_after,
        |  CAST(12 AS BIGINT) AS live_rows,
        |  CAST((SELECT SUM(nw) FROM w) AS BIGINT) AS live_sum_words,
        |  CAST(12 AS BIGINT) AS precompact_rows,
        |  CAST(12 AS BIGINT) AS feed_rows,
        |  CAST((SELECT SUM(nw) FROM w) AS BIGINT) AS feed_sum_words""".stripMargin,
    "q221_restore" ->
      """WITH w AS (SELECT i, i % 91 + 9 AS nw FROM range(0, 12) t(i)),
        |v(version, op, n_rows, sum_words) AS (VALUES
        |  (0, 'enable', 0, 0),
        |  (1, 'append', 10, (SELECT SUM(nw) FROM w WHERE i < 10)),
        |  (2, 'delete-metadata', 5, (SELECT SUM(nw) FROM w WHERE i < 5)),
        |  (3, 'update', 5,
        |    (SELECT SUM(CASE WHEN i = 1 THEN 0 ELSE nw END) FROM w
        |      WHERE i < 5)),
        |  (4, 'restore', 10, (SELECT SUM(nw) FROM w WHERE i < 10)),
        |  (5, 'append', 12, (SELECT SUM(nw) FROM w)))
        |SELECT CAST(version AS BIGINT) AS version, op,
        |  CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(sum_words AS BIGINT) AS sum_words
        |FROM v ORDER BY version""".stripMargin,
    "q222_history_table" ->
      """WITH v(version, op, data_change, n_files) AS (VALUES
        |  (0, 'enable', TRUE, 0),
        |  (1, 'append', TRUE, 8),
        |  (2, 'append', TRUE, 10),
        |  (3, 'compact', FALSE, 1),
        |  (4, 'restore', TRUE, 8))
        |SELECT CAST(version AS BIGINT) AS version, op, data_change,
        |  CAST(n_files AS INT) AS n_files
        |FROM v ORDER BY version""".stripMargin,
    // ranges [0,5)[5,10) | [10,15)[15,20) | [20,25)[25,30): BETWEEN 12
    // AND 17 intersects exactly 2 files; after range-clustered
    // compaction into 2 disjoint sorted files, BETWEEN 2 AND 7 plans 1
    "q223_file_skipping" ->
      """WITH w AS (SELECT i, i % 91 + 9 AS nw FROM range(0, 30) t(i))
        |SELECT CAST(6 AS BIGINT) AS total_files,
        |  CAST(2 AS BIGINT) AS planned_files_range,
        |  CAST(6 AS BIGINT) AS rows_range,
        |  CAST((SELECT SUM(nw) FROM w WHERE i BETWEEN 12 AND 17)
        |    AS BIGINT) AS sum_words_range,
        |  CAST(2 AS BIGINT) AS files_after_compact,
        |  CAST(1 AS BIGINT) AS planned_after_compact,
        |  CAST(6 AS BIGINT) AS rows_after_compact,
        |  CAST((SELECT SUM(nw) FROM w WHERE i BETWEEN 2 AND 7)
        |    AS BIGINT) AS sum_words_after_compact""".stripMargin,
    // planned_* file counts are closed-form from the layout: 8 hash-
    // scattered files all intersect any half-range (256 uniform rows =
    // 32/file; a miss needs all 32 outside the half: impossible for
    // this fixed data); after Z-order into 4 range-partitioned quarters
    // of the Morton curve, a half-range on either axis touches the 2
    // quadrant-files on its side of that axis's top bit.
    "q224_zorder" ->
      """WITH w AS (SELECT i, i % 91 + 9 AS nw,
        |  CAST(('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)
        |    AS fp
        |  FROM range(0, 256) t(i))
        |SELECT CAST(8 AS BIGINT) AS files_before,
        |  CAST(8 AS BIGINT) AS planned_id_before,
        |  CAST(8 AS BIGINT) AS planned_fp_before,
        |  CAST(4 AS BIGINT) AS files_after,
        |  CAST(2 AS BIGINT) AS planned_id_after,
        |  CAST(2 AS BIGINT) AS planned_fp_after,
        |  (SELECT COUNT(*) FROM w WHERE i < 128) AS rows_id,
        |  CAST((SELECT SUM(nw) FROM w WHERE i < 128) AS BIGINT)
        |    AS sum_words_id,
        |  (SELECT COUNT(*) FROM w WHERE fp < 288230376151711744) AS rows_fp,
        |  CAST((SELECT SUM(nw) FROM w WHERE fp < 288230376151711744)
        |    AS BIGINT) AS sum_words_fp""".stripMargin,
    // src history = v0 enable (empty) + v1 create [0,20) + v2 insert
    // [20,30) + v3 insert [30,35); the feed emits one micro-batch per
    // commit, so the sink's txn ledger holds epochs 0..3 under ONE
    // appId (the checkpoint-stable queryId), and the sink's live rows
    // are exactly [0,35) — no duplicates from the second drain.
    "q225_stream_sink" ->
      """WITH w AS (SELECT i, i % 91 + 9 AS nw FROM range(0, 35) t(i))
        |SELECT CAST(35 AS BIGINT) AS rows_in_dst,
        |  CAST(35 AS BIGINT) AS distinct_ids,
        |  CAST((SELECT SUM(nw) FROM w) AS BIGINT) AS sum_words,
        |  CAST(4 AS BIGINT) AS txn_commits,
        |  CAST(1 AS BIGINT) AS distinct_app_ids,
        |  CAST(3 AS BIGINT) AS max_epoch""".stripMargin,
    // 8 doc_id-contiguous files; fp/title point lookups hit exactly the
    // one file holding that doc (doc 137 and doc 200 resp.), a nowhere
    // value hits none. fp is the md5-derived closed form (q88 oracle).
    "q226_bloom_skipping" ->
      """WITH w AS (SELECT i, i % 91 + 9 AS nw FROM range(0, 256) t(i))
        |SELECT CAST(8 AS BIGINT) AS total_files,
        |  CAST(1 AS BIGINT) AS planned_fp_point,
        |  CAST(1 AS BIGINT) AS rows_fp_point,
        |  CAST((SELECT nw FROM w WHERE i = 137) AS BIGINT)
        |    AS words_fp_point,
        |  CAST(1 AS BIGINT) AS planned_title_point,
        |  CAST(1 AS BIGINT) AS rows_title_point,
        |  CAST((SELECT nw FROM w WHERE i = 200) AS BIGINT)
        |    AS words_title_point,
        |  CAST(0 AS BIGINT) AS planned_fp_missing,
        |  CAST(0 AS BIGINT) AS rows_fp_missing""".stripMargin,
    // v0 enable + v1 create + v2 good update = 3 manifests (the two
    // rejected writes advance nothing); live rows = [0,30) with
    // n_words=50 for i<3, untouched otherwise.
    "q227_check_constraints" ->
      """WITH w AS (SELECT i, i % 91 + 9 AS nw FROM range(0, 30) t(i))
        |SELECT TRUE AS bad_insert_rejected, TRUE AS bad_update_rejected,
        |  CAST(3 AS BIGINT) AS n_versions,
        |  CAST(30 AS BIGINT) AS rows_live,
        |  CAST((SELECT SUM(CASE WHEN i < 3 THEN 50 ELSE nw END) FROM w)
        |    AS BIGINT) AS sum_words_live,
        |  CAST((SELECT SUM(i) FROM w) AS BIGINT) AS sum_ids_live""".stripMargin,
    // q228: live sets per version — v2 drops i%7=3, v3 additionally
    // i%7=5, v4 additionally evens below 10; v5 is the compaction
    // (same rows, masks materialized, 2 fresh files)
    "q228_mor_delete" ->
      """WITH w AS (SELECT i FROM range(0, 40) t(i)),
        |l2 AS (SELECT i FROM w WHERE i % 7 <> 3),
        |l3 AS (SELECT i FROM l2 WHERE i % 7 <> 5),
        |l4 AS (SELECT i FROM l3 WHERE NOT (i < 10 AND i % 2 = 0)),
        |v(version, op, n_rows, sum_ids, masked_rows, files_rewritten,
        |  bytes_immutable) AS (VALUES
        |  (0, 'enable', 0, 0, 0, 0, TRUE),
        |  (1, 'append', 40, (SELECT SUM(i) FROM w), 0, 0, TRUE),
        |  (2, 'delete', (SELECT COUNT(*) FROM l2), (SELECT SUM(i) FROM l2),
        |    6, 0, TRUE),
        |  (3, 'delete', (SELECT COUNT(*) FROM l3), (SELECT SUM(i) FROM l3),
        |    11, 0, TRUE),
        |  (4, 'delete', (SELECT COUNT(*) FROM l4), (SELECT SUM(i) FROM l4),
        |    16, 0, TRUE),
        |  (5, 'compact', (SELECT COUNT(*) FROM l4), (SELECT SUM(i) FROM l4),
        |    0, 2, TRUE))
        |SELECT CAST(version AS BIGINT) AS version, op,
        |  CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(sum_ids AS BIGINT) AS sum_ids,
        |  CAST(masked_rows AS BIGINT) AS masked_rows,
        |  CAST(files_rewritten AS BIGINT) AS files_rewritten,
        |  bytes_immutable
        |FROM v ORDER BY version""".stripMargin,
    // q229: v2 = metadata delete of the [30,40) file (3 files remain,
    // none rewritten); v3 = COW delete of [25,30) rewriting exactly the
    // [20,30) file; 5 part files on disk throughout (4 originals kept
    // for time travel + 1 replacement)
    "q229_metadata_delete" ->
      """WITH w AS (SELECT i FROM range(0, 40) t(i)),
        |v(version, op, n_rows, sum_ids, manifest_files, files_rewritten)
        |  AS (VALUES
        |  (0, 'enable', 0, 0, 0, 0),
        |  (1, 'append', 40, (SELECT SUM(i) FROM w), 4, 0),
        |  (2, 'delete-metadata', 30, (SELECT SUM(i) FROM w WHERE i < 30),
        |    3, 0),
        |  (3, 'delete', 25, (SELECT SUM(i) FROM w WHERE i < 25), 3, 1))
        |SELECT CAST(version AS BIGINT) AS version, op,
        |  CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(sum_ids AS BIGINT) AS sum_ids,
        |  CAST(manifest_files AS BIGINT) AS manifest_files,
        |  CAST(files_rewritten AS BIGINT) AS files_rewritten,
        |  CAST(5 AS BIGINT) AS disk_files
        |FROM v ORDER BY version""".stripMargin,
    // q230: reported statistics are exact manifest numbers (500 rows;
    // 429 after the %7=3 mask), and the join aggregates over the live
    // ids with the generative n_words = i % 91 + 9
    "q230_stats_cbo" ->
      """WITH live AS (SELECT i, i % 91 + 9 AS nw FROM range(0, 500) t(i)
        |  WHERE i % 7 <> 3)
        |SELECT CAST(500 AS BIGINT) AS stats_rows_before,
        |  CAST((SELECT COUNT(*) FROM live) AS BIGINT) AS stats_rows_after,
        |  CAST((SELECT COUNT(*) FROM live) AS BIGINT) AS n_joined,
        |  CAST((SELECT SUM(nw) FROM live) AS BIGINT) AS sum_words_joined""".stripMargin,
    // q231: 30 seed rows (n_words = i+9, all positive); the %5=2 MOR
    // delete masks 6 of them and fully deletes the late 777 row's
    // single-row file (dropped from the manifest, hence not in
    // masked_rows)
    "q231_alter_properties" ->
      """WITH w AS (SELECT i, i % 91 + 9 AS nw FROM range(0, 30) t(i)),
        |kept AS (SELECT i, nw FROM w WHERE i % 5 <> 2)
        |SELECT TRUE AS alter_ok, TRUE AS alter_rejected,
        |  TRUE AS bad_insert_rejected, TRUE AS versions_unmoved,
        |  'delete' AS final_op,
        |  CAST(6 AS BIGINT) AS masked_rows,
        |  CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS rows_live,
        |  CAST((SELECT SUM(i) FROM kept) AS BIGINT) AS sum_ids_live,
        |  CAST((SELECT SUM(nw) FROM kept) AS BIGINT) AS sum_words_live""".stripMargin,
    // q232: v2 zeroes n_words for i%7=3 (6 masks, one replacement file
    // per scanned original = 4); v3 bumps doc_id 3 to n_words=1 — its
    // live row sits in a 1-row replacement file, which becomes 100%
    // masked and DROPS (masks stay 6, adds stay 4 net); v4 = compaction
    // into 2 clean files
    "q232_mor_update" ->
      """WITH w AS (SELECT i, i % 91 + 9 AS nw FROM range(0, 40) t(i)),
        |s1 AS (SELECT SUM(nw) AS v FROM w),
        |s2 AS (SELECT SUM(CASE WHEN i % 7 = 3 THEN 0 ELSE nw END) AS v FROM w),
        |v(version, op, n_rows, sum_words, masked_rows, files_added,
        |  bytes_immutable) AS (VALUES
        |  (0, 'enable', 0, 0, 0, 0, TRUE),
        |  (1, 'append', 40, (SELECT v FROM s1), 0, 0, TRUE),
        |  (2, 'update', 40, (SELECT v FROM s2), 6, 4, TRUE),
        |  (3, 'update', 40, (SELECT v FROM s2) + 1, 6, 4, TRUE),
        |  (4, 'compact', 40, (SELECT v FROM s2) + 1, 0, 2, TRUE))
        |SELECT CAST(version AS BIGINT) AS version, op,
        |  CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(sum_words AS BIGINT) AS sum_words,
        |  CAST(masked_rows AS BIGINT) AS masked_rows,
        |  CAST(files_added AS BIGINT) AS files_added,
        |  bytes_immutable
        |FROM v ORDER BY version""".stripMargin,
    // q233: the join's surviving ids are [0,300) minus the %11=4 MOR
    // deletes on side a; n_words and fp are the generative closed forms
    "q233_bucketed_spj" ->
      """WITH live AS (SELECT i, i % 91 + 9 AS nw,
        |    CAST(('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS fp
        |  FROM range(0, 300) t(i) WHERE i % 11 <> 4)
        |SELECT TRUE AS all_bucketed,
        |  CAST(8 AS BIGINT) AS buckets_a, CAST(8 AS BIGINT) AS buckets_b,
        |  CAST((SELECT COUNT(*) FROM live) AS BIGINT) AS n_joined,
        |  CAST((SELECT SUM(nw) FROM live) AS BIGINT) AS sum_words_joined,
        |  CAST((SELECT SUM(fp % 1000) FROM live) AS BIGINT) AS sum_fp_mod""".stripMargin,
    // q234: matched [15,30) — evens updated to n_words=0 (7), odds
    // deleted (8); [30,40) inserted (10). The [10,19] file keeps 5
    // residual masks; the fully-matched [20,29] file drops outright.
    "q234_mor_merge" ->
      """WITH w AS (SELECT i, i % 91 + 9 AS nw FROM range(0, 40) t(i)),
        |v(version, op, n_rows, sum_words, masked_rows, bytes_immutable)
        |  AS (VALUES
        |  (0, 'enable', 0, 0, 0, TRUE),
        |  (1, 'append', 30, (SELECT SUM(nw) FROM w WHERE i < 30), 0, TRUE),
        |  (2, 'merge',
        |    (SELECT COUNT(*) FROM w
        |      WHERE i < 15 OR (i >= 15 AND i < 30 AND i % 2 = 0) OR i >= 30),
        |    (SELECT SUM(CASE WHEN i >= 15 AND i < 30 THEN 0 ELSE nw END)
        |      FROM w WHERE i < 15 OR (i >= 15 AND i < 30 AND i % 2 = 0)
        |        OR i >= 30),
        |    5, TRUE))
        |SELECT CAST(version AS BIGINT) AS version, op,
        |  CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(sum_words AS BIGINT) AS sum_words,
        |  CAST(masked_rows AS BIGINT) AS masked_rows,
        |  bytes_immutable
        |FROM v ORDER BY version""".stripMargin,
    // q235: residue class b of range(40) holds ids b, b+4, ..., b+36
    // (10 rows, envelope [b, 36+b]); the %5=2 delete masks exactly 2
    // ids per class
    "q235_files_table" ->
      """WITH b(bucket) AS (VALUES (0), (1), (2), (3))
        |SELECT CAST(bucket AS INT) AS bucket,
        |  CAST(10 AS BIGINT) AS rows_physical,
        |  CAST(2 AS BIGINT) AS masked_rows,
        |  CAST(bucket AS BIGINT) AS min_id,
        |  CAST(bucket + 36 AS BIGINT) AS max_id,
        |  CAST(8 AS BIGINT) AS rows_live
        |FROM b ORDER BY bucket""".stripMargin,
    // q236: v2 metadata-delete leaves 3 of 4 files; optimize 3→2 (v3);
    // restore to v1 (v4, the 4 ORIGINAL files — zero copy, so vacuum
    // keep_last=2 expires v0-v2 but deletes no file: v4 still
    // references v1's data); live = the full 40 rows
    "q236_procedures" ->
      """SELECT CAST(3 AS BIGINT) AS opt_files_before,
        |  CAST(2 AS BIGINT) AS opt_files_after,
        |  CAST(1 AS BIGINT) AS restored_version,
        |  CAST(4 AS BIGINT) AS restore_new_version,
        |  CAST(4 AS BIGINT) AS restore_n_files,
        |  CAST(3 AS BIGINT) AS vacuum_expired,
        |  CAST(0 AS BIGINT) AS vacuum_deleted,
        |  CAST(3 AS BIGINT) AS oldest_retained,
        |  CAST(40 AS BIGINT) AS rows_live,
        |  CAST((SELECT SUM(i) FROM range(0, 40) t(i)) AS BIGINT)
        |    AS sum_ids_live""".stripMargin,
    // q237: n_words = i % 91 + 9 = i + 9 for i < 40, so max_words = 48;
    // the %7=3 delete masks 6 of 40 rows
    "q237_manifest_agg" ->
      """SELECT TRUE AS count_pushed, CAST(40 AS BIGINT) AS n_before,
        |  TRUE AS minmax_pushed, CAST(0 AS BIGINT) AS min_id,
        |  CAST(48 AS BIGINT) AS max_words, FALSE AS where_pushed,
        |  TRUE AS count_pushed_after, CAST(34 AS BIGINT) AS n_after,
        |  FALSE AS minmax_pushed_after,
        |  CAST(0 AS BIGINT) AS min_id_after,
        |  CAST(40 AS BIGINT) AS n_asof_v1""".stripMargin,
  )
}
