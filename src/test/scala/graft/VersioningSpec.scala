package graft

import java.nio.file.{Files, Paths}

import graft.sources.{GraftDocsSource, GraftVersions}
import graft.ops.Scratch
import org.apache.spark.sql.streaming.StreamingQueryException

/** Snapshot versioning + time travel on the DSv2 warehouse tables
  * (round 13): every commit — append, overwrite, TRUNCATE, and the
  * copy-on-write MERGE/UPDATE/DELETE rewrites — lands a manifest in the
  * table's `_versions` log; `VERSION AS OF` / `TIMESTAMP AS OF` read any
  * retained snapshot bit-exactly; vacuum expires old snapshots and
  * reclaims exactly the files no retained snapshot references.
  */
class VersioningSpec extends SparkSpec {

  private def docsRange(rows: Int) =
    spark.read.format("graft.sources.GraftDocsSource")
      .option("rows", rows.toString).load()

  test("every commit snapshots; VERSION/TIMESTAMP AS OF read history exactly") {
    Scratch.withCatalog(spark, "ver_tt") { (cat, wh) =>
      docsRange(30).writeTo(s"$cat.t")
        .tableProperty("versioned", "true").create()
      spark.sql(s"UPDATE $cat.t SET n_words = 0 WHERE doc_id < 5")
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id >= 20")
      spark.sql(s"INSERT INTO $cat.t SELECT 100L, 'late', 7L, 3")

      val dir = wh.resolve("t")
      val log = GraftVersions.listVersions(dir)
      assert(log.map(_.op) == Seq("enable", "append", "update", "delete",
        "append"))
      assert(log.map(_.version) == Seq(0L, 1L, 2L, 3L, 4L))
      assert(log.map(_.tsMicros) == log.map(_.tsMicros).sorted &&
        log.map(_.tsMicros).distinct.length == log.length,
        "commit timestamps must be strictly increasing")

      def rows(sql: String): Seq[(Long, Int)] =
        spark.sql(sql).collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      // v0 = empty table at CREATE; v1 = the CTAS seed, original values
      assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 0").count() == 0)
      val v1 = rows(s"SELECT doc_id, n_words FROM $cat.t VERSION AS OF 1 ORDER BY doc_id")
      assert(v1 == (0L until 30L).map(i => (i, GraftDocsSource.nWords(i))))
      // v2: first five zeroed, nothing deleted yet
      val v2 = rows(s"SELECT doc_id, n_words FROM $cat.t VERSION AS OF 2 ORDER BY doc_id")
      assert(v2 == (0L until 30L).map(i =>
        (i, if (i < 5) 0 else GraftDocsSource.nWords(i))))
      // v3: rows >= 20 gone; v4 (= live table): the late insert appended
      assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 3").count() == 20)
      val live = rows(s"SELECT doc_id, n_words FROM $cat.t ORDER BY doc_id")
      assert(live == rows(s"SELECT doc_id, n_words FROM $cat.t VERSION AS OF 4 ORDER BY doc_id"))
      assert(live.last == (100L, 3) && live.length == 21)

      // TIMESTAMP AS OF floors to the newest snapshot at-or-before ts:
      // exactly v2's commit ts → v2; midway to v3 → still v2
      val ts2 = log(2).tsMicros
      val tsMid = (ts2 + log(3).tsMicros) / 2
      for (ts <- Seq(ts2, tsMid)) {
        val got = rows(s"SELECT doc_id, n_words FROM $cat.t " +
          s"TIMESTAMP AS OF timestamp_micros(${ts}L) ORDER BY doc_id")
        assert(got == v2, s"ts=$ts should resolve to v2")
      }
      // before the first snapshot: a clear error, not an empty read
      val early = intercept[Exception] {
        spark.sql(s"SELECT * FROM $cat.t TIMESTAMP AS OF " +
          s"timestamp_micros(${log.head.tsMicros - 1}L)").collect()
      }
      assert(early.getMessage.contains("predates"))

      // bad version: error names the available range
      val bad = intercept[Exception] {
        spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 99").collect()
      }
      assert(bad.getMessage.contains("available") &&
        bad.getMessage.contains("[0, 4]"))

      // a pinned load is a read-only snapshot view
      import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog, TableCapability}
      val catImpl = spark.sessionState.catalogManager.catalog(cat)
        .asInstanceOf[TableCatalog]
      val pinned = catImpl.loadTable(Identifier.of(Array.empty, "t"), "1")
      assert(pinned.capabilities() ==
        java.util.EnumSet.of(TableCapability.BATCH_READ))
    }
  }

  test("vacuum keeps the last N snapshots and reclaims exactly the rest") {
    Scratch.withCatalog(spark, "ver_vac") { (cat, wh) =>
      docsRange(20).writeTo(s"$cat.t")
        .tableProperty("versioned", "true").create()
      spark.sql(s"UPDATE $cat.t SET n_words = 1 WHERE doc_id = 3")
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id >= 15")     // v3
      spark.sql(s"UPDATE $cat.t SET n_words = 2 WHERE doc_id = 7") // v4
      val dir = wh.resolve("t")
      val preVacuumV3 = spark.sql(
        s"SELECT doc_id, n_words FROM $cat.t VERSION AS OF 3 ORDER BY doc_id")
        .collect().toSeq

      val stats = GraftVersions.vacuum(dir, keepLast = 2)
      assert(stats.expiredVersions == Seq(0L, 1L, 2L))
      assert(GraftVersions.listVersionNumbers(dir) == Seq(3L, 4L))

      // on disk: exactly the union of the retained manifests' files
      val referenced = GraftVersions.listVersions(dir).flatMap(_.files).toSet
      val onDisk = dir.toFile.listFiles()
        .map(_.getName).filter(_.matches(graft.sources.GraftFiles.partFileRegex))
        .toSet
      assert(onDisk == referenced)
      assert(stats.deletedFiles.nonEmpty &&
        stats.deletedFiles.forall(f => !onDisk.contains(f)))

      // retained snapshots read exactly as before the vacuum
      assert(spark.sql(
        s"SELECT doc_id, n_words FROM $cat.t VERSION AS OF 3 ORDER BY doc_id")
        .collect().toSeq == preVacuumV3)
      assert(spark.table(s"$cat.t").count() == 15)
      // expired snapshots fail loudly, naming what was vacuumed
      val gone = intercept[Exception] {
        spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1").collect()
      }
      assert(gone.getMessage.contains("available"))
    }
  }

  test("TRUNCATE on a versioned table is an empty snapshot, not a delete") {
    Scratch.withCatalog(spark, "ver_tr") { (cat, wh) =>
      docsRange(10).writeTo(s"$cat.t")
        .tableProperty("versioned", "true").create()
      spark.sql(s"TRUNCATE TABLE $cat.t")
      assert(spark.table(s"$cat.t").count() == 0)
      // pre-truncate snapshot still fully readable
      assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1").count() == 10)
      val dir = wh.resolve("t")
      assert(GraftVersions.latest(dir).exists(v =>
        v.op == "truncate" && v.files.isEmpty))
    }
  }

  test("concurrent disjoint-scope commits serialize into consecutive snapshots") {
    Scratch.withCatalog(spark, "ver_cc") { (cat, wh) =>
      docsRange(40).writeTo(s"$cat.t")
        .tableProperty("versioned", "true").create()
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val updates = Seq(
        s"UPDATE $cat.t SET n_words = 11 WHERE doc_id < 10",
        s"UPDATE $cat.t SET n_words = 22 WHERE doc_id >= 30")
      Await.result(
        Future.sequence(updates.map(u => Future(spark.sql(u)))), 120.seconds)
      val dir = wh.resolve("t")
      // both rewrites committed (order unknown): versions 2 and 3 exist
      assert(GraftVersions.listVersionNumbers(dir) == Seq(0L, 1L, 2L, 3L))
      val live = spark.table(s"$cat.t").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getInt(3))).toSeq
      assert(live == (0L until 40L).map(i =>
        (i, if (i < 10) 11 else if (i >= 30) 22
            else GraftDocsSource.nWords(i))))
    }
  }

  test("version feed streams one commit per batch and resumes from checkpoint") {
    Scratch.withCatalog(spark, "ver_sf") { (cat, wh) =>
      val base = Scratch.dir(wh, "base")
      docsRange(10).writeTo(s"$cat.t")
        .tableProperty("versioned", "true").create()        // v0 + v1
      spark.sql(s"INSERT INTO $cat.t SELECT doc_id, title, fp, n_words " +
        "FROM VALUES (100L, 'a', 1L, 2), (101L, 'b', 2L, 3) " +
        "AS s(doc_id, title, fp, n_words)")                 // v2

      def drain(): Unit = {
        val q = spark.readStream.table(s"$cat.t")
          .writeStream.format("parquet")
          .option("path", s"$base/data")
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        Scratch.drain(q, "ver_sf")
        assert(!q.isActive)
      }
      drain()
      val ids1 = spark.read.parquet(s"$base/data")
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids1 == ((0L until 10L) ++ Seq(100L, 101L)))

      // new commit, second drain from the same checkpoint: ONLY the new
      // rows land (offset axis = version number, resumed at v2)
      spark.sql(s"INSERT INTO $cat.t SELECT 200L, 'c', 3L, 4") // v3
      drain()
      val ids2 = spark.read.parquet(s"$base/data")
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids2 == ((0L until 10L) ++ Seq(100L, 101L, 200L)))
    }
  }

  test("version feed rejects rewrite commits unless ignoreChanges is set") {
    Scratch.withCatalog(spark, "ver_rw") { (cat, wh) =>
      val base = Scratch.dir(wh, "base")
      docsRange(10).writeTo(s"$cat.t")
        .tableProperty("versioned", "true").create()
      spark.sql(s"UPDATE $cat.t SET n_words = 0 WHERE doc_id = 3") // rewrite
      def drain(ignoreChanges: Boolean, tag: String): Unit = {
        val r = spark.readStream
        val reader = if (ignoreChanges) r.option("ignoreChanges", "true") else r
        val q = reader.table(s"$cat.t")
          .writeStream.format("parquet")
          .option("path", s"$base/$tag/data")
          .option("checkpointLocation", s"$base/$tag/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        Scratch.drain(q, "ver_rw")
      }
      val err = intercept[Exception] { drain(ignoreChanges = false, "strict") }
      def causes(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => e.getMessage +: causes(e.getCause))
      assert(causes(err).exists(m => m != null && m.contains("ignoreChanges")))
      // with ignoreChanges: the rewritten file's rows re-emit (Delta's
      // documented semantics) — full drain = v1's 10 rows + the
      // rewritten file's contents (at least the changed row, possibly
      // carried-over neighbors); dedupe by key downstream
      drain(ignoreChanges = true, "loose")
      val rows = spark.read.parquet(s"$base/loose/data")
        .select("doc_id", "n_words").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(rows.count(_._1 == 3L) == 2, "doc 3 appears pre- and post-rewrite")
      assert(rows.contains((3L, 0)))
      assert(rows.map(_._1).distinct.sorted == (0L until 10L))
    }
  }

  test("version feed: vacuum fails stale checkpoints, fresh streams snapshot") {
    Scratch.withCatalog(spark, "ver_vf") { (cat, wh) =>
      val base = Scratch.dir(wh, "base")
      docsRange(6).writeTo(s"$cat.t")
        .tableProperty("versioned", "true").create()        // v0, v1
      def drain(tag: String): Unit = {
        val q = spark.readStream.table(s"$cat.t")
          .writeStream.format("parquet")
          .option("path", s"$base/$tag/data")
          .option("checkpointLocation", s"$base/$tag/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        Scratch.drain(q, "ver_vf")
      }
      drain("early") // consumed through v1
      spark.sql(s"INSERT INTO $cat.t SELECT 50L, 'x', 9L, 1") // v2
      spark.sql(s"INSERT INTO $cat.t SELECT 51L, 'y', 8L, 2") // v3
      GraftVersions.vacuum(wh.resolve("t"), keepLast = 2)     // keeps v2,v3
      // the early stream's checkpoint (v1) predates retained history
      val stale = intercept[Exception] { drain("early") }
      def causes(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => e.getMessage +: causes(e.getCause))
      assert(causes(stale).exists(m => m != null && m.contains("vacuum")))
      // a FRESH stream takes the oldest retained snapshot as its initial
      // batch, then follows diffs: v2's full state + v3's addition
      drain("fresh")
      val ids = spark.read.parquet(s"$base/fresh/data")
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == ((0L until 6L) ++ Seq(50L, 51L)))
    }
  }

  test("compaction is a dataChange=false commit: fewer files, same rows, feed silent") {
    Scratch.withCatalog(spark, "ver_cp") { (cat, wh) =>
      val base = Scratch.dir(wh, "base")
      docsRange(12).writeTo(s"$cat.t")
        .tableProperty("versioned", "true").create()        // v0, v1
      spark.sql(s"INSERT INTO $cat.t SELECT 50L, 'x', 9L, 7") // v2
      val dir = wh.resolve("t")
      def drain(): Unit = {
        val q = spark.readStream.table(s"$cat.t")
          .writeStream.format("parquet")
          .option("path", s"$base/data")
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        Scratch.drain(q, "ver_cp")
      }
      drain() // consume v0..v2
      val filesBefore = GraftVersions.latest(dir).get.files.length
      val liveBefore = spark.table(s"$cat.t").orderBy("doc_id").collect().toSeq

      val info = GraftVersions.compact(spark, dir, targetFiles = 1) // v3
      assert(info.op == "compact" && !info.dataChange)
      assert(info.files.length == 1 && filesBefore > 1)
      // same rows, live and time-traveled; pre-compact snapshots intact
      assert(spark.table(s"$cat.t").orderBy("doc_id").collect().toSeq
        == liveBefore)
      assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 2").count() == 13)
      // the feed emits NOTHING for the compaction commit...
      drain()
      assert(spark.read.parquet(s"$base/data").count() == 13)
      // ...but keeps tailing data commits committed after it
      spark.sql(s"INSERT INTO $cat.t SELECT 51L, 'y', 8L, 3") // v4
      drain()
      assert(spark.read.parquet(s"$base/data").count() == 14)
      // vacuum after compaction reclaims the superseded small files
      GraftVersions.vacuum(dir, keepLast = 2) // keeps v3 (compact), v4
      assert(spark.table(s"$cat.t").count() == 14)
      assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 3").count() == 13)
    }
  }

  test("restore rewinds the live state via a new commit, preserving history") {
    Scratch.withCatalog(spark, "ver_rs") { (cat, wh) =>
      docsRange(10).writeTo(s"$cat.t")
        .tableProperty("versioned", "true").create()        // v0, v1
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id >= 5")    // v2
      spark.sql(s"UPDATE $cat.t SET n_words = 0 WHERE doc_id = 1") // v3
      val dir = wh.resolve("t")
      val v1Rows = spark.sql(
        s"SELECT * FROM $cat.t VERSION AS OF 1 ORDER BY doc_id")
        .collect().toSeq

      val info = GraftVersions.restore(dir, 1L)             // v4
      assert(info.op == "restore" && info.version == 4L && info.dataChange)
      // live == v1, bit-exact; the bad commits remain time-travelable
      assert(spark.table(s"$cat.t").orderBy("doc_id").collect().toSeq
        == v1Rows)
      assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 3").count() == 5)
      // the table stays writable after a restore
      spark.sql(s"INSERT INTO $cat.t SELECT 99L, 'z', 1L, 2") // v5
      assert(spark.table(s"$cat.t").count() == 11)
      // restoring a vacuumed version fails with the available range
      GraftVersions.vacuum(dir, keepLast = 2)
      val err = intercept[Exception] { GraftVersions.restore(dir, 1L) }
      assert(err.getMessage.contains("available"))
    }
  }

  test("the history metadata table exposes the commit log to SQL") {
    Scratch.withCatalog(spark, "ver_hi") { (cat, wh) =>
      docsRange(10).writeTo(s"$cat.t")
        .tableProperty("versioned", "true").create()
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id >= 8")
      val hist = spark.sql(
        s"SELECT version, op, data_change, n_files FROM $cat.t.history " +
          "ORDER BY version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSeq
      // doc_id >= 8 is provable from the range-clustered file stats, so
      // the wave-6 metadata fast path handles it (no scan, no rewrite)
      assert(hist.map(h => (h._1, h._2)) ==
        Seq((0L, "enable"), (1L, "append"), (2L, "delete-metadata")))
      assert(hist.forall(_._3))
      // ts_micros column agrees with the log and is strictly increasing
      val ts = spark.sql(s"SELECT ts_micros FROM $cat.t.history ORDER BY version")
        .collect().map(_.getLong(0)).toSeq
      assert(ts == GraftVersions.listVersions(wh.resolve("t")).map(_.tsMicros))
      assert(ts == ts.sorted && ts.distinct.length == ts.length)
      // no history face for unversioned tables or bogus names
      docsRange(3).writeTo(s"$cat.plain").create()
      intercept[Exception] {
        spark.sql(s"SELECT * FROM $cat.plain.history").collect() }
      intercept[Exception] {
        spark.sql(s"SELECT * FROM $cat.t.nonsense").collect() }
    }
  }

  test("manifest min/max stats skip files disjoint from a pushed doc_id range") {
    Scratch.withCatalog(spark, "ver_fs") { (cat, wh) =>
      // three clamped appends of 2 files each: ranges [0,5) [5,10) |
      // [10,15) [15,20) | [20,25) [25,30)
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "10").option("partitions", "2").load()
        .writeTo(s"$cat.t").tableProperty("versioned", "true").create()
      for (lo <- Seq(10, 20)) {
        spark.read.format("graft.sources.GraftDocsSource")
          .option("rows", (lo + 10).toString).option("partitions", "2").load()
          .filter(org.apache.spark.sql.functions.col("doc_id") >= lo)
          .createOrReplaceTempView("fs_ins")
        spark.sql(s"INSERT INTO $cat.t SELECT * FROM fs_ins")
        spark.catalog.dropTempView("fs_ins")
      }
      val dir = wh.resolve("t")
      val entries = GraftVersions.latest(dir).get.entries
      assert(entries.length == 6 &&
        entries.forall(_.stats.contains("doc_id")))

      def planned(pred: String): Int =
        spark.sql(s"SELECT * FROM $cat.t WHERE $pred").rdd.getNumPartitions
      assert(planned("doc_id BETWEEN 12 AND 17") == 2)
      assert(planned("doc_id = 7") == 1)
      assert(planned("doc_id >= 25") == 1)
      assert(planned("doc_id > 100") == 0)
      // correctness alongside pruning: residual row filters still apply
      assert(spark.sql(
        s"SELECT COUNT(*) FROM $cat.t WHERE doc_id BETWEEN 12 AND 17")
        .head().getLong(0) == 6)

      // range-clustered compaction: 2 files with DISJOINT sorted ranges,
      // so a selective query plans exactly one
      val info = GraftVersions.compact(spark, dir, targetFiles = 2,
        clusterBy = Seq("doc_id"))
      assert(info.entries.length == 2)
      val ranges = info.entries.flatMap(_.stats.get("doc_id")).sortBy(_._1)
      assert(ranges.head._2 < ranges.last._1, s"disjoint ranges: $ranges")
      assert(planned("doc_id BETWEEN 2 AND 7") == 1)
      assert(spark.table(s"$cat.t").count() == 30)
      // time travel ignores the pushed range's pruning only when stats
      // demand it: pre-compact snapshot still prunes on ITS files
      assert(spark.sql(
        s"SELECT COUNT(*) FROM $cat.t VERSION AS OF 3 WHERE doc_id < 5")
        .head().getLong(0) == 5)
    }
  }

  test("unversioned tables keep the original delete-on-rewrite behavior") {
    Scratch.withCatalog(spark, "ver_uv") { (cat, wh) =>
      docsRange(10).writeTo(s"$cat.t").create()
      val dir = wh.resolve("t")
      assert(!GraftVersions.isVersioned(dir))
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id >= 5")
      assert(!Files.isDirectory(dir.resolve("_versions")))
      assert(spark.table(s"$cat.t").count() == 5)
      val err = intercept[Exception] {
        spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 0").collect()
      }
      assert(err.getMessage.contains("not versioned"))
    }
  }

  test("commits record multi-column stats; old doc_id-only manifests still read") {
    Scratch.withCatalog(spark, "ver_mc") { (cat, wh) =>
      docsRange(20).writeTo(s"$cat.t").tableProperty("versioned", "true")
        .create()
      val dir = wh.resolve("t")
      val entries = GraftVersions.latest(dir).get.entries
      assert(entries.nonEmpty)
      entries.foreach { e =>
        assert(Set("doc_id", "fp", "n_words").subsetOf(e.stats.keySet),
          s"expected stats for all numeric columns, got ${e.stats.keySet}")
      }
      // pruning on a non-doc_id column: n_words lives in [9, 99] by
      // construction, so a disjoint range plans zero files
      assert(spark.sql(s"SELECT * FROM $cat.t WHERE n_words > 1000")
        .rdd.getNumPartitions == 0)

      // back-compat: the doc_id-only manifest line format of earlier
      // logs (name\tmin\tmax) must still parse as doc_id stats
      val vd = dir.resolve("_versions")
      val old = vd.resolve("v99999.manifest")
      Files.write(old,
        "ts=1\top=append\tdataChange=true\nold-file.tsv\t3\t7\n"
          .getBytes("UTF-8"))
      val parsed = GraftVersions.manifest(dir, 99999L)
      assert(parsed.entries == Seq(
        GraftVersions.FileEntry("old-file.tsv", Map("doc_id" -> (3L, 7L)))))
      Files.delete(old)
    }
  }

  test("Z-order compaction yields quadrant-pure files skippable on every axis") {
    Scratch.withCatalog(spark, "ver_zo") { (cat, wh) =>
      import org.apache.spark.sql.functions._
      docsRange(256).repartition(8, col("fp"))
        .writeTo(s"$cat.t").tableProperty("versioned", "true").create()
      val dir = wh.resolve("t")
      def planned(pred: String): Int =
        spark.sql(s"SELECT * FROM $cat.t WHERE $pred").rdd.getNumPartitions
      // hash-scattered layout: no axis can prune anything
      assert(planned("doc_id < 128") == 8 && planned("fp < 288230376151711744") == 8)
      val info = GraftVersions.compact(spark, dir, targetFiles = 4,
        clusterBy = Seq("doc_id", "fp"))
      assert(info.entries.length == 4 && !info.dataChange)
      // every file is one tight hyper-rectangle: id ranges split at 128,
      // fp ranges split near the data midpoint, and the four boxes are
      // the four quadrants (two id-low files, two id-high, each pair
      // split by fp) — identity bin partitioning, not sampled cuts
      val boxes = info.entries.map(e => (e.stats("doc_id"), e.stats("fp")))
      assert(boxes.count(_._1._2 < 128) == 2, s"id-low files: $boxes")
      assert(boxes.count(_._1._1 >= 128) == 2, s"id-high files: $boxes")
      // both axes now prune half the files
      assert(planned("doc_id < 128") == 2)
      assert(planned("fp < 288230376151711744") == 2)
      // and correctness is untouched by the layout change
      assert(spark.table(s"$cat.t").count() == 256)
      assert(spark.sql(
        s"SELECT COUNT(DISTINCT doc_id) FROM $cat.t").head.getLong(0) == 256)
    }
  }

  test("streaming sink: exactly-once epochs, replay skipped, restart-stable appId") {
    Scratch.withCatalog(spark, "ver_sw") { (cat, wh) =>
      val cp = Scratch.dir(wh, "cp")
      import org.apache.spark.sql.functions._
      docsRange(10).writeTo(s"$cat.src").tableProperty("versioned", "true")
        .create()
      docsRange(0).writeTo(s"$cat.dst").tableProperty("versioned", "true")
        .create()
      def drain(): Unit = {
        val q = spark.readStream.table(s"$cat.src")
          .writeStream.option("checkpointLocation", cp.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable(s"$cat.dst")
        Scratch.drain(q, "ver_sw")
      }
      drain() // src v0 (enable) + v1 (create) → epochs 0, 1
      assert(spark.table(s"$cat.dst").count() == 10)
      spark.sql(s"INSERT INTO $cat.dst SELECT 500L, 'batch', 1L, 2") // interleaved batch write
      spark.sql(s"INSERT INTO $cat.src SELECT 100L, 'late', 7L, 3")  // src v2
      drain() // same checkpoint: only v2; nothing re-emitted
      val dst = spark.table(s"$cat.dst")
      assert(dst.count() == 12)
      assert(dst.agg(countDistinct(col("doc_id"))).head.getLong(0) == 12)

      val dstDir = wh.resolve("dst")
      val txns = GraftVersions.listVersions(dstDir).flatMap(_.txn)
      assert(txns.map(_._2) == Seq(0L, 1L, 2L),
        s"one ledgered epoch per consumed commit: $txns")
      assert(txns.map(_._1).distinct.length == 1,
        "appId must be checkpoint-stable across restarts")

      // ledger-level replay: committing an already-recorded epoch is a no-op
      val replay = GraftVersions.commitTxn(dstDir, "streaming-append",
        removed = Some(Set.empty), added = Nil,
        appId = txns.head._1, epoch = 2L)
      assert(replay.isEmpty, "replayed epoch must be skipped")
      val fresh = GraftVersions.commitTxn(dstDir, "streaming-append",
        removed = Some(Set.empty), added = Nil,
        appId = txns.head._1, epoch = 3L)
      assert(fresh.isDefined, "a new epoch still commits")

      // unversioned sink targets fail loudly at stream start
      val plain = Scratch.dir(wh, "plain")
      val q = spark.readStream.table(s"$cat.src")
        .writeStream.format("graft.sources.GraftDocsSource")
        .option("path", plain.toString)
        .option("checkpointLocation", s"$cp-plain")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      val err = intercept[StreamingQueryException] { Scratch.drain(q, "ver_sw") }
      assert(err.getMessage.contains("versioned") ||
        q.exception.exists(_.getMessage.contains("versioned")))
      q.stop()
    }
  }

  test("bloom filters: exact-absence skipping, roundtrip, survival through compact") {
    import graft.sources.GraftBloom
    // filter math: everything added is found; absent keys miss at the
    // designed FPR (spot-checked well below 1% at this load factor)
    val b = GraftBloom.empty(32768)
    (0 until 500).foreach(i => b.add(GraftBloom.key("fp", i.toString)))
    assert((0 until 500).forall(i =>
      b.mightContain(GraftBloom.key("fp", i.toString))))
    val falsePos = (100000 until 110000).count(i =>
      b.mightContain(GraftBloom.key("fp", i.toString)))
    assert(falsePos < 100, s"FPR too high: $falsePos/10000")
    val rt = GraftBloom.fromBase64(b.toBase64)
    assert(rt.bits.toSeq == b.bits.toSeq, "base64 roundtrip")

    Scratch.withCatalog(spark, "ver_bl") { (cat, wh) =>
      docsRange(256)
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("bloom.columns", "fp,title").create()
      val dir = wh.resolve("t")
      assert(GraftVersions.latest(dir).get.entries.forall(_.bloom.isDefined))
      def planned(pred: String): Int =
        spark.sql(s"SELECT * FROM $cat.t WHERE $pred").rdd.getNumPartitions
      // never loses a row: every real fp found, exactly one row each
      Seq(3L, 100L, 255L).foreach { i =>
        val fp = GraftDocsSource.fp(i)
        assert(spark.sql(s"SELECT * FROM $cat.t WHERE fp = $fp").count() == 1)
        assert(planned(s"fp = $fp") <= 2, "bloom should prune most files")
      }
      assert(planned("fp = 12345") == 0, "absent value plans nothing")
      assert(planned("title = 'doc-77'") <= 2 &&
        spark.sql(s"SELECT * FROM $cat.t WHERE title = 'doc-77'").count() == 1)
      // n_words is NOT bloom-indexed: equality must not consult blooms
      // (min/max may still prune; 50 is inside every file's range here)
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t WHERE n_words = 50")
        .head.getLong(0) == (0L until 256L).count(GraftDocsSource.nWords(_) == 50))
      // compacted files keep blooms (table props mirror into the
      // rewrite's scratch dir), so point skipping survives OPTIMIZE
      GraftVersions.compact(spark, dir, targetFiles = 2)
      assert(GraftVersions.latest(dir).get.entries.forall(_.bloom.isDefined))
      assert(planned("fp = 12345") == 0)
      assert(spark.sql(
        s"SELECT * FROM $cat.t WHERE fp = ${GraftDocsSource.fp(100L)}")
        .count() == 1)
    }
  }

  test("CHECK constraints reject bad writes atomically, incl. streaming") {
    Scratch.withCatalog(spark, "ver_ck") { (cat, wh) =>
      val cp = Scratch.dir(wh, "cp")
      docsRange(10)
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("check.words", "n_words BETWEEN 9 AND 99").create()
      def liveSum: Long = spark.sql(
        s"SELECT COALESCE(SUM(n_words), 0) FROM $cat.t").head.getLong(0)
      val before = liveSum
      val versionsBefore = GraftVersions.listVersionNumbers(wh.resolve("t"))
      // batch INSERT with one bad row among good ones: ALL rejected
      val e1 = intercept[Exception] {
        spark.sql(s"INSERT INTO $cat.t " +
          "SELECT 300L, 'ok', 1L, 50 UNION ALL SELECT 301L, 'bad', 2L, 500")
      }
      assert(Iterator.iterate(e1: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("CHECK constraint"))))
      assert(liveSum == before && spark.table(s"$cat.t").count() == 10,
        "failed write must leave the table untouched")
      assert(GraftVersions.listVersionNumbers(wh.resolve("t")) == versionsBefore,
        "failed write must not advance the version log")

      // streaming writes share the writer, so the same gate applies:
      // a source commit with a violating row fails the stream and the
      // sink keeps only fully-valid epochs
      docsRange(5).writeTo(s"$cat.src")
        .tableProperty("versioned", "true").create()
      spark.sql(s"INSERT INTO $cat.src SELECT 400L, 'bad', 3L, 7") // 7 < 9
      val q = spark.readStream.table(s"$cat.src")
        .writeStream.option("checkpointLocation", cp.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"$cat.t")
      val e2 = intercept[StreamingQueryException] { Scratch.drain(q, "ver_ck") }
      assert(Iterator.iterate(e2: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("CHECK constraint"))))
      q.stop()
      // epochs before the bad commit landed; the bad epoch did not
      val live = spark.table(s"$cat.t").count()
      assert(live == 15, s"good epochs in, bad epoch out: $live")
    }
  }

  test("streaming sink Complete mode: each epoch replaces the live snapshot") {
    Scratch.withCatalog(spark, "ver_swc") { (cat, wh) =>
      val cp = Scratch.dir(wh, "cp")
      import org.apache.spark.sql.functions._
      docsRange(10).writeTo(s"$cat.src").tableProperty("versioned", "true")
        .create()
      docsRange(0).writeTo(s"$cat.dst").tableProperty("versioned", "true")
        .create()
      def drain(): Unit = {
        val q = spark.readStream.table(s"$cat.src")
          .groupBy().agg(
            max(col("doc_id")).as("doc_id"),
            lit("rollup").as("title"),
            count(lit(1)).as("fp"),
            sum(col("n_words")).cast("int").as("n_words"))
          .writeStream.outputMode("complete")
          .option("checkpointLocation", cp.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable(s"$cat.dst")
        Scratch.drain(q, "ver_swc")
      }
      drain()
      def state(): (Long, Long, Long, Int) = {
        val r = spark.table(s"$cat.dst").head()
        (spark.table(s"$cat.dst").count(), r.getLong(0), r.getLong(2),
          r.getInt(3))
      }
      val s1 = state()
      assert(s1 == ((1L, 9L, 10L,
        (0L until 10L).map(GraftDocsSource.nWords).sum)),
        s"complete-mode rollup after first drain: $s1")
      spark.sql(s"INSERT INTO $cat.src SELECT 100L, 'late', 7L, 3")
      drain()
      val s2 = state()
      assert(s2 == ((1L, 100L, 11L,
        (0L until 10L).map(GraftDocsSource.nWords).sum + 3)),
        s"complete-mode rollup must REPLACE, not append: $s2")
      // replaced snapshots stay time-travelable like any other commit
      val dstDir = wh.resolve("dst")
      val ops = GraftVersions.listVersions(dstDir).map(_.op)
      assert(ops.count(_ == "streaming-complete") >= 2, s"ops: $ops")
    }
  }
}
