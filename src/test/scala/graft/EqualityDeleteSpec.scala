package graft

import java.nio.file.Files

import graft.sources.GraftVersions
import graft.ops.Scratch

/** Round-14: equality deletes (`delete.mode=equality`) — Iceberg v2's
  * second delete format as the FOURTH delete tier. Key-equality
  * predicates commit doc_id VALUES into the manifest with zero data
  * IO; readers drop matching rows as files stream; values bind only to
  * entries live at the delete (re-inserts are untouched); compaction
  * either materializes the values away (rewrite path) or carries them
  * without ever mixing distinct value sets (concat path); the change
  * feed emits row-exact delete images for the newly attached values;
  * and manifest aggregate pushdown declines the moment a value mask
  * makes live counts unknowable.
  */
class EqualityDeleteSpec extends SparkSpec {

  private def docsRange(rows: Int) =
    spark.read.format("graft.sources.GraftDocsSource")
      .option("rows", rows.toString).load()

  test("equality delete: zero data IO, values route by stats, " +
      "re-insert of a deleted key is alive, time travel intact") {
    Scratch.withCatalog(spark, "eq_basic") { (cat, wh) =>
      docsRange(20).repartitionByRange(2,
          org.apache.spark.sql.functions.col("doc_id"))
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("delete.mode", "equality").create()
      val tdir = wh.resolve("t")
      val before = GraftVersions.latest(tdir).get.files.map(n =>
        n -> Files.readAllBytes(tdir.resolve(n)).toSeq).toMap
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id IN (2, 15)")
      val v2 = GraftVersions.latest(tdir).get
      assert(v2.op == "delete-equality")
      // same files, same bytes — the commit wrote only the manifest
      assert(v2.files.toSet == before.keySet)
      assert(before.forall { case (n, b) =>
        Files.readAllBytes(tdir.resolve(n)).toSeq == b })
      // stats routed one value to each range file
      assert(v2.entries.flatMap(_.eq).map(_.cardinality) == Seq(1, 1))
      assert(spark.table(s"$cat.t").count() == 18L)
      // re-insert: a fresh entry the old value mask cannot touch
      spark.sql(s"INSERT INTO $cat.t VALUES (2, 'back', 1, 5)")
      val ids = spark.table(s"$cat.t")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids.contains(2L) && !ids.contains(15L))
      // time travel below the delete shows the full snapshot
      assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1").count()
        == 20L)
      // files metadata table surfaces the value masks
      assert(spark.sql(
        s"SELECT SUM(eq_deletes) FROM $cat.t.files").head().getLong(0)
        == 2L)
    }
  }

  test("tier routing: provable whole-file scope still wins (metadata " +
      "delete); non-equality predicates fall back to copy-on-write") {
    Scratch.withCatalog(spark, "eq_tiers") { (cat, wh) =>
      docsRange(20).repartitionByRange(2,
          org.apache.spark.sql.functions.col("doc_id"))
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("delete.mode", "equality").create()
      val tdir = wh.resolve("t")
      // the [10,20) file is provably all-match: metadata tier, no mask
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id >= 10")
      assert(GraftVersions.latest(tdir).get.op == "delete-metadata")
      assert(GraftVersions.latest(tdir).get.entries.forall(_.eq.isEmpty))
      // a partial RANGE predicate is not equality-shaped: COW rewrite
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id < 3")
      val v = GraftVersions.latest(tdir).get
      assert(v.op == "delete", v.op)
      assert(spark.table(s"$cat.t").count() == 7L)
    }
  }

  test("change feed: an equality-delete commit emits row-exact delete " +
      "images (only rows live before the commit, only matching values)") {
    Scratch.withCatalog(spark, "eq_cdf") { (cat, wh) =>
      docsRange(10).coalesce(1)
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("delete.mode", "equality").create()
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id IN (1, 4)") // v2
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id IN (4, 7)") // v3: 4 again
      val changes = spark.read.format("graft.sources.GraftDocsSource")
        .option("path", wh.resolve("t").toString)
        .option("readChangeFeed", "true").option("startingVersion", "2")
        .load()
        .select("doc_id", "_change_type", "_commit_version")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
      // v3 re-lists 4, but 4 was already value-masked at v2: its image
      // must NOT repeat (base eq skip) — exactly one delete per row
      assert(changes == Set(
        (1L, "delete", 2L), (4L, "delete", 2L), (7L, "delete", 3L)),
        changes.toString)
    }
  }

  test("manifest aggregate pushdown declines under a value mask; the " +
      "ordinary path still counts correctly") {
    Scratch.withCatalog(spark, "eq_agg") { (cat, wh) =>
      docsRange(10).coalesce(1)
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("delete.mode", "equality").create()
      def plan(): String = {
        val df = spark.sql(s"SELECT COUNT(*) AS c FROM $cat.t")
        val s = df.queryExecution.executedPlan.toString
        assert(df.head().getLong(0) ==
          spark.table(s"$cat.t").collect().length.toLong)
        s
      }
      assert(plan().contains("manifest-agg"),
        "pre-delete COUNT must fold from the manifest")
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id = 3")
      val p = plan()
      assert(!p.contains("manifest-agg"),
        "a value mask makes COUNT unknowable from the manifest")
      assert(spark.table(s"$cat.t").count() == 9L)
    }
  }

  test("OPTIMIZE: the rewrite path materializes value masks away; the " +
      "row-tracked concat path carries them without mixing value sets") {
    Scratch.withCatalog(spark, "eq_opt") { (cat, wh) =>
      // untracked: compaction rewrites through the scan → clean files
      docsRange(10).repartitionByRange(2,
          org.apache.spark.sql.functions.col("doc_id"))
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("delete.mode", "equality").create()
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id IN (2, 7)")
      GraftVersions.compact(spark, wh.resolve("t"), 1)
      val t = GraftVersions.latest(wh.resolve("t")).get
      assert(t.entries.forall(_.eq.isEmpty),
        "rewrite compaction must materialize equality deletes away")
      assert(spark.table(s"$cat.t").count() == 8L)
      // tracked: concat path — eq sets ride along, bins never mix them
      docsRange(12).repartitionByRange(3,
          org.apache.spark.sql.functions.col("doc_id"))
        .writeTo(s"$cat.r").tableProperty("versioned", "true")
        .tableProperty("delete.mode", "equality")
        .tableProperty("row.tracking", "true").create()
      spark.sql(s"DELETE FROM $cat.r WHERE doc_id = 5")
      GraftVersions.compact(spark, wh.resolve("r"), 1)
      val r = GraftVersions.latest(wh.resolve("r")).get
      // the value-masked [4,8) file cannot concat with clean neighbors
      assert(r.entries.count(_.eq.isDefined) == 1, r.entries.toString)
      assert(spark.table(s"$cat.r").count() == 11L)
      // row ids survived: the masked file's surviving rows keep ids
      val ids = spark.sql(
        s"SELECT doc_id, _row_id FROM $cat.r ORDER BY doc_id").collect()
      assert(ids.length == 11 && ids.forall(!_.isNullAt(1)))
    }
  }
}
