package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.GraftVersions
import OpsUtil.Q

/** Round-14 operators: schema evolution on the versioned warehouse
  * (q238) and the further lakehouse capabilities of this round.
  *
  * Capability extension beyond the reference (the notebook at
  * /root/reference/Assignment-python.py reads fixed-schema immutable
  * files): a 100 TB curated corpus ADDS columns over its lifetime —
  * quality scores, language tags, licensing flags — and cannot afford
  * to rewrite history to do it. `ALTER TABLE ADD COLUMN` here is a
  * metadata-only commit: old files are never touched (a missing
  * trailing TSV cell IS the NULL backfill), new writes carry the
  * column, and time travel below the evolution commit presents the
  * pre-evolution shape, Delta/Iceberg-style.
  */
object Round14 {
  // ---------------------------------------------------------------------
  // q238: ADD COLUMN schema evolution, audited through time travel
  // ---------------------------------------------------------------------

  /** The full evolution lifecycle as one verified query:
    *
    *  v0 enable, v1 append [0,20) under the 4-column base schema,
    *  v2 `ALTER TABLE ADD COLUMN score BIGINT` (metadata-only,
    *  dataChange=false — no file written, nothing for the change feed),
    *  v3 append [20,30) WITH score = 3·doc_id, v4 COW UPDATE setting
    *  score=100 where doc_id<5 (the rewrite materializes `\N` cells for
    *  the carried-over rows of the touched files).
    *
    * One audit row per phase, each aggregated from an actual read:
    * `VERSION AS OF 1` must present the PRE-evolution 4-column shape
    * (n_cols proves it — the score column is invisible below its
    * `since` commit); `VERSION AS OF 2` the same rows NULL-backfilled;
    * `VERSION AS OF 3` the mixed old/new files; the live read the
    * post-update state. Scale shape: evolution cost is ONE manifest
    * line + one property write regardless of table size — the property
    * that makes ADD COLUMN on a 100 TB table instant — and every
    * phase read is a manifest-scoped scan + one map-side-combined
    * global aggregate. */
  val q238SchemaEvolution: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r14_q238") { (cat, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "20").load()
        .writeTo(s"$cat.t").tableProperty("versioned", "true").create()
      spark.sql(s"ALTER TABLE $cat.t ADD COLUMNS (score BIGINT)")
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "30").load()
        .filter(col("doc_id") >= 20)
        .withColumn("score", col("doc_id") * 3)
        .createOrReplaceTempView(s"${cat}_ins")
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM ${cat}_ins")
      spark.catalog.dropTempView(s"${cat}_ins")
      spark.sql(s"UPDATE $cat.t SET score = 100 WHERE doc_id < 5")

      def snap(phase: String, df: DataFrame): DataFrame = {
        val hasScore = df.columns.contains("score")
        df.agg(
          count(lit(1)).cast("long").as("n_rows"),
          coalesce(sum("n_words"), lit(0L)).cast("long").as("sum_words"),
          (if (hasScore)
             coalesce(sum(when(col("score").isNull, 1L).otherwise(0L)),
               lit(0L))
           else lit(-1L)).cast("long").as("score_nulls"),
          (if (hasScore) coalesce(sum("score"), lit(0L))
           else lit(-1L)).cast("long").as("sum_score"))
          .select(lit(phase).as("phase"),
            lit(df.columns.length.toLong).as("n_cols"),
            col("n_rows"), col("sum_words"), col("score_nulls"),
            col("sum_score"))
      }

      val audit =
        snap("a_pre_evolution",
          spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1"))
          .unionByName(snap("b_post_add",
            spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 2")))
          .unionByName(snap("c_post_insert",
            spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 3")))
          .unionByName(snap("d_live", spark.table(s"$cat.t")))
          .orderBy("phase")
      // sanity: the evolution commit is in the log with the right label
      val ops = GraftVersions.listVersions(wh.resolve("t")).map(_.op)
      require(ops == Seq("enable", "append", "add-column", "append",
        "update"), s"unexpected version log: $ops")
      OpsUtil.driverLiteral(audit)
    }

  // ---------------------------------------------------------------------
  // q239: a decision-tree FIT on the oracle bar — exact Gini, no RNG
  // ---------------------------------------------------------------------

  /** A depth-2 decision tree trained AND applied wholly in DataFrame
    * algebra (the q98-kmeans playbook applied to trees), putting a
    * model FIT on the DuckDB oracle bar and shrinking the q60
    * exemption to the RF library call alone (reference anchor
    * /root/reference/Assignment-python.py:940-944 — the notebook can
    * only call a fit; this IS one, reproducible to the hash).
    *
    * Task: the reference's binary peak-hour label over events, with
    * integer features (value bucket, the derived vk sensor, floored
    * JSON k). Split search is EXACT: per node, one groupBy per feature
    * over its (small-domain) values → cumulative (count, positives)
    * via a window PARTITIONED by feature → weighted Gini from integer
    * counts with ONE division per side (identical IEEE expression in
    * Spark and DuckDB, so the doubles match bitwise) → deterministic
    * argmin with (gini, feature, threshold) tiebreak. Depth 2 = three
    * split searches + one leaf aggregation; no randomness anywhere, so
    * train = apply corpus is the honest resubstitution evaluation.
    *
    * Scale shape: each split search is a map-side-combined groupBy
    * onto a candidate table the size of the feature DOMAINS (hundreds
    * of rows), then a driver argmin of ONE row — the same passes a
    * 100 TB fit would run; nothing shuffles wider than the domains. */
  val q239DecisionTree: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val feats = Seq("x1", "x2", "x3")
    val data = graft.Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("ts").isNotNull)
      .select(
        floor(col("value") / 10.0).cast("long").as("x1"),
        pmod(floor(col("value") * 7), lit(5)).cast("long").as("x2"),
        floor(coalesce(get_json_object(col("props"), "$.k").cast("double"),
          lit(0.0))).cast("long").as("x3"),
        when(hour(col("ts")).between(8, 18), 1L).otherwise(0L).as("y"))
      .cache()

    /** Exact best split of `node`: (feature, threshold, gini, n, pos);
      * None when no feature has two distinct values. */
    def bestSplit(node: DataFrame)
        : Option[(String, Long, Double, Long, Long)] = {
      val cands = feats.map { f =>
        node.groupBy(col(f).as("v"))
          .agg(count(lit(1)).as("n"), sum("y").as("p"))
          .select(lit(f).as("fname"), col("v"), col("n"), col("p"))
      }.reduce(_ unionByName _)
      val cum = Window.partitionBy("fname").orderBy("v")
      val all = Window.partitionBy("fname")
      val nl = col("nl"); val pl = col("pl")
      val nr = col("nt") - nl; val pr = col("pt") - pl
      val ql = nl - pl; val qr = nr - pr
      // weighted Gini: nl·g(L) + nr·g(R) = nl − (pl²+ql²)/nl + …; the
      // numerators stay exact int64, ONE double division per side —
      // the oracle writes the identical expression, so the doubles
      // (and their 1e-6 quantization) match bitwise
      val gini = (nl - (pl * pl + ql * ql).cast("double") /
          nl.cast("double")) +
        (nr - (pr * pr + qr * qr).cast("double") / nr.cast("double"))
      cands
        .withColumn("nl", sum("n").over(cum))
        .withColumn("pl", sum("p").over(cum))
        .withColumn("nt", sum("n").over(all))
        .withColumn("pt", sum("p").over(all))
        .filter(col("nl") < col("nt")) // last value: right side empty
        .select(col("fname"), col("v"), gini.as("gini"),
          col("nt"), col("pt"))
        .orderBy("gini", "fname", "v").limit(1)
        .collect().headOption
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getLong(3), r.getLong(4)))
    }

    val root = bestSplit(data).getOrElse(throw new IllegalStateException(
      "q239: the events corpus must admit a root split"))
    val rootCond = col(root._1) <= lit(root._2)
    val lSplit = bestSplit(data.filter(rootCond))
    val rSplit = bestSplit(data.filter(!rootCond))
    def cond(s: Option[(String, Long, Double, Long, Long)]) =
      s.map(t => col(t._1) <= lit(t._2)).getOrElse(lit(true))

    // apply: leaf id per row from the (up to) three split predicates
    val leaf = when(rootCond,
        when(cond(lSplit), "LL").otherwise("LR"))
      .otherwise(when(cond(rSplit), "RL").otherwise("RR"))
    val leaves = data.groupBy(leaf.as("node"))
      .agg(count(lit(1)).as("n_rows"), sum("y").as("n_pos"))
      .select(col("node"), lit("leaf").as("feature"),
        lit(-1L).as("threshold"), col("n_rows"), col("n_pos"),
        when(lit(2) * col("n_pos") >= col("n_rows"), 1L).otherwise(0L)
          .as("pred"),
        when(lit(2) * col("n_pos") >= col("n_rows"), col("n_pos"))
          .otherwise(col("n_rows") - col("n_pos")).as("correct"),
        lit(-1L).as("gini_q"))

    import spark.implicits._
    val splits = Seq(
      Some(("root", root)), lSplit.map(("L", _)), rSplit.map(("R", _))
    ).flatten.map { case (node, (f, t, g, n, p)) =>
      (node, f, t, n, p, -1L, -1L, math.floor(g * 1e6).toLong)
    }.toDF("node", "feature", "threshold", "n_rows", "n_pos", "pred",
      "correct", "gini_q")
    data.unpersist()
    OpsUtil.driverLiteral(
      splits.unionByName(leaves).orderBy("node"))
  }

  // ---------------------------------------------------------------------
  // q240: change-feed update pre/post-images (CDF) over MOR commits
  // ---------------------------------------------------------------------

  /** Delta-style Change Data Feed: `option("readChangeFeed", true)`
    * labels every emitted row with `_change_type`/`_commit_version`,
    * and merge-on-read commits become row-EXACT CDC — the positions a
    * commit newly masked are its `update_preimage`/`delete` rows (read
    * back out of the immutable base files, no CDC sidecar needed), its
    * replacement files are the `update_postimage` rows.
    *
    * History: v1 append [0,12); v2 MOR UPDATE (n_words=0, doc_id<3);
    * v3 MOR UPDATE (doc_id in [3,5)); v4 DELETE (doc_id>=10 — metadata
    * drop or mask, both CDF-exact). Drained TWICE from one checkpoint
    * with a commit landing in between: the second drain emits ONLY the
    * new commits' images (exactly-once under replay — a re-emission
    * would double phase-a's rows inside phase b's aggregate). Audit =
    * counts and integer sums per (change type, commit). At 100 TB this
    * is the incremental-materialization feed: a downstream aggregate
    * consumes exact row deltas instead of re-reading snapshots. */
  val q240ChangeFeedImages: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r14_q240") { (cat, wh) =>
      val sink = Scratch.dir(wh, "cdf")
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "12").load()
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("update.mode", "merge-on-read")
        .tableProperty("delete.mode", "merge-on-read").create()
      spark.sql(s"UPDATE $cat.t SET n_words = 0 WHERE doc_id < 3")

      def drain(): Unit = {
        val q = spark.readStream.format("graft.sources.GraftDocsSource")
          .option("path", wh.resolve("t").toString)
          .option("readChangeFeed", "true").load()
          .writeStream.format("parquet")
          .option("path", s"$sink/data")
          .option("checkpointLocation", s"$sink/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        Scratch.drain(q, "q240: change-feed")
      }
      def sinkState(phase: String): DataFrame =
        spark.read.parquet(s"$sink/data")
          .groupBy(col("_change_type").as("change_type"),
            col("_commit_version").as("commit_version"))
          .agg(count(lit(1)).cast("long").as("n_rows"),
            coalesce(sum("n_words"), lit(0L)).cast("long").as("sum_words"),
            coalesce(sum("doc_id"), lit(0L)).cast("long").as("sum_doc_id"))
          .select(lit(phase).as("phase"), col("change_type"),
            col("commit_version"), col("n_rows"), col("sum_words"),
            col("sum_doc_id"))

      drain()
      val first = OpsUtil.driverLiteral(sinkState("a_first"))
      spark.sql(s"UPDATE $cat.t SET n_words = 0 " +
        "WHERE doc_id >= 3 AND doc_id < 5")
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id >= 10")
      drain()
      val second = OpsUtil.driverLiteral(sinkState("b_second"))
      first.unionByName(second)
        .orderBy("phase", "commit_version", "change_type")
    }

  // ---------------------------------------------------------------------
  // q241: column RENAME/DROP by field id, audited through time travel
  // ---------------------------------------------------------------------

  /** The full column-mutation lifecycle as one verified query —
    * Delta's column-mapping capability on the evolved tail, where a
    * column's PERMANENT registry index (its field id, hence its TSV
    * position) carries identity and the display name is metadata
    * layered on top:
    *
    *  v0 enable, v1 append [0,12) (base schema), v2/v3 `ADD COLUMNS
    *  (score BIGINT, lang STRING)`, v4 append [12,18) with both, v5
    *  `RENAME COLUMN score TO quality` (metadata-only commit — no file
    *  touched, old manifests stay valid), v6 append [18,24) under the
    *  new name, v7 `DROP COLUMN lang` (the slot stays, the column goes
    *  invisible), v8 `ADD COLUMNS (lang BIGINT)` — the SAME name
    *  reused at a NEW position with a NEW type, the sharp edge that
    *  proves addressing is by field id, not name — v9 append [24,27).
    *
    * One audit row per phase, each aggregated from an actual read:
    * `VERSION AS OF 4` presents the pre-rename name and the STRING
    * lang; `VERSION AS OF 6` the renamed column with values from both
    * sides of the rename; `VERSION AS OF 7` the 5-column post-drop
    * shape; the live read the reused name as BIGINT, with the dropped
    * string column's cells unreachable. Scale shape: every mutation is
    * one property write + one manifest line regardless of table size,
    * and every phase read is a manifest-scoped scan + one
    * map-side-combined aggregate. */
  val q241SchemaMutation: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r14_q241") { (cat, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "12").load()
        .writeTo(s"$cat.t").tableProperty("versioned", "true").create()
      spark.sql(s"ALTER TABLE $cat.t ADD COLUMNS (score BIGINT, lang STRING)")
      def insert(lo: Int, hi: Int, q: org.apache.spark.sql.Column,
          lang: org.apache.spark.sql.Column, qName: String): Unit = {
        spark.read.format("graft.sources.GraftDocsSource")
          .option("rows", hi.toString).load()
          .filter(col("doc_id") >= lo)
          .withColumn(qName, q).withColumn("lang", lang)
          .createOrReplaceTempView(s"${cat}_ins")
        spark.sql(s"INSERT INTO $cat.t SELECT * FROM ${cat}_ins")
        spark.catalog.dropTempView(s"${cat}_ins")
      }
      insert(12, 18, col("doc_id") * 2,
        when(col("doc_id") % 2 === 0, "en").otherwise("fi"), "score")
      spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN score TO quality")
      insert(18, 24, col("doc_id") * 5, lit("sv"), "quality")
      spark.sql(s"ALTER TABLE $cat.t DROP COLUMN lang")
      spark.sql(s"ALTER TABLE $cat.t ADD COLUMNS (lang BIGINT)")
      insert(24, 27, col("doc_id") * 7, col("doc_id"), "quality")

      def snap(phase: String, df: DataFrame): DataFrame = {
        val kinds = df.schema.fields.map(f => f.name -> f.dataType).toMap
        val qCol = Seq("score", "quality").find(kinds.contains)
        val langKind = kinds.get("lang") match {
          case Some(org.apache.spark.sql.types.StringType) => "str"
          case Some(_) => "int"
          case None => "absent"
        }
        df.agg(
          count(lit(1)).cast("long").as("n_rows"),
          qCol.map(c => coalesce(sum(c), lit(0L)))
            .getOrElse(lit(-1L)).cast("long").as("sum_q"),
          (if (langKind == "str") countDistinct("lang") else lit(-1L))
            .cast("long").as("lang_distinct"),
          (if (langKind == "int") coalesce(sum("lang"), lit(0L))
           else lit(-1L)).cast("long").as("lang_sum"))
          .select(lit(phase).as("phase"),
            lit(df.columns.length.toLong).as("n_cols"),
            lit(qCol.getOrElse("absent")).as("q_name"),
            lit(langKind).as("lang_kind"),
            col("n_rows"), col("sum_q"), col("lang_distinct"),
            col("lang_sum"))
      }

      val audit =
        snap("a_pre_rename",
          spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 4"))
          .unionByName(snap("b_post_rename",
            spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 6")))
          .unionByName(snap("c_post_drop",
            spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 7")))
          .unionByName(snap("d_live", spark.table(s"$cat.t")))
          .orderBy("phase")
      // sanity: every mutation is its own metadata-only commit
      val ops = GraftVersions.listVersions(wh.resolve("t")).map(_.op)
      require(ops == Seq("enable", "append", "add-column", "add-column",
        "append", "rename-column", "append", "drop-column", "add-column",
        "append"), s"unexpected version log: $ops")
      OpsUtil.driverLiteral(audit)
    }

  // ---------------------------------------------------------------------
  // q242: INT -> BIGINT type widening, audited through time travel
  // ---------------------------------------------------------------------

  /** Value-preserving type widening as one verified query — the third
    * mutation kind on the field-id registry (Delta 3.x's type-widening
    * table feature, scoped to the one change the TSV codec makes
    * trivially safe: every cell an INT writer produced parses as
    * BIGINT):
    *
    *  v0 enable, v1 append [0,8) (base), v2 `ADD COLUMNS (hits INT)`,
    *  v3 append [8,12) with int values, v4 `ALTER COLUMN hits TYPE
    *  BIGINT` (metadata-only commit — no file touched), v5 append
    *  [12,16) with values OUTSIDE int range.
    *
    * Audits: `VERSION AS OF 3` presents the INT type and the pre-widen
    * sum; `VERSION AS OF 4` the BIGINT type over the same rows; the
    * live read sums past 2³¹ — and a pre-widen pin can never misparse,
    * because out-of-int-range cells only exist in files the widen
    * postdates. Scale shape: like every mutation, cost is one property
    * write + one manifest line regardless of table size. */
  val q242TypeWidening: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r14_q242") { (cat, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "8").load()
        .writeTo(s"$cat.t").tableProperty("versioned", "true").create()
      spark.sql(s"ALTER TABLE $cat.t ADD COLUMNS (hits INT)")
      def insert(lo: Int, hi: Int, hits: org.apache.spark.sql.Column,
          asInt: Boolean): Unit = {
        spark.read.format("graft.sources.GraftDocsSource")
          .option("rows", hi.toString).load()
          .filter(col("doc_id") >= lo)
          .withColumn("hits",
            if (asInt) hits.cast("int") else hits.cast("long"))
          .createOrReplaceTempView(s"${cat}_ins")
        spark.sql(s"INSERT INTO $cat.t SELECT * FROM ${cat}_ins")
        spark.catalog.dropTempView(s"${cat}_ins")
      }
      insert(8, 12, col("doc_id") * 2, asInt = true)
      spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN hits TYPE BIGINT")
      insert(12, 16, col("doc_id") + lit(3000000000L), asInt = false)

      def snap(phase: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).cast("long").as("n_rows"),
          coalesce(sum("hits"), lit(0L)).cast("long").as("sum_hits"))
          .select(lit(phase).as("phase"),
            lit(df.schema("hits").dataType.simpleString).as("hits_type"),
            col("n_rows"), col("sum_hits"))

      val audit =
        snap("a_pre_widen",
          spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 3"))
          .unionByName(snap("b_post_widen",
            spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 4")))
          .unionByName(snap("c_live", spark.table(s"$cat.t")))
          .orderBy("phase")
      val ops = GraftVersions.listVersions(wh.resolve("t")).map(_.op)
      require(ops == Seq("enable", "append", "add-column", "append",
        "widen-column", "append"), s"unexpected version log: $ops")
      OpsUtil.driverLiteral(audit)
    }

  // ---------------------------------------------------------------------
  // q243: column DEFAULT values, audited through time travel
  // ---------------------------------------------------------------------

  /** Column DEFAULTs as one verified query — the catalog declares
    * `SUPPORT_COLUMN_DEFAULT_VALUE`, persists the ADD-time literal in
    * the field-id registry, and serves it back through the schema's
    * CURRENT_DEFAULT/EXISTS_DEFAULT metadata, so Spark's analyzer
    * fills INSERT omissions while the scan backfills pre-ADD rows:
    *
    *  v0 enable, v1 append [0,10) (base), v2/v3 `ADD COLUMNS (tier
    *  STRING DEFAULT 'bronze', boost BIGINT DEFAULT 7)` — metadata-only
    *  as ever, but old rows now read 'bronze'/7 instead of NULL (the
    *  exists-default, re-read on every scan, never baked into files) —
    *  v4 append [10,14) with explicit values, v5 a column-list INSERT
    *  [14,16) omitting both (the analyzer fills the current default),
    *  v6 one row with explicit NULLs (the `\N` sentinel in a
    *  full-width row is never shadowed by the default).
    *
    * Audits: `VERSION AS OF 1` the pre-ADD shape; `VERSION AS OF 3`
    * all-bronze backfill; the live read mixing backfill, explicit,
    * filled, and NULL rows. Scale shape: the backfill costs nothing at
    * any size — it is a read-side constant, which is why ADD COLUMN
    * DEFAULT on a 100 TB table is instant where a COW backfill would
    * rewrite the world. */
  val q243ColumnDefaults: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r14_q243") { (cat, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "10").load()
        .writeTo(s"$cat.t").tableProperty("versioned", "true").create()
      spark.sql(s"ALTER TABLE $cat.t ADD COLUMNS " +
        "(tier STRING DEFAULT 'bronze', boost BIGINT DEFAULT 7)")
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "14").load()
        .filter(col("doc_id") >= 10)
        .withColumn("tier", lit("gold"))
        .withColumn("boost", col("doc_id"))
        .createOrReplaceTempView(s"${cat}_ins")
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM ${cat}_ins")
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "16").load()
        .filter(col("doc_id") >= 14)
        .createOrReplaceTempView(s"${cat}_omit")
      spark.sql(s"INSERT INTO $cat.t (doc_id, title, fp, n_words) " +
        s"SELECT * FROM ${cat}_omit")
      spark.catalog.dropTempView(s"${cat}_ins")
      spark.catalog.dropTempView(s"${cat}_omit")
      spark.sql(s"INSERT INTO $cat.t VALUES (200, 'x', 1, 5, NULL, NULL)")

      def snap(phase: String, df: DataFrame): DataFrame = {
        val hasTier = df.columns.contains("tier")
        def cnt(c: org.apache.spark.sql.Column) =
          coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
        df.agg(
          count(lit(1)).cast("long").as("n_rows"),
          (if (hasTier) cnt(col("tier") === "bronze") else lit(-1L))
            .cast("long").as("n_bronze"),
          (if (hasTier) cnt(col("tier") === "gold") else lit(-1L))
            .cast("long").as("n_gold"),
          (if (hasTier) cnt(col("tier").isNull) else lit(-1L))
            .cast("long").as("n_null_tier"),
          (if (hasTier) coalesce(sum("boost"), lit(0L)) else lit(-1L))
            .cast("long").as("sum_boost"))
          .select(lit(phase).as("phase"),
            lit(df.columns.length.toLong).as("n_cols"),
            col("n_rows"), col("n_bronze"), col("n_gold"),
            col("n_null_tier"), col("sum_boost"))
      }

      val audit =
        snap("a_pre_add",
          spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1"))
          .unionByName(snap("b_backfill",
            spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 3")))
          .unionByName(snap("c_live", spark.table(s"$cat.t")))
          .orderBy("phase")
      val ops = GraftVersions.listVersions(wh.resolve("t")).map(_.op)
      require(ops == Seq("enable", "append", "add-column", "add-column",
        "append", "append", "append"), s"unexpected version log: $ops")
      OpsUtil.driverLiteral(audit)
    }

  // ---------------------------------------------------------------------
  // q244: zero-copy shallow clone
  // ---------------------------------------------------------------------

  /** Delta-style SHALLOW CLONE as one verified query: `CALL
    * cat.system.clone('s','c',-1)` births table `c` whose v0 manifest
    * references `s`'s files in place — 0 bytes copied, 0 part files in
    * the clone dir (both asserted, and `bytes_copied` rides in the
    * audit row). The tables then diverge freely: an INSERT lands local
    * files in the clone, a MOR DELETE masks rows OF AN EXTERNAL file
    * (the mask lives in the clone's manifest; the source's bytes are
    * immutable), and the source never moves. The clone's vacuum
    * deletes only clone-local files — external references are the
    * source's lifecycle, never touched here.
    *
    * Scale shape: cloning a 100 TB table is ONE manifest write (#files
    * lines, no data IO) — the dev/staging-fork and experiment-branch
    * workflow Delta ships as SHALLOW CLONE. */
  val q244ShallowClone: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r14_q244") { (cat, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "10").load()
        .writeTo(s"$cat.s").tableProperty("versioned", "true")
        .tableProperty("delete.mode", "merge-on-read").create()
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "15").load().filter(col("doc_id") >= 10)
        .createOrReplaceTempView(s"${cat}_i1")
      spark.sql(s"INSERT INTO $cat.s SELECT * FROM ${cat}_i1")
      val cloned =
        spark.sql(s"CALL $cat.system.clone('s', 'c', -1)").head()
      val bytesCopied = cloned.getLong(2)
      val v0 = GraftVersions.manifest(wh.resolve("c"), 0L)
      val localParts = {
        val s = Files.list(wh.resolve("c"))
        try s.toArray.map(_.toString).count(_.endsWith(".tsv"))
        finally s.close()
      }
      require(v0.op == "clone" && v0.files.forall(_.contains("/")),
        s"clone v0 must reference only external files: ${v0.files}")
      // birth-time read, BEFORE divergence and retention touch the log
      val birthRows =
        spark.sql(s"SELECT * FROM $cat.c VERSION AS OF 0").count()

      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "20").load().filter(col("doc_id") >= 15)
        .createOrReplaceTempView(s"${cat}_i2")
      spark.sql(s"INSERT INTO $cat.c SELECT * FROM ${cat}_i2")
      spark.catalog.dropTempView(s"${cat}_i1")
      spark.catalog.dropTempView(s"${cat}_i2")
      spark.sql(s"DELETE FROM $cat.c WHERE doc_id < 3")
      val stats = GraftVersions.vacuum(wh.resolve("c"), keepLast = 1)
      val vacuumSafe = stats.deletedFiles.forall(!_.contains("/"))

      def cnt(t: String): org.apache.spark.sql.Column =
        lit(spark.table(s"$cat.$t").count())
      val audit = spark.range(1).select(
          lit("a_birth").as("phase"), lit(15L).as("src_rows"),
          lit(birthRows).as("clone_rows"),
          lit(if (bytesCopied == 0L && localParts == 0) 1L else 0L)
            .as("ok"))
        .unionByName(spark.range(1).select(
          lit("b_diverged").as("phase"), cnt("s").as("src_rows"),
          cnt("c").as("clone_rows"), lit(1L).as("ok")))
        .unionByName(spark.range(1).select(
          lit("c_vacuumed").as("phase"), cnt("s").as("src_rows"),
          cnt("c").as("clone_rows"),
          lit(if (vacuumSafe) 1L else 0L).as("ok")))
        .orderBy("phase")
      OpsUtil.driverLiteral(audit)
    }

  // ---------------------------------------------------------------------
  // q245: named snapshot tags
  // ---------------------------------------------------------------------

  /** Iceberg-style snapshot TAGS as one verified query: `CALL
    * cat.system.tag('t','run-1',-1)` names the current snapshot;
    * `VERSION AS OF 'run-1'` time-travels by name; and — the retention
    * face — vacuum NEVER expires a tagged snapshot, however aggressive
    * `keep_last` is, until `drop_tag` releases the pin. This is the
    * reproducibility contract a training pipeline needs: "the exact
    * corpus run X trained on" stays addressable by name, immune to
    * nightly retention, for as long as the tag lives. */
  val q245TableTags: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r14_q245") { (cat, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "10").load()
        .writeTo(s"$cat.t").tableProperty("versioned", "true").create()
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "20").load().filter(col("doc_id") >= 10)
        .createOrReplaceTempView(s"${cat}_ins")
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM ${cat}_ins " +
        "WHERE doc_id < 15")                                   // v2
      val tagged =
        spark.sql(s"CALL $cat.system.tag('t', 'run-1', -1)").head()
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM ${cat}_ins " +
        "WHERE doc_id >= 15")                                  // v3
      spark.catalog.dropTempView(s"${cat}_ins")
      def tagCount(): Long =
        spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 'run-1'").count()
      val t = wh.resolve("t")

      val aRows = tagCount()
      val aVers = GraftVersions.listVersionNumbers(t).length.toLong
      val aOk = if (tagged.getLong(1) == 2L) 1L else 0L

      val s1 = GraftVersions.vacuum(t, keepLast = 1)
      val bRows = tagCount()
      val bVers = GraftVersions.listVersionNumbers(t).length.toLong
      val bOk = if (s1.expiredVersions == Seq(0L, 1L)) 1L else 0L

      spark.sql(s"CALL $cat.system.drop_tag('t', 'run-1')").collect()
      val s2 = GraftVersions.vacuum(t, keepLast = 1)
      val cGone =
        try { tagCount(); 0L } catch { case _: Exception => 1L }
      val cRows = spark.table(s"$cat.t").count()
      val cVers = GraftVersions.listVersionNumbers(t).length.toLong
      val cOk = if (s2.expiredVersions == Seq(2L) && cGone == 1L) 1L else 0L

      val audit = spark.range(1).select(
          lit("a_tagged").as("phase"), lit(aRows).as("n_rows"),
          lit(aVers).as("n_versions"), lit(aOk).as("ok"))
        .unionByName(spark.range(1).select(
          lit("b_vacuum_pinned").as("phase"), lit(bRows).as("n_rows"),
          lit(bVers).as("n_versions"), lit(bOk).as("ok")))
        .unionByName(spark.range(1).select(
          lit("c_tag_dropped").as("phase"), lit(cRows).as("n_rows"),
          lit(cVers).as("n_versions"), lit(cOk).as("ok")))
        .orderBy("phase")
      OpsUtil.driverLiteral(audit)
    }

  // ---------------------------------------------------------------------
  // q246: MERGE WITH SCHEMA EVOLUTION
  // ---------------------------------------------------------------------

  /** Spark 4's `MERGE ... WITH SCHEMA EVOLUTION` against the versioned
    * warehouse: the source carries a column the target lacks (`score`),
    * and the table's AUTOMATIC_SCHEMA_EVOLUTION capability routes it
    * through the SAME AddColumn registry as ALTER TABLE (one
    * dataChange=false add-column commit, then the MOR merge commit) —
    * so the CDC-upsert pipeline that starts shipping a new quality
    * score simply ships it, no out-of-band DDL step. Pre-merge rows
    * read the NULL backfill; matched and inserted rows carry the
    * source value; time travel below the evolution presents the
    * 4-column shape. The registry's append-only rules still gate every
    * change — a boolean source column fails the merge loudly. */
  val q246MergeEvolution: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r14_q246") { (cat, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "10").load()
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("merge.mode", "merge-on-read").create()
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "15").load().filter(col("doc_id") >= 5)
        .withColumn("score", col("doc_id") * 2)
        .createOrReplaceTempView(s"${cat}_src")
      spark.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.t AS t
           |USING ${cat}_src AS s ON t.doc_id = s.doc_id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      spark.catalog.dropTempView(s"${cat}_src")
      val ops = GraftVersions.listVersions(wh.resolve("t")).map(_.op)
      require(ops == Seq("enable", "append", "add-column", "merge"),
        s"unexpected version log: $ops")

      def snap(phase: String, df: DataFrame): DataFrame = {
        val hasScore = df.columns.contains("score")
        df.agg(
          count(lit(1)).cast("long").as("n_rows"),
          (if (hasScore)
             coalesce(sum(when(col("score").isNull, 1L).otherwise(0L)),
               lit(0L))
           else lit(-1L)).cast("long").as("n_null_score"),
          (if (hasScore) coalesce(sum("score"), lit(0L)) else lit(-1L))
            .cast("long").as("sum_score"))
          .select(lit(phase).as("phase"),
            lit(df.columns.length.toLong).as("n_cols"),
            col("n_rows"), col("n_null_score"), col("sum_score"))
      }
      val audit =
        snap("a_pre_merge",
          spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1"))
          .unionByName(snap("b_post_merge", spark.table(s"$cat.t")))
          .orderBy("phase")
      OpsUtil.driverLiteral(audit)
    }

  // ---------------------------------------------------------------------
  // q247: writable branches — write-audit-publish
  // ---------------------------------------------------------------------

  /** Iceberg's write-audit-publish on the versioned warehouse: `CALL
    * cat.system.branch('t','audit',-1)` forks a WRITABLE branch (a
    * shallow clone at `_branches/audit` — zero-copy, every table face
    * works on it), DML lands on `cat.t.branch_audit` in full isolation,
    * maintenance composes (`optimize('t.branch_audit', ...)`), and
    * `fast_forward` publishes the branch as ONE commit — only while
    * main still sits at the fork point (straight line; a diverged main
    * rejects the publish loudly). Branch-local files promote by rename
    * (no data copy), and the branch is consumed.
    *
    * Scale shape: the pipeline pattern this exists for — land tonight's
    * crawl on a branch, run the quality audits against branch data,
    * publish atomically iff they pass — costs one manifest write to
    * fork and one rename-per-file to publish, regardless of table
    * size. */
  val q247BranchWap: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r14_q247") { (cat, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "10").load()
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("delete.mode", "merge-on-read").create()
      spark.sql(s"CALL $cat.system.branch('t', 'audit', -1)").collect()
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "15").load().filter(col("doc_id") >= 10)
        .createOrReplaceTempView(s"${cat}_ins")
      spark.sql(
        s"INSERT INTO $cat.t.branch_audit SELECT * FROM ${cat}_ins")
      spark.catalog.dropTempView(s"${cat}_ins")
      spark.sql(s"DELETE FROM $cat.t.branch_audit WHERE doc_id < 2")
      val aMain = spark.table(s"$cat.t").count()
      val aBranch = spark.table(s"$cat.t.branch_audit").count()

      spark.sql(s"CALL $cat.system.optimize('t.branch_audit', 1, '')")
        .collect()
      val ff = spark.sql(
        s"CALL $cat.system.fast_forward('t', 'audit')").head()
      val bMain = spark.table(s"$cat.t").count()
      val live = GraftVersions.latest(wh.resolve("t")).get
      val bOk = if (ff.getLong(1) == 2L &&
        live.files.forall(!_.contains("/")) &&
        GraftVersions.listBranches(wh.resolve("t")).isEmpty) 1L else 0L

      spark.sql(s"CALL $cat.system.branch('t', 'b2', -1)").collect()
      spark.sql(s"INSERT INTO $cat.t VALUES (100, 'x', 1, 5)")
      val cOk =
        try {
          spark.sql(s"CALL $cat.system.fast_forward('t', 'b2')").collect()
          0L
        } catch { case _: Exception => 1L }
      spark.sql(s"CALL $cat.system.drop_branch('t', 'b2')").collect()
      val cMain = spark.table(s"$cat.t").count()

      val audit = spark.range(1).select(
          lit("a_isolated").as("phase"), lit(aMain).as("main_rows"),
          lit(aBranch).as("branch_rows"), lit(1L).as("ok"))
        .unionByName(spark.range(1).select(
          lit("b_published").as("phase"), lit(bMain).as("main_rows"),
          lit(-1L).as("branch_rows"), lit(bOk).as("ok")))
        .unionByName(spark.range(1).select(
          lit("c_diverged_rejected").as("phase"),
          lit(cMain).as("main_rows"),
          lit(-1L).as("branch_rows"), lit(cOk).as("ok")))
        .orderBy("phase")
      OpsUtil.driverLiteral(audit)
    }

  // ---------------------------------------------------------------------
  // q248: age-based snapshot expiration
  // ---------------------------------------------------------------------

  /** The third retention axis, completing count (`vacuum keep_last`)
    * and pins (tags): AGE. `CALL cat.system.expire_snapshots(t,
    * cutoff_micros)` expires snapshots committed strictly before the
    * cutoff — except the latest (a table never loses its live state)
    * and every tagged snapshot (a pin outranks the calendar). This is
    * the nightly policy a 100 TB log actually runs: "7 days of time
    * travel, whatever the commit rate, but run-tagged corpora live
    * forever". Cutoffs here are taken FROM the commit log's own
    * strictly-increasing timestamps, so the audit is deterministic. */
  val q248ExpireSnapshots: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r14_q248") { (cat, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "10").load()
        .writeTo(s"$cat.t").tableProperty("versioned", "true").create()
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "16").load().filter(col("doc_id") >= 10)
        .createOrReplaceTempView(s"${cat}_ins")
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM ${cat}_ins " +
        "WHERE doc_id < 12")                                    // v2
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM ${cat}_ins " +
        "WHERE doc_id >= 12 AND doc_id < 14")                   // v3
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM ${cat}_ins " +
        "WHERE doc_id >= 14")                                   // v4
      spark.catalog.dropTempView(s"${cat}_ins")
      spark.sql(s"CALL $cat.system.tag('t', 'pin', 1)").collect()
      val t = wh.resolve("t")
      def ts(v: Long): Long =
        GraftVersions.listVersions(t).find(_.version == v).get.tsMicros
      def tagRows(): Long =
        spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 'pin'").count()

      // cutoff at v3's commit time: v0 and v2 expire (v1 is tagged,
      // v3/v4 are not strictly older)
      val s1 = spark.sql(
        s"CALL $cat.system.expire_snapshots('t', ${ts(3L)})").head()
      val aVers = GraftVersions.listVersionNumbers(t)
      val aOk = if (aVers == Seq(1L, 3L, 4L)) 1L else 0L
      val aTag = tagRows()

      // cutoff past everything: only the latest and the tag survive
      val s2 = spark.sql(
        s"CALL $cat.system.expire_snapshots('t', ${ts(4L) + 1L})").head()
      val bVers = GraftVersions.listVersionNumbers(t)
      val bOk = if (bVers == Seq(1L, 4L)) 1L else 0L
      val bTag = tagRows()

      val audit = spark.range(1).select(
          lit("a_cutoff_v3").as("phase"),
          lit(s1.getLong(0)).as("n_expired"),
          lit(aVers.length.toLong).as("n_versions"),
          lit(aTag).as("tag_rows"), lit(aOk).as("ok"))
        .unionByName(spark.range(1).select(
          lit("b_cutoff_all").as("phase"),
          lit(s2.getLong(0)).as("n_expired"),
          lit(bVers.length.toLong).as("n_versions"),
          lit(bTag).as("tag_rows"), lit(bOk).as("ok")))
        .orderBy("phase")
      OpsUtil.driverLiteral(audit)
    }

  // ---------------------------------------------------------------------
  // q249: row lineage — stable row ids across delete / OPTIMIZE / update
  // ---------------------------------------------------------------------

  /** Delta-style ROW TRACKING as one verified lifecycle
    * (`TBLPROPERTIES('row.tracking'='true')`): every row gets a stable
    * id at its birth commit, exposed as the `_row_id` /
    * `_row_commit_version` metadata columns. The design is pure
    * manifest metadata — per-file lineage SEGMENTS `(base, rows,
    * since)` allocated from a monotone high-water mark in the manifest
    * header — so tracking costs ZERO per-row bytes and ids survive:
    *
    *  - MOR DELETE (v3): deletion vectors mask positions without
    *    shifting them, so surviving ids are untouched by construction;
    *  - bin-packing OPTIMIZE (v4): output files are byte CONCATENATIONS
    *    of their members with spliced lineage segments — ids identical
    *    before and after (require-audited via VERSION AS OF 3 vs 4);
    *  - MOR UPDATE (v6): the preimage id dies with its mask and the
    *    replacement row draws the next fresh id from the high-water
    *    mark — an id is one immutable row VERSION, never recycled.
    *
    * Clustered/Z-order rewrites REORDER rows (no segment encoding can
    * express the permutation), so on tracked tables they reject loudly
    * (require-audited) instead of silently reassigning every id. Why a
    * training pipeline wants this: "which exact rows changed since the
    * last distillation run" becomes an id-level diff, robust to the
    * nightly OPTIMIZE that rewrites every file name. Scale: id
    * allocation is one manifest-header read per commit, lookup is a
    * monotone per-file segment walk in the reader — nothing global,
    * nothing per-row on disk. */
  val q249RowLineage: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r14_q249") { (cat, wh) =>
      val docs = spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "18").load()
      // one sorted file per commit: ids are then doc_id-aligned, which
      // lets the DuckDB oracle derive every expected id from first
      // principles instead of trusting the engine under test
      docs.filter(col("doc_id") < 10).coalesce(1).sortWithinPartitions("doc_id")
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("row.tracking", "true")
        .tableProperty("delete.mode", "merge-on-read")
        .tableProperty("update.mode", "merge-on-read")
        .create()                                  // v0 enable, v1 append
      docs.filter(col("doc_id") >= 10 && col("doc_id") < 15)
        .coalesce(1).sortWithinPartitions("doc_id")
        .writeTo(s"$cat.t").append()               // v2: ids 10-14
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id IN (2, 11)") // v3: MOR
      spark.sql(s"CALL $cat.system.optimize('t', 1, '')")      // v4: concat
      docs.filter(col("doc_id") >= 15).coalesce(1).sortWithinPartitions("doc_id")
        .writeTo(s"$cat.t").append()               // v5: ids 15-17
      spark.sql(
        s"UPDATE $cat.t SET n_words = n_words + 1000 WHERE doc_id = 5") // v6

      val t = wh.resolve("t")
      val live = GraftVersions.latest(t).get
      require(live.rowHwm.contains(19L),
        s"high-water mark should be 19 after 19 row versions: $live")
      // preservation proof: the id an OPTIMIZE-survivor carries after
      // the concat is the id it carried before
      val pre = spark.sql(
        s"SELECT doc_id, _row_id AS rid FROM $cat.t VERSION AS OF 3")
      val post = spark.sql(
        s"SELECT doc_id, _row_id AS rid FROM $cat.t VERSION AS OF 4")
      require(OpsUtil.sameRowsLocal(pre, post),
        "bin-packing OPTIMIZE must preserve every row id")
      // a clustered rewrite would reorder rows: reject, never reassign
      val zorderRejected =
        try { GraftVersions.compact(spark, t, 1,
          clusterBy = Seq("doc_id", "n_words")); false }
        catch { case _: UnsupportedOperationException => true }
      require(zorderRejected,
        "clustered OPTIMIZE on a row-tracked table must reject loudly")

      val out = spark.table(s"$cat.t")
        .select(col("doc_id"), col("_row_id").as("row_id"),
          col("_row_commit_version").as("row_cv"))
        .orderBy("doc_id")
      OpsUtil.driverLiteral(out)
    }

  // ---------------------------------------------------------------------
  // q250: remove_orphan_files — the debris vacuum cannot see
  // ---------------------------------------------------------------------

  /** Iceberg's `remove_orphan_files` as one verified lifecycle. Vacuum
    * walks the LOG: it reclaims files that expired manifests reference
    * and nothing retained does. But a crash leaves debris the log never
    * knew — a compaction that landed its output and died before the
    * manifest advance, a concat temp, a staging directory whose job
    * died between task commit and driver commit. This query plants all
    * three shapes of debris beside a live table and audits the two
    * contracts: the mtime CUTOFF protects anything newer (an in-flight
    * writer's staged files are indistinguishable from debris by name,
    * so a cutoff in the past removes nothing), and a permissive cutoff
    * removes exactly the three planted orphans — while the live rows,
    * the version log, and every referenced file stay untouched.
    * Scale shape: one directory listing + one log read under the table
    * lock; never a data scan. */
  val q250RemoveOrphans: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r14_q250") { (cat, wh) =>
      val docs = spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "12").load()
      docs.filter(col("doc_id") < 8).coalesce(1).sortWithinPartitions("doc_id")
        .writeTo(s"$cat.t").tableProperty("versioned", "true").create()
      docs.filter(col("doc_id") >= 8).coalesce(1).sortWithinPartitions("doc_id")
        .writeTo(s"$cat.t").append()
      val t = wh.resolve("t")
      // plant the three debris shapes a crash can leave
      Files.write(t.resolve("part-99999-deadbeef.tsv"),
        "999\tghost\t0\t7\n".getBytes("UTF-8"))
      Files.write(t.resolve("_concat-0-dead.tmp"),
        "tmp".getBytes("UTF-8"))
      Files.createDirectories(t.resolve("_staging").resolve("deadjob"))
      Files.write(t.resolve("_staging").resolve("deadjob")
        .resolve("part-00000.tsv"), "998\tghost\t0\t7\n".getBytes("UTF-8"))

      def phase(name: String, cutoffMicros: Long): DataFrame = {
        val r = spark.sql(s"CALL $cat.system.remove_orphan_files(" +
          s"'t', ${cutoffMicros}L)").head()
        spark.range(1).select(lit(name).as("phase"),
          lit(r.getLong(0)).as("removed"),
          lit(spark.table(s"$cat.t").count()).as("live_rows"),
          lit(GraftVersions.listVersionNumbers(t).length.toLong)
            .as("n_versions"))
      }
      // cutoff in the past: everything is newer, nothing is eligible
      val a = phase("a_cutoff_protects", 1000L)
      // permissive cutoff: exactly the planted debris goes
      val b = phase("b_orphans_removed",
        System.currentTimeMillis() * 1000L + 3_600_000_000L)
      require(!Files.exists(t.resolve("part-99999-deadbeef.tsv")) &&
        !Files.exists(t.resolve("_staging").resolve("deadjob")),
        "planted debris must be gone after the permissive sweep")
      val audit = a.unionByName(b).orderBy("phase")
      OpsUtil.driverLiteral(audit)
    }

  // ---------------------------------------------------------------------
  // q251: BATCH change-feed reads — Delta's table_changes shape
  // ---------------------------------------------------------------------

  /** The change feed's BATCH face: `option("readChangeFeed", true)
    * .option("startingVersion", v)` on a plain `spark.read` returns
    * every commit of `[startingVersion, endingVersion]` diffed and
    * labeled in ONE scan — Delta's `table_changes(t, v1, v2)`. The
    * streaming face (q240) drains commits one micro-batch at a time
    * through a checkpoint; the batch face is what an incremental
    * consumer calls on its own schedule: "give me exactly what changed
    * since the version I last processed". Same taxonomy, same
    * row-exact MOR images, one shared implementation
    * ([[graft.sources.GraftChangeFeed]]), so the two faces can never
    * disagree about what a commit changed.
    *
    * The lifecycle covers all four labels (insert / delete /
    * update_preimage / update_postimage) plus the range contract: a
    * second read bounded at `endingVersion = 3` must see exactly the
    * prefix. Scale: a batch CDF read plans one partition per touched
    * file per commit — cost proportional to the CHANGES in the range,
    * never to table size; this is the primitive incremental pipelines
    * are built from at 100 TB. */
  val q251BatchCdf: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r14_q251") { (cat, wh) =>
      val docs = spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "14").load()
      docs.filter(col("doc_id") < 8).coalesce(1).sortWithinPartitions("doc_id")
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("delete.mode", "merge-on-read")
        .tableProperty("update.mode", "merge-on-read")
        .create()                                   // v0 enable, v1 append
      docs.filter(col("doc_id") >= 8 && col("doc_id") < 12)
        .coalesce(1).sortWithinPartitions("doc_id")
        .writeTo(s"$cat.t").append()                // v2
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id IN (1, 9)")      // v3
      spark.sql(
        s"UPDATE $cat.t SET n_words = n_words + 1000 WHERE doc_id = 3") // v4
      docs.filter(col("doc_id") >= 12).coalesce(1).sortWithinPartitions("doc_id")
        .writeTo(s"$cat.t").append()                // v5

      def changes(opts: (String, String)*): DataFrame = {
        var r = spark.read.format("graft.sources.GraftDocsSource")
          .option("path", wh.resolve("t").toString)
          .option("readChangeFeed", "true")
        opts.foreach { case (k, v) => r = r.option(k, v) }
        r.load().select(col("doc_id"),
          col("_change_type").as("change_type"),
          col("_commit_version").as("commit_version"), col("n_words"))
      }
      val out = changes("startingVersion" -> "2")
          .withColumn("scope", lit("full"))
        .unionByName(changes("startingVersion" -> "2",
            "endingVersion" -> "3")
          .withColumn("scope", lit("bounded")))
        .select("scope", "doc_id", "change_type", "commit_version",
          "n_words")
        .orderBy("scope", "commit_version", "change_type", "doc_id")
      OpsUtil.driverLiteral(out)
    }

  // ---------------------------------------------------------------------
  // q252: incremental materialized-aggregate refresh from the batch CDF
  // ---------------------------------------------------------------------

  /** The pipeline primitive the batch change feed exists for: a
    * MATERIALIZED AGGREGATE kept current incrementally. A per-key
    * (doc_id % 4) SUM/COUNT is materialized at snapshot v2; the source
    * then takes a MOR delete, a MOR update, and an append; the refresh
    * reads ONLY the batch CDF of `[3, latest]` and folds each change
    * row into a signed delta — insert/update_postimage add, delete/
    * update_preimage subtract (the preimage carries the OLD values,
    * which is exactly why CDF emits it) — then merges deltas into the
    * materialized state with one per-key aggregate. The query
    * require()s the refreshed state equals the engine's own full
    * recompute, and the ORACLE recomputes it from generator first
    * principles — the incremental path is checked against both.
    *
    * Scale shape: refresh cost is proportional to the CHANGES since
    * the last refresh plus the aggregate's key cardinality — never a
    * rescan of a 100 TB source. This is Delta Live Tables /
    * materialized-view incremental maintenance, expressed in plain
    * DataFrame algebra over the connector's CDF. */
  val q252IncrementalAgg: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r14_q252") { (cat, wh) =>
      val docs = spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "18").load()
      docs.filter(col("doc_id") < 10).coalesce(1).sortWithinPartitions("doc_id")
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("delete.mode", "merge-on-read")
        .tableProperty("update.mode", "merge-on-read")
        .create()                                   // v0, v1
      docs.filter(col("doc_id") >= 10 && col("doc_id") < 16)
        .coalesce(1).sortWithinPartitions("doc_id")
        .writeTo(s"$cat.t").append()                // v2

      // materialize the aggregate AT snapshot v2 (the "last refresh")
      val matVersion = 2L
      val materialized = spark.sql(
        s"SELECT * FROM $cat.t VERSION AS OF $matVersion")
        .groupBy((col("doc_id") % 4).as("k"))
        .agg(sum("n_words").cast("long").as("sum_words"),
          count(lit(1)).cast("long").as("n_docs"))

      // the source moves on
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id IN (4, 13)")       // v3
      spark.sql(
        s"UPDATE $cat.t SET n_words = n_words + 1000 WHERE doc_id = 7") // v4
      docs.filter(col("doc_id") >= 16).coalesce(1).sortWithinPartitions("doc_id")
        .writeTo(s"$cat.t").append()                // v5

      // refresh = materialized + signed CDF deltas since matVersion
      val changes = spark.read
        .format("graft.sources.GraftDocsSource")
        .option("path", wh.resolve("t").toString)
        .option("readChangeFeed", "true")
        .option("startingVersion", (matVersion + 1).toString).load()
      val sign = when(col("_change_type")
        .isin("insert", "update_postimage"), 1L).otherwise(-1L)
      val delta = changes
        .select((col("doc_id") % 4).as("k"),
          (sign * col("n_words")).as("sum_words"), sign.as("n_docs"))
      val refreshed = materialized
        .unionByName(delta.groupBy("k")
          .agg(sum("sum_words").cast("long").as("sum_words"),
            sum("n_docs").cast("long").as("n_docs")))
        .groupBy("k")
        .agg(sum("sum_words").cast("long").as("sum_words"),
          sum("n_docs").cast("long").as("n_docs"))
        .filter(col("n_docs") > 0)
        .select(col("k").cast("long").as("k"), col("sum_words"),
          col("n_docs"))
        .orderBy("k")

      // the incremental path must land exactly on a full recompute
      val full = spark.table(s"$cat.t")
        .groupBy((col("doc_id") % 4).cast("long").as("k"))
        .agg(sum("n_words").cast("long").as("sum_words"),
          count(lit(1)).cast("long").as("n_docs"))
      require(OpsUtil.sameRowsLocal(refreshed, full),
        "incremental refresh must equal the full recompute")
      OpsUtil.driverLiteral(refreshed)
    }

  // ---------------------------------------------------------------------
  // q253: partition-spec evolution — re-bucket without rewriting a byte
  // ---------------------------------------------------------------------

  /** Iceberg's PARTITION-SPEC EVOLUTION on the bucketed warehouse
    * tables: `ALTER TABLE t SET TBLPROPERTIES('layout.bucket' =
    * 'doc_id:4')` re-declares the bucket count as a metadata-only
    * commit. Nothing is rewritten — new writes fan AND stamp under the
    * new spec id, old files keep the spec they were written with
    * (`spec=` manifest token), and the scan's layout gate reports
    * `KeyGroupedPartitioning` only while every live file carries the
    * CURRENT spec: a mixed-spec snapshot degrades to unknown
    * partitioning (results stay correct, the storage-partitioned join
    * just pays its exchange again) until an OPTIMIZE rewrite migrates
    * every file to the new layout and the exchange-free join returns.
    *
    * Why a 100 TB corpus needs this: the right bucket count grows with
    * the data, and re-bucketing by rewrite is a full-table pass you
    * schedule, not a DDL you run — evolution makes the DDL instant and
    * lets the rewrite happen opportunistically (the nightly OPTIMIZE),
    * exactly Iceberg's model. The audit tracks rows / file count /
    * distinct spec count through create → evolve+append → optimize. */
  val q253PartitionEvolution: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r14_q253") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (doc_id BIGINT, title STRING, fp BIGINT,
           |  n_words INT) PARTITIONED BY (bucket(2, doc_id))
           |  TBLPROPERTIES('versioned'='true')""".stripMargin)
      val docs = spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "16").load()
      docs.filter(col("doc_id") < 8).coalesce(1).sortWithinPartitions("doc_id")
        .writeTo(s"$cat.t").append()                          // v1: spec 0
      val t = wh.resolve("t")
      def snap(phase: String): DataFrame = {
        val entries = GraftVersions.latest(t).get.entries
        spark.range(1).select(lit(phase).as("phase"),
          lit(spark.table(s"$cat.t").count()).as("n_rows"),
          lit(entries.length.toLong).as("n_files"),
          lit(entries.map(_.spec.getOrElse(0)).distinct.size.toLong)
            .as("n_specs"))
      }
      val a = snap("a_two_buckets")
      spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES(" +
        "'layout.bucket'='doc_id:4')")                        // v2: DDL
      docs.filter(col("doc_id") >= 8).coalesce(1).sortWithinPartitions("doc_id")
        .writeTo(s"$cat.t").append()                          // v3: spec 1
      val b = snap("b_evolved_mixed")
      spark.sql(s"CALL $cat.system.optimize('t', 1, '')").collect() // v4
      val c = snap("c_optimized_migrated")
      // the migrated layout is real: every file holds one mod-4 class
      val migrated = GraftVersions.latest(t).get.entries
      require(migrated.forall(e => e.spec.contains(1) &&
        e.bucket.exists(bk => bk >= 0 && bk < 4)),
        s"OPTIMIZE must land every file on the current spec: $migrated")
      val ops = GraftVersions.listVersions(t).map(_.op)
      require(ops == Seq("enable", "append", "set-layout", "append",
        "compact"), s"unexpected version log: $ops")
      OpsUtil.driverLiteral(
        a.unionByName(b).unionByName(c).orderBy("phase"))
    }

  // ---------------------------------------------------------------------
  // q254: the `partitions` metadata table — layout health per (spec, bucket)
  // ---------------------------------------------------------------------

  /** Iceberg's `t.partitions` as a DSv2 metadata table: the live
    * manifest rolled up to one row per (partition-spec id, bucket),
    * with file/row/mask counters — computed from manifest entries
    * alone (#files work, zero data files opened at any table size).
    * The face `t.files` can't give directly: after a partition-spec
    * evolution, exactly how much data still sits on the OLD spec —
    * the number an operator reads to decide when to run the OPTIMIZE
    * migration that restores storage-partitioned joins.
    *
    * Lifecycle here: bucket(2) table, [0,20) lands as 2 spec-0 files;
    * ALTER evolves the layout to bucket(4); [20,40) lands as 4 spec-1
    * files; a scattered merge-on-read DELETE masks one row in three
    * of the six files. The rollup pins all of it closed-form —
    * per-group physical rows, DV masks, and live rows. */
  val q254PartitionsTable: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r14_q254") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (doc_id BIGINT, title STRING, fp BIGINT,
           |  n_words INT) PARTITIONED BY (bucket(2, doc_id))
           |  TBLPROPERTIES('versioned'='true',
           |    'delete.mode'='merge-on-read')""".stripMargin)
      val docs = spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "40").load()
      docs.filter(col("doc_id") < 20).coalesce(1)
        .writeTo(s"$cat.t").append()                          // v1: spec 0
      spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES(" +
        "'layout.bucket'='doc_id:4')")                        // v2: DDL
      docs.filter(col("doc_id") >= 20).coalesce(1)
        .writeTo(s"$cat.t").append()                          // v3: spec 1
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id IN (2, 21, 27)") // v4
      OpsUtil.driverLiteral(spark.sql(
        s"""SELECT spec, bucket, files, rows, masked, live_rows
           |FROM $cat.t.partitions ORDER BY spec, bucket""".stripMargin))
    }

  // ---------------------------------------------------------------------
  // q255: the FULL five-branch MERGE matrix, COW ≡ MOR on the hash bar
  // ---------------------------------------------------------------------

  /** Delta's complete MERGE clause matrix in one statement — matched
    * UPDATE, matched DELETE, not-matched INSERT, and the two
    * `WHEN NOT MATCHED BY SOURCE` branches (UPDATE and DELETE on
    * target rows the source never mentions) — run IDENTICALLY against
    * a copy-on-write table and a merge-on-read table. Spark plans the
    * NOT-MATCHED-BY-SOURCE branches by keeping unmatched target rows
    * in the merge join (a full-outer shape instead of the usual
    * right-outer), so the same one-shuffle rewrite covers all five
    * verbs; on the MOR table every touched row becomes a mask (+ a
    * reinsert for the two UPDATE branches) through the one delta
    * writer, exactly like q234's three-branch form.
    *
    * Target [0,30) in 3 range files; source [15,40). Branch algebra:
    * matched 15..29 split by %3 (0→n_words=0, 1→DELETE, 2→untouched);
    * source-only 30..39 insert only below 35; target-only 0..14 split
    * (<5→n_words=1, ≥10→DELETE, 5..9 untouched). The audit row per
    * mode pins final rows / word sum / id sum plus the MOR mask count
    * (20 = 5 per branch that touches rows; no file ever fully masks,
    * so nothing drops), and a require asserts the two tables are
    * row-for-row identical — COW≡MOR equivalence checked before the
    * oracle ever sees the output. At 100 TB the NMBS branches are the
    * retention/backfill shape (`DELETE target rows absent from
    * today's feed`) and MOR turns that full-table verb into masks +
    * changed bytes instead of a table rewrite. */
  val q255MergeMatrix: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r14_q255") { (cat, wh) =>
      val base = spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "30").load()
        .repartitionByRange(3, col("doc_id"))
      base.writeTo(s"$cat.cow").tableProperty("versioned", "true").create()
      base.writeTo(s"$cat.mor").tableProperty("versioned", "true")
        .tableProperty("merge.mode", "merge-on-read").create()
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "40").load().filter(col("doc_id") >= 15)
        .createOrReplaceTempView(s"${cat}_src")
      def run(t: String): Unit = spark.sql(
        s"""MERGE INTO $cat.$t t USING ${cat}_src s ON t.doc_id = s.doc_id
           |WHEN MATCHED AND s.doc_id % 3 = 0 THEN UPDATE SET n_words = 0
           |WHEN MATCHED AND s.doc_id % 3 = 1 THEN DELETE
           |WHEN NOT MATCHED AND s.doc_id < 35 THEN INSERT *
           |WHEN NOT MATCHED BY SOURCE AND t.doc_id < 5
           |  THEN UPDATE SET n_words = 1
           |WHEN NOT MATCHED BY SOURCE AND t.doc_id >= 10 THEN DELETE
           |""".stripMargin)
      run("cow"); run("mor")
      spark.catalog.dropTempView(s"${cat}_src")
      // COW ≡ MOR before anything is hashed: same rows, both ways
      val cow = spark.table(s"$cat.cow")
      val mor = spark.table(s"$cat.mor")
      require(OpsUtil.sameRowsLocal(cow, mor),
        "copy-on-write and merge-on-read MERGE diverged")
      def masks(t: String): Long =
        GraftVersions.latest(wh.resolve(t)).get.entries
          .flatMap(_.dv).map(_.cardinality.toLong).sum
      val audit = Seq("cow", "mor").map { t =>
        spark.table(s"$cat.$t").agg(
          count(lit(1)).cast("long").as("n_rows"),
          sum("n_words").cast("long").as("sum_words"),
          sum("doc_id").cast("long").as("sum_doc_id"))
          .select(lit(t).as("mode"), col("n_rows"), col("sum_words"),
            col("sum_doc_id"), lit(masks(t)).as("masked_rows"))
      }.reduce(_ unionByName _)
      OpsUtil.driverLiteral(audit.orderBy("mode"))
    }

  // ---------------------------------------------------------------------
  // q256: the `refs` metadata table — every named ref as a relation
  // ---------------------------------------------------------------------

  /** Iceberg's `t.refs` joins `history`/`files`/`partitions` as the
    * fourth metadata table: one row per NAMED REFERENCE into the
    * snapshot log — `main` (the live head), each writable branch (its
    * own head plus the main version it forked from, fast_forward's
    * publish point), each tag (the version it pins, vacuum's retention
    * input). The operator's "what can still be reached" face: which
    * snapshots time travel, branch publishes, and retention pins can
    * name — answered from properties + manifest headers, #refs-sized,
    * zero data files opened.
    *
    * Lifecycle here: create+append puts main at v2, `tag('gold', 1)`
    * pins the first append, `branch('dev')` forks at the head (the
    * branch clone restarts its OWN log at v0), and one INSERT on the
    * branch face advances dev to v1 while main stays at v2 — the refs
    * relation must show all three with exactly those versions and
    * dev's base_version = 2 (the main version fast_forward needs). */
  val q256RefsTable: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r14_q256") { (cat, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "10").load()
        .writeTo(s"$cat.t").tableProperty("versioned", "true").create()
      spark.sql(s"INSERT INTO $cat.t VALUES (100, 'x', 1, 5)") // v2
      spark.sql(s"CALL $cat.system.tag('t', 'gold', 1)").collect()
      spark.sql(s"CALL $cat.system.branch('t', 'dev', -1)").collect()
      spark.sql(s"INSERT INTO $cat.t.branch_dev VALUES (101, 'y', 2, 7)")
      OpsUtil.driverLiteral(spark.sql(
        s"""SELECT name, type, version, base_version
           |FROM $cat.t.refs ORDER BY name""".stripMargin))
    }

  // ---------------------------------------------------------------------
  // q257: CDC replication — a replica maintained purely from the CDF
  // ---------------------------------------------------------------------

  /** The end-to-end pipeline the change feed exists for: REPLICATION.
    * A replica table is bootstrapped from the source's snapshot v1,
    * the source then takes a MOR UPDATE (+1000 on doc_id%7=3), a MOR
    * DELETE (doc_id%5=3 — key 3 is updated THEN deleted, so
    * latest-image-wins logic is actually exercised), and a late
    * append; the replica is brought current by ONE batch CDF read
    * since the bootstrap, collapsed to the newest image per key (a
    * key-partitioned window over the changes — changes-sized, never
    * table-sized), applied with ONE MERGE (delete → DELETE, postimage
    * → UPDATE, insert → INSERT). A require asserts replica ≡ source
    * row-for-row before the audit is hashed.
    *
    * Scale shape: replication cost is |changes| + one merge shuffle on
    * the key — the source is never rescanned. This is the Delta
    * CDF-to-downstream pattern (`table_changes` → `MERGE`), composed
    * entirely from this repo's own verified primitives (q251's batch
    * feed, q255's merge matrix). */
  val q257CdcReplication: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r14_q257") { (cat, wh) =>
      val docs = spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "25").load()
      docs.filter(col("doc_id") < 20).orderBy("doc_id").coalesce(2)
        .writeTo(s"$cat.s").tableProperty("versioned", "true")
        .tableProperty("delete.mode", "merge-on-read")
        .tableProperty("update.mode", "merge-on-read")
        .create()                                 // v0 enable, v1 append
      spark.sql(s"SELECT * FROM $cat.s VERSION AS OF 1")
        .writeTo(s"$cat.r").tableProperty("versioned", "true").create()
      spark.sql(
        s"UPDATE $cat.s SET n_words = n_words + 1000 WHERE doc_id % 7 = 3")
      spark.sql(s"DELETE FROM $cat.s WHERE doc_id % 5 = 3")          // v3
      docs.filter(col("doc_id") >= 20).coalesce(1).sortWithinPartitions("doc_id")
        .writeTo(s"$cat.s").append()                                 // v4
      // one CDF read since the bootstrap; newest image per key wins
      // (preimages dropped — the replica needs the AFTER state)
      val feed = spark.read.format("graft.sources.GraftDocsSource")
        .option("path", wh.resolve("s").toString)
        .option("readChangeFeed", "true").option("startingVersion", "2")
        .load().filter(col("_change_type") =!= "update_preimage")
      val latest = feed.withColumn("rn",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("doc_id").orderBy(col("_commit_version").desc)))
        .filter(col("rn") === 1).drop("rn")
      latest.createOrReplaceTempView(s"${cat}_delta")
      val applied = spark.table(s"${cat}_delta").count()
      spark.sql(
        s"""MERGE INTO $cat.r t USING ${cat}_delta s ON t.doc_id = s.doc_id
           |WHEN MATCHED AND s._change_type = 'delete' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET
           |  title = s.title, fp = s.fp, n_words = s.n_words
           |WHEN NOT MATCHED AND s._change_type <> 'delete'
           |  THEN INSERT (doc_id, title, fp, n_words)
           |  VALUES (s.doc_id, s.title, s.fp, s.n_words)""".stripMargin)
      spark.catalog.dropTempView(s"${cat}_delta")
      val src = spark.table(s"$cat.s")
      val rep = spark.table(s"$cat.r")
      require(OpsUtil.sameRowsLocal(src, rep),
        "CDF replication diverged from the source")
      val audit = Seq("replica" -> rep, "source" -> src).map {
        case (m, df) =>
          df.agg(count(lit(1)).cast("long").as("n_rows"),
            sum("n_words").cast("long").as("sum_words"),
            sum("doc_id").cast("long").as("sum_doc_id"))
            .select(lit(m).as("mode"), col("n_rows"), col("sum_words"),
              col("sum_doc_id"), lit(applied).as("changes_applied"))
      }.reduce(_ unionByName _)
      OpsUtil.driverLiteral(audit.orderBy("mode"))
    }

  // ---------------------------------------------------------------------
  // q258: equality deletes — the fourth delete tier, zero data IO
  // ---------------------------------------------------------------------

  /** Iceberg v2's EQUALITY DELETE as the fourth delete tier
    * (`delete.mode=equality`), completing metadata-drop / deletion-
    * vector / copy-on-write: `DELETE WHERE doc_id IN (...)` commits the
    * VALUES into the manifest — positions unknown by design, ZERO data
    * bytes read or written; per-file min/max stats prune the value
    * attachment; readers drop matching rows as the file streams. The
    * values bind only to entries live AT the delete, so a later
    * re-insert of the same key is untouched — Iceberg's sequence-number
    * semantics by construction, pinned here ON THE HASH BAR: v3
    * re-inserts doc 8 and the audit shows it alive while the old file's
    * value mask still lists it.
    *
    * Lifecycle: v1 append [0,30) as 3 range files; v2 `IN (3,8,13,28)`
    * (4 values, stats-routed 2/1/1 across the files); v3 re-insert 8;
    * v4 `doc_id = 27`. Every phase row aggregates an actual versioned
    * read plus the manifest's value-mask total, with original bytes
    * hash-checked immutable throughout.
    *
    * Scale shape: deleting a key from a 100 TB table costs one manifest
    * line per may-contain file — no scan job at all, strictly cheaper
    * than deletion vectors (which must read to find positions). The
    * read-side cost is a per-row binary search against the file's value
    * set, only on files the delete actually touched. */
  val q258EqualityDelete: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r14_q258") { (cat, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "30").load()
        .repartitionByRange(3, col("doc_id"))
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("delete.mode", "equality").create()
      val tdir = wh.resolve("t")
      val originals = GraftVersions.latest(tdir).get.files
      val bytesBefore = originals.map(n =>
        n -> java.util.Arrays.hashCode(Files.readAllBytes(tdir.resolve(n)))).toMap
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id IN (3, 8, 13, 28)") // v2
      spark.sql(s"INSERT INTO $cat.t VALUES (8, 'back', 1, 5)")       // v3
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id = 27")              // v4
      val audit = GraftVersions.listVersions(tdir).map { v =>
        val eqTotal = v.entries.flatMap(_.eq).map(_.cardinality.toLong).sum
        val immutable = originals.forall(n =>
          java.util.Arrays.hashCode(Files.readAllBytes(tdir.resolve(n))) ==
            bytesBefore(n))
        spark.sql(
          s"""SELECT ${v.version}L AS version, '${v.op}' AS op,
             |  COUNT(*) AS n_rows,
             |  COALESCE(SUM(n_words), 0L) AS sum_words,
             |  COALESCE(SUM(doc_id), 0L) AS sum_doc_id,
             |  ${eqTotal}L AS eq_values, $immutable AS bytes_immutable
             |FROM $cat.t VERSION AS OF ${v.version}""".stripMargin)
      }.reduce(_ unionByName _)
      OpsUtil.driverLiteral(audit.orderBy("version"))
    }

  // ---------------------------------------------------------------------
  // q259: STREAMING CDC replication — the always-on face of q257
  // ---------------------------------------------------------------------

  /** q257's replication pipeline as a STREAM: the source's change feed
    * (CDF mode — row-exact images) drives a `foreachBatch` MERGE into
    * the replica, checkpointed so each drain RESUMES from the consumed
    * commit instead of re-reading history. The stream admits exactly
    * one commit per micro-batch, so keys are unique within a batch
    * (preimages dropped) and cross-commit ordering is the stream's
    * own; the MERGE's three verbs are idempotent on replay (same end
    * state), which is what makes foreachBatch's at-least-once contract
    * an exactly-once replica. Two drains with commits between them
    * audit the checkpoint seam; a require proves replica ≡ source
    * row-for-row at BOTH phases before anything is hashed.
    *
    * Scale shape: each micro-batch moves |one commit's changes| + one
    * merge shuffle on the key — the 100 TB source is never rescanned
    * after the bootstrap; this is the Delta streaming-CDF-to-replica
    * pattern composed from this repo's own verified feed and merge. */
  val q259StreamingReplication: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r14_q259") { (cat, wh) =>
      val ckpt = Scratch.dir(wh, "rep")
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "15").load().coalesce(1)
        .writeTo(s"$cat.s").tableProperty("versioned", "true")
        .tableProperty("update.mode", "merge-on-read")
        .tableProperty("delete.mode", "merge-on-read").create()
      spark.sql(s"SELECT * FROM $cat.s VERSION AS OF 1")
        .writeTo(s"$cat.r").tableProperty("versioned", "true").create()
      var applied = 0L
      def drain(): Unit = {
        val q = spark.readStream.format("graft.sources.GraftDocsSource")
          .option("path", wh.resolve("s").toString)
          .option("readChangeFeed", "true")
          .option("startingVersion", "2").load()
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val b = batch.filter(col("_change_type") =!= "update_preimage")
            b.createOrReplaceTempView(s"${cat}_b")
            applied += b.count()
            b.sparkSession.sql(
              s"""MERGE INTO $cat.r t USING ${cat}_b s
                 |ON t.doc_id = s.doc_id
                 |WHEN MATCHED AND s._change_type = 'delete' THEN DELETE
                 |WHEN MATCHED THEN UPDATE SET
                 |  title = s.title, fp = s.fp, n_words = s.n_words
                 |WHEN NOT MATCHED AND s._change_type <> 'delete'
                 |  THEN INSERT (doc_id, title, fp, n_words)
                 |  VALUES (s.doc_id, s.title, s.fp, s.n_words)
                 |""".stripMargin)
            ()
          }
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        Scratch.drain(q, "q259: replication")
      }
      def audit(phase: String): DataFrame = {
        val src = spark.table(s"$cat.s")
        val rep = spark.table(s"$cat.r")
        require(OpsUtil.sameRowsLocal(src, rep),
          s"$phase: streaming replica diverged from the source")
        OpsUtil.driverLiteral(rep.agg(
          count(lit(1)).cast("long").as("n_rows"),
          sum("n_words").cast("long").as("sum_words"),
          sum("doc_id").cast("long").as("sum_doc_id"))
          .select(lit(phase).as("phase"), col("n_rows"),
            col("sum_words"), col("sum_doc_id"),
            lit(applied).as("changes_applied")))
      }
      spark.sql(
        s"UPDATE $cat.s SET n_words = n_words + 1000 WHERE doc_id % 4 = 1")
      spark.sql(s"DELETE FROM $cat.s WHERE doc_id % 6 = 2")
      drain()
      val a = audit("a_first_drain")
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "20").load().filter(col("doc_id") >= 15)
        .coalesce(1).createOrReplaceTempView(s"${cat}_ins")
      spark.sql(s"INSERT INTO $cat.s SELECT * FROM ${cat}_ins")
      spark.catalog.dropTempView(s"${cat}_ins")
      spark.sql(s"DELETE FROM $cat.s WHERE doc_id IN (1, 16)")
      drain() // resumes from the checkpointed commit — no re-reads
      val b = audit("b_second_drain")
      a.unionByName(b).orderBy("phase")
    }

  // ---------------------------------------------------------------------
  // q260: subquery predicates through the row-level DML paths
  // ---------------------------------------------------------------------

  /** DML whose WHERE is another QUERY — the anti-join/semi-join face
    * of row-level operations: `DELETE ... WHERE doc_id IN (SELECT ...)`
    * and a correlated `UPDATE ... WHERE EXISTS (...)`, both against a
    * merge-on-read table. Catalyst decorrelates the subqueries into
    * joins inside the row-level plan's scan side, so the MOR delta
    * writer sees exactly the matched row ids — no new writer surface,
    * the masks compose as always (7 delete masks, then 4 update
    * preimage masks across the same two files; nothing fully masks, so
    * nothing drops). This is the everyday production shape ("delete
    * docs flagged by the quality table", "update rows the crawl
    * re-fetched") that plain literal predicates never exercise.
    *
    * Scale shape: the subquery side is an ordinary broadcast/shuffle
    * semi-join against the candidate files — manifest stats still
    * prune the scan side, and the commit stays one manifest advance. */
  val q260SubqueryDml: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r14_q260") { (cat, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "20").load().coalesce(2)
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("delete.mode", "merge-on-read")
        .tableProperty("update.mode", "merge-on-read").create()
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "30").load()
        .createOrReplaceTempView(s"${cat}_aux")
      spark.sql(
        s"""DELETE FROM $cat.t WHERE doc_id IN
           |  (SELECT doc_id FROM ${cat}_aux WHERE doc_id % 3 = 0)
           |""".stripMargin)                                        // v2
      spark.sql(
        s"""UPDATE $cat.t SET n_words = 0 WHERE EXISTS
           |  (SELECT 1 FROM ${cat}_aux a
           |   WHERE a.doc_id = $cat.t.doc_id AND a.doc_id % 4 = 1)
           |""".stripMargin)                                        // v3
      spark.catalog.dropTempView(s"${cat}_aux")
      val audit = GraftVersions.listVersions(wh.resolve("t")).map { v =>
        val masked = v.entries.flatMap(_.dv).map(_.cardinality.toLong).sum
        spark.sql(
          s"""SELECT ${v.version}L AS version, '${v.op}' AS op,
             |  COUNT(*) AS n_rows,
             |  COALESCE(SUM(n_words), 0L) AS sum_words,
             |  COALESCE(SUM(doc_id), 0L) AS sum_doc_id,
             |  ${masked}L AS masked_rows
             |FROM $cat.t VERSION AS OF ${v.version}""".stripMargin)
      }.reduce(_ unionByName _)
      OpsUtil.driverLiteral(audit.orderBy("version"))
    }

  val queries: Map[String, Q] = Map(
    "q238_schema_evolution" -> q238SchemaEvolution,
    "q239_decision_tree" -> q239DecisionTree,
    "q240_change_feed_images" -> q240ChangeFeedImages,
    "q241_schema_mutation" -> q241SchemaMutation,
    "q242_type_widening" -> q242TypeWidening,
    "q243_column_defaults" -> q243ColumnDefaults,
    "q244_shallow_clone" -> q244ShallowClone,
    "q245_table_tags" -> q245TableTags,
    "q246_merge_evolution" -> q246MergeEvolution,
    "q247_branch_wap" -> q247BranchWap,
    "q248_expire_snapshots" -> q248ExpireSnapshots,
    "q249_row_lineage" -> q249RowLineage,
    "q250_remove_orphans" -> q250RemoveOrphans,
    "q251_batch_cdf" -> q251BatchCdf,
    "q252_incremental_agg" -> q252IncrementalAgg,
    "q253_partition_evolution" -> q253PartitionEvolution,
    "q254_partitions_table" -> q254PartitionsTable,
    "q255_merge_matrix" -> q255MergeMatrix,
    "q256_refs_table" -> q256RefsTable,
    "q257_cdc_replication" -> q257CdcReplication,
    "q258_equality_delete" -> q258EqualityDelete,
    "q259_streaming_replication" -> q259StreamingReplication,
    "q260_subquery_dml" -> q260SubqueryDml)

  val oracle: Map[String, String] = Map(
    "q238_schema_evolution" ->
      """WITH w AS (SELECT i, i % 91 + 9 AS nw FROM range(0, 30) t(i)),
        |s20 AS (SELECT SUM(nw) AS sw FROM w WHERE i < 20),
        |s30 AS (SELECT SUM(nw) AS sw FROM w),
        |ins AS (SELECT SUM(i * 3) AS ss FROM w WHERE i >= 20),
        |v(phase, n_cols, n_rows, sum_words, score_nulls, sum_score) AS
        |  (VALUES
        |  ('a_pre_evolution', 4, 20, (SELECT sw FROM s20), -1, -1),
        |  ('b_post_add', 5, 20, (SELECT sw FROM s20), 20, 0),
        |  ('c_post_insert', 5, 30, (SELECT sw FROM s30), 20,
        |    (SELECT ss FROM ins)),
        |  ('d_live', 5, 30, (SELECT sw FROM s30), 15,
        |    (SELECT 500 + ss FROM ins)))
        |SELECT phase, CAST(n_cols AS BIGINT) AS n_cols,
        |  CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(sum_words AS BIGINT) AS sum_words,
        |  CAST(score_nulls AS BIGINT) AS score_nulls,
        |  CAST(sum_score AS BIGINT) AS sum_score
        |FROM v ORDER BY phase""".stripMargin,
    "q239_decision_tree" ->
      """WITH f AS (
        |  SELECT CAST(floor(value / 10.0) AS BIGINT) AS x1,
        |    ((CAST(floor(value * 7) AS BIGINT) % 5) + 5) % 5 AS x2,
        |    CAST(floor(COALESCE(
        |      CAST(json_extract_string(props, '$.k') AS DOUBLE), 0.0))
        |      AS BIGINT) AS x3,
        |    CASE WHEN hour(ts) BETWEEN 8 AND 18 THEN 1 ELSE 0 END AS y
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |cand0 AS (
        |  SELECT 'x1' AS fname, x1 AS v, COUNT(*) AS n, SUM(y) AS p
        |    FROM f GROUP BY x1
        |  UNION ALL SELECT 'x2', x2, COUNT(*), SUM(y) FROM f GROUP BY x2
        |  UNION ALL SELECT 'x3', x3, COUNT(*), SUM(y) FROM f GROUP BY x3),
        |sc0 AS (
        |  SELECT fname, v,
        |    SUM(n) OVER (PARTITION BY fname ORDER BY v) AS nl,
        |    SUM(p) OVER (PARTITION BY fname ORDER BY v) AS pl,
        |    SUM(n) OVER (PARTITION BY fname) AS nt,
        |    SUM(p) OVER (PARTITION BY fname) AS pt
        |  FROM cand0),
        |best0 AS (
        |  SELECT fname, v,
        |    (nl - CAST(pl*pl + (nl-pl)*(nl-pl) AS DOUBLE)
        |       / CAST(nl AS DOUBLE))
        |    + ((nt-nl) - CAST((pt-pl)*(pt-pl)
        |         + ((nt-nl)-(pt-pl))*((nt-nl)-(pt-pl)) AS DOUBLE)
        |       / CAST(nt-nl AS DOUBLE)) AS gini, nt, pt
        |  FROM sc0 WHERE nl < nt ORDER BY gini, fname, v LIMIT 1),
        |fl AS (SELECT f.* FROM f, best0 b WHERE
        |  (CASE b.fname WHEN 'x1' THEN x1 WHEN 'x2' THEN x2 ELSE x3 END)
        |    <= b.v),
        |fr AS (SELECT f.* FROM f, best0 b WHERE
        |  (CASE b.fname WHEN 'x1' THEN x1 WHEN 'x2' THEN x2 ELSE x3 END)
        |    > b.v),
        |candl AS (
        |  SELECT 'x1' AS fname, x1 AS v, COUNT(*) AS n, SUM(y) AS p
        |    FROM fl GROUP BY x1
        |  UNION ALL SELECT 'x2', x2, COUNT(*), SUM(y) FROM fl GROUP BY x2
        |  UNION ALL SELECT 'x3', x3, COUNT(*), SUM(y) FROM fl GROUP BY x3),
        |scl AS (
        |  SELECT fname, v,
        |    SUM(n) OVER (PARTITION BY fname ORDER BY v) AS nl,
        |    SUM(p) OVER (PARTITION BY fname ORDER BY v) AS pl,
        |    SUM(n) OVER (PARTITION BY fname) AS nt,
        |    SUM(p) OVER (PARTITION BY fname) AS pt
        |  FROM candl),
        |bestl AS (
        |  SELECT fname, v,
        |    (nl - CAST(pl*pl + (nl-pl)*(nl-pl) AS DOUBLE)
        |       / CAST(nl AS DOUBLE))
        |    + ((nt-nl) - CAST((pt-pl)*(pt-pl)
        |         + ((nt-nl)-(pt-pl))*((nt-nl)-(pt-pl)) AS DOUBLE)
        |       / CAST(nt-nl AS DOUBLE)) AS gini, nt, pt
        |  FROM scl WHERE nl < nt ORDER BY gini, fname, v LIMIT 1),
        |candr AS (
        |  SELECT 'x1' AS fname, x1 AS v, COUNT(*) AS n, SUM(y) AS p
        |    FROM fr GROUP BY x1
        |  UNION ALL SELECT 'x2', x2, COUNT(*), SUM(y) FROM fr GROUP BY x2
        |  UNION ALL SELECT 'x3', x3, COUNT(*), SUM(y) FROM fr GROUP BY x3),
        |scr AS (
        |  SELECT fname, v,
        |    SUM(n) OVER (PARTITION BY fname ORDER BY v) AS nl,
        |    SUM(p) OVER (PARTITION BY fname ORDER BY v) AS pl,
        |    SUM(n) OVER (PARTITION BY fname) AS nt,
        |    SUM(p) OVER (PARTITION BY fname) AS pt
        |  FROM candr),
        |bestr AS (
        |  SELECT fname, v,
        |    (nl - CAST(pl*pl + (nl-pl)*(nl-pl) AS DOUBLE)
        |       / CAST(nl AS DOUBLE))
        |    + ((nt-nl) - CAST((pt-pl)*(pt-pl)
        |         + ((nt-nl)-(pt-pl))*((nt-nl)-(pt-pl)) AS DOUBLE)
        |       / CAST(nt-nl AS DOUBLE)) AS gini, nt, pt
        |  FROM scr WHERE nl < nt ORDER BY gini, fname, v LIMIT 1),
        |leafed AS (
        |  SELECT y,
        |    CASE WHEN (CASE (SELECT fname FROM best0)
        |        WHEN 'x1' THEN x1 WHEN 'x2' THEN x2 ELSE x3 END)
        |        <= (SELECT v FROM best0)
        |      THEN CASE WHEN (SELECT fname FROM bestl) IS NULL
        |          OR (CASE (SELECT fname FROM bestl)
        |            WHEN 'x1' THEN x1 WHEN 'x2' THEN x2 ELSE x3 END)
        |            <= (SELECT v FROM bestl)
        |        THEN 'LL' ELSE 'LR' END
        |      ELSE CASE WHEN (SELECT fname FROM bestr) IS NULL
        |          OR (CASE (SELECT fname FROM bestr)
        |            WHEN 'x1' THEN x1 WHEN 'x2' THEN x2 ELSE x3 END)
        |            <= (SELECT v FROM bestr)
        |        THEN 'RL' ELSE 'RR' END
        |    END AS node
        |  FROM f),
        |rows_out AS (
        |  SELECT 'root' AS node, fname AS feature, v AS threshold,
        |    nt AS n_rows, pt AS n_pos, -1 AS pred, -1 AS correct,
        |    CAST(floor(gini * 1e6) AS BIGINT) AS gini_q FROM best0
        |  UNION ALL SELECT 'L', fname, v, nt, pt, -1, -1,
        |    CAST(floor(gini * 1e6) AS BIGINT) FROM bestl
        |  UNION ALL SELECT 'R', fname, v, nt, pt, -1, -1,
        |    CAST(floor(gini * 1e6) AS BIGINT) FROM bestr
        |  UNION ALL SELECT node, 'leaf', -1, COUNT(*), SUM(y),
        |    CASE WHEN 2*SUM(y) >= COUNT(*) THEN 1 ELSE 0 END,
        |    CASE WHEN 2*SUM(y) >= COUNT(*) THEN SUM(y)
        |         ELSE COUNT(*) - SUM(y) END, -1
        |  FROM leafed GROUP BY node)
        |SELECT node, feature, CAST(threshold AS BIGINT) AS threshold,
        |  CAST(n_rows AS BIGINT) AS n_rows, CAST(n_pos AS BIGINT) AS n_pos,
        |  CAST(pred AS BIGINT) AS pred, CAST(correct AS BIGINT) AS correct,
        |  CAST(gini_q AS BIGINT) AS gini_q
        |FROM rows_out ORDER BY node""".stripMargin,
    "q240_change_feed_images" ->
      """WITH w AS (SELECT i, i % 91 + 9 AS nw FROM range(0, 12) t(i)),
        |v(phase, change_type, commit_version, n_rows, sum_words,
        |  sum_doc_id) AS (VALUES
        |  ('a_first', 'insert', 1, 12, (SELECT SUM(nw) FROM w), 66),
        |  ('a_first', 'update_preimage', 2, 3,
        |    (SELECT SUM(nw) FROM w WHERE i < 3), 3),
        |  ('a_first', 'update_postimage', 2, 3, 0, 3),
        |  ('b_second', 'insert', 1, 12, (SELECT SUM(nw) FROM w), 66),
        |  ('b_second', 'update_preimage', 2, 3,
        |    (SELECT SUM(nw) FROM w WHERE i < 3), 3),
        |  ('b_second', 'update_postimage', 2, 3, 0, 3),
        |  ('b_second', 'update_preimage', 3, 2,
        |    (SELECT SUM(nw) FROM w WHERE i >= 3 AND i < 5), 7),
        |  ('b_second', 'update_postimage', 3, 2, 0, 7),
        |  ('b_second', 'delete', 4, 2,
        |    (SELECT SUM(nw) FROM w WHERE i >= 10), 21))
        |SELECT phase, change_type,
        |  CAST(commit_version AS BIGINT) AS commit_version,
        |  CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(sum_words AS BIGINT) AS sum_words,
        |  CAST(sum_doc_id AS BIGINT) AS sum_doc_id
        |FROM v ORDER BY phase, commit_version, change_type""".stripMargin,
    "q241_schema_mutation" ->
      """WITH s1 AS (SELECT SUM(i * 2) AS v FROM range(12, 18) t(i)),
        |s2 AS (SELECT SUM(i * 5) AS v FROM range(18, 24) t(i)),
        |s3 AS (SELECT SUM(i * 7) AS v FROM range(24, 27) t(i)),
        |ls AS (SELECT SUM(i) AS v FROM range(24, 27) t(i)),
        |v(phase, n_cols, q_name, lang_kind, n_rows, sum_q,
        |  lang_distinct, lang_sum) AS (VALUES
        |  ('a_pre_rename', 6, 'score', 'str', 18,
        |    (SELECT v FROM s1), 2, -1),
        |  ('b_post_rename', 6, 'quality', 'str', 24,
        |    (SELECT s1.v + s2.v FROM s1, s2), 3, -1),
        |  ('c_post_drop', 5, 'quality', 'absent', 24,
        |    (SELECT s1.v + s2.v FROM s1, s2), -1, -1),
        |  ('d_live', 6, 'quality', 'int', 27,
        |    (SELECT s1.v + s2.v + s3.v FROM s1, s2, s3), -1,
        |    (SELECT v FROM ls)))
        |SELECT phase, CAST(n_cols AS BIGINT) AS n_cols, q_name,
        |  lang_kind, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(sum_q AS BIGINT) AS sum_q,
        |  CAST(lang_distinct AS BIGINT) AS lang_distinct,
        |  CAST(lang_sum AS BIGINT) AS lang_sum
        |FROM v ORDER BY phase""".stripMargin,
    "q242_type_widening" ->
      """WITH s1 AS (SELECT SUM(i * 2) AS v FROM range(8, 12) t(i)),
        |s2 AS (SELECT SUM(i + 3000000000) AS v FROM range(12, 16) t(i)),
        |v(phase, hits_type, n_rows, sum_hits) AS (VALUES
        |  ('a_pre_widen', 'int', 12, (SELECT v FROM s1)),
        |  ('b_post_widen', 'bigint', 12, (SELECT v FROM s1)),
        |  ('c_live', 'bigint', 16, (SELECT s1.v + s2.v FROM s1, s2)))
        |SELECT phase, hits_type, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(sum_hits AS BIGINT) AS sum_hits
        |FROM v ORDER BY phase""".stripMargin,
    "q244_shallow_clone" ->
      """WITH v(phase, src_rows, clone_rows, ok) AS (VALUES
        |  ('a_birth', 15, 15, 1),
        |  ('b_diverged', 15, 17, 1),
        |  ('c_vacuumed', 15, 17, 1))
        |SELECT phase, CAST(src_rows AS BIGINT) AS src_rows,
        |  CAST(clone_rows AS BIGINT) AS clone_rows,
        |  CAST(ok AS BIGINT) AS ok
        |FROM v ORDER BY phase""".stripMargin,
    // every expected id derives from first principles: one sorted file
    // per append means id = doc_id at birth; doc 5's update retires id 5
    // and draws the next fresh id (18, the 19th row version); deletes
    // and the OPTIMIZE between the appends must not disturb any of it
    // v1 lands 8 rows as 2 spec-0 files; the evolved append lands 8
    // more as 4 spec-1 files (mixed snapshot: 6 files, 2 specs);
    // OPTIMIZE migrates everything to 4 spec-1 files
    // closed-form from the layout algebra: evens/odds under bucket(2)
    // for [0,20), mod-4 classes of 5 for [20,40); masks at 2, 21, 27
    "q254_partitions_table" ->
      """WITH v(spec, bucket, files, rows, masked, live_rows) AS (VALUES
        |  (0, 0, 1, 10, 1, 9),
        |  (0, 1, 1, 10, 0, 10),
        |  (1, 0, 1, 5, 0, 5),
        |  (1, 1, 1, 5, 1, 4),
        |  (1, 2, 1, 5, 0, 5),
        |  (1, 3, 1, 5, 1, 4))
        |SELECT CAST(spec AS INTEGER) AS spec,
        |  CAST(bucket AS INTEGER) AS bucket,
        |  CAST(files AS BIGINT) AS files, CAST(rows AS BIGINT) AS rows,
        |  CAST(masked AS BIGINT) AS masked,
        |  CAST(live_rows AS BIGINT) AS live_rows
        |FROM v ORDER BY spec, bucket""".stripMargin,
    // the five-branch MERGE replayed from generator first principles
    // (n_words = i % 91 + 9): survivors are 0..9 (0..4 with n_words=1),
    // matched non-%3=1 rows of 15..29 (%3=0 zeroed), and inserts 30..34;
    // the MOR mask count is 4 touching branches × 5 rows = 20
    "q255_merge_matrix" ->
      """WITH w AS (SELECT i, i % 91 + 9 AS nw FROM range(0, 40) t(i)),
        |f AS (SELECT i, CASE WHEN i < 5 THEN 1
        |                     WHEN i >= 15 AND i < 30 AND i % 3 = 0 THEN 0
        |                     ELSE nw END AS nw
        |      FROM w WHERE i < 10
        |         OR (i >= 15 AND i < 30 AND i % 3 <> 1)
        |         OR (i >= 30 AND i < 35)),
        |m(mode, masked) AS (VALUES ('cow', 0), ('mor', 20))
        |SELECT mode, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(nw) AS BIGINT) AS sum_words,
        |  CAST(SUM(i) AS BIGINT) AS sum_doc_id,
        |  CAST(masked AS BIGINT) AS masked_rows
        |FROM f CROSS JOIN m GROUP BY mode, masked ORDER BY mode""".stripMargin,
    // the refs lifecycle is fully deterministic: main create+insert →
    // v2, tag pins v1, the branch forks at main v2 (its own clone log
    // restarts at v0) and one insert puts its head at v1
    "q256_refs_table" ->
      """WITH v(name, type, version, base_version) AS (VALUES
        |  ('dev', 'branch', 1, 2),
        |  ('gold', 'tag', 1, NULL),
        |  ('main', 'branch', 2, NULL))
        |SELECT name, type, CAST(version AS BIGINT) AS version,
        |  CAST(base_version AS BIGINT) AS base_version
        |FROM v ORDER BY name""".stripMargin,
    // the replicated state from generator first principles: [0,20)
    // minus the v3 deletes (i%5=3 among rows present then), +1000 for
    // the v2 updates (i%7=3, i<20), plus the late appends 20..24; the
    // applied delta is 11 latest-images (3 postimages + 4 deletes + 5
    // inserts, with key 3's update superseded by its delete)
    "q257_cdc_replication" ->
      """WITH w AS (SELECT i, i % 91 + 9 AS nw FROM range(0, 25) t(i)),
        |f AS (SELECT i, nw +
        |        CASE WHEN i % 7 = 3 AND i < 20 THEN 1000 ELSE 0 END AS nw
        |      FROM w WHERE i % 5 <> 3 OR i >= 20),
        |m(mode) AS (VALUES ('replica'), ('source'))
        |SELECT mode, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(nw) AS BIGINT) AS sum_words,
        |  CAST(SUM(i) AS BIGINT) AS sum_doc_id,
        |  CAST(11 AS BIGINT) AS changes_applied
        |FROM f CROSS JOIN m GROUP BY mode ORDER BY mode""".stripMargin,
    // the equality-delete lifecycle from generator first principles:
    // n_words = i % 91 + 9; the 3 range files hold [0,10)/[10,20)/
    // [20,30), so IN (3,8,13,28) attaches 2+1+1 = 4 values; the v3
    // re-insert of 8 (n_words=5) is a FRESH entry the old value mask
    // cannot touch; v4 adds one more value on the third file
    "q258_equality_delete" ->
      """WITH w AS (SELECT i, i % 91 + 9 AS nw FROM range(0, 30) t(i)),
        |live1 AS (SELECT COUNT(*) c, SUM(nw) s, SUM(i) d FROM w),
        |live2 AS (SELECT COUNT(*) c, SUM(nw) s, SUM(i) d FROM w
        |          WHERE i NOT IN (3, 8, 13, 28)),
        |v(version, op, n_rows, sum_words, sum_doc_id, eq_values,
        |  bytes_immutable) AS (VALUES
        |  (0, 'enable', 0, 0, 0, 0, TRUE),
        |  (1, 'append', (SELECT c FROM live1), (SELECT s FROM live1),
        |    (SELECT d FROM live1), 0, TRUE),
        |  (2, 'delete-equality', (SELECT c FROM live2),
        |    (SELECT s FROM live2), (SELECT d FROM live2), 4, TRUE),
        |  (3, 'append', (SELECT c + 1 FROM live2),
        |    (SELECT s + 5 FROM live2), (SELECT d + 8 FROM live2), 4,
        |    TRUE),
        |  (4, 'delete-equality', (SELECT c FROM live2),
        |    (SELECT s + 5 - nw FROM live2, w WHERE w.i = 27),
        |    (SELECT d + 8 - 27 FROM live2), 5, TRUE))
        |SELECT CAST(version AS BIGINT) AS version, op,
        |  CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(sum_words AS BIGINT) AS sum_words,
        |  CAST(sum_doc_id AS BIGINT) AS sum_doc_id,
        |  CAST(eq_values AS BIGINT) AS eq_values,
        |  bytes_immutable
        |FROM v ORDER BY version""".stripMargin,
    // the replicated stream from generator first principles: phase a =
    // [0,15) with +1000 on i%4=1 minus the i%6=2 deletes (applied = 4
    // postimages + 3 deletes); phase b adds [15,20) and deletes {1,16}
    // (applied += 5 inserts + 2 deletes)
    "q259_streaming_replication" ->
      """WITH w AS (SELECT i, i % 91 + 9 AS nw FROM range(0, 20) t(i)),
        |a AS (SELECT i, nw +
        |        CASE WHEN i % 4 = 1 THEN 1000 ELSE 0 END AS nw
        |      FROM w WHERE i < 15 AND i % 6 <> 2),
        |b AS (SELECT i, nw FROM a WHERE i <> 1
        |      UNION ALL
        |      SELECT i, nw FROM w WHERE i >= 15 AND i <> 16)
        |SELECT 'a_first_drain' AS phase,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(nw) AS BIGINT) AS sum_words,
        |  CAST(SUM(i) AS BIGINT) AS sum_doc_id,
        |  CAST(7 AS BIGINT) AS changes_applied
        |FROM a
        |UNION ALL
        |SELECT 'b_second_drain', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(nw) AS BIGINT), CAST(SUM(i) AS BIGINT),
        |  CAST(14 AS BIGINT)
        |FROM b
        |ORDER BY phase""".stripMargin,
    // subquery DML replayed from generator first principles: the IN
    // subquery deletes i%3=0 (7 masks over [0,20)); the correlated
    // EXISTS zeroes n_words on surviving i%4=1 rows (4 more masks —
    // MOR update preimages)
    "q260_subquery_dml" ->
      """WITH w AS (SELECT i, i % 91 + 9 AS nw FROM range(0, 20) t(i)),
        |d AS (SELECT i, nw FROM w WHERE i % 3 <> 0),
        |u AS (SELECT i, CASE WHEN i % 4 = 1 THEN 0 ELSE nw END AS nw
        |      FROM d),
        |v(version, op, n_rows, sum_words, sum_doc_id, masked_rows) AS
        |  (VALUES
        |  (0, 'enable', 0, 0, 0, 0),
        |  (1, 'append', (SELECT COUNT(*) FROM w), (SELECT SUM(nw) FROM w),
        |    (SELECT SUM(i) FROM w), 0),
        |  (2, 'delete', (SELECT COUNT(*) FROM d), (SELECT SUM(nw) FROM d),
        |    (SELECT SUM(i) FROM d), 7),
        |  (3, 'update', (SELECT COUNT(*) FROM u), (SELECT SUM(nw) FROM u),
        |    (SELECT SUM(i) FROM d), 11))
        |SELECT CAST(version AS BIGINT) AS version, op,
        |  CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(sum_words AS BIGINT) AS sum_words,
        |  CAST(sum_doc_id AS BIGINT) AS sum_doc_id,
        |  CAST(masked_rows AS BIGINT) AS masked_rows
        |FROM v ORDER BY version""".stripMargin,
    "q253_partition_evolution" ->
      """WITH v(phase, n_rows, n_files, n_specs) AS (VALUES
        |  ('a_two_buckets', 8, 2, 1),
        |  ('b_evolved_mixed', 16, 6, 2),
        |  ('c_optimized_migrated', 16, 4, 1))
        |SELECT phase, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_files AS BIGINT) AS n_files,
        |  CAST(n_specs AS BIGINT) AS n_specs
        |FROM v ORDER BY phase""".stripMargin,
    // full-recompute from generator first principles: live rows are
    // 0..17 minus the deletes {4, 13}, with doc 7 carrying the +1000
    // update — the incremental CDF path must land exactly here
    "q252_incremental_agg" ->
      """SELECT CAST(d % 4 AS BIGINT) AS k,
        |  CAST(SUM(d % 91 + 9 +
        |    CASE WHEN d = 7 THEN 1000 ELSE 0 END) AS BIGINT)
        |    AS sum_words,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM range(0, 18) t(d)
        |WHERE d NOT IN (4, 13)
        |GROUP BY d % 4 ORDER BY k""".stripMargin,
    // n_words derives from the generator (doc_id % 91 + 9); the update
    // postimage adds the +1000 bump; the bounded scope is the exact
    // [2, 3] prefix of the full [2, latest] read
    "q251_batch_cdf" ->
      """WITH r(doc_id, change_type, commit_version, bump, bounded) AS
        |  (VALUES
        |  (8, 'insert', 2, 0, 1), (9, 'insert', 2, 0, 1),
        |  (10, 'insert', 2, 0, 1), (11, 'insert', 2, 0, 1),
        |  (1, 'delete', 3, 0, 1), (9, 'delete', 3, 0, 1),
        |  (3, 'update_preimage', 4, 0, 0),
        |  (3, 'update_postimage', 4, 1000, 0),
        |  (12, 'insert', 5, 0, 0), (13, 'insert', 5, 0, 0)),
        |b AS (
        |  SELECT 'full' AS scope, doc_id, change_type, commit_version,
        |    doc_id % 91 + 9 + bump AS n_words FROM r
        |  UNION ALL
        |  SELECT 'bounded', doc_id, change_type, commit_version,
        |    doc_id % 91 + 9 + bump FROM r WHERE bounded = 1)
        |SELECT scope, CAST(doc_id AS BIGINT) AS doc_id, change_type,
        |  CAST(commit_version AS BIGINT) AS commit_version,
        |  CAST(n_words AS INT) AS n_words
        |FROM b
        |ORDER BY scope, commit_version, change_type, doc_id""".stripMargin,
    "q250_remove_orphans" ->
      """WITH v(phase, removed, live_rows, n_versions) AS (VALUES
        |  ('a_cutoff_protects', 0, 12, 3),
        |  ('b_orphans_removed', 3, 12, 3))
        |SELECT phase, CAST(removed AS BIGINT) AS removed,
        |  CAST(live_rows AS BIGINT) AS live_rows,
        |  CAST(n_versions AS BIGINT) AS n_versions
        |FROM v ORDER BY phase""".stripMargin,
    "q249_row_lineage" ->
      """SELECT CAST(d AS BIGINT) AS doc_id,
        |  CAST(CASE WHEN d = 5 THEN 18 ELSE d END AS BIGINT) AS row_id,
        |  CAST(CASE WHEN d = 5 THEN 6 WHEN d < 10 THEN 1
        |       WHEN d < 15 THEN 2 ELSE 5 END AS BIGINT) AS row_cv
        |FROM range(0, 18) t(d)
        |WHERE d NOT IN (2, 11)
        |ORDER BY doc_id""".stripMargin,
    "q248_expire_snapshots" ->
      """WITH v(phase, n_expired, n_versions, tag_rows, ok) AS (VALUES
        |  ('a_cutoff_v3', 2, 3, 10, 1),
        |  ('b_cutoff_all', 1, 2, 10, 1))
        |SELECT phase, CAST(n_expired AS BIGINT) AS n_expired,
        |  CAST(n_versions AS BIGINT) AS n_versions,
        |  CAST(tag_rows AS BIGINT) AS tag_rows,
        |  CAST(ok AS BIGINT) AS ok
        |FROM v ORDER BY phase""".stripMargin,
    "q247_branch_wap" ->
      """WITH v(phase, main_rows, branch_rows, ok) AS (VALUES
        |  ('a_isolated', 10, 13, 1),
        |  ('b_published', 13, -1, 1),
        |  ('c_diverged_rejected', 14, -1, 1))
        |SELECT phase, CAST(main_rows AS BIGINT) AS main_rows,
        |  CAST(branch_rows AS BIGINT) AS branch_rows,
        |  CAST(ok AS BIGINT) AS ok
        |FROM v ORDER BY phase""".stripMargin,
    "q246_merge_evolution" ->
      """WITH s AS (SELECT SUM(2 * i) AS v FROM range(5, 15) t(i)),
        |v(phase, n_cols, n_rows, n_null_score, sum_score) AS (VALUES
        |  ('a_pre_merge', 4, 10, -1, -1),
        |  ('b_post_merge', 5, 15, 5, (SELECT v FROM s)))
        |SELECT phase, CAST(n_cols AS BIGINT) AS n_cols,
        |  CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_null_score AS BIGINT) AS n_null_score,
        |  CAST(sum_score AS BIGINT) AS sum_score
        |FROM v ORDER BY phase""".stripMargin,
    "q245_table_tags" ->
      """WITH v(phase, n_rows, n_versions, ok) AS (VALUES
        |  ('a_tagged', 15, 4, 1),
        |  ('b_vacuum_pinned', 15, 2, 1),
        |  ('c_tag_dropped', 20, 1, 1))
        |SELECT phase, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_versions AS BIGINT) AS n_versions,
        |  CAST(ok AS BIGINT) AS ok
        |FROM v ORDER BY phase""".stripMargin,
    "q243_column_defaults" ->
      """WITH sb AS (SELECT SUM(i) AS v FROM range(10, 14) t(i)),
        |v(phase, n_cols, n_rows, n_bronze, n_gold, n_null_tier,
        |  sum_boost) AS (VALUES
        |  ('a_pre_add', 4, 10, -1, -1, -1, -1),
        |  ('b_backfill', 6, 10, 10, 0, 0, 70),
        |  ('c_live', 6, 17, 12, 4, 1,
        |    (SELECT 70 + v + 14 FROM sb)))
        |SELECT phase, CAST(n_cols AS BIGINT) AS n_cols,
        |  CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_bronze AS BIGINT) AS n_bronze,
        |  CAST(n_gold AS BIGINT) AS n_gold,
        |  CAST(n_null_tier AS BIGINT) AS n_null_tier,
        |  CAST(sum_boost AS BIGINT) AS sum_boost
        |FROM v ORDER BY phase""".stripMargin)
}
