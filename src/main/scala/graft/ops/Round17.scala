package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Scratch.{insertRange, planFacts}
import OpsUtil.Q

/** Round-17 operators: widening the materialized-view OPTIMIZER
  * family —
  *
  *  - q286 FILTERED MV REWRITE: `SELECT key, SUM(x) FROM t WHERE
  *    <key-predicate> GROUP BY key` — the single most common
  *    production aggregate, and the reference's own shape (the
  *    notebook filters at /root/reference/Assignment-python.py:312
  *    and aggregates the survivors at :314) — answered from the
  *    \|groups\|-row view with the predicate re-applied over view
  *    rows; a key-only predicate admits or rejects each group
  *    WHOLESALE, which is exactly the soundness condition;
  *  - q289 MULTI-VIEW COST CHOICE: when several registered views can
  *    answer one query (a finer view matches everything its own
  *    roll-up matches), the rule picks the one with the fewest live
  *    rows off its manifest counters — the Calcite "cheapest
  *    satisfying view" policy at metadata cost.
  *
  * Scale shape: every rewrite here replaces a corpus scan + shuffle
  * with a \|groups\|-row view read; the filtered form additionally
  * keeps the predicate (a FilterExec over view rows, never a second
  * corpus pass). At 100 TB the win is the full scan that never runs.
  */
object Round17 {
  private def requireSameResult(a: DataFrame, b: DataFrame, what: String)
      : Unit =
    // view-grain aggregates: ≤ group-count rows at any scale, so the
    // audit compares on the driver (OpsUtil.sameRowsLocal) instead of
    // paying two exceptAll shuffles per check
    require(OpsUtil.sameRowsLocal(a, b),
      s"mv rewrite changed the $what result")

  // ---------------------------------------------------------------------
  // q286: FILTERED MV rewrite — WHERE over the view key, view-only plan
  // ---------------------------------------------------------------------

  /** Four faces of the filtered rewrite over one view
    * (key `doc_id % 6`, sum `n_words`, auto-maintained across a
    * DELETE):
    *
    *  - EQUALITY at the view grain (`WHERE doc_id % 6 = 2 GROUP BY
    *    doc_id % 6`): exact-match branch — the plan is a Filter +
    *    Project over view rows with NO aggregate at all;
    *  - COARSER predicate, global aggregate (`WHERE (doc_id % 6) % 2
    *    = 0`): roll-up branch — the predicate prunes view rows, one
    *    re-aggregation over the survivors;
    *  - NON-KEY predicate (`WHERE n_words > 20`): refused — a per-row
    *    filter changes group contents, so the corpus plan must stand
    *    (the negative control that guards the unsound direction);
    *  - TOP-K over the rewritten aggregate (`ORDER BY s DESC LIMIT
    *    2`): plans TakeOrderedAndProject over view rows — the
    *    reference's argmax instinct (Assignment-python.py:65) riding
    *    the rewrite for free.
    *
    * Every rewritten shape is require-checked against its rule-off
    * twin IN the query, and the plan facts ride in the hashed row —
    * a rewrite regression breaks a hash, not a trend. */
  val q286MvFilteredRewrite: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r17_q286") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |TBLPROPERTIES ('versioned' = 'true',
           |  'delete.mode' = 'merge-on-read')""".stripMargin)
      insertRange(spark, cat, "t", 0, 36)                                 // v1
      spark.sql(s"CALL $cat.system.create_mv(" +
        "'v', 't', 'doc_id % 6', 'n_words', true)")
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id IN (8, 21)")       // v2
      org.apache.spark.sql.GraftBridge.addOptimization(spark,
        graft.plans.MvRewriteRule(spark))
      def eqQ() = spark.sql(
        s"""SELECT doc_id % 6 AS k, SUM(n_words) AS sum_words,
           |  COUNT(*) AS n_docs
           |FROM $cat.t WHERE doc_id % 6 = 2
           |GROUP BY doc_id % 6""".stripMargin)
      def coarseQ() = spark.sql(
        s"""SELECT SUM(n_words) AS c_sum, COUNT(*) AS c_docs
           |FROM $cat.t WHERE (doc_id % 6) % 2 = 0""".stripMargin)
      def nonkeyQ() = spark.sql(
        s"""SELECT doc_id % 6 AS k, COUNT(*) AS n
           |FROM $cat.t WHERE n_words > 20
           |GROUP BY doc_id % 6""".stripMargin)
      def topkQ() = spark.sql(
        s"""SELECT doc_id % 6 AS k, SUM(n_words) AS s
           |FROM $cat.t WHERE doc_id % 6 <> 1
           |GROUP BY doc_id % 6 ORDER BY s DESC, k LIMIT 2""".stripMargin)
      val v = wh.resolve("v"); val t = wh.resolve("t")
      val eq = eqQ()
      val (eqScans, eqAgg) = planFacts(eq)
      val coarse = coarseQ()
      val (cScans, cAgg) = planFacts(coarse)
      val nonkey = nonkeyQ()
      val (nkScans, _) = planFacts(nonkey)
      val topk = topkQ()
      val (tkScans, _) = planFacts(topk)
      val tkTakeOrdered = topk.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => e
      }.nonEmpty
      Scratch.withoutMvRewrite(spark) {
        requireSameResult(eq, eqQ(), "filtered equality")
        requireSameResult(coarse, coarseQ(), "filtered coarse global")
        requireSameResult(topk, topkQ(), "filtered top-k")
      }
      val c = coarse.head()
      val out = eq
        .withColumn("eq_scans_view", lit(eqScans(v)))
        .withColumn("eq_scans_source", lit(eqScans(t)))
        .withColumn("eq_no_aggregate", lit(!eqAgg))
        .withColumn("coarse_scans_view", lit(cScans(v)))
        .withColumn("coarse_scans_source", lit(cScans(t)))
        .withColumn("coarse_keeps_aggregate", lit(cAgg))
        .withColumn("coarse_sum_words", lit(c.getLong(0)))
        .withColumn("coarse_n_docs", lit(c.getLong(1)))
        .withColumn("nonkey_scans_view", lit(nkScans(v)))
        .withColumn("nonkey_scans_source", lit(nkScans(t)))
        .withColumn("topk_scans_view", lit(tkScans(v)))
        .withColumn("topk_scans_source", lit(tkScans(t)))
        .withColumn("topk_take_ordered", lit(tkTakeOrdered))
      OpsUtil.driverLiteral(out)
    }

  // ---------------------------------------------------------------------
  // q287: MIN/MAX materialized views — insert fast path, delete fallback
  // ---------------------------------------------------------------------

  /** The non-distributive-aggregate contract: MIN/MAX views
    * (`create_mv(..., agg='min'/'max')`) fold extremum-of-extrema
    * while a refresh window holds only INSERTS, and recompute exactly
    * the delete-touched groups from the source when a delete may have
    * retired the extremum row. The audit drives both paths through
    * the refresh procedure's own output —
    *
    *   insert 12 rows → refresh: applied=12, recomputed_groups=0
    *   delete 2 rows  → refresh: applied=2,  recomputed_groups=2
    *
    * — then answers MIN at the view grain (exact rewrite: no
    * aggregate in the plan), global MIN and coarse MAX by roll-up
    * (extremum-of-extrema), while SUM correctly refuses to read an
    * extremum view (the negative control). All plan facts and both
    * refresh audits ride in the hashed row. */
  val q287MvMinMax: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r17_q287") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |TBLPROPERTIES ('versioned' = 'true',
           |  'delete.mode' = 'merge-on-read')""".stripMargin)
      insertRange(spark, cat, "t", 0, 36)                                 // v1
      spark.sql(s"CALL $cat.system.create_mv(" +
        "'vmin', 't', 'doc_id % 6', 'n_words', false, 'min')")
      spark.sql(s"CALL $cat.system.create_mv(" +
        "'vmax', 't', 'doc_id % 6', 'n_words', false, 'max')")
      // manual refreshes so each path's audit numbers are observable
      def refresh(view: String) = spark.sql(
        s"CALL $cat.system.refresh_mv('$view')")
        .select("applied_changes", "recomputed_groups").head()
      insertRange(spark, cat, "t", 36, 48)                                // v2
      val fast = refresh("vmin"); refresh("vmax")
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id IN (0, 7)")        // v3
      val del = refresh("vmin"); refresh("vmax")
      // rewrite discovery without auto-refresh: register the views
      // (no concurrent writers here, so the plain property write the
      // create_mv(auto=true) path locks for is race-free)
      graft.sources.GraftTableMeta.write(wh.resolve("t"),
        graft.sources.GraftTableMeta.read(wh.resolve("t")) +
          ("mv.dependents" -> "vmin,vmax"))
      org.apache.spark.sql.GraftBridge.addOptimization(spark,
        graft.plans.MvRewriteRule(spark))
      def minQ() = spark.sql(
        s"""SELECT doc_id % 6 AS k, MIN(n_words) AS min_words,
           |  COUNT(*) AS n_docs
           |FROM $cat.t GROUP BY doc_id % 6""".stripMargin)
      def globalMinQ() = spark.sql(
        s"SELECT MIN(n_words) AS m FROM $cat.t")
      def maxQ() = spark.sql(
        s"""SELECT (doc_id % 6) % 2 AS k2, MAX(n_words) AS max_words
           |FROM $cat.t GROUP BY (doc_id % 6) % 2""".stripMargin)
      def sumQ() = spark.sql(
        s"SELECT SUM(n_words) AS s FROM $cat.t")
      val vmin = wh.resolve("vmin"); val vmax = wh.resolve("vmax")
      val t = wh.resolve("t")
      val mn = minQ()
      val (mnScans, mnAgg) = planFacts(mn)
      val gm = globalMinQ()
      val (gmScans, _) = planFacts(gm)
      val mx = maxQ()
      val (mxScans, mxAgg) = planFacts(mx)
      val sm = sumQ()
      val (smScans, _) = planFacts(sm)
      Scratch.withoutMvRewrite(spark) {
        requireSameResult(mn, minQ(), "min exact")
        requireSameResult(gm, globalMinQ(), "min global roll-up")
        requireSameResult(mx, maxQ(), "max roll-up")
      }
      val maxRows = mx.orderBy("k2").collect()
      val out = mn.orderBy("k")
        .withColumn("min_scans_view", lit(mnScans(vmin)))
        .withColumn("min_scans_source", lit(mnScans(t)))
        .withColumn("min_no_aggregate", lit(!mnAgg))
        .withColumn("global_min", lit(gm.head().getInt(0)))
        .withColumn("global_scans_view", lit(gmScans(vmin)))
        .withColumn("max_even", lit(maxRows(0).getInt(1)))
        .withColumn("max_odd", lit(maxRows(1).getInt(1)))
        .withColumn("max_scans_view", lit(mxScans(vmax)))
        .withColumn("max_keeps_aggregate", lit(mxAgg))
        .withColumn("sum_scans_view",
          lit(smScans(vmin) || smScans(vmax)))
        .withColumn("sum_scans_source", lit(smScans(t)))
        .withColumn("fast_applied", lit(fast.getLong(0)))
        .withColumn("fast_recomputed", lit(fast.getLong(1)))
        .withColumn("del_applied", lit(del.getLong(0)))
        .withColumn("del_recomputed", lit(del.getLong(1)))
      OpsUtil.driverLiteral(out)
    }

  // ---------------------------------------------------------------------
  // q288: JOIN (SPJG) materialized view — aggregate-over-join rewrite
  // ---------------------------------------------------------------------

  /** The Calcite SPJG class, on the league-table shape the reference
    * aggregates over a join (orders⋈customer⋈nation,
    * /root/reference/Assignment-python.py:183-185 → :257): a view
    * maintains `SELECT d.doc_id, SUM(f.n_words), COUNT(*) FROM fact f
    * JOIN dim d ON f.doc_id % 6 = d.doc_id GROUP BY d.doc_id`, and
    * the query's join-aggregate plans as a view-only scan — no join,
    * no aggregate, no corpus pass. Maintenance contract exercised
    * end-to-end:
    *
    *  - fact INSERT and DELETE commits fold incrementally (auto
    *    refresh: the fact CDF slice joins the PINNED dim state);
    *  - `auto = true` registers on BOTH sides, so a DIM delete pays
    *    its reseed INLINE: the very next query is already view-only
    *    and a manual `refresh_mv` finds nothing to do (the no-op
    *    audit rides in the row);
    *  - with the dim-side registration REMOVED (simulating the
    *    r18-era fact-only registration), a dim delete leaves the view
    *    honest-stale: the rewrite's dim watermark check refuses (plan
    *    falls back to the real join) until `refresh_mv` RESEEDS from
    *    the pinned (fact, dim) pair — loud via recomputed_groups;
    *  - post-reseed the rewrite fires again and the dropped dim keys'
    *    groups are gone.
    *
    * All plan facts (view-only, no Join node, stale fallback) and
    * both refresh audits ride in the hashed row. */
  val q288MvJoinView: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r17_q288") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |TBLPROPERTIES ('versioned' = 'true',
           |  'delete.mode' = 'merge-on-read')""".stripMargin)
      spark.sql(
        s"""CREATE TABLE $cat.d (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |TBLPROPERTIES ('versioned' = 'true',
           |  'delete.mode' = 'merge-on-read')""".stripMargin)
      insertRange(spark, cat, "t", 0, 36)                            // t v1
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "6").load()
        .coalesce(1).sortWithinPartitions("doc_id")
        .createOrReplaceTempView(s"${cat}_dim")
      spark.sql(
        s"""INSERT INTO $cat.d (doc_id, title, fp, n_words)
           |SELECT doc_id, title, fp, n_words FROM ${cat}_dim"""
          .stripMargin)                                         // d v1
      spark.catalog.dropTempView(s"${cat}_dim")
      spark.sql(s"CALL $cat.system.create_join_mv('vj', 't', 'd', " +
        "'f.doc_id % 6', 'd.doc_id', 'd.doc_id', 'f.n_words', true)")
      insertRange(spark, cat, "t", 36, 48)                  // t v2 → delta
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id IN (3, 10)")
                                                       // t v3 → signed
      org.apache.spark.sql.GraftBridge.addOptimization(spark,
        graft.plans.MvRewriteRule(spark))
      def joinQ() = spark.sql(
        s"""SELECT d.doc_id AS k, SUM(f.n_words) AS sum_words,
           |  COUNT(*) AS n_docs
           |FROM $cat.t f JOIN $cat.d d ON f.doc_id % 6 = d.doc_id
           |GROUP BY d.doc_id""".stripMargin)
      def globalQ() = spark.sql(
        s"""SELECT SUM(f.n_words) AS gs, COUNT(*) AS gc
           |FROM $cat.t f JOIN $cat.d d ON f.doc_id % 6 = d.doc_id"""
          .stripMargin)
      def hasJoin(df: DataFrame): Boolean =
        df.queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
        }.nonEmpty
      val vj = wh.resolve("vj"); val t = wh.resolve("t")
      val dTbl = wh.resolve("d")
      val pre = joinQ()
      val (preScans, _) = planFacts(pre)
      val preScansView = preScans(vj)
      // dim delete #1 WITH dual registration: the reseed runs inline
      // in the delete's commit hook — no stale window at all
      spark.sql(s"DELETE FROM $cat.d WHERE doc_id = 5")        // d v2
      val autoQ = joinQ()
      val (autoScans, _) = planFacts(autoQ)
      val noop = spark.sql(s"CALL $cat.system.refresh_mv('vj')")
        .select("applied_changes", "recomputed_groups", "refreshed")
        .head()
      // drop the dim-side registration (the fact-only shape): the
      // next dim delete now leaves the view honest-stale
      graft.sources.GraftTableMeta.write(wh.resolve("d"),
        graft.sources.GraftTableMeta.read(wh.resolve("d"))
          - "mv.dependents")
      spark.sql(s"DELETE FROM $cat.d WHERE doc_id = 4")        // d v3
      val stale = joinQ()
      val (staleScans, _) = planFacts(stale)
      val rs = spark.sql(s"CALL $cat.system.refresh_mv('vj')")
        .select("applied_changes", "recomputed_groups", "refreshed")
        .head()
      val post = joinQ()
      val (postScans, postAgg) = planFacts(post)
      val g = globalQ()
      val (gScans, _) = planFacts(g)
      Scratch.withoutMvRewrite(spark) {
        requireSameResult(post, joinQ(), "join-view aggregate")
        requireSameResult(g, globalQ(), "join-view global roll-up")
      }
      val gr = g.head()
      val out = post.orderBy("k")
        .withColumn("pre_scans_view", lit(preScansView))
        .withColumn("auto_scans_view", lit(autoScans(vj)))
        .withColumn("auto_scans_fact", lit(autoScans(t)))
        .withColumn("auto_no_join", lit(!hasJoin(autoQ)))
        .withColumn("noop_applied", lit(noop.getLong(0)))
        .withColumn("noop_recomputed", lit(noop.getLong(1)))
        .withColumn("noop_refreshed", lit(noop.getBoolean(2)))
        .withColumn("stale_scans_view", lit(staleScans(vj)))
        .withColumn("stale_scans_fact", lit(staleScans(t)))
        .withColumn("stale_keeps_join", lit(hasJoin(stale)))
        .withColumn("post_scans_view", lit(postScans(vj)))
        .withColumn("post_scans_fact", lit(postScans(t)))
        .withColumn("post_scans_dim", lit(postScans(dTbl)))
        .withColumn("post_no_aggregate", lit(!postAgg))
        .withColumn("post_no_join", lit(!hasJoin(post)))
        .withColumn("global_scans_view", lit(gScans(vj)))
        .withColumn("global_no_join", lit(!hasJoin(g)))
        .withColumn("global_sum", lit(gr.getLong(0)))
        .withColumn("global_docs", lit(gr.getLong(1)))
        .withColumn("reseed_applied", lit(rs.getLong(0)))
        .withColumn("reseed_recomputed", lit(rs.getLong(1)))
        .withColumn("reseed_refreshed", lit(rs.getBoolean(2)))
      OpsUtil.driverLiteral(out)
    }

  // ---------------------------------------------------------------------
  // q290: filtered JOIN-view rewrite — key predicates over the join
  // ---------------------------------------------------------------------

  /** The closure of q286 × q288: a WHERE over the join-view's KEY
    * composes with the join-aggregate rewrite. The optimizer pushes a
    * dim-key predicate below the join onto the dim side and MIRRORS
    * it onto the fact side through the equi-join
    * (InferFiltersFromConstraints) — both copies rewrite over the view
    * key's EQUIVALENCE CLASS (the two equi-join sides are equal on
    * every joined row), so the plan is still a view-only scan behind
    * a Filter. The same equivalence lets `GROUP BY <fact-side join
    * key>` hit the view exactly. A non-key predicate refuses — the
    * real join plans. */
  val q290MvJoinFiltered: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r17_q290") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      spark.sql(
        s"""CREATE TABLE $cat.d (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      insertRange(spark, cat, "t", 0, 48)                            // t v1
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "6").load()
        .coalesce(1).sortWithinPartitions("doc_id")
        .createOrReplaceTempView(s"${cat}_dim")
      spark.sql(
        s"""INSERT INTO $cat.d (doc_id, title, fp, n_words)
           |SELECT doc_id, title, fp, n_words FROM ${cat}_dim"""
          .stripMargin)                                         // d v1
      spark.catalog.dropTempView(s"${cat}_dim")
      spark.sql(s"CALL $cat.system.create_join_mv('vj', 't', 'd', " +
        "'f.doc_id % 6', 'd.doc_id', 'd.doc_id', 'f.n_words', true)")
      org.apache.spark.sql.GraftBridge.addOptimization(spark,
        graft.plans.MvRewriteRule(spark))
      def eqQ() = spark.sql(
        s"""SELECT d.doc_id AS k, SUM(f.n_words) AS sum_words,
           |  COUNT(*) AS n_docs
           |FROM $cat.t f JOIN $cat.d d ON f.doc_id % 6 = d.doc_id
           |WHERE d.doc_id IN (1, 3) GROUP BY d.doc_id""".stripMargin)
      def coarseQ() = spark.sql(
        s"""SELECT SUM(f.n_words) AS cs, COUNT(*) AS cd
           |FROM $cat.t f JOIN $cat.d d ON f.doc_id % 6 = d.doc_id
           |WHERE d.doc_id % 2 = 0""".stripMargin)
      def factKeyQ() = spark.sql(
        s"""SELECT f.doc_id % 6 AS k, SUM(f.n_words) AS s
           |FROM $cat.t f JOIN $cat.d d ON f.doc_id % 6 = d.doc_id
           |GROUP BY f.doc_id % 6""".stripMargin)
      def nonkeyQ() = spark.sql(
        s"""SELECT d.doc_id AS k, SUM(f.n_words) AS s
           |FROM $cat.t f JOIN $cat.d d ON f.doc_id % 6 = d.doc_id
           |WHERE f.n_words > 20 GROUP BY d.doc_id""".stripMargin)
      def hasJoin(df: DataFrame): Boolean =
        df.queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
        }.nonEmpty
      val vj = wh.resolve("vj"); val t = wh.resolve("t")
      val dTbl = wh.resolve("d")
      val eq = eqQ()
      val (eqScans, eqAgg) = planFacts(eq)
      val coarse = coarseQ()
      val (cScans, cAgg) = planFacts(coarse)
      val fk = factKeyQ()
      val (fkScans, fkAgg) = planFacts(fk)
      val nk = nonkeyQ()
      val (nkScans, _) = planFacts(nk)
      Scratch.withoutMvRewrite(spark) {
        requireSameResult(eq, eqQ(), "filtered join-view equality")
        requireSameResult(coarse, coarseQ(), "filtered join-view coarse")
        requireSameResult(fk, factKeyQ(), "fact-side-key grouping")
      }
      val c = coarse.head()
      val fkSum = fk.agg(sum("s")).head().getLong(0)
      val out = eq.orderBy("k")
        .withColumn("eq_scans_view", lit(eqScans(vj)))
        .withColumn("eq_scans_fact", lit(eqScans(t)))
        .withColumn("eq_scans_dim", lit(eqScans(dTbl)))
        .withColumn("eq_no_join", lit(!hasJoin(eq)))
        .withColumn("eq_no_aggregate", lit(!eqAgg))
        .withColumn("coarse_sum", lit(c.getLong(0)))
        .withColumn("coarse_docs", lit(c.getLong(1)))
        .withColumn("coarse_scans_view", lit(cScans(vj)))
        .withColumn("coarse_keeps_aggregate", lit(cAgg))
        .withColumn("factkey_scans_view", lit(fkScans(vj)))
        .withColumn("factkey_no_aggregate", lit(!fkAgg))
        .withColumn("factkey_total", lit(fkSum))
        .withColumn("nonkey_scans_view", lit(nkScans(vj)))
        .withColumn("nonkey_scans_fact", lit(nkScans(t)))
      OpsUtil.driverLiteral(out)
    }

  // ---------------------------------------------------------------------
  // q289: multi-view cost choice — cheapest satisfying view wins
  // ---------------------------------------------------------------------

  /** Two views over one source — `vb` at the FINE grain (key
    * `doc_id`, one row per document) registered FIRST, `va` at the
    * COARSE grain (key `doc_id % 6`, ≤6 rows) second — and two
    * queries both views can answer:
    *
    *  - `GROUP BY (doc_id % 6) % 3`: a roll-up of either view; the
    *    rule must pick va (6 manifest rows) over vb (48) even though
    *    vb registered first;
    *  - `GROUP BY doc_id % 6`: va answers EXACTLY (no aggregate at
    *    all), vb only via re-aggregation — cost picks va, so the plan
    *    has no Aggregate.
    *
    * The choice is read off the views' manifest row counters (the
    * same numbers SupportsReportStatistics serves the CBO) — zero
    * data files opened to decide. Plan facts (scans va / not vb /
    * not t) ride in the hashed row; rule-off parity is require-d. */
  val q289MvCostChoice: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r17_q289") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      insertRange(spark, cat, "t", 0, 48)                                 // v1
      // fine view FIRST: naive first-match would pick it
      spark.sql(s"CALL $cat.system.create_mv(" +
        "'vb', 't', 'doc_id', 'n_words', true)")
      spark.sql(s"CALL $cat.system.create_mv(" +
        "'va', 't', 'doc_id % 6', 'n_words', true)")
      org.apache.spark.sql.GraftBridge.addOptimization(spark,
        graft.plans.MvRewriteRule(spark))
      def rollup() = spark.sql(
        s"""SELECT (doc_id % 6) % 3 AS k3, SUM(n_words) AS sum_words,
           |  COUNT(*) AS n_docs
           |FROM $cat.t GROUP BY (doc_id % 6) % 3""".stripMargin)
      def exact() = spark.sql(
        s"""SELECT doc_id % 6 AS k, SUM(n_words) AS sum_words
           |FROM $cat.t GROUP BY doc_id % 6""".stripMargin)
      val va = wh.resolve("va"); val vb = wh.resolve("vb")
      val t = wh.resolve("t")
      val ru = rollup()
      val (ruScans, ruAgg) = planFacts(ru)
      val ex = exact()
      val (exScans, exAgg) = planFacts(ex)
      Scratch.withoutMvRewrite(spark) {
        requireSameResult(ru, rollup(), "cost-chosen roll-up")
        requireSameResult(ex, exact(), "cost-chosen exact")
      }
      val exSum = ex.agg(sum("sum_words")).head().getLong(0)
      val out = ru.orderBy("k3")
        .withColumn("rollup_scans_va", lit(ruScans(va)))
        .withColumn("rollup_scans_vb", lit(ruScans(vb)))
        .withColumn("rollup_scans_source", lit(ruScans(t)))
        .withColumn("rollup_keeps_aggregate", lit(ruAgg))
        .withColumn("exact_scans_va", lit(exScans(va)))
        .withColumn("exact_scans_vb", lit(exScans(vb)))
        .withColumn("exact_scans_source", lit(exScans(t)))
        .withColumn("exact_no_aggregate", lit(!exAgg))
        .withColumn("exact_total_words", lit(exSum))
      OpsUtil.driverLiteral(out)
    }

  val queries: Map[String, Q] = Map(
    "q286_mv_filtered_rewrite" -> q286MvFilteredRewrite,
    "q287_mv_minmax" -> q287MvMinMax,
    "q288_mv_join_view" -> q288MvJoinView,
    "q289_mv_cost_choice" -> q289MvCostChoice,
    "q290_mv_join_filtered" -> q290MvJoinFiltered)

  val oracle: Map[String, String] = Map(
    // corpus [0,36) minus deleted {8,21}; n_words(i) = i%91+9 = i+9
    // here. Key class 2 = {2,14,20,26,32} (8 deleted); coarse classes
    // {0,2,4} = 17 docs. All four rewritten shapes plan view-only;
    // the non-key predicate correctly falls back to the source.
    "q286_mv_filtered_rewrite" ->
      """SELECT i % 6 AS k,
        |  CAST(SUM(i % 91 + 9) AS BIGINT) AS sum_words,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  TRUE AS eq_scans_view, FALSE AS eq_scans_source,
        |  TRUE AS eq_no_aggregate,
        |  TRUE AS coarse_scans_view, FALSE AS coarse_scans_source,
        |  TRUE AS coarse_keeps_aggregate,
        |  (SELECT CAST(SUM(i % 91 + 9) AS BIGINT) FROM range(0, 36) t(i)
        |    WHERE i NOT IN (8, 21) AND (i % 6) % 2 = 0)
        |    AS coarse_sum_words,
        |  CAST(17 AS BIGINT) AS coarse_n_docs,
        |  FALSE AS nonkey_scans_view, TRUE AS nonkey_scans_source,
        |  TRUE AS topk_scans_view, FALSE AS topk_scans_source,
        |  TRUE AS topk_take_ordered
        |FROM range(0, 36) t(i)
        |WHERE i NOT IN (8, 21) AND i % 6 = 2
        |GROUP BY i % 6""".stripMargin,
    // corpus [0,48) minus deleted {0,7}; n_words(i) = i+9 here. The
    // insert-only refresh recomputed nothing (12 applied / 0 groups);
    // the delete refresh recomputed exactly classes {0,1} (2 applied /
    // 2 groups). MIN at the view grain plans with no aggregate;
    // global MIN and coarse MAX re-aggregate view rows; SUM refuses
    // both extremum views.
    "q287_mv_minmax" ->
      """WITH live AS (
        |  SELECT i, i % 91 + 9 AS w FROM range(0, 48) t(i)
        |  WHERE i NOT IN (0, 7))
        |SELECT i % 6 AS k, CAST(MIN(w) AS INT) AS min_words,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  TRUE AS min_scans_view, FALSE AS min_scans_source,
        |  TRUE AS min_no_aggregate,
        |  (SELECT CAST(MIN(w) AS INT) FROM live) AS global_min,
        |  TRUE AS global_scans_view,
        |  (SELECT CAST(MAX(w) AS INT) FROM live WHERE (i % 6) % 2 = 0)
        |    AS max_even,
        |  (SELECT CAST(MAX(w) AS INT) FROM live WHERE (i % 6) % 2 = 1)
        |    AS max_odd,
        |  TRUE AS max_scans_view, TRUE AS max_keeps_aggregate,
        |  FALSE AS sum_scans_view, TRUE AS sum_scans_source,
        |  CAST(12 AS BIGINT) AS fast_applied,
        |  CAST(0 AS BIGINT) AS fast_recomputed,
        |  CAST(2 AS BIGINT) AS del_applied,
        |  CAST(2 AS BIGINT) AS del_recomputed
        |FROM live GROUP BY i % 6 ORDER BY k""".stripMargin,
    // fact [0,48) minus deleted {3,10}; dim keys {0..3} after its
    // deletes of 5 (auto-reseeded inline via the dual registration —
    // no stale window, manual refresh a no-op) and 4 (deregistered →
    // honest-stale fallback until the manual reseed recomputes the 4
    // surviving groups). Each fact class k joins dim row k.
    "q288_mv_join_view" ->
      """WITH fact AS (
        |  SELECT i, i % 91 + 9 AS w FROM range(0, 48) t(i)
        |  WHERE i NOT IN (3, 10)),
        |dim AS (SELECT i AS k FROM range(0, 6) t(i)
        |  WHERE i NOT IN (4, 5))
        |SELECT d.k AS k, CAST(SUM(f.w) AS BIGINT) AS sum_words,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  TRUE AS pre_scans_view,
        |  TRUE AS auto_scans_view, FALSE AS auto_scans_fact,
        |  TRUE AS auto_no_join,
        |  CAST(0 AS BIGINT) AS noop_applied,
        |  CAST(0 AS BIGINT) AS noop_recomputed,
        |  FALSE AS noop_refreshed,
        |  FALSE AS stale_scans_view, TRUE AS stale_scans_fact,
        |  TRUE AS stale_keeps_join,
        |  TRUE AS post_scans_view, FALSE AS post_scans_fact,
        |  FALSE AS post_scans_dim, TRUE AS post_no_aggregate,
        |  TRUE AS post_no_join,
        |  TRUE AS global_scans_view, TRUE AS global_no_join,
        |  (SELECT CAST(SUM(f.w) AS BIGINT) FROM fact f
        |    JOIN dim d ON f.i % 6 = d.k) AS global_sum,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM fact f
        |    JOIN dim d ON f.i % 6 = d.k) AS global_docs,
        |  CAST(0 AS BIGINT) AS reseed_applied,
        |  CAST(4 AS BIGINT) AS reseed_recomputed,
        |  TRUE AS reseed_refreshed
        |FROM fact f JOIN dim d ON f.i % 6 = d.k
        |GROUP BY d.k ORDER BY k""".stripMargin,
    // fact [0,48) joined to dim keys 0..5 on i%6 (no deletes — q288
    // covers deltas): the dim-key IN-list and the coarse key%2
    // predicate both plan view-only behind a Filter; grouping by the
    // FACT-side join key hits the view exactly through the equi-join
    // equivalence; the n_words predicate correctly falls back.
    "q290_mv_join_filtered" ->
      """WITH fact AS (
        |  SELECT i, i % 91 + 9 AS w FROM range(0, 48) t(i)),
        |dim AS (SELECT i AS k FROM range(0, 6) t(i))
        |SELECT d.k AS k, CAST(SUM(f.w) AS BIGINT) AS sum_words,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  TRUE AS eq_scans_view, FALSE AS eq_scans_fact,
        |  FALSE AS eq_scans_dim, TRUE AS eq_no_join,
        |  TRUE AS eq_no_aggregate,
        |  (SELECT CAST(SUM(f.w) AS BIGINT) FROM fact f
        |    JOIN dim d ON f.i % 6 = d.k WHERE d.k % 2 = 0)
        |    AS coarse_sum,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM fact f
        |    JOIN dim d ON f.i % 6 = d.k WHERE d.k % 2 = 0)
        |    AS coarse_docs,
        |  TRUE AS coarse_scans_view, TRUE AS coarse_keeps_aggregate,
        |  TRUE AS factkey_scans_view, TRUE AS factkey_no_aggregate,
        |  (SELECT CAST(SUM(f.w) AS BIGINT) FROM fact f
        |    JOIN dim d ON f.i % 6 = d.k) AS factkey_total,
        |  FALSE AS nonkey_scans_view, TRUE AS nonkey_scans_fact
        |FROM fact f JOIN dim d ON f.i % 6 = d.k
        |WHERE d.k IN (1, 3) GROUP BY d.k ORDER BY k""".stripMargin,
    // corpus [0,48): roll-up classes (i%6)%3 over all 48 docs; the
    // cost choice reads va (6 rows), never vb (48) or the source
    "q289_mv_cost_choice" ->
      """SELECT (i % 6) % 3 AS k3,
        |  CAST(SUM(i % 91 + 9) AS BIGINT) AS sum_words,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  TRUE AS rollup_scans_va, FALSE AS rollup_scans_vb,
        |  FALSE AS rollup_scans_source, TRUE AS rollup_keeps_aggregate,
        |  TRUE AS exact_scans_va, FALSE AS exact_scans_vb,
        |  FALSE AS exact_scans_source, TRUE AS exact_no_aggregate,
        |  (SELECT CAST(SUM(i % 91 + 9) AS BIGINT)
        |    FROM range(0, 48) t(i)) AS exact_total_words
        |FROM range(0, 48) t(i)
        |GROUP BY (i % 6) % 3 ORDER BY k3""".stripMargin)
}
