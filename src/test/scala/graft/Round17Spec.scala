package graft

import org.apache.spark.sql.functions._

import graft.sources.GraftTableMeta
import graft.ops.Scratch
import graft.ops.Scratch.insertRange

/** Round-17 additions: the FILTERED materialized-view rewrite's
  * soundness gates and the multi-view cost choice. The positive paths
  * (view-only plans, hash-green results) live in q286/q289; these
  * tests pin the REFUSALS — the directions in which the rewrite would
  * be silently wrong if the gates slipped. */
class Round17Spec extends SparkSpec {

  private def mkTable(cat: String): Unit =
    spark.sql(
      s"""CREATE TABLE $cat.t (
         |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
         |  fp BIGINT NOT NULL, n_words INT NOT NULL)
         |TBLPROPERTIES ('versioned' = 'true',
         |  'delete.mode' = 'merge-on-read')""".stripMargin)
  private def scansPath(df: org.apache.spark.sql.DataFrame,
      p: java.nio.file.Path): Boolean = Scratch.planFacts(df)._1(p)

  test("filtered mv rewrite: a key-only predicate answers from the " +
      "view; mixed and non-key predicates refuse") {
    Scratch.withCatalog(spark, "r17_fmv1") { (cat, wh) =>
      mkTable(cat)
      insertRange(spark, cat, "t", 0, 20)
      spark.sql(s"CALL $cat.system.create_mv(" +
        "'v', 't', 'doc_id % 5', 'n_words', true)")
      org.apache.spark.sql.GraftBridge.addOptimization(spark,
        graft.plans.MvRewriteRule(spark))
      val v = wh.resolve("v"); val t = wh.resolve("t")
      def agg(where: String) = spark.sql(
        s"""SELECT doc_id % 5 AS k, SUM(n_words) AS s, COUNT(*) AS c
           |FROM $cat.t WHERE $where GROUP BY doc_id % 5""".stripMargin)
      // key-only: IN-list over the key expression — group-wholesale
      val keyed = agg("doc_id % 5 IN (1, 3)")
      assert(scansPath(keyed, v) && !scansPath(keyed, t),
        "key-only predicate must answer from the view")
      Scratch.withoutMvRewrite(spark) {
        val real = agg("doc_id % 5 IN (1, 3)")
        assert(keyed.exceptAll(real).isEmpty && real.exceptAll(keyed).isEmpty)
      }
      // MIXED conjunction: one key conjunct + one row conjunct — the
      // row conjunct changes group contents, the whole WHERE refuses
      val mixed = agg("doc_id % 5 = 1 AND n_words > 12")
      assert(!scansPath(mixed, v) && scansPath(mixed, t),
        "a non-key conjunct must refuse the whole predicate")
      // raw-key predicate finer than the view grain: doc_id itself is
      // not a function of doc_id % 5
      val finer = agg("doc_id < 7")
      assert(!scansPath(finer, v) && scansPath(finer, t),
        "a predicate finer than the view grain must refuse")
      // non-deterministic predicate never rewrites (note rand() < 2.0
      // would NOT do: the optimizer folds it away as always-true,
      // correctly leaving a bare — rewritable — plan)
      val rand = agg("rand() < 0.999999")
      assert(!scansPath(rand, v),
        "a non-deterministic predicate must refuse")
    }
  }

  test("mv rewrite: a non-BIGINT key expression refuses both the " +
      "roll-up and the filtered substitution (type-changing nesting)") {
    Scratch.withCatalog(spark, "r17_fmv2") { (cat, wh) =>
      mkTable(cat)
      insertRange(spark, cat, "t", 0, 20)
      // n_words is INT: the resolved key expression is IntegerType,
      // so substituting the view's BIGINT doc_id into wider arithmetic
      // would change evaluation semantics — the gate must refuse
      spark.sql(s"CALL $cat.system.create_mv(" +
        "'v', 't', 'n_words % 5', 'fp', true)")
      org.apache.spark.sql.GraftBridge.addOptimization(spark,
        graft.plans.MvRewriteRule(spark))
      val v = wh.resolve("v")
      val rollup = spark.sql(
        s"""SELECT (n_words % 5) % 2 AS k2, SUM(fp) AS s
           |FROM $cat.t GROUP BY (n_words % 5) % 2""".stripMargin)
      assert(!scansPath(rollup, v),
        "an INT key must not substitute into roll-up arithmetic")
      val filtered = spark.sql(
        s"""SELECT SUM(fp) AS s FROM $cat.t
           |WHERE n_words % 5 = 2""".stripMargin)
      assert(!scansPath(filtered, v),
        "an INT key must not substitute into a filter predicate")
    }
  }

  test("mv cost choice: with several satisfying views the rule picks " +
      "the fewest-row one regardless of registration order") {
    Scratch.withCatalog(spark, "r17_fmv3") { (cat, wh) =>
      mkTable(cat)
      insertRange(spark, cat, "t", 0, 30)
      spark.sql(s"CALL $cat.system.create_mv(" +
        "'fine', 't', 'doc_id', 'n_words', true)")        // 30 rows
      spark.sql(s"CALL $cat.system.create_mv(" +
        "'coarse', 't', 'doc_id % 3', 'n_words', true)")  // 3 rows
      org.apache.spark.sql.GraftBridge.addOptimization(spark,
        graft.plans.MvRewriteRule(spark))
      val q = spark.sql(
        s"SELECT SUM(n_words) AS s, COUNT(*) AS c FROM $cat.t")
      assert(scansPath(q, wh.resolve("coarse")) &&
        !scansPath(q, wh.resolve("fine")) &&
        !scansPath(q, wh.resolve("t")),
        "the global aggregate must re-aggregate the 3-row view, not " +
          "the 30-row one")
      // the fine view still answers what the coarse one cannot
      val perDoc = spark.sql(
        s"""SELECT doc_id AS k, SUM(n_words) AS s
           |FROM $cat.t GROUP BY doc_id""".stripMargin)
      assert(scansPath(perDoc, wh.resolve("fine")) &&
        !scansPath(perDoc, wh.resolve("coarse")))
    }
  }

  test("min/max mv maintenance: updates recompute the touched group, " +
      "a fully-deleted group drops, and the wrong extremum refuses") {
    Scratch.withCatalog(spark, "r17_fmv5") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |TBLPROPERTIES ('versioned' = 'true',
           |  'delete.mode' = 'merge-on-read',
           |  'update.mode' = 'merge-on-read')""".stripMargin)
      insertRange(spark, cat, "t", 0, 12)      // classes 0..3 (doc_id % 4), w = i+9
      spark.sql(s"CALL $cat.system.create_mv(" +
        "'vmin', 't', 'doc_id % 4', 'n_words', false, 'min')")
      // UPDATE raises class 1's minimum row (doc 1: w 10 → 99): the
      // preimage marks the group affected, so it recomputes to doc 5's
      // w=14 — an insert-only fold would have kept the dead 10
      spark.sql(s"UPDATE $cat.t SET n_words = 99 WHERE doc_id = 1")
      val up = spark.sql(s"CALL $cat.system.refresh_mv('vmin')").head()
      assert(up.getAs[Long]("recomputed_groups") == 1L)
      val afterUpdate = spark.table(s"$cat.vmin")
        .select("doc_id", "fp").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(afterUpdate(1L) == 14L,
        s"class 1 min must recompute to 14, got ${afterUpdate(1L)}")
      // deleting ALL of class 2 (docs 2, 6, 10) drops the group
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id % 4 = 2")
      val del = spark.sql(s"CALL $cat.system.refresh_mv('vmin')").head()
      assert(del.getAs[Long]("recomputed_groups") == 1L)
      val keys = spark.table(s"$cat.vmin").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(keys == Set(0L, 1L, 3L), s"dead group must drop: $keys")
      // a MAX query must refuse a MIN view
      graft.sources.GraftTableMeta.write(wh.resolve("t"),
        graft.sources.GraftTableMeta.read(wh.resolve("t")) +
          ("mv.dependents" -> "vmin"))
      org.apache.spark.sql.GraftBridge.addOptimization(spark,
        graft.plans.MvRewriteRule(spark))
      val mx = spark.sql(
        s"""SELECT doc_id % 4 AS k, MAX(n_words) AS m
           |FROM $cat.t GROUP BY doc_id % 4""".stripMargin)
      assert(!scansPath(mx, wh.resolve("vmin")),
        "MAX must not be answered from a MIN view")
      val mn = spark.sql(
        s"""SELECT doc_id % 4 AS k, MIN(n_words) AS m
           |FROM $cat.t GROUP BY doc_id % 4""".stripMargin)
      assert(scansPath(mn, wh.resolve("vmin")))
      Scratch.withoutMvRewrite(spark) {
        val real = spark.sql(
          s"""SELECT doc_id % 4 AS k, MIN(n_words) AS m
             |FROM $cat.t GROUP BY doc_id % 4""".stripMargin)
        assert(mn.exceptAll(real).isEmpty && real.exceptAll(mn).isEmpty)
      }
    }
  }

  test("join-mv rewrite: only the declared equi-join matches — a " +
      "different condition, an extra WHERE, or a foreign dim refuse") {
    Scratch.withCatalog(spark, "r17_fmv6") { (cat, wh) =>
      mkTable(cat)
      spark.sql(
        s"""CREATE TABLE $cat.d (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      spark.sql(
        s"""CREATE TABLE $cat.e (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      insertRange(spark, cat, "t", 0, 24)
      Seq("d", "e").foreach { tbl =>
        spark.read.format("graft.sources.GraftDocsSource")
          .option("rows", "4").load()
          .repartition(1).createOrReplaceTempView(s"${cat}_x")
        spark.sql(s"INSERT INTO $cat.$tbl (doc_id, title, fp, n_words) " +
          s"SELECT doc_id, title, fp, n_words FROM ${cat}_x")
        spark.catalog.dropTempView(s"${cat}_x")
      }
      spark.sql(s"CALL $cat.system.create_join_mv('vj', 't', 'd', " +
        "'f.doc_id % 4', 'd.doc_id', 'd.doc_id', 'f.n_words', true)")
      org.apache.spark.sql.GraftBridge.addOptimization(spark,
        graft.plans.MvRewriteRule(spark))
      val vj = wh.resolve("vj")
      def q(sql: String) = spark.sql(sql)
      val hit = q(
        s"""SELECT d.doc_id AS k, SUM(f.n_words) AS s FROM $cat.t f
           |JOIN $cat.d d ON f.doc_id % 4 = d.doc_id
           |GROUP BY d.doc_id""".stripMargin)
      assert(scansPath(hit, vj), "the declared join-aggregate must hit")
      Scratch.withoutMvRewrite(spark) {
        val real = q(
          s"""SELECT d.doc_id AS k, SUM(f.n_words) AS s FROM $cat.t f
             |JOIN $cat.d d ON f.doc_id % 4 = d.doc_id
             |GROUP BY d.doc_id""".stripMargin)
        assert(hit.exceptAll(real).isEmpty && real.exceptAll(hit).isEmpty)
      }
      // a DIFFERENT equi-join key is a different row set
      val wrongCond = q(
        s"""SELECT d.doc_id AS k, SUM(f.n_words) AS s FROM $cat.t f
           |JOIN $cat.d d ON f.doc_id % 2 = d.doc_id
           |GROUP BY d.doc_id""".stripMargin)
      assert(!scansPath(wrongCond, vj),
        "a different join condition must refuse")
      // a NON-KEY WHERE refuses (per-row filters change group
      // contents); key-only predicates DO compose with the join-view
      // rewrite — Round17.q290 covers that positive direction
      val filtered = q(
        s"""SELECT d.doc_id AS k, SUM(f.n_words) AS s FROM $cat.t f
           |JOIN $cat.d d ON f.doc_id % 4 = d.doc_id
           |WHERE f.n_words > 12 GROUP BY d.doc_id""".stripMargin)
      assert(!scansPath(filtered, vj),
        "a non-key WHERE on the join must refuse")
      // joining a DIFFERENT dim table is a different row set even
      // with an identical-looking condition
      val foreignDim = q(
        s"""SELECT e.doc_id AS k, SUM(f.n_words) AS s FROM $cat.t f
           |JOIN $cat.e e ON f.doc_id % 4 = e.doc_id
           |GROUP BY e.doc_id""".stripMargin)
      assert(!scansPath(foreignDim, vj),
        "a different dim table must refuse")
      // an outer join keeps unmatched rows the view never saw
      val outer = q(
        s"""SELECT d.doc_id AS k, SUM(f.n_words) AS s FROM $cat.t f
           |LEFT JOIN $cat.d d ON f.doc_id % 4 = d.doc_id
           |GROUP BY d.doc_id""".stripMargin)
      assert(!scansPath(outer, vj), "an outer join must refuse")
    }
  }

  test("filtered rewrite composes with a MIN view: key predicate over " +
      "the extremum aggregate stays view-only, rule-off parity holds") {
    Scratch.withCatalog(spark, "r17_fmv7") { (cat, wh) =>
      mkTable(cat)
      insertRange(spark, cat, "t", 0, 20)
      spark.sql(s"CALL $cat.system.create_mv(" +
        "'vmin', 't', 'doc_id % 5', 'n_words', true, 'min')")
      org.apache.spark.sql.GraftBridge.addOptimization(spark,
        graft.plans.MvRewriteRule(spark))
      def q() = spark.sql(
        s"""SELECT doc_id % 5 AS k, MIN(n_words) AS m, COUNT(*) AS c
           |FROM $cat.t WHERE doc_id % 5 IN (0, 2)
           |GROUP BY doc_id % 5""".stripMargin)
      val viaMv = q()
      assert(scansPath(viaMv, wh.resolve("vmin")) &&
        !scansPath(viaMv, wh.resolve("t")),
        "key-filtered MIN must answer from the extremum view")
      Scratch.withoutMvRewrite(spark) {
        val real = q()
        assert(viaMv.exceptAll(real).isEmpty &&
          real.exceptAll(viaMv).isEmpty)
      }
    }
  }

  test("filtered mv rewrite: historical pin + key predicate compose " +
      "(time travel answered from view history behind the filter)") {
    Scratch.withCatalog(spark, "r17_fmv4") { (cat, wh) =>
      mkTable(cat)
      insertRange(spark, cat, "t", 0, 15)                                       // v1
      spark.sql(s"CALL $cat.system.create_mv(" +
        "'v', 't', 'doc_id % 5', 'n_words', true)")
      val pinned = graft.sources.GraftVersions
        .latest(wh.resolve("t")).get.version
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id = 3")             // v2
      org.apache.spark.sql.GraftBridge.addOptimization(spark,
        graft.plans.MvRewriteRule(spark))
      def q(on: Boolean) = {
        def run() = spark.sql(
          s"""SELECT doc_id % 5 AS k, SUM(n_words) AS s
             |FROM $cat.t VERSION AS OF $pinned
             |WHERE doc_id % 5 = 3 GROUP BY doc_id % 5""".stripMargin)
        if (on) run() else Scratch.withoutMvRewrite(spark)(run())
      }
      val viaMv = q(on = true)
      assert(scansPath(viaMv, wh.resolve("v")) &&
        !scansPath(viaMv, wh.resolve("t")),
        "the pinned filtered aggregate must read the MV's history")
      val real = q(on = false)
      assert(viaMv.exceptAll(real).isEmpty &&
        real.exceptAll(viaMv).isEmpty)
      // the deleted doc_id 3 is IN class 3: the historical answer must
      // still include it (3 + 8 + 13 → n_words 12+17+22)
      assert(viaMv.head().getLong(1) == 51L)
    }
  }
}
