package graft.ops

import org.apache.spark.sql.functions._
import graft.Tables
import OpsUtil.Q

/** Round-12 operators: the model-SHIPPING side of the quality pipeline.
  *
  * q60/q183 cover training and offline evaluation; what a 100 TB
  * deployment actually runs nightly is the other half — batch INFERENCE
  * with a frozen model. The reference anchor is
  * /root/reference/Assignment-python.py:944 (`model.transform`, a fitted
  * pipeline applied to a DataFrame); re-expressed Spark-first, a frozen
  * linear model is literal weights inside whole-stage codegen, not an
  * object that ships with a JVM closure.
  *
  * Capability correspondence only — the reference has no engine code;
  * this is the operation its pipeline would need at scale.
  */
object Round12 {
  // ---------------------------------------------------------------------
  // q213: broadcast-model batch scoring (inference at scale)
  // ---------------------------------------------------------------------

  /** Frozen quality-classifier weights, fixed-point integer (the model
    * artifact a q183-style offline training run ships): the logit is a
    * pure-integer dot product over per-document features, so scoring is
    * exact, reproducible bit-for-bit across engines and re-runs, and
    * needs no model object at all — the "broadcast" is four literals
    * folded into the generated code. */
  private val W_DIV = 2L      // per ppm of lexical diversity
  private val W_TOK = 3000L   // per token
  private val W_CHR = -500L   // per char
  private val BIAS = -950000L

  /** Batch inference with a shipped (frozen) linear quality model +
    * online confusion monitoring against the weak language label — the
    * nightly scoring job every curation deployment runs between
    * training rounds (q183 evaluates a model offline; THIS query is the
    * model actually deployed on the corpus). Per source: volume, accept
    * rate, and the confusion quadrant vs the weak label, with integer
    * ppm precision/recall — the table a drift alarm watches.
    *
    * Scale shape: scoring is a per-row scalar — literal weights, integer
    * arithmetic, no model broadcast variable, no UDF, no join — followed
    * by ONE map-side-combined groupBy to |sources| rows. The corpus is
    * scanned once; nothing shuffles wider than the 20-row aggregate. At
    * 1000 executors this is embarrassingly parallel scan-score-count.
    * The one interpreted element is the empty-token filter lambda (the
    * corpus-proven split pattern every text query shares); the dot
    * product and confusion flags stay inside whole-stage codegen. */
  val q213ModelScoring: Q = (spark, dir) => {
    import spark.implicits._
    val feats = Tables.documents(spark, dir)
      .select($"source", $"lang", $"n_chars",
        expr(s"size(${Features.wordsExpr})")
          .as("n_tok"),
        expr(s"size(array_distinct(${Features.wordsExpr})) * 1000000 " +
          s"div size(${Features.wordsExpr})")
          .as("div_ppm"))
    feats
      .withColumn("logit",
        lit(W_DIV) * $"div_ppm" + lit(W_TOK) * $"n_tok" +
          lit(W_CHR) * $"n_chars" + lit(BIAS))
      .withColumn("pred", $"logit" > 0)
      .withColumn("label", $"lang" === "en")
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when($"pred", 1)).as("n_accepted"),
        count(when($"pred" && $"label", 1)).as("tp"),
        count(when($"pred" && !$"label", 1)).as("fp"),
        count(when(!$"pred" && $"label", 1)).as("fn"),
        count(when(!$"pred" && !$"label", 1)).as("tn"))
      .select($"source", $"n_docs", $"n_accepted", $"tp", $"fp", $"fn",
        $"tn",
        expr("n_accepted * 1000000 div n_docs").as("accept_ppm"),
        expr("""CASE WHEN tp + fp > 0
                THEN tp * 1000000 div (tp + fp) ELSE 0 END""")
          .as("precision_ppm"),
        expr("""CASE WHEN tp + fn > 0
                THEN tp * 1000000 div (tp + fn) ELSE 0 END""")
          .as("recall_ppm"))
      .orderBy($"source")
  }

  // ---------------------------------------------------------------------
  // q214: SQL row-level operations (MERGE INTO / UPDATE / DELETE)
  // ---------------------------------------------------------------------

  /** The connector's row-level-operations face as a verified query: CTAS
    * a warehouse table from the generative corpus (rows [0,30)), then a
    * three-branch `MERGE INTO` (source rows [20,40): matched-and-div-5
    * DELETE, matched UPDATE, not-matched INSERT), an `UPDATE`, and a
    * `DELETE` — the CDC upkeep cycle every curated corpus runs nightly
    * (q90 builds the same semantics manually with DataFrames; THIS is
    * the engine doing it from SQL through `SupportsRowLevelOperations`,
    * per-file copy-on-write, staged commits). Deterministic: every
    * value is a closed-form function of doc_id, so the DuckDB oracle
    * regenerates the exact final table from range(). A fresh scratch
    * warehouse (and catalog name) per invocation keeps repeated bench /
    * verify calls independent; the final 33-row table is collected via
    * [[OpsUtil.driverLiteral]] so the scratch warehouse and its two
    * catalog confs can be torn down before returning — repeated calls
    * leak neither /tmp dirs nor session-conf entries. */
  val q214RowLevelMerge: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "rl_q214") { (cat, wh) =>
      import spark.implicits._
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "30").load()
        .writeTo(s"$cat.corpus").create()
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "40").load()
        .filter($"doc_id" >= 20)
        .withColumn("title", concat(lit("upd-"), $"doc_id"))
        .withColumn("n_words", ($"n_words" + 100).cast("int"))
        .createOrReplaceTempView("q214_updates")
      try spark.sql(
        s"""MERGE INTO $cat.corpus t USING q214_updates s ON t.doc_id = s.doc_id
           |WHEN MATCHED AND s.doc_id % 5 = 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET title = s.title, n_words = s.n_words
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      finally spark.catalog.dropTempView("q214_updates")
      spark.sql(s"UPDATE $cat.corpus SET n_words = 0 WHERE doc_id < 5")
      spark.sql(s"DELETE FROM $cat.corpus WHERE doc_id >= 35")
      OpsUtil.driverLiteral(
        spark.table(s"$cat.corpus")
          .select($"doc_id", $"title", $"fp", $"n_words")
          .orderBy($"doc_id"))
    }

  val queries: Map[String, Q] = Map(
    "q213_model_scoring" -> q213ModelScoring,
    "q214_rowlevel_merge" -> q214RowLevelMerge,
  )

  val oracle: Map[String, String] = Map(
    "q213_model_scoring" ->
      s"""WITH f AS (
         |  SELECT source, lang, n_chars,
         |    len(w) AS n_tok,
         |    CAST(len(list_distinct(w)) * 1000000 // len(w) AS BIGINT)
         |      AS div_ppm
         |  FROM (SELECT source, lang, n_chars,
         |          list_filter(string_split(text, ' '),
         |            t -> length(t) > 0) AS w
         |        FROM documents)
         |), s AS (
         |  SELECT source,
         |    ($W_DIV * div_ppm + $W_TOK * n_tok
         |      + ($W_CHR) * n_chars + ($BIAS)) > 0 AS pred,
         |    lang = 'en' AS label
         |  FROM f
         |)
         |SELECT source, COUNT(*) AS n_docs,
         |  COUNT(CASE WHEN pred THEN 1 END) AS n_accepted,
         |  COUNT(CASE WHEN pred AND label THEN 1 END) AS tp,
         |  COUNT(CASE WHEN pred AND NOT label THEN 1 END) AS fp,
         |  COUNT(CASE WHEN NOT pred AND label THEN 1 END) AS fn,
         |  COUNT(CASE WHEN NOT pred AND NOT label THEN 1 END) AS tn,
         |  CAST(COUNT(CASE WHEN pred THEN 1 END) * 1000000 // COUNT(*)
         |    AS BIGINT) AS accept_ppm,
         |  CAST(CASE WHEN COUNT(CASE WHEN pred AND label THEN 1 END)
         |      + COUNT(CASE WHEN pred AND NOT label THEN 1 END) > 0
         |    THEN COUNT(CASE WHEN pred AND label THEN 1 END) * 1000000
         |      // (COUNT(CASE WHEN pred AND label THEN 1 END)
         |        + COUNT(CASE WHEN pred AND NOT label THEN 1 END))
         |    ELSE 0 END AS BIGINT) AS precision_ppm,
         |  CAST(CASE WHEN COUNT(CASE WHEN pred AND label THEN 1 END)
         |      + COUNT(CASE WHEN NOT pred AND label THEN 1 END) > 0
         |    THEN COUNT(CASE WHEN pred AND label THEN 1 END) * 1000000
         |      // (COUNT(CASE WHEN pred AND label THEN 1 END)
         |        + COUNT(CASE WHEN NOT pred AND label THEN 1 END))
         |    ELSE 0 END AS BIGINT) AS recall_ppm
         |FROM s GROUP BY source ORDER BY source""".stripMargin,
    // the final table is a closed-form function of doc_id: rows [0,35)
    // minus the merge-DELETEd 20/25; 0-4 zeroed by UPDATE; 21+ carry the
    // merge's upd- title and +100 words; 35+ removed by the last DELETE
    "q214_rowlevel_merge" ->
      """SELECT i AS doc_id,
        |  CASE WHEN i >= 21 THEN 'upd-' || i ELSE 'doc-' || i END AS title,
        |  CAST(('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)
        |    AS fp,
        |  CAST(CASE WHEN i < 5 THEN 0
        |            WHEN i >= 21 THEN i % 91 + 9 + 100
        |            ELSE i % 91 + 9 END AS INT) AS n_words
        |FROM range(0, 35) t(i)
        |WHERE i NOT IN (20, 25)
        |ORDER BY i""".stripMargin,
  )
}
