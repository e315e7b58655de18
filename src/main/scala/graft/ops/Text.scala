package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Tables
import OpsUtil._
import Features._

/** Text-analysis operators for an LLM-data pipeline (builder prompt:
  * language-ID, quality scoring, token counting, document fingerprinting),
  * all native expressions over `documents`.
  *
  * Scale notes: everything here is a narrow map over the corpus followed by
  * a small aggregation — embarrassingly parallel, no shuffle besides the
  * final group-by on low-cardinality keys. Ratios are emitted as a single
  * IEEE division of exact integer aggregates, so they hash-match DuckDB.
  */
object Text {

  /** Token counting per language: doc counts, token totals, distinct
    * vocabulary size, and mean token length (exact-int division). */
  val q30TokenStats: Q = (spark, dir) => {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .withColumn("toks", wsTokens($"text"))
      .withColumn("n_tokens", size($"toks"))
      .withColumn("char_len",
        aggregate($"toks", lit(0), (acc, t) => acc + length(t)))
    val vocab = docs.select($"lang", explode($"toks").as("token"))
      .groupBy($"lang")
      .agg(countDistinct($"token").as("vocab_size"))
    docs.groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("total_tokens"),
        sum($"char_len").as("total_token_chars"),
        (sum($"char_len").cast("double") / sum($"n_tokens"))
          .as("avg_token_len"))
      .join(vocab, Seq("lang"))
      .orderBy($"lang")
  }

  /** Quality scoring: length / punctuation / stopword-ratio signals with a
    * CASE-graded label, aggregated per source. Counts are exact ints; the
    * grade thresholds are chosen off the observed distribution. */
  val q31Quality: Q = (spark, dir) => {
    import spark.implicits._
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    val scored = Tables.documents(spark, dir)
      .withColumn("toks", wsTokens($"text"))
      .withColumn("n_tokens", size($"toks"))
      .withColumn("n_stop",
        size(filter($"toks", t => t.isin(stop: _*))))
      .withColumn("n_punct",
        length($"text") - length(regexp_replace($"text", "[.!?,;]", "")))
      .withColumn("grade",
        when($"n_tokens" < 10, "too_short")
          .when($"n_stop" * 5 >= $"n_tokens", "stopword_heavy")
          .when($"n_punct" === 0, "no_punct")
          .otherwise("ok"))
    scored.groupBy($"source", $"grade")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("total_tokens"),
        sum($"n_stop").as("total_stopwords"),
        sum($"n_punct").as("total_punct"))
      .orderBy($"source", $"grade")
  }

  /** Language-ID by stopword-set voting (n-gram-heuristic stand-in): score
    * each doc against per-language marker sets, predict the argmax with a
    * deterministic precedence, and report the confusion matrix against the
    * labeled lang column. */
  val q32LangId: Q = (spark, dir) => {
    import spark.implicits._
    val withScores = langScores(Tables.documents(spark, dir))
    val best = langMarkers.map { case (l, _) => col(s"s_$l") }
      .reduce((a, b) => greatest(a, b))
    val predicted = langMarkers.foldRight(lit("unknown"): Column) {
      case ((l, _), alt) => when(col(s"s_$l") === best && best > 0, l).otherwise(alt)
    }
    withScores
      .withColumn("predicted", predicted)
      .groupBy($"lang", $"predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy($"lang", $"predicted")
  }

  /** Document fingerprinting: normalize (lowercase, strip non-letters,
    * collapse whitespace) then hash to a 60-bit integer fingerprint;
    * per-source uniqueness stats. The md5-prefix fingerprint is the
    * deterministic, cross-engine stand-in for a rolling hash. */
  val q33Fingerprint: Q = (spark, dir) => {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("norm",
        trim(regexp_replace(regexp_replace(lower($"text"), "[^a-z ]", ""),
          " +", " ")))
      .withColumn("fp", conv(substring(md5($"norm"), 1, 15), 16, 10).cast("long"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct($"fp").as("n_unique_fp"),
        max($"fp").as("max_fp"))
      .orderBy($"source")
  }

  /** BPE-ish regex tokenization (builder prompt: "whitespace + a BPE-ish
    * regex"): letter runs / digit runs / punctuation runs extracted as
    * separate tokens (the GPT-2 pre-tokenizer shape, ASCII classes for
    * cross-engine regex parity), aggregated per lang. */
  val q37BpeTokens: Q = (spark, dir) => {
    import spark.implicits._
    val toks = expr(
      "regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+', 0)")
    Tables.documents(spark, dir)
      .withColumn("toks", toks)
      .select($"lang", $"doc_id", explode($"toks").as("tok"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("total_tokens"),
        countDistinct($"tok").as("vocab"),
        max(length($"tok")).as("max_token_len"),
        count(when($"tok".rlike("^[0-9]+$"), lit(1))).as("n_numeric_tokens"))
      .orderBy($"lang")
  }

  /** Literal polynomial rolling hash over the character stream
    * (`acc*31 + codepoint mod 1e9+7`), the textbook document fingerprint;
    * q33's md5-prefix variant is the production shortcut. All-integer ⇒
    * exact cross-engine. */
  val q38RollingHash: Q = (spark, dir) => {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("rh", expr(
        """aggregate(sequence(1, length(text)), 0L,
          |  (acc, i) -> (acc * 31 + ascii(substr(text, i, 1))) % 1000000007)
          |""".stripMargin))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct($"rh").as("n_unique_hashes"),
        max($"rh").as("max_hash"))
      .orderBy($"source")
  }

  val queries: Map[String, Q] = Map(
    "q30_token_stats" -> q30TokenStats,
    "q31_quality" -> q31Quality,
    "q32_langid" -> q32LangId,
    "q33_fingerprint" -> q33Fingerprint,
    "q37_bpe_tokens" -> q37BpeTokens,
    "q38_rolling_hash" -> q38RollingHash,
  )

  val oracle: Map[String, String] = Map(
    "q30_token_stats" ->
      s"""WITH docs AS (
         |  SELECT lang, $wsTokensSql AS toks FROM documents
         |), base AS (
         |  SELECT lang, length(toks) AS n_tokens,
         |    CAST(list_reduce(list_prepend(0, list_transform(toks,
         |      t -> length(t))), (a, b) -> a + b) AS INT) AS char_len,
         |    toks
         |  FROM docs
         |), vocab AS (
         |  SELECT lang, COUNT(DISTINCT token) AS vocab_size
         |  FROM (SELECT lang, unnest(toks) AS token FROM docs) GROUP BY 1
         |)
         |SELECT base.lang, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(SUM(char_len) AS BIGINT) AS total_token_chars,
         |  CAST(SUM(char_len) AS DOUBLE) / SUM(n_tokens) AS avg_token_len,
         |  ANY_VALUE(vocab_size) AS vocab_size
         |FROM base JOIN vocab ON base.lang = vocab.lang
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q31_quality" ->
      s"""WITH scored AS (
         |  SELECT source,
         |    length(toks) AS n_tokens,
         |    length(list_filter(toks,
         |      t -> t IN ('the','a','of','and','to','in','is'))) AS n_stop,
         |    length(text) - length(regexp_replace(text, '[.!?,;]', '', 'g'))
         |      AS n_punct
         |  FROM (SELECT source, text, $wsTokensSql AS toks FROM documents)
         |)
         |SELECT source,
         |  CASE WHEN n_tokens < 10 THEN 'too_short'
         |    WHEN n_stop * 5 >= n_tokens THEN 'stopword_heavy'
         |    WHEN n_punct = 0 THEN 'no_punct'
         |    ELSE 'ok' END AS grade,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(SUM(n_stop) AS BIGINT) AS total_stopwords,
         |  CAST(SUM(n_punct) AS BIGINT) AS total_punct
         |FROM scored GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q32_langid" ->
      s"""WITH scored AS (
         |  SELECT lang,
         |    length(list_filter(toks, t -> t IN ('the','and','of','to','a','is','in'))) AS s_en,
         |    length(list_filter(toks, t -> t IN ('der','die','das','und','ist','ein'))) AS s_de,
         |    length(list_filter(toks, t -> t IN ('le','la','les','et','est','un'))) AS s_fr,
         |    length(list_filter(toks, t -> t IN ('el','los','las','y','es','un'))) AS s_es,
         |    length(list_filter(toks, t -> t IN ('的','是','在','了','和'))) AS s_zh
         |  FROM (SELECT lang, list_filter(string_split_regex(lower(text), '\\s+'),
         |          t -> length(t) > 0) AS toks FROM documents)
         |), pred AS (
         |  SELECT lang,
         |    CASE
         |      WHEN s_en = greatest(s_en,s_de,s_fr,s_es,s_zh) AND greatest(s_en,s_de,s_fr,s_es,s_zh) > 0 THEN 'en'
         |      WHEN s_de = greatest(s_en,s_de,s_fr,s_es,s_zh) AND greatest(s_en,s_de,s_fr,s_es,s_zh) > 0 THEN 'de'
         |      WHEN s_fr = greatest(s_en,s_de,s_fr,s_es,s_zh) AND greatest(s_en,s_de,s_fr,s_es,s_zh) > 0 THEN 'fr'
         |      WHEN s_es = greatest(s_en,s_de,s_fr,s_es,s_zh) AND greatest(s_en,s_de,s_fr,s_es,s_zh) > 0 THEN 'es'
         |      WHEN s_zh = greatest(s_en,s_de,s_fr,s_es,s_zh) AND greatest(s_en,s_de,s_fr,s_es,s_zh) > 0 THEN 'zh'
         |      ELSE 'unknown' END AS predicted
         |  FROM scored
         |)
         |SELECT lang, predicted, COUNT(*) AS n
         |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q37_bpe_tokens" ->
      """WITH toks AS (
        |  SELECT lang, unnest(regexp_extract_all(text,
        |    '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+')) AS tok
        |  FROM documents
        |)
        |SELECT lang, COUNT(*) AS total_tokens,
        |  COUNT(DISTINCT tok) AS vocab,
        |  CAST(MAX(length(tok)) AS INT) AS max_token_len,
        |  COUNT(CASE WHEN regexp_matches(tok, '^[0-9]+$') THEN 1 END)
        |    AS n_numeric_tokens
        |FROM toks GROUP BY 1 ORDER BY 1""".stripMargin,
    "q38_rolling_hash" ->
      """WITH rh AS (
        |  SELECT source,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(text) + 1),
        |        i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM documents
        |)
        |SELECT source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT h) AS n_unique_hashes, MAX(h) AS max_hash
        |FROM rh GROUP BY 1 ORDER BY 1""".stripMargin,
    "q33_fingerprint" ->
      """WITH fps AS (
        |  SELECT source,
        |    CAST(('0x' || substr(md5(trim(regexp_replace(regexp_replace(
        |      lower(text), '[^a-z ]', '', 'g'), ' +', ' ', 'g'))), 1, 15))
        |      AS BIGINT) AS fp
        |  FROM documents
        |)
        |SELECT source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT fp) AS n_unique_fp, MAX(fp) AS max_fp
        |FROM fps GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
