package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The text and vector feature rules the operators share, each written
  * once with its DuckDB mirror: tokenizers, the thousandths quantizer
  * and its integer dot/cosine, the 3-gram shingle scan and its 8-hash
  * MinHash signature, the language-marker scores and the unique-word
  * ratio. Every rule is a native expression (no UDF), so a query that
  * uses one plans exactly as if it had written the expression inline.
  */
object Features {

  /** Space-split words with empty tokens dropped. Splitting on the single
    * space byte matches DuckDB's `string_split(text, ' ')`. */
  def words(text: Column): Column =
    filter(split(text, " "), t => length(t) > 0)

  /** [[words]] over column `text`, as Spark SQL for `expr` strings. */
  val wordsExpr = "filter(split(text, ' '), t -> length(t) > 0)"

  /** DuckDB mirror of [[words]] over column `text`. */
  val wordsSql = "list_filter(string_split(text, ' '), t -> length(t) > 0)"

  /** Whitespace tokens: the `\s+` split with empty tokens dropped, so the
    * leading-separator case matches DuckDB's string_split_regex. */
  def wsTokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** DuckDB mirror of [[wsTokens]] over column `text`. */
  val wsTokensSql =
    "list_filter(string_split_regex(text, '\\s+'), t -> length(t) > 0)"

  /** Unique-word ratio in ppm of a word-list column named `w`: distinct
    * words × 10⁶ div words (the Gopher repetition signal). */
  val uniqueWordRatio: Column =
    expr("size(array_distinct(w)) * 1000000 div size(w)")

  /** float[] → exact integer vector in thousandths, plus `offset`.
    * `floor` of the widened double is identical on every engine (unlike
    * round), so dot products and norms of the result are exact 64-bit
    * sums. An offset of +1000 keeps every coordinate non-negative, so
    * integer division agrees between Spark's `div` (truncating) and
    * DuckDB's `//` (flooring). */
  def quantize(e: Column, offset: Long): Column = transform(e, x => {
    val q = floor(x.cast("double") * 1000).cast("long")
    if (offset == 0) q else q + offset
  })

  /** DuckDB mirror of [[quantize]] with offset 0 over `embedding`. */
  val quantizeSql =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"

  /** DuckDB exact integer dot product of two quantized list columns. */
  def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform($a, (x, i) -> x * $b[i]), (p, q) -> p + q)"

  /** DuckDB cosine of two quantized list columns: exact integer dots, one
    * IEEE division and sqrt, so the double hash-matches Spark's
    * [[graft.functions.VectorExprs.cosineLong]]. */
  def cosineSql(a: String, b: String): String =
    s"""CAST(${dotSql(a, b)} AS DOUBLE)
       |    / (sqrt(CAST(${dotSql(a, a)} AS DOUBLE))
       |       * sqrt(CAST(${dotSql(b, b)} AS DOUBLE)))""".stripMargin

  /** Rebalance the corpus BEFORE a fan-out (explode) stage: a small-file
    * scan is one partition, and without this the entire shingle/gram
    * explosion and its partial aggregation run in a single task (observed:
    * 31 of 32 cores parked). The shuffle moves only the narrow pre-explode
    * rows; at cluster scale the input is already wide and the probe below
    * skips the shuffle.
    *
    * The probe reads the optimizer's SIZE ESTIMATE instead of
    * `df.rdd.getNumPartitions`: the RDD probe physical-plans the input a
    * second time and — when the input sits behind a shuffle, as in
    * q121's deduped corpus — AQE *executes* the upstream stages just to
    * learn a partition count. The logical stat costs nothing (file-index
    * bytes for scans, propagated estimates elsewhere) and decides the
    * same way: a file scan only splits into ≥ defaultParallelism
    * partitions when it carries at least defaultParallelism ×
    * openCostInBytes of input (Spark sizes splits as
    * min(maxPartitionBytes, max(openCostInBytes, bytes/parallelism))),
    * so below that bound the fan-out would under-parallelize and the
    * narrow-row rebalance pays for itself; above it the input is already
    * wide enough that no rebalance is needed. */
  def fanoutReady(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    val np = sess.sparkContext.defaultParallelism
    val openCost = sess.sessionState.conf.filesOpenCostInBytes
    val wideEnough = df.queryExecution.optimizedPlan.stats.sizeInBytes >=
      BigInt(np.toLong) * openCost
    if (wideEnough) df else df.repartition(np)
  }

  /** The 3-gram shingle scan: one (doc_id, s) row per DISTINCT word
    * 3-gram of each document. Per-document dedup happens during the scan
    * ([[graft.functions.TextExprs.distinctWordGrams]]), so no corpus-wide
    * (doc, shingle) distinct exchange exists. Byte-split tokenization
    * equals the `\s+` form on this single-space corpus. The caller decides
    * whether to cache. */
  def shingles(docs: DataFrame): DataFrame =
    fanoutReady(docs).select(col("doc_id"),
      explode(graft.functions.TextExprs
        .distinctWordGrams(col("text"), 3)).as("s"))

  /** The 8 × 32-bit MinHash signature (doc_id, h0..h7) of a (doc_id, s)
    * shingle frame: TWO md5s per shingle, four hex chunks each, instead
    * of 8 salted md5s — hashing is the per-row hot loop at corpus scale,
    * and a 32-bit space is collision-safe for min-hashing shingle sets of
    * ~10³. */
  def minhash(shingles: DataFrame): DataFrame = {
    val mins = (0 until 8).map { j =>
      val salted = md5(concat(lit(s"${j / 4}:"), col("s")))
      min(conv(substring(salted, 1 + 8 * (j % 4), 8), 16, 10).cast("long"))
        .as(s"h$j")
    }
    shingles.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** DuckDB mirror of [[minhash]]'s aggregate list over column `s`. */
  val minhashSql: String = (0 until 8).map { j =>
    val pos = 1 + 8 * (j % 4)
    s"    min(CAST(('0x' || substr(md5('${j / 4}:' || s), $pos, 8)) AS BIGINT)) AS h$j"
  }.mkString(",\n")

  /** Per-language marker words of the stopword-voting language ID, in
    * tie-break precedence order (en wins ties, then de/fr/es/zh). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "is", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un"),
    "es" -> Seq("el", "los", "las", "y", "es", "un"),
    "zh" -> Seq("的", "是", "在", "了", "和"))

  /** `docs` plus `toks` (lower-cased [[wsTokens]]) and one marker-hit
    * count column `s_<lang>` per [[langMarkers]] entry. */
  def langScores(docs: DataFrame): DataFrame =
    langMarkers.foldLeft(
      docs.withColumn("toks", wsTokens(lower(col("text"))))) {
      case (df, (l, words)) =>
        df.withColumn(s"s_$l", size(filter(col("toks"), t => t.isin(words: _*))))
    }
}
