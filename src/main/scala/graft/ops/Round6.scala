package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import OpsUtil._

/** Round-6 additions: the remaining curation stages of a large-scale
  * training-data pipeline, beyond the dedup/similarity/quality family
  * already covered (SURVEY.md §2.16) — benchmark-contamination detection,
  * model-based (unigram-LM) quality scoring, Gopher-style repetition
  * metrics, temperature-weighted source mixing, and Z-order layout for
  * data skipping. Each is oracle-checked against DuckDB with the
  * integer-exact / floor-quantized cross-engine rules from PLANS.md.
  */
object Round6 {

  /** Word 5-grams of a document corpus: split → positional explode →
    * slice(5) → concat. The lambda-free shape (posexploded `sequence`
    * feeding codegen'd `slice`, not a `transform` HOF whose lambda would
    * run interpreted) and the pre-explode rebalance are the q76/PLANS
    * fan-out rules. */
  private def wordGrams(df: DataFrame, n: Int): DataFrame = {
    import df.sparkSession.implicits._
    Features.fanoutReady(df)
      .select($"doc_id", split($"text", " ").as("w"))
      .filter(size($"w") >= n)
      .select($"doc_id", $"w",
        explode(sequence(lit(1), size($"w") - (n - 1))).as("i"))
      .select($"doc_id", concat_ws(" ", slice($"w", $"i", lit(n))).as("gram"))
  }

  /** Matching DuckDB fragment for [[wordGrams]]: 1-based inclusive list
    * slice over string_split, positions from range(). */
  private def wordGramsSql(n: Int): String =
    s"""SELECT doc_id, array_to_string(w[i:i+${n - 1}], ' ') AS gram
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |    UNNEST(range(1, len(w) - ${n - 2})) AS t(i)
       |  WHERE len(w) >= $n""".stripMargin

  /** Benchmark-contamination detection — the decontamination stage every
    * LLM training pipeline runs before training (word-n-gram overlap
    * against held-out evaluation sets, the GPT-3/Gopher recipe).
    *
    * A deterministic slice of the corpus (doc_id % 97 = 0) stands in for
    * the benchmark set. Its DISTINCT 5-grams are aggregated first —
    * benchmark suites are tiny by definition, so that side collapses to a
    * broadcastable table no matter how big the corpus is — and the corpus
    * side is a scan-parallel explode probed by a broadcast hash join: the
    * 100 TB side is never shuffled. Per-doc dedup of grams IS one shuffle
    * on (doc_id, gram), map-side combined; contamination share is emitted
    * in integer ppm (no float division cross-engine). */
  val q99Contamination: Q = (spark, dir) => {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val bench = wordGrams(docs.filter($"doc_id" % 97 === 0), 5)
      .select($"gram").distinct()
      .withColumn("hit", lit(1))
    wordGrams(docs.filter($"doc_id" % 97 =!= 0), 5)
      .select($"doc_id", $"gram").distinct()
      .join(broadcast(bench), Seq("gram"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"), count($"hit").as("n_hit"))
      .withColumn("contam_ppm", expr("n_hit * 1000000 div n_grams"))
      .orderBy($"contam_ppm".desc, $"doc_id")
      .limit(25)
      .select($"doc_id", $"n_grams", $"n_hit", $"contam_ppm")
  }

  /** Model-based quality scoring with a unigram LM fit on the corpus
    * itself (the CCNet/RedPajama "perplexity filter" shape, reduced to
    * unigrams so the model is exactly recomputable in SQL): token counts
    * over the whole corpus define p(tok); each document scores the mean
    * surprise −ln p(tok) over its tokens; the most-surprising documents
    * surface for review.
    *
    * Scale shape: the vocabulary aggregation is a map-side-combined
    * groupBy(token) whose result is vocab-sized (≪ corpus), so the score
    * join broadcasts the model — the corpus is scanned twice but never
    * shuffled on tokens twice at full width. Each token's surprise is
    * floor-quantized to integer millionths BEFORE the per-doc sum (q76's
    * ln-ulp rule, strengthened: the SUM itself is integer, so per-doc
    * totals are order-independent), and the per-doc mean is integer
    * division — every emitted value is bit-stable cross-engine. */
  val q100UnigramSurprise: Q = (spark, dir) => {
    import spark.implicits._
    val toks = Features.fanoutReady(Tables.documents(spark, dir))
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .filter(length($"tok") > 0)
      .cache()
    // vocab-sized and consumed twice (the corpus-total scalar and the
    // broadcast score join) — cached so the token aggregation runs
    // once, not once per consumer
    val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("cnt")).cache()
    // corpus token total: a vocab-sized agg collapsed to one driver long
    // (q76's corpus-scalar shape — the value parameterizes the plan)
    val total = vocab.agg(sum($"cnt")).head().getLong(0)
    // toks stays cached for the score pass; Bench/Verify clearCache()
    // between queries reclaims it (the q76 cached-intermediate shape).
    toks
      .join(broadcast(vocab), Seq("tok"))
      .withColumn("tq",
        floor(-log($"cnt".cast("double") / lit(total.toDouble)) * 1e6)
          .cast("long"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_toks"), sum($"tq").as("tq_sum"))
      .withColumn("surprise_q", expr("tq_sum div n_toks"))
      .orderBy($"surprise_q".desc, $"doc_id")
      .limit(20)
      .select($"doc_id", $"n_toks", $"surprise_q")
  }

  /** Gopher-style repetition metrics: per document, the duplicate-bigram
    * fraction ((n − n_distinct)/n, in integer ppm) and the share of the
    * single most frequent bigram — the "repetition removal" quality
    * signals of Rae et al.'s Gopher rules. One fan-out to word bigrams,
    * one (doc_id, bigram) count (map-side combined), one per-doc
    * re-aggregation: no joins, scan-parallel, and every emitted number is
    * an integer so the ranking key is bit-stable. */
  val q101Repetition: Q = (spark, dir) => {
    import spark.implicits._
    wordGrams(Tables.documents(spark, dir), 2)
      .groupBy($"doc_id", $"gram").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(
        sum($"c").as("n_bigrams"),
        count(lit(1)).as("n_distinct"),
        max($"c").as("top_count"))
      .withColumn("dup_ppm",
        expr("(n_bigrams - n_distinct) * 1000000 div n_bigrams"))
      .withColumn("top_ppm", expr("top_count * 1000000 div n_bigrams"))
      .orderBy($"dup_ppm".desc, $"doc_id")
      .limit(20)
      .select($"doc_id", $"n_bigrams", $"n_distinct", $"top_count",
        $"dup_ppm", $"top_ppm")
  }

  /** Temperature-weighted source mixing (α = 0.5): the training-mix stage
    * that up-samples small sources — w_i ∝ n_i^α — then draws a
    * deterministic sample at rate min(1, B·w_i/n_i) for a target budget
    * of B = 200 documents (small enough that the rates stay below the
    * min(1,·) cap at the sf0.01 correctness gate, so the hash-membership
    * arithmetic is actually exercised by the oracle).
    *
    * Cross-engine exactness: sqrt is IEEE-correctly-rounded in both
    * engines, so floor(√n·1000) is bit-identical; from there every step —
    * the weight denominator Σsᵢ, the ppm rate, the md5-hash membership
    * test (q85's content-keyed sampling: stable under re-sharding and
    * re-runs, unlike seeded RNG sampling) — is integer arithmetic. Scale
    * shape: the rate table is |groups| rows joined back by broadcast; the
    * corpus is scanned once, membership is a pure per-row function. */
  val q102MixWeights: Q = (spark, dir) => {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val stats = docs.groupBy($"lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("s", floor(sqrt($"n_docs") * 1000).cast("long"))
    val tot = stats.agg(sum($"s").as("stot"))
    val rates = stats.crossJoin(tot)
      .withColumn("rate_ppm",
        expr("least(1000000, s * 200000000 div (stot * n_docs))"))
      .select($"lang", $"n_docs", $"s", $"rate_ppm")
    val member =
      conv(substring(md5(concat_ws(":", $"doc_id", $"text")), 1, 8), 16, 10)
        .cast("long") % 1000000 < $"rate_ppm"
    docs.join(broadcast(rates), Seq("lang"))
      .groupBy($"lang", $"n_docs", $"s", $"rate_ppm")
      .agg(
        count(when(member, 1)).as("n_sampled"),
        sum(when(member, $"n_chars")).cast("long").as("sampled_chars"))
      .orderBy($"lang")
  }

  /** Z-order (Morton) layout + data skipping: interleave the bits of two
    * query dimensions — hour-of-day and a value bucket — so that sorting
    * by the combined key co-locates rows that are close in BOTH
    * dimensions, then show the payoff: per-"file" min/max ranges (the
    * parquet footer stats a lakehouse skips on) stay tight on both
    * columns, and a probe predicate on hours 8–11 needs only the files
    * whose [min,max] hour range overlaps it.
    *
    * Here a "file" is z div 64 — exactly the (hour div 8, bucket div 8)
    * block a range-partitioned writer (`repartitionByRange(z)`, the q87
    * sink) would produce. All bit math is integer div/mod on non-negative
    * values, identical in both engines. */
  val q103Zorder: Q = (spark, dir) => {
    import spark.implicits._
    val morton = (0 until 5).map(i =>
      s"(((hx div ${1 << i}) % 2) * ${1 << (2 * i + 1)}" +
        s" + ((vy div ${1 << i}) % 2) * ${1 << (2 * i)})").mkString(" + ")
    Tables.events(spark, dir)
      .select(hour($"ts").as("hx"),
        least(floor($"value" / 16).cast("int"), lit(31)).as("vy"))
      .selectExpr("hx", "vy", s"CAST(($morton) AS BIGINT) AS z")
      .withColumn("file_id", expr("z div 64"))
      .groupBy($"file_id")
      .agg(
        count(lit(1)).as("n_events"),
        min($"hx").as("min_hour"), max($"hx").as("max_hour"),
        min($"vy").as("min_vb"), max($"vy").as("max_vb"))
      .withColumn("is_read", $"min_hour" <= 11 && $"max_hour" >= 8)
      .orderBy($"file_id")
  }

  /** Sequence packing — the pretraining batch-prep stage that concatenates
    * the tokenized corpus into fixed-capacity context windows (C = 512
    * tokens) and cuts a bin boundary every C tokens; a document belongs to
    * the bin where it STARTS. The core primitive is a global prefix sum
    * of token counts in corpus order, computed as the textbook THREE-level
    * distributed scan with no unpartitioned window at any level (the
    * WindowGateSpec inventory): per-block partial sums, block offsets
    * under a super-block-KEYED window, and super-block offsets from a
    * driver-collected summary (the q200/q205 offset-table pattern). The
    * super-block summary is |corpus|/409600 rows — ~24k at the
    * 100 TB / 10¹⁰-doc design point, an aggregate-sized driver literal,
    * never corpus rows. Output is the bin-occupancy histogram
    * (docs-per-bin → bin count + token mass), which is what a packing
    * stage reports (padding waste / fill rate).
    *
    * The oracle computes the SAME prefix sum with DuckDB's global window —
    * two different evaluation strategies, bit-identical integer result. */
  val q104Packing: Q = (spark, dir) => {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("t"),
        expr("doc_id div 100").as("blk"))
    val blockSums = docs.groupBy($"blk").agg(sum($"t").as("bt"))
      .withColumn("sblk", expr("blk div 4096"))
      .cache()
    // level 3: super-block offsets — the |corpus|/409600-row summary is
    // driver-collected into a broadcast offset table; level 2: block
    // offsets within each super-block under a KEYED window
    val sSums = blockSums.groupBy($"sblk").agg(sum($"bt").as("sbt"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val sOffs = sSums.map(_._1)
      .zip(sSums.map(_._2).scanLeft(0L)(_ + _)).toSeq
    val wIn = Window.partitionBy($"sblk").orderBy($"blk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val blockOff = blockSums
      .withColumn("inoff", coalesce(sum($"bt").over(wIn), lit(0L)))
      .join(broadcast(sOffs.toDF("sblk", "soff")), Seq("sblk"))
      .select($"blk", ($"soff" + $"inoff").as("boff"))
    val wDoc = Window.partitionBy($"blk").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // blockOff is |corpus|/100 rows — corpus-derived, so NOT
    // broadcast-hinted (at 100 TB it no longer fits an executor); AQE
    // still picks broadcast at small SF where it measures small
    val out = OpsUtil.driverLiteral(docs
      .join(blockOff, Seq("blk"))
      .withColumn("off", $"boff" + coalesce(sum($"t").over(wDoc), lit(0L)))
      .withColumn("bin", expr("off div 512"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("docs_in_bin"), sum($"t").as("bin_tokens"))
      .groupBy($"docs_in_bin")
      .agg(count(lit(1)).as("n_bins"), sum($"bin_tokens").as("tokens"))
      .orderBy($"docs_in_bin"))
    blockSums.unpersist()
    out
  }

  /** Cross-document duplicated-passage detection: document pairs sharing
    * ≥ 3 winnowing fingerprints (the q77 MOSS selection — any shared
    * passage of ≥ 12 chars is guaranteed to share a fingerprint), found by
    * a bucket join on the fingerprint value, never an all-pairs scan.
    * Fingerprints appearing in > 10 documents are dropped first (the q43
    * stop-gram rule): boilerplate fragments would otherwise explode the
    * join quadratically in THEIR posting size while contributing no
    * passage-level signal. The pair aggregation shuffles once on
    * (doc_a, doc_b). */
  val q105SharedPassages: Q = (spark, dir) => {
    import spark.implicits._
    // k=20-char grams (≈3-4 words), NOT q77's k=5: in a small-vocabulary
    // corpus every 5-char fragment appears in thousands of documents, so
    // at sf0.1 ALL fingerprints blew past the df cap and the result went
    // empty — passage detection needs grams long enough to be
    // passage-specific. Guaranteed-detected match length is w+k-1 = 27.
    val k = 20; val w = 8
    // q40's injected-duplicate corpus (every 7th doc re-appears shifted):
    // the copies guarantee detectable shared passages, and any NATURAL
    // near-dups surface through the same bucket join
    val base = Tables.documents(spark, dir).select($"doc_id", $"text")
    val corpus = base.unionByName(
      base.filter($"doc_id" % 7 === 0)
        .withColumn("doc_id", $"doc_id" + 1000000L))
    // one-scan winnowing (the q77/q204 rewrite): per-doc fingerprint
    // selection runs inside the scan via WinnowedFingerprints(k=20,w=8)
    // — no per-character gram explode, no doc-keyed sliding-min window
    // exchange; only the deduped fingerprint rows leave the operator.
    // The expression returns [] for docs shorter than one full window
    // (k+w-1 chars), so the old length filter is implicit.
    // NO corpus-wide `.distinct()`: WinnowedFingerprints already emits
    // each document's fingerprint SET (LinkedHashSet inside the
    // expression), and doc_ids are unique across the union, so the
    // exploded (doc_id, wm) rows are distinct by construction — the
    // former distinct was a full extra exchange + aggregate over the
    // fan-out for nothing (guide §2.4: a distinct on already-unique
    // data is an accidental shuffle).
    val fps = Features.fanoutReady(corpus)
      .select($"doc_id",
        explode(graft.functions.TextExprs
          .winnowedFingerprints($"text", k, w)).as("wm"))
      .cache()
    // the df filter is corpus-derived, so it is NOT broadcast-hinted (at
    // 100 TB it is itself large); it shuffles on wm — the same key the
    // pair self-join uses, so the exchange is reused, and AQE may still
    // choose broadcast when the rare set turns out small
    val rare = fps.groupBy($"wm").agg(count(lit(1)).as("df"))
      .filter($"df" <= 10 && $"df" >= 2)
    val r = fps.select($"doc_id".as("doc_b"), $"wm")
    fps.join(rare, Seq("wm"))
      .join(r, Seq("wm"))
      .filter($"doc_id" < $"doc_b")
      .groupBy($"doc_id".as("doc_a"), $"doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= 3)
      .orderBy($"n_shared".desc, $"doc_a", $"doc_b")
      .limit(25)
  }

  val queries: Map[String, Q] = Map(
    "q99_contamination" -> q99Contamination,
    "q100_unigram_surprise" -> q100UnigramSurprise,
    "q101_repetition" -> q101Repetition,
    "q102_mix_weights" -> q102MixWeights,
    "q103_zorder" -> q103Zorder,
    "q104_packing" -> q104Packing,
    "q105_shared_passages" -> q105SharedPassages,
  )

  val oracle: Map[String, String] = Map(
    "q99_contamination" ->
      s"""WITH g AS (
         |${wordGramsSql(5)}
         |), bench AS (
         |  SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
         |), corpus AS (
         |  SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 97 <> 0
         |)
         |SELECT c.doc_id, COUNT(*) AS n_grams,
         |  CAST(COUNT(b.gram) AS BIGINT) AS n_hit,
         |  CAST(COUNT(b.gram) * 1000000 // COUNT(*) AS BIGINT) AS contam_ppm
         |FROM corpus c LEFT JOIN bench b ON c.gram = b.gram
         |GROUP BY 1
         |ORDER BY contam_ppm DESC, doc_id LIMIT 25""".stripMargin,
    "q100_unigram_surprise" ->
      """WITH tok AS (
        |  SELECT doc_id, t.tok
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |    UNNEST(w) AS t(tok)
        |  WHERE t.tok <> ''
        |), vocab AS (
        |  SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY 1
        |), tot AS (
        |  SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM vocab
        |), term AS (
        |  SELECT t.doc_id,
        |    CAST(floor(-ln(CAST(v.cnt AS DOUBLE) / tot.total) * 1000000)
        |      AS BIGINT) AS tq
        |  FROM tok t JOIN vocab v USING (tok), tot
        |)
        |SELECT doc_id, COUNT(*) AS n_toks,
        |  CAST(SUM(tq) // COUNT(*) AS BIGINT) AS surprise_q
        |FROM term GROUP BY 1
        |ORDER BY surprise_q DESC, doc_id LIMIT 20""".stripMargin,
    "q101_repetition" ->
      s"""WITH g AS (
         |${wordGramsSql(2)}
         |), per AS (
         |  SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2
         |)
         |SELECT doc_id,
         |  CAST(SUM(c) AS BIGINT) AS n_bigrams,
         |  COUNT(*) AS n_distinct,
         |  CAST(MAX(c) AS BIGINT) AS top_count,
         |  CAST((SUM(c) - COUNT(*)) * 1000000 // SUM(c) AS BIGINT)
         |    AS dup_ppm,
         |  CAST(MAX(c) * 1000000 // SUM(c) AS BIGINT) AS top_ppm
         |FROM per GROUP BY 1
         |ORDER BY dup_ppm DESC, doc_id LIMIT 20""".stripMargin,
    "q102_mix_weights" ->
      """WITH st AS (
        |  SELECT lang, COUNT(*) AS n_docs,
        |    CAST(floor(sqrt(COUNT(*)) * 1000) AS BIGINT) AS s
        |  FROM documents GROUP BY 1
        |), tot AS (
        |  SELECT CAST(SUM(s) AS BIGINT) AS stot FROM st
        |), rates AS (
        |  SELECT lang, n_docs, s,
        |    LEAST(1000000, s * 200000000 // (stot * n_docs)) AS rate_ppm
        |  FROM st, tot
        |)
        |SELECT d.lang, r.n_docs, r.s, CAST(r.rate_ppm AS BIGINT) AS rate_ppm,
        |  CAST(COUNT(CASE WHEN
        |      CAST(('0x' || substr(md5(d.doc_id || ':' || d.text), 1, 8))
        |        AS BIGINT) % 1000000 < r.rate_ppm THEN 1 END) AS BIGINT)
        |    AS n_sampled,
        |  CAST(SUM(CASE WHEN
        |      CAST(('0x' || substr(md5(d.doc_id || ':' || d.text), 1, 8))
        |        AS BIGINT) % 1000000 < r.rate_ppm THEN d.n_chars END)
        |    AS BIGINT) AS sampled_chars
        |FROM documents d JOIN rates r USING (lang)
        |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin,
    // The oracle computes the prefix sum with ONE global window — a
    // different evaluation strategy than the Spark side's two-level
    // distributed scan; the integer results must agree bit-for-bit.
    "q104_packing" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS t
        |  FROM documents
        |), o AS (
        |  SELECT doc_id, t,
        |    COALESCE(SUM(t) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM d
        |), b AS (
        |  SELECT off // 512 AS bin, COUNT(*) AS docs_in_bin,
        |    CAST(SUM(t) AS BIGINT) AS bin_tokens
        |  FROM o GROUP BY 1
        |)
        |SELECT docs_in_bin, COUNT(*) AS n_bins,
        |  CAST(SUM(bin_tokens) AS BIGINT) AS tokens
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "q105_shared_passages" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 7 = 0
        |), grams AS (
        |  SELECT doc_id, i AS pos,
        |    CAST(('0x' || substr(md5(substr(text, i + 1, 20)), 1, 8)) AS BIGINT)
        |      AS h
        |  FROM corpus, LATERAL unnest(range(0, length(text) - 19)) t(i)
        |  WHERE length(text) >= 27
        |), sel AS (
        |  SELECT DISTINCT doc_id,
        |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS wm
        |  FROM grams
        |  QUALIFY pos >= 7
        |), rare AS (
        |  SELECT wm FROM sel GROUP BY wm HAVING COUNT(*) BETWEEN 2 AND 10
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        |FROM sel a JOIN rare USING (wm) JOIN sel b USING (wm)
        |WHERE a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 3
        |ORDER BY n_shared DESC, doc_a, doc_b LIMIT 25""".stripMargin,
    "q103_zorder" -> {
      val morton = (0 until 5).map(i =>
        s"(((hx // ${1 << i}) % 2) * ${1 << (2 * i + 1)}" +
          s" + ((vy // ${1 << i}) % 2) * ${1 << (2 * i)})").mkString(" + ")
      s"""WITH pt AS (
         |  SELECT CAST(hour(ts) AS INT) AS hx,
         |    LEAST(CAST(floor(value / 16) AS INT), 31) AS vy
         |  FROM events
         |), z AS (
         |  SELECT hx, vy, CAST(($morton) AS BIGINT) // 64 AS file_id FROM pt
         |)
         |SELECT file_id, COUNT(*) AS n_events,
         |  MIN(hx) AS min_hour, MAX(hx) AS max_hour,
         |  MIN(vy) AS min_vb, MAX(vy) AS max_vb,
         |  (MIN(hx) <= 11 AND MAX(hx) >= 8) AS is_read
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
    },
  )
}
