package graft.ops

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.Tables
import OpsUtil._

/** Round-4 coverage: the remaining large-scale training-data-pipeline
  * operations a 100 TB corpus job needs around the dedup/ANN core —
  * RAG-style document chunking, funnel/sequence analytics over the event
  * stream, bloom-filter semi-join reduction (the runtime-filter pattern),
  * deterministic stratified sampling, embedding mean-pooling (the
  * centroid/k-means-E-step shape), and a partitioned sink + partition-
  * pruned scan round trip.
  *
  * Everything here follows the repo's oracle-parity rules (OpsUtil /
  * memory playbook): integer or decimal-exact aggregates only, md5-derived
  * hashes both engines can reproduce, floor-quantization for floats.
  */
object Round4 {

  /** RAG chunking: split every document into overlapping character chunks
    * (size 200, stride 150) with explode(sequence(...)) — codegen'd
    * fan-out, no HOF lambdas (playbook item 7) — then chunk-level stats
    * per source including a chunk-dedup ratio (distinct md5s / chunks).
    * Scan-parallel: the only shuffle is the final tiny per-source
    * aggregation, so the shape holds at any corpus size. */
  val q82Chunking: Q = (spark, dir) => {
    import spark.implicits._
    val size = 200; val stride = 150
    val docs = Features.fanoutReady(Tables.documents(spark, dir))
    docs
      .select($"source", $"text",
        explode(sequence(lit(0),
          floor(($"n_chars" - 1) / stride).cast("int"))).as("i"))
      .select($"source",
        $"text".substr(($"i" * stride + 1).cast("int"), lit(size)).as("chunk"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(length($"chunk")).cast("long").as("total_chunk_chars"),
        countDistinct(md5($"chunk")).as("distinct_chunks"))
      .orderBy($"source")
  }

  /** Event funnel (view → click → purchase): per user, the first view,
    * the first click at-or-after it, the first purchase at-or-after that.
    * Three aggregations joined on user_id — one shuffle key throughout,
    * so on a cluster the per-stage exchanges reuse the same hash
    * partitioning. Timestamps floored to epoch seconds (sub-second
    * precision is generator-dependent — see Tables.events; playbook
    * rule). */
  val q83Funnel: Q = (spark, dir) => {
    import spark.implicits._
    val e = Tables.events(spark, dir).select($"user_id", $"event_type",
      unix_timestamp($"ts".cast("timestamp")).as("sec"))
    val v = e.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"sec").as("v_sec"))
    val c = e.filter($"event_type" === "click")
      .join(v, Seq("user_id"))
      .filter($"sec" >= $"v_sec")
      .groupBy($"user_id", $"v_sec").agg(min($"sec").as("c_sec"))
    val p = e.filter($"event_type" === "purchase")
      .join(c.select($"user_id", $"c_sec"), Seq("user_id"))
      .filter($"sec" >= $"c_sec")
      .groupBy($"user_id").agg(min($"sec").as("p_sec"))
    v.join(c.select($"user_id", $"c_sec"), Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .agg(
        count(lit(1)).as("n_view"),
        count($"c_sec").as("n_click"),
        count($"p_sec").as("n_purchase"),
        sum(when($"c_sec".isNotNull, $"c_sec" - $"v_sec")).cast("long")
          .as("view_to_click_secs"),
        sum(when($"p_sec".isNotNull, $"p_sec" - $"c_sec")).cast("long")
          .as("click_to_purchase_secs"))
  }

  /** Semi-join reduction through a bloom filter — the runtime-filter
    * pattern Spark's own InjectRuntimeFilter applies with
    * BloomFilterAggregate/BloomFilterMightContain: build a compact filter
    * on the dimension's keys, pre-filter the fact table BEFORE its
    * shuffle (no false negatives, so nothing is lost), then let the exact
    * semi-join remove the false positives. At cluster scale the bloom
    * probe drops non-matching fact rows at the scan, so the join shuffles
    * only ~selectivity × |fact| rows. Result is identical to the plain
    * semi-join, which is exactly what the oracle checks. */
  val q84BloomSemijoin: Q = (spark, dir) => {
    import spark.implicits._
    val dim = Tables.customer(spark, dir)
      .filter($"c_mktsegment" === "BUILDING" && $"c_nationkey" < 10)
      .select($"c_custkey")
    // ~300 keys/sf0.1: 64 KiB of bits at 1% fpp, broadcast inside the udf
    // closure the same way InjectRuntimeFilter ships its bloom subquery.
    val bf = dim.stat.bloomFilter("c_custkey", 100000, 0.01)
    val mightContain = udf((k: java.lang.Long) =>
      k != null && bf.mightContain(k.longValue))
    Tables.orders(spark, dir)
      .filter(mightContain($"o_custkey"))
      .join(broadcast(dim), $"o_custkey" === $"c_custkey", "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("revenue"))
      .orderBy($"o_orderpriority")
  }

  /** Deterministic stratified sampling: a ~20 % per-language sample keyed
    * by md5(doc_id:text) — the scale-correct replacement for
    * sampleBy(seed), whose membership depends on partitioning and RNG
    * stream. A doc's membership is a pure function of its content, so the
    * sample is stable under re-sharding, re-runs, and corpus growth.
    * Single-pass conditional aggregation — no join, one shuffle. */
  val q85StratifiedSample: Q = (spark, dir) => {
    import spark.implicits._
    val in = conv(substring(md5(concat_ws(":", $"doc_id", $"text")), 1, 8),
      16, 10).cast("long") % 5 === 0
    Tables.documents(spark, dir)
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("total_docs"),
        count(when(in, 1)).as("sample_docs"),
        sum(when(in, $"n_chars")).cast("long").as("sample_chars"))
      .orderBy($"lang")
  }

  /** Embedding mean-pooling per label — the centroid build / k-means
    * E-step shape: posexplode to (label, dim) pairs, quantize each
    * component (floor ×1000, playbook rule), aggregate sum+count per
    * (label, dim). The explode is codegen'd and the aggregation is
    * map-side combined, so a billion-vector corpus reduces to
    * |labels|·|dims| rows in one shuffle. Emitting sum+count (not the
    * mean) keeps every value integer-exact; the caller divides. */
  val q86EmbeddingPool: Q = (spark, dir) => {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select($"label", posexplode($"embedding").as(Seq("pos", "x")))
      .select($"label", $"pos",
        floor($"x".cast("double") * 1000).cast("long").as("q"))
      .groupBy($"label", $"pos")
      .agg(count(lit(1)).as("n_vecs"), sum($"q").as("sum_q"))
      .orderBy($"label", $"pos")
  }

  /** Partitioned sink + partition-pruned scan, round-tripped: write the
    * corpus partitioned by lang (the hive-style layout a 100 TB corpus
    * store uses so per-language jobs read only their directories), then
    * read it back with a lang filter — Spark resolves that filter at the
    * FILE LISTING level (PartitionFilters in the scan node), never
    * opening the other partitions' files. The scratch dir is keyed by a
    * content fingerprint (q73 pattern) and moved into place atomically. */
  val q87PartitionedWrite: Q = (spark, dir) => {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val fp = docs.agg(
      count(lit(1)), sum($"n_chars"), sum(crc32($"text"))).head()
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${fp.getLong(0)}:${fp.getLong(1)}:${fp.getLong(2)}"
        .getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
    val out = Paths.get(sys.props("java.io.tmpdir"), s"graft_langpart_$tag")
    if (!Files.isDirectory(out)) {
      val tmp = Files.createTempDirectory(
        Paths.get(sys.props("java.io.tmpdir")), s"graft_langpart_$tag.")
      docs.write.mode("overwrite").partitionBy("lang")
        .parquet(tmp.resolve("data").toString)
      try Files.move(tmp, out, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileSystemException
          if Files.isDirectory(out) => // lost a benign race to a twin
        org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
      }
    }
    spark.read.parquet(out.resolve("data").toString)
      .filter($"lang" === "en") // partition-pruned: only lang=en/ is listed
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
      .orderBy($"source")
  }

  /** The custom DataSource V2 connector end-to-end: format(<provider>),
    * a doc_id range predicate that the ScanBuilder clamps BEFORE
    * partition planning (out-of-range input partitions are never
    * created), and a projection that exercises column pruning (title is
    * never computed). Every column is a deterministic function of
    * doc_id, so the oracle regenerates the table from range(lo, hi). */
  val q88CustomSource: Q = (spark, _) => {
    import spark.implicits._
    spark.read.format(classOf[graft.sources.GraftDocsSource].getName)
      .option("rows", "200000").option("partitions", "32")
      .load()
      .filter($"doc_id" >= 2500 && $"doc_id" < 150000)
      .groupBy(($"n_words" % 10).as("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"fp" % 1000).as("fp_mod_sum"),
        min($"doc_id").as("min_id"),
        max($"doc_id").as("max_id"))
      .orderBy($"bucket")
  }

  /** PII scrubbing — the redaction pass every training-data pipeline
    * runs before release. The corpus has no natural PII, so emails and
    * phone-shaped tokens are injected deterministically (a function of
    * doc_id, reproducible in the oracle), then detected with
    * regexp_extract_all and removed with regexp_replace. Patterns stay
    * ASCII-only with simple character classes so Java regex and RE2
    * agree (the q55 lesson). Scan-parallel scalar work; one tiny
    * per-source aggregation. */
  val q89PiiRedaction: Q = (spark, dir) => {
    import spark.implicits._
    val emailPat = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
    val phonePat = "555-[0-9]{4}"
    val withPii = Tables.documents(spark, dir).withColumn("t",
      concat(
        when($"doc_id" % 3 === 0,
          concat(lit("u"), $"doc_id", lit("@ex"), $"doc_id" % 7,
            lit(".com "))).otherwise(lit("")),
        $"text",
        when($"doc_id" % 5 === 0,
          concat(lit(" 555-"),
            lpad(($"doc_id" % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))))
    withPii
      .select($"source",
        size(regexp_extract_all($"t", lit(emailPat), lit(0))).as("ne"),
        size(regexp_extract_all($"t", lit(phonePat), lit(0))).as("np"),
        length(regexp_replace(regexp_replace($"t", emailPat, "<EMAIL>"),
          phonePat, "<PHONE>")).as("rl"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"ne").cast("long").as("n_emails"),
        sum($"np").cast("long").as("n_phones"),
        sum($"rl").cast("long").as("redacted_chars"))
      .orderBy($"source")
  }

  /** CDC merge — what a lakehouse MERGE INTO compiles to: base snapshot
    * ∪ changelog (upserts with a higher version, deletes as tombstones),
    * per-key latest-version wins, tombstones drop out. One shuffle on
    * the key; at 100 TB this is the standard incremental-maintenance
    * pass (and the batch face of the streaming upsert). The changelog is
    * derived deterministically from the corpus so the oracle rebuilds
    * the identical merge. */
  val q90CdcMerge: Q = (spark, dir) => {
    import spark.implicits._
    val base = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"n_chars",
        lit(0L).as("version"), lit(false).as("deleted"))
    val upserts = base.filter($"doc_id" % 11 === 0)
      .select($"doc_id", $"lang", ($"n_chars" + 3).as("n_chars"),
        lit(1L).as("version"), lit(false).as("deleted"))
    val deletes = base.filter($"doc_id" % 13 === 0)
      .select($"doc_id", $"lang", lit(0L).as("n_chars"),
        lit(2L).as("version"), lit(true).as("deleted"))
    base.unionByName(upserts).unionByName(deletes)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")
          .orderBy($"version".desc)))
      .filter($"rnk" === 1 && !$"deleted")
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_live"),
        count(when($"version" === 1, 1)).as("n_updated"),
        sum($"n_chars").as("total_chars"))
      .orderBy($"lang")
  }

  /** Fixed-iteration PageRank (power iteration, 3 rounds) over a
    * deterministic 2-out-regular link graph on the corpus ids — the
    * second iterative-graph operator beside q79's label propagation.
    * All arithmetic is INTEGER micro-units (ranks start at 1e6;
    * contribution = r div outdeg; damping = 150000 + 85·Σ div 100), so
    * both engines compute bit-identical ranks — truncating div equals
    * floor div on non-negative values in Spark and DuckDB. Per round:
    * one join + one aggregate on the dst key, state localCheckpoint'ed
    * so the plan stays constant-size (the q79 lesson); a billion-edge
    * graph partitions identically. Fixed rounds (not to-convergence)
    * keep the oracle expressible as chained CTEs; a production run
    * would loop until the max delta drops below epsilon. */
  val q91Pagerank: Q = (spark, dir) => {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id").cache()
    val n = docs.count()
    val edges = docs.select($"doc_id".as("src"), explode(array(
        ($"doc_id" * 2 + 1) % n, ($"doc_id" * 3 + 2) % n)).as("dst"))
      .cache()
    var ranks = docs.select($"doc_id".as("v"), lit(1000000L).as("r"))
    for (_ <- 1 to 3) {
      val contrib = edges.join(ranks, $"src" === $"v")
        .select($"dst", expr("r div 2").as("c")) // outdeg is 2 by construction
        .groupBy($"dst").agg(sum($"c").as("s"))
      ranks = docs.select($"doc_id".as("v"))
        .join(contrib, $"v" === $"dst", "left")
        .select($"v",
          (lit(150000L) + expr("(85 * coalesce(s, 0L)) div 100")).as("r"))
        .localCheckpoint(true)
    }
    ranks
      .orderBy($"r".desc, $"v")
      .limit(10)
      .select($"v".as("doc_id"), $"r".as("rank_micro"))
  }

  /** Approximate-quantile sketch beside q45's exact-rank percentiles —
    * the q64 (HLL) pattern: each engine computes its OWN approx estimate
    * and checks it against its own exact quantiles (estimates differ
    * between sketch implementations; the bound check is the comparable
    * output). The bound is a RANK-error bound — the sketch's median must
    * land between the exact 45th and 55th percentiles — because rank
    * error is what quantile sketches actually guarantee; a relative
    * VALUE bound (round 4's 1%) breaks at small scale, where the data
    * points adjacent to the median can sit several percent apart (caught
    * by the sf0.001 sweep, round 5). Exact interpolated quantiles over
    * integer cents are exact doubles, so the exact column still
    * hash-matches. At 100 TB the sketch is one pass + constant memory
    * per group where the exact quantile needs a per-group sort. */
  val q92ApproxQuantile: Q = (spark, dir) => {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select($"o_orderpriority",
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .groupBy($"o_orderpriority")
      .agg(
        percentile($"cents", lit(0.5)).as("exact_med_cents"),
        percentile($"cents", lit(0.45)).as("p45"),
        percentile($"cents", lit(0.55)).as("p55"),
        percentile_approx($"cents", lit(0.5), lit(10000)).as("apx"))
      .select($"o_orderpriority", $"exact_med_cents",
        ($"apx" >= $"p45" && $"apx" <= $"p55").as("approx_ok"))
      .orderBy($"o_orderpriority")
  }

  val queries: Map[String, Q] = Map(
    "q88_custom_source" -> q88CustomSource,
    "q89_pii_redaction" -> q89PiiRedaction,
    "q90_cdc_merge" -> q90CdcMerge,
    "q91_pagerank" -> q91Pagerank,
    "q92_approx_quantile" -> q92ApproxQuantile,
    "q82_chunking" -> q82Chunking,
    "q83_funnel" -> q83Funnel,
    "q84_bloom_semijoin" -> q84BloomSemijoin,
    "q85_stratified_sample" -> q85StratifiedSample,
    "q86_embedding_pool" -> q86EmbeddingPool,
    "q87_partitioned_write" -> q87PartitionedWrite,
  )

  val oracle: Map[String, String] = Map(
    "q88_custom_source" ->
      """SELECT CAST((i % 91 + 9) % 10 AS INT) AS bucket,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 15))
        |    AS BIGINT) % 1000) AS BIGINT) AS fp_mod_sum,
        |  MIN(i) AS min_id, MAX(i) AS max_id
        |FROM range(2500, 150000) t(i)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q89_pii_redaction" ->
      """WITH pii AS (
        |  SELECT source,
        |    (CASE WHEN doc_id % 3 = 0
        |       THEN 'u' || doc_id || '@ex' || (doc_id % 7) || '.com '
        |       ELSE '' END)
        |    || text
        |    || (CASE WHEN doc_id % 5 = 0
        |        THEN ' 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |        ELSE '' END) AS t
        |  FROM documents
        |)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(regexp_extract_all(t, '[a-z0-9]+@[a-z0-9]+\.[a-z]+')))
        |    AS BIGINT) AS n_emails,
        |  CAST(SUM(len(regexp_extract_all(t, '555-[0-9]{4}')))
        |    AS BIGINT) AS n_phones,
        |  CAST(SUM(length(regexp_replace(
        |    regexp_replace(t, '[a-z0-9]+@[a-z0-9]+\.[a-z]+', '<EMAIL>', 'g'),
        |    '555-[0-9]{4}', '<PHONE>', 'g'))) AS BIGINT) AS redacted_chars
        |FROM pii GROUP BY 1 ORDER BY 1""".stripMargin,
    "q90_cdc_merge" ->
      """WITH base AS (
        |  SELECT doc_id, lang, n_chars, 0 AS version, FALSE AS deleted
        |  FROM documents
        |), ups AS (
        |  SELECT doc_id, lang, n_chars + 3 AS n_chars, 1 AS version,
        |    FALSE AS deleted
        |  FROM documents WHERE doc_id % 11 = 0
        |), dels AS (
        |  SELECT doc_id, lang, 0 AS n_chars, 2 AS version, TRUE AS deleted
        |  FROM documents WHERE doc_id % 13 = 0
        |), merged AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY version DESC) AS rnk
        |  FROM (SELECT * FROM base UNION ALL SELECT * FROM ups
        |        UNION ALL SELECT * FROM dels)
        |)
        |SELECT lang, COUNT(*) AS n_live,
        |  CAST(COUNT(CASE WHEN version = 1 THEN 1 END) AS BIGINT)
        |    AS n_updated,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM merged WHERE rnk = 1 AND NOT deleted
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q91_pagerank" -> {
      // one power-iteration round as a CTE body (integer arithmetic:
      // // on non-negative values == Spark's div)
      def round(prev: String, out: String) =
        s"""$out AS (
           |  SELECT d.doc_id AS v,
           |    150000 + (85 * COALESCE(SUM(p.r // 2), 0)) // 100 AS r
           |  FROM documents d
           |  LEFT JOIN edges e ON e.dst = d.doc_id
           |  LEFT JOIN $prev p ON p.v = e.src
           |  GROUP BY 1
           |)"""
      s"""WITH n AS (SELECT COUNT(*) AS n FROM documents),
         |edges AS (
         |  SELECT doc_id AS src, (doc_id * 2 + 1) % n AS dst
         |  FROM documents, n
         |  UNION ALL
         |  SELECT doc_id, (doc_id * 3 + 2) % n FROM documents, n
         |),
         |r0 AS (SELECT doc_id AS v, CAST(1000000 AS BIGINT) AS r
         |       FROM documents),
         |${round("r0", "r1")},
         |${round("r1", "r2")},
         |${round("r2", "r3")}
         |SELECT v AS doc_id, CAST(r AS BIGINT) AS rank_micro
         |FROM r3 ORDER BY r DESC, v LIMIT 10""".stripMargin
    },
    "q92_approx_quantile" ->
      """SELECT o_orderpriority,
        |  quantile_cont(cents, 0.5) AS exact_med_cents,
        |  approx_quantile(cents, 0.5)
        |    BETWEEN quantile_cont(cents, 0.45) AND quantile_cont(cents, 0.55)
        |    AS approx_ok
        |FROM (SELECT o_orderpriority,
        |        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |      FROM orders)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q82_chunking" ->
      """WITH chunks AS (
        |  SELECT source, substr(text, CAST(i * 150 + 1 AS INT), 200) AS chunk
        |  FROM documents,
        |    LATERAL unnest(range(0, ((n_chars - 1) // 150) + 1)) t(i)
        |)
        |SELECT source, COUNT(*) AS n_chunks,
        |  CAST(SUM(length(chunk)) AS BIGINT) AS total_chunk_chars,
        |  CAST(COUNT(DISTINCT md5(chunk)) AS BIGINT) AS distinct_chunks
        |FROM chunks GROUP BY 1 ORDER BY 1""".stripMargin,
    "q83_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    CAST(floor(date_part('epoch', ts)) AS BIGINT) AS sec
        |  FROM events
        |), v AS (
        |  SELECT user_id, MIN(sec) AS v_sec FROM e
        |  WHERE event_type = 'view' GROUP BY 1
        |), c AS (
        |  SELECT e.user_id, MIN(e.sec) AS c_sec
        |  FROM e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.sec >= v.v_sec GROUP BY 1
        |), p AS (
        |  SELECT e.user_id, MIN(e.sec) AS p_sec
        |  FROM e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.sec >= c.c_sec GROUP BY 1
        |)
        |SELECT COUNT(*) AS n_view,
        |  COUNT(c_sec) AS n_click,
        |  COUNT(p_sec) AS n_purchase,
        |  CAST(SUM(c_sec - v_sec) AS BIGINT) AS view_to_click_secs,
        |  CAST(SUM(p_sec - c_sec) AS BIGINT) AS click_to_purchase_secs
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)"""
        .stripMargin,
    "q84_bloom_semijoin" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS revenue
         |FROM orders
         |WHERE o_custkey IN (
         |  SELECT c_custkey FROM customer
         |  WHERE c_mktsegment = 'BUILDING' AND c_nationkey < 10)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q85_stratified_sample" ->
      """SELECT lang, COUNT(*) AS total_docs,
        |  CAST(COUNT(CASE WHEN sel THEN 1 END) AS BIGINT) AS sample_docs,
        |  CAST(SUM(CASE WHEN sel THEN n_chars END) AS BIGINT) AS sample_chars
        |FROM (
        |  SELECT lang, n_chars,
        |    CAST(('0x' || substr(md5(doc_id || ':' || text), 1, 8)) AS BIGINT)
        |      % 5 = 0 AS sel
        |  FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q86_embedding_pool" ->
      """SELECT label, CAST(i AS INT) AS pos,
        |  COUNT(*) AS n_vecs,
        |  CAST(SUM(CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000)
        |    AS BIGINT)) AS BIGINT) AS sum_q
        |FROM embeddings, range(0, 64) t(i)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q87_partitioned_write" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE lang = 'en'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
