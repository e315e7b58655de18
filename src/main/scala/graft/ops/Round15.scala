package graft.ops

import org.apache.spark.sql.functions._
import graft.sources.GraftVersions
import OpsUtil.Q

/** Round-15 operators: generated columns and identity columns on the
  * versioned warehouse — Spark 4's
  * `SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS` /
  * `_IDENTITY_COLUMNS` catalog contract, the two Delta idioms a
  * curated 100 TB corpus leans on daily: derived clustering columns
  * (`PARTITIONED BY (date(ts))`-style) and surrogate keys minted at
  * ingest.
  *
  * Capability extension beyond the reference (the notebook at
  * /root/reference/Assignment-python.py derives every new column with
  * `withColumn` at query time, e.g. Assignment-python.py:58,241-254):
  * here the DERIVATION ITSELF is table metadata — declared once at
  * CREATE, computed/enforced by the shared writer on every path
  * (batch, streaming, COW/MOR row-level rewrites), and — for the
  * value-partitioned layout — turned into per-file min=max manifest
  * stats so value predicates prune whole files without a partition
  * directory tree.
  *
  * Scale shape: generation is a bound Catalyst expression evaluated
  * row-side in the writer (no extra pass, no shuffle); identity values
  * allocate BLOCK-wise from a manifest-adjacent high-water mark under
  * the commit lock (one tiny metadata write per job, disjoint ranges
  * per task and per concurrent writer — never a per-row coordination
  * point).
  */
object Round15 {
  // ---------------------------------------------------------------------
  // q261: generated columns — declared derivation, write-path enforced
  // ---------------------------------------------------------------------

  /** Lifecycle of two generated columns (a numeric partition-value
    * column and a string tag), audited end to end:
    *
    *  1. CREATE with `wc_bucket GENERATED ALWAYS AS (n_words % 10)`
    *     (the table's value-partitioning column) and `title_tag
    *     GENERATED ALWAYS AS (concat(title, ':', doc_id % 3))`,
    *     `PARTITIONED BY (wc_bucket)`;
    *  2. INSERT [0,24) OMITTING both columns — the writer computes
    *     them (the analyzer fills the omission via CURRENT_DEFAULT
    *     NULL, the writer recognizes the NULL cell);
    *  3. INSERT one row WITH explicit values — accepted because they
    *     match the expressions (a mismatch fails the write: Delta's
    *     enforcement contract, exercised negatively in Round15Spec);
    *  4. UPDATE a base input (n_words) — the COW rewrite RECOMPUTES
    *     wc_bucket for the touched rows (rows migrate buckets).
    *
    * The audit groups the final table by the generated bucket: counts,
    * word sums, distinct tags. The DuckDB oracle rebuilds the same
    * state from the generative closed forms and applies the generation
    * expressions itself — the engine's declared derivation must equal
    * the oracle's inline one. */
  val q261GeneratedColumns: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r15_q261") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL,
           |  wc_bucket BIGINT GENERATED ALWAYS AS
           |    (CAST(n_words AS BIGINT) % 10),
           |  title_tag STRING GENERATED ALWAYS AS
           |    (concat(title, ':', CAST(doc_id % 3 AS STRING))))
           |PARTITIONED BY (wc_bucket)
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "24").load().coalesce(1)
        .createOrReplaceTempView(s"${cat}_src")
      spark.sql(
        s"""INSERT INTO $cat.t (doc_id, title, fp, n_words)
           |SELECT doc_id, title, fp, n_words FROM ${cat}_src""".stripMargin)
      spark.catalog.dropTempView(s"${cat}_src")
      // explicit values that MATCH the expressions: accepted
      // (wc_bucket = 30 % 10 = 0, title_tag = 'doc-100:' || 100 % 3)
      spark.sql(
        s"INSERT INTO $cat.t VALUES (100, 'doc-100', 7, 30, 0, 'doc-100:1')")
      // a COW rewrite recomputes derived cells from the new inputs
      spark.sql(s"UPDATE $cat.t SET n_words = n_words + 1 WHERE doc_id < 5")
      val out = spark.sql(
        s"""SELECT wc_bucket, COUNT(*) AS n_rows,
           |  SUM(CAST(n_words AS BIGINT)) AS sum_words,
           |  COUNT(DISTINCT title_tag) AS n_tags
           |FROM $cat.t GROUP BY wc_bucket ORDER BY wc_bucket""".stripMargin)
      OpsUtil.driverLiteral(out)
    }

  // ---------------------------------------------------------------------
  // q262: identity columns — surrogate keys from a commit-locked hwm
  // ---------------------------------------------------------------------

  /** Identity allocation audited against its closed form. The engine's
    * contract (mirrored in the oracle SQL):
    *
    *  - values are `start + k*step`, allocated block-wise: each write
    *    job reserves `numPartitions * 2^33` units from the table's
    *    high-water mark under the commit lock, and task t mints
    *    `base + (t*2^33 + j)*step` for its j-th row — so a
    *    single-partition write of n ordered rows gets exactly
    *    `start, start+step, …` and a SECOND write continues at
    *    `start + 2^33*step` (the reserved-block boundary; gaps are the
    *    price of coordination-free distributed allocation, exactly as
    *    in Delta);
    *  - an UPDATE preserves ids (the rewrite passes existing cells
    *    through — surrogate keys survive row-level mutation).
    *
    * Both inserts are forced to one ordered partition so the mapping
    * row → id is deterministic; the oracle computes the same ids from
    * `row_number()` and the block constant. */
  val q262IdentityColumns: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r15_q262") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL,
           |  rid BIGINT GENERATED ALWAYS AS IDENTITY
           |    (START WITH 1000 INCREMENT BY 2))
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      def batch(lo: Int, hi: Int): Unit = {
        spark.read.format("graft.sources.GraftDocsSource")
          .option("rows", hi.toString).load()
          .filter(col("doc_id") >= lo)
          .coalesce(1).sortWithinPartitions("doc_id")
          .createOrReplaceTempView(s"${cat}_b")
        spark.sql(
          s"""INSERT INTO $cat.t (doc_id, title, fp, n_words)
             |SELECT doc_id, title, fp, n_words FROM ${cat}_b""".stripMargin)
        spark.catalog.dropTempView(s"${cat}_b")
      }
      batch(0, 10)  // rid = 1000, 1002, …, 1018
      batch(20, 25) // rid = 1000 + 2*2^33 + {0,2,4,6,8}
      // surrogate keys survive row-level mutation
      spark.sql(s"UPDATE $cat.t SET n_words = 0 WHERE doc_id = 3")
      val out = spark.sql(
        s"""SELECT doc_id, rid, CAST(n_words AS BIGINT) AS n_words
           |FROM $cat.t ORDER BY doc_id""".stripMargin)
      OpsUtil.driverLiteral(out)
    }

  // ---------------------------------------------------------------------
  // q263: the files table's partition-value face — layout health in SQL
  // ---------------------------------------------------------------------

  /** The operator's view of a value-partitioned table: `cat.t.files`
    * exposes each file's single partition value (the generated
    * column's min=max manifest stat), so layout health — files per
    * partition, row balance, a partition that fragmented and wants an
    * OPTIMIZE — is one #files-sized manifest query, zero data files
    * opened. Three single-task inserts of the [0,24) corpus land one
    * file per (insert, distinct n_words%4) pair; grouping the metadata
    * relation by partition value pins file counts and row sums to
    * their closed forms. */
  val q263FilesPartitionFace: Q = (spark, dir) =>
    Scratch.withCatalog(spark, "r15_q263") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL,
           |  wb BIGINT GENERATED ALWAYS AS (CAST(n_words AS BIGINT) % 4))
           |PARTITIONED BY (wb)
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      (0 until 3).foreach { b =>
        spark.read.format("graft.sources.GraftDocsSource")
          .option("rows", ((b + 1) * 8).toString).load()
          .filter(col("doc_id") >= b * 8).coalesce(1)
          .createOrReplaceTempView(s"${cat}_b")
        spark.sql(
          s"""INSERT INTO $cat.t (doc_id, title, fp, n_words)
             |SELECT doc_id, title, fp, n_words FROM ${cat}_b""".stripMargin)
        spark.catalog.dropTempView(s"${cat}_b")
      }
      OpsUtil.driverLiteral(spark.sql(
        s"""SELECT partition_value, COUNT(*) AS n_files,
           |  SUM(rows) AS n_rows
           |FROM $cat.t.files
           |GROUP BY partition_value ORDER BY partition_value""".stripMargin))
    }

  // ---------------------------------------------------------------------
  // q264: mixture execution — apply a per-source sampling plan exactly
  // ---------------------------------------------------------------------

  /** The EXECUTION half of corpus mixing (q168 plans token budgets;
    * this materializes a mixture): each source gets a deterministic
    * per-row admission rate (here: equal char budget of
    * total/(2·|sources|), capped at the source's own size — the same
    * data-constrained shape as q168), and a row is admitted iff a
    * stable 60-bit hash of its doc_id falls under the rate. Hash
    * selection — not rand() — is what makes a 100 TB mixture
    * reproducible, resumable, and auditable: the same row set falls
    * out on every run, on every engine (the oracle recomputes the
    * selection bit-for-bit in DuckDB via the same md5 arithmetic).
    *
    * Scale shape: one map-side-combined |sources|-row aggregate builds
    * the plan (a config artifact); the plan broadcasts back onto the
    * corpus (no fact-side shuffle) and the admission test is one
    * row-local hash compare — the whole mixture materializes in a
    * single scan. The audit output is one row per source. */
  val q264MixtureExecute: Q = (spark, dir) => {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val per = docs.groupBy(col("source"))
      .agg(sum(col("n_chars")).as("chars"))
    val rows = per.collect().map(r => (r.getString(0), r.getLong(1)))
    val total = rows.map(_._2).sum
    val cap = total / (2L * rows.length)
    import spark.implicits._
    val plan = rows.toSeq.map { case (src, chars) =>
      (src, math.min(chars, cap) * 1000000L / chars)
    }.toDF("source", "rate_ppm")
    val hashPpm = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long"), lit(1000000L))
    val selected = docs.join(broadcast(plan), Seq("source"))
      .filter(hashPpm < col("rate_ppm"))
    val audit = plan.join(
        broadcast(selected.groupBy(col("source"))
          .agg(count(lit(1)).as("n_sel"),
            sum(col("n_chars")).as("sel_chars"))),
        Seq("source"), "left")
      .select(col("source"), col("rate_ppm"),
        coalesce(col("n_sel"), lit(0L)).as("n_sel"),
        coalesce(col("sel_chars"), lit(0L)).as("sel_chars"))
      .orderBy("source")
    audit
  }

  val queries: Map[String, Q] = Map(
    "q261_generated_columns" -> q261GeneratedColumns,
    "q262_identity_columns" -> q262IdentityColumns,
    "q263_files_partition_face" -> q263FilesPartitionFace,
    "q264_mixture_execute" -> q264MixtureExecute)

  val oracle: Map[String, String] = Map(
    "q261_generated_columns" ->
      """WITH base AS (
        |  SELECT i AS doc_id, 'doc-' || i AS title,
        |    CAST(i % 91 + 9 AS BIGINT) AS nw0
        |  FROM range(0, 24) t(i)
        |  UNION ALL SELECT 100, 'doc-100', 30),
        |upd AS (
        |  SELECT doc_id, title,
        |    CASE WHEN doc_id < 5 THEN nw0 + 1 ELSE nw0 END AS n_words
        |  FROM base),
        |g AS (
        |  SELECT doc_id, title, n_words,
        |    n_words % 10 AS wc_bucket,
        |    title || ':' || CAST(doc_id % 3 AS VARCHAR) AS title_tag
        |  FROM upd)
        |SELECT wc_bucket, COUNT(*) AS n_rows,
        |  CAST(SUM(n_words) AS BIGINT) AS sum_words,
        |  CAST(COUNT(DISTINCT title_tag) AS BIGINT) AS n_tags
        |FROM g GROUP BY wc_bucket ORDER BY wc_bucket""".stripMargin,
    "q262_identity_columns" ->
      // 8589934592 = 2^33, the engine's per-task identity block size:
      // write 2 reserved its block at 1000 + 2*2^33
      """WITH b1 AS (
        |  SELECT i AS doc_id,
        |    1000 + 2 * CAST(i AS BIGINT) AS rid,
        |    CAST(i % 91 + 9 AS BIGINT) AS nw
        |  FROM range(0, 10) t(i)),
        |b2 AS (
        |  SELECT i AS doc_id,
        |    1000 + 2 * 8589934592 + 2 * CAST(i - 20 AS BIGINT) AS rid,
        |    CAST(i % 91 + 9 AS BIGINT) AS nw
        |  FROM range(20, 25) t(i)),
        |u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
        |SELECT doc_id, rid,
        |  CASE WHEN doc_id = 3 THEN 0 ELSE nw END AS n_words
        |FROM u ORDER BY doc_id""".stripMargin,
    "q263_files_partition_face" ->
      // one file per (single-task insert, distinct n_words%4 value):
      // batch b inserts rows [8b, 8b+8), so per-batch distinct values
      // and per-(batch, value) row counts are closed-form
      """WITH rows_ AS (
        |  SELECT CAST(i // 8 AS BIGINT) AS batch,
        |    (i % 91 + 9) % 4 AS pv
        |  FROM range(0, 24) t(i)),
        |per_file AS (
        |  SELECT batch, pv, COUNT(*) AS file_rows
        |  FROM rows_ GROUP BY batch, pv)
        |SELECT pv AS partition_value,
        |  CAST(COUNT(*) AS BIGINT) AS n_files,
        |  CAST(SUM(file_rows) AS BIGINT) AS n_rows
        |FROM per_file GROUP BY pv ORDER BY pv""".stripMargin,
    "q264_mixture_execute" ->
      """WITH per AS (
        |  SELECT source, SUM(n_chars) AS chars
        |  FROM documents GROUP BY source),
        |tot AS (SELECT SUM(chars) AS t, COUNT(*) AS s FROM per),
        |plan AS (
        |  SELECT source, chars,
        |    LEAST(chars, (SELECT t // (2 * s) FROM tot))
        |      * 1000000 // chars AS rate_ppm
        |  FROM per),
        |sel AS (
        |  SELECT d.source, d.n_chars
        |  FROM documents d JOIN plan p USING (source)
        |  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
        |      ::BIGINT % 1000000 < p.rate_ppm)
        |SELECT p.source, CAST(p.rate_ppm AS BIGINT) AS rate_ppm,
        |  CAST(COALESCE(q.cnt, 0) AS BIGINT) AS n_sel,
        |  CAST(COALESCE(q.sc, 0) AS BIGINT) AS sel_chars
        |FROM plan p LEFT JOIN (
        |  SELECT source, COUNT(*) AS cnt, SUM(n_chars) AS sc
        |  FROM sel GROUP BY source) q USING (source)
        |ORDER BY p.source""".stripMargin)
}
