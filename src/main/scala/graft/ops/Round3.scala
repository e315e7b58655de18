package graft.ops

import java.io.File
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import org.apache.spark.sql.functions._
import graft.Tables
import OpsUtil._

/** Round-3 coverage queries: string→date parsing with an explicit pattern
  * (the reference's very first transform, `/root/reference/
  * Assignment-python.py:58`), a real `binaryFile`-format scan feeding the
  * multimodal decode path (reference reads a PNG directory at `:710`), and
  * the reference's driver-splice lifecycle — `collect()[0][0]` feeding the
  * next query as a literal (`:65-70`).
  */
object Round3 {

  /** X1: parse a "dd-MM-yyyy" formatted STRING back into a date with an
    * explicit pattern, then extract fields from the parsed value. The
    * formatted column is synthesized from o_orderdate so the oracle can
    * reproduce it; the round-trip proves the parse (a wrong pattern would
    * scramble day/month and change every group). */
  val q72DateParse: Q = (spark, dir) => {
    import spark.implicits._
    Tables.orders(spark, dir)
      .withColumn("date_str", date_format($"o_orderdate", "dd-MM-yyyy"))
      .withColumn("parsed", to_date($"date_str", "dd-MM-yyyy"))
      .groupBy(
        year($"parsed").as("y"),
        month($"parsed").as("m"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(dayofmonth($"parsed")).as("n_days"),
        dsum($"o_totalprice").as("revenue"))
      .orderBy($"y", $"m")
  }

  /** S4 via Spark's built-in `binaryFile` source: a deterministic fixture
    * directory of .bin files (the first 20 documents' md5 digests — the
    * same 16-byte payload q61 synthesizes in-plan) is scanned with
    * `format("binaryFile")`, ids recovered from the file PATH column, and
    * the `content` bytes run through the same typed per-partition decode
    * as q61. Scan columns (path, length, content) all participate, so the
    * plan proves the real file-based binary source, not a synthesized
    * column. */
  val q73BinaryFiles: Q = (spark, dir) => {
    import spark.implicits._
    // Fixture: 20 tiny files, driver-side (this is test-input creation,
    // not query work — a real deployment reads an existing media
    // directory). The cache dir is keyed by a fingerprint of the actual
    // payloads, so a regenerated documents table (or two datasets sharing
    // a basename) can never silently reuse a stale fixture; files are
    // written to a temp dir and renamed into place atomically, so
    // concurrent Bench/Verify JVMs race harmlessly (same content → same
    // key; loser's rename fails against an identical ready dir).
    val docs = Tables.documents(spark, dir)
      .filter($"doc_id" < 20).select($"doc_id", $"text")
      .collect()
    val md = MessageDigest.getInstance("MD5")
    val payloads = docs.map { r =>
      md.reset()
      r.getLong(0) -> md.digest(r.getString(1).getBytes("UTF-8"))
    }
    md.reset()
    payloads.foreach { case (id, bytes) =>
      md.update(id.toString.getBytes("UTF-8")); md.update(bytes)
    }
    val tag = md.digest().take(8).map(b => f"$b%02x").mkString
    val out = new File(sys.props("java.io.tmpdir"),
      s"graft_binfiles_$tag").getAbsolutePath
    if (!Files.isDirectory(Paths.get(out))) {
      val tmp = Files.createTempDirectory(
        Paths.get(sys.props("java.io.tmpdir")), s"graft_binfiles_$tag.")
      payloads.foreach { case (id, bytes) =>
        Files.write(tmp.resolve(f"doc_$id%03d.bin"), bytes)
      }
      try Files.move(tmp, Paths.get(out),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileSystemException
          if Files.isDirectory(Paths.get(out)) => // lost a benign race
        org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
      }
    }
    val media = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(out)
      .select(
        regexp_extract($"path", "doc_(\\d+)\\.bin", 1).cast("long").as("doc_id"),
        lit("binfile").as("source"),
        $"content".as("payload"),
        lit(4).as("width"), lit(2).as("height"), lit(2).as("channels"))
      .as[graft.multimodal.Multimodal.MediaRow]
    media.mapPartitions(_.map(graft.multimodal.Multimodal.FakeDecoder.decode))
      .toDF()
      .select($"doc_id", $"n_bytes", $"byte_sum", $"max_byte")
      .orderBy($"doc_id")
  }

  /** The reference's driver-splice lifecycle: a scalar is collected on the
    * driver (`collect()[0][0]`) and spliced into the NEXT query as a
    * literal — here max(o_orderdate) → an equality filter. The oracle
    * expresses the same thing as a scalar subquery. (q02/q03 already cover
    * the fully-relational rewrite; this proves the two-step entry-point
    * shape itself.) */
  val q74DriverSplice: Q = (spark, dir) => {
    import spark.implicits._
    // collect()[0][0]; Spark 4 surfaces TIMESTAMP_NTZ as LocalDateTime,
    // and lit() round-trips it back into a literal of the same type.
    val maxDate = Tables.orders(spark, dir)
      .agg(max($"o_orderdate")).head().get(0)
    Tables.orders(spark, dir)
      .filter($"o_orderdate" === lit(maxDate))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("revenue"))
      .orderBy($"o_orderpriority")
  }

  /** The 8×64 ±1 hyperplane matrix for q75, derived from md5("h:j") so the
    * DuckDB oracle reproduces it bit-for-bit (same construction family as
    * the minhash salts in [[Dedup]]). */
  private lazy val lshPlanes: Seq[Seq[Long]] = {
    val md = MessageDigest.getInstance("MD5")
    (0 until 8).map { h =>
      (0 until 64).map { j =>
        md.reset()
        val hex = md.digest(s"$h:$j".getBytes("UTF-8"))
          .take(2).map(b => f"$b%02x").mkString
        (java.lang.Long.parseLong(hex, 16) % 2) * 2 - 1
      }
    }
  }

  /** ANN via random-hyperplane LSH with multi-probe — the LSH-bucketed
    * scale path beside q51's IVF variant (builder prompt: "an IVF or LSH
    * bucketed variant"). Every vector gets an 8-bit signature (sign of 8
    * ±1-hyperplane dot products, computed with the codegen'd dot_long —
    * one scan, no shuffle); the query (vec_id 2) probes its own bucket
    * plus the 8 Hamming-1 buckets (multi-probe), and exact cosine runs
    * only inside the probed buckets. At corpus scale candidate count
    * follows bucket occupancy (n/256 · 9), never n². */
  val q75AnnLsh: Q = (spark, dir) => {
    import spark.implicits._
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.functions.VectorExprs.dotLong(a, b)
    val sig = (0 until 8).map { h =>
      when(dot($"e", typedLit(lshPlanes(h))) >= 0, 1L << h).otherwise(0L)
    }.reduce(_ + _)
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", Features.quantize($"embedding", 0).as("e"))
      .withColumn("bucket", sig)
      .cache() // corpus side + query side of the bucket probe
    val probes = emb.filter($"vec_id" === 2)
      .select($"e".as("qe"), explode(array(
        ($"bucket" +: (0 until 8).map(h =>
          $"bucket".bitwiseXOR(lit(1L << h)))): _*)).as("bucket"))
    emb.filter($"vec_id" =!= 2)
      .join(broadcast(probes), Seq("bucket"))
      .select($"vec_id",
        graft.functions.VectorExprs.cosineLong($"e", $"qe").as("cos_sim"))
      .orderBy($"cos_sim".desc, $"vec_id")
      .limit(10)
  }

  /** TF-IDF top terms per document: per-(doc, term) counts, global
    * document frequency, idf = ln(N/df), rank per doc. Two hash
    * aggregations plus one broadcast-able df join — the corpus-global df
    * table is |vocab|-sized, tiny next to the corpus. Output bounded to
    * the first 20 docs (scores still computed against GLOBAL df/N). */
  val q76Tfidf: Q = (spark, dir) => {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.count() // corpus-size scalar (driver splice, q74 shape)
    // fanoutReady: a single-file scan is ONE partition, and without the
    // rebalance the whole term explosion runs in one task (playbook item
    // 6 — this was 4.7 s of this query's 4.7 s at local[32]). tf is
    // cached because BOTH the df aggregation and the score join consume
    // it; uncached it would recompute the explode+aggregate twice.
    val terms = Features.fanoutReady(docs)
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .filter(length($"term") > 0)
    val tf = terms.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      .cache()
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df), Seq("term"))
      .withColumn("tf_idf",
        $"tf" * log(lit(nDocs).cast("double") / $"df".cast("double")))
    // ln() differs from DuckDB's in the last ulp on some inputs, so BOTH
    // the emitted score AND the ranking key are floor-quantized to
    // millionths (playbook rule): ranking on the raw double could flip
    // neighbors whose scores differ by under the cross-engine drift, so
    // the ordering key itself must be the bit-stable integer, with term
    // as the within-tie tiebreaker.
    scored.filter($"doc_id" < 20)
      .withColumn("tfidf_q", floor($"tf_idf" * 1e6).cast("long"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")
          .orderBy($"tfidf_q".desc, $"term")))
      .filter($"rnk" <= 3)
      .select($"doc_id", $"rnk", $"term", $"tf", $"df", $"tfidf_q")
      .orderBy($"doc_id", $"rnk")
  }

  val queries: Map[String, Q] = Map(
    "q72_date_parse" -> q72DateParse,
    "q73_binary_files" -> q73BinaryFiles,
    "q74_driver_splice" -> q74DriverSplice,
    "q75_ann_lsh" -> q75AnnLsh,
    "q76_tfidf" -> q76Tfidf,
    "q77_winnowing" -> q77Winnowing,
    "q79_dup_clusters" -> q79DupClusters,
    "q80_hash_split" -> q80HashSplit,
    "q81_topk_udaf" -> q81TopkUdaf,
  )

  /** Per-group top-k through the custom typed [[graft.functions
    * .TopKByValue]] Aggregator registered as a udaf: the bounded-heap
    * formulation shuffles k rows per group (map-side combined) where the
    * window formulation sorts whole groups. Result exploded back to rows
    * for the oracle (a ROW_NUMBER window — same semantics, different
    * physical shape). */
  lazy val q81TopkUdaf: Q = (spark, dir) => {
    import spark.implicits._
    val top3 = udaf(new graft.functions.TopKByValue(3))
    Tables.orders(spark, dir)
      .groupBy($"o_orderpriority")
      .agg(top3($"o_totalprice", $"o_orderkey").as("top"))
      .select($"o_orderpriority", posexplode($"top").as(Seq("pos", "s")))
      .select($"o_orderpriority", ($"pos" + 1).as("rnk"),
        $"s._2".as("o_orderkey"), $"s._1".as("price"))
      .orderBy($"o_orderpriority", $"rnk")
  }

  /** Deterministic train/val/test corpus splits by CONTENT hash — the
    * scale-correct way to partition a training corpus: stable under
    * re-runs, re-sharding, and corpus growth (a doc's split never depends
    * on which machine read it or what else is in the corpus), unlike
    * randomSplit. md5-derived bucket in [0,10): 8/1/1 split. Exact-dup
    * texts land in the SAME split (hash of text, not id), preventing
    * train/test leakage from duplicates. */
  lazy val q80HashSplit: Q = (spark, dir) => {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("bucket",
        conv(substring(md5($"text"), 1, 8), 16, 10).cast("long") % 10)
      .withColumn("split",
        when($"bucket" < 8, "train").when($"bucket" < 9, "val")
          .otherwise("test"))
      .groupBy($"split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        countDistinct($"lang").as("n_langs"))
      .orderBy($"split")
  }

  /** Near-dup CLUSTER resolution — the step after pairwise detection in a
    * real dedup pipeline: q41's minhash pairs are treated as edges and
    * resolved into connected components by distributed min-label
    * propagation (each round, every vertex takes the minimum label in its
    * neighborhood; rounds ≤ component diameter, checked by a distributed
    * convergence count — no driver-side union-find, so a billion-edge
    * graph partitions the same way). Each component keeps its minimum
    * doc_id as the canonical survivor. The oracle computes the same
    * components with a recursive transitive-closure CTE. */
  lazy val q79DupClusters: Q = (spark, dir) => {
    import spark.implicits._
    // The q41 pair table arrives as the session-memoized checkpointed
    // leaf (Dedup.verifiedPairs): the propagation loop replans against a
    // constant-size LogicalRDD instead of carrying the whole minhash
    // pipeline (shingles, bands, verification joins) in every round's
    // lineage — and the derivation is shared with the 8 other pair
    // consumers instead of re-run per query.
    val pairs = Dedup.verifiedPairs(spark, dir).select($"doc_a", $"doc_b")
    val edges = pairs
      .unionByName(pairs.select($"doc_b".as("doc_a"), $"doc_a".as("doc_b")))
      .localCheckpoint(true)
    var labels = edges.select($"doc_a".as("v")).distinct()
      .withColumn("label", $"v")
      .localCheckpoint(true)
    var converged = false
    var rounds = 0
    val changedAcc = spark.sparkContext.longAccumulator("q79_changed")
    // Per round: neighbor-min PLUS pointer doubling (take the label of
    // your label), which contracts chains geometrically — convergence in
    // O(log diameter) rounds instead of O(diameter). Exactly ONE Spark
    // action per round: the convergence check rides a long accumulator
    // inside the checkpoint job itself (a task retry could only
    // OVER-count, which costs one extra round, never a wrong answer —
    // changed can't falsely read 0).
    while (!converged && rounds < 12) {
      changedAcc.reset()
      val nmin = edges.join(labels, edges("doc_b") === labels("v"))
        .groupBy(edges("doc_a").as("nv")).agg(min($"label").as("nmin"))
      val step1 = labels.select($"v", $"label".as("old"))
        .join(nmin, $"v" === $"nv", "left")
        .select($"v", $"old",
          least($"old", coalesce($"nmin", $"old")).as("l1"))
      val next = step1.as("a")
        .join(step1.select($"v".as("pv"), $"l1".as("pl")).as("b"),
          $"l1" === $"pv", "left")
        .select($"v", $"old",
          least($"l1", coalesce($"pl", $"l1")).as("label"))
      // localCheckpoint (not cache): TRUNCATES the logical plan each
      // round. With cache alone the round-N plan still nests all prior
      // rounds, and planning+codegen grow with the iteration count
      // (measured 5.5 s -> 42 s from round 0 to round 1); checkpointed,
      // every round replans the same constant-size tree. The label table
      // is |affected docs|-sized (far below the corpus), so the typed map
      // that feeds the accumulator is off the hot path by construction.
      labels = next.as[(Long, Long, Long)]
        .map { case (v, old, label) =>
          if (old != label) changedAcc.add(1L)
          (v, label)
        }
        .toDF("v", "label")
        .localCheckpoint(true)
      converged = changedAcc.value == 0L
      rounds += 1
    }
    // Fail LOUDLY if the cap was hit before convergence: an unconverged
    // labeling silently emits wrong components. With pointer doubling the
    // cap covers diameter ~2^12; a graph that still isn't done needs a
    // bigger cap, not a wrong answer.
    if (!converged) throw new IllegalStateException(
      s"q79 label propagation did not converge within $rounds rounds")
    labels
      .groupBy($"label".as("cluster_keeper"))
      .agg(count(lit(1)).as("cluster_size"), sum($"v").as("member_id_sum"))
      .orderBy($"cluster_keeper")
  }

  /** Winnowing document fingerprints (the MOSS scheme, Schleimer et al.
    * SIGMOD'03): hash every 5-gram, slide a window of 8 hashes, keep each
    * window's minimum — guaranteeing any match of length ≥ w+k-1 shares a
    * fingerprint — then dedup the selected hashes per document. The
    * per-source distinct/total fingerprint ratio exposes template
    * duplication in the corpus. Selection is a partitioned running-min
    * window (no shuffle beyond the doc partitioning); hashes are
    * md5-derived so DuckDB reproduces them exactly. */
  // lazy: referenced by the queries map ABOVE its definition point
  lazy val q77Winnowing: Q = (spark, dir) => {
    import spark.implicits._
    // one-scan winnowing: the codegen-adjacent expression computes each
    // document's distinct window minima in place, so the per-position
    // gram explode AND the doc-keyed sliding-min window (a
    // corpus×len(text) exchange in the composed plan) do not exist in
    // this plan at all; only deduped fingerprints exit the scan.
    // Equivalence to the composed form is property-tested
    // (PropertiesSpec) and the oracle is unchanged.
    val fps = Features.fanoutReady(Tables.documents(spark, dir))
      .select($"doc_id", $"source",
        explode(graft.functions.TextExprs
          .winnowedFingerprints($"text", 5, 8)).as("wm"))
    fps.groupBy($"source")
      .agg(
        countDistinct($"doc_id").as("n_docs"),
        count(lit(1)).as("total_fps"),
        countDistinct($"wm").as("distinct_fps"))
      .orderBy($"source")
  }

  val oracle: Map[String, String] = Map(
    "q72_date_parse" ->
      s"""SELECT CAST(year(parsed) AS INT) AS y,
         |  CAST(month(parsed) AS INT) AS m,
         |  COUNT(*) AS n_orders,
         |  CAST(COUNT(DISTINCT day(parsed)) AS BIGINT) AS n_days,
         |  ${dsumSql("o_totalprice")} AS revenue
         |FROM (SELECT CAST(strptime(strftime(o_orderdate, '%d-%m-%Y'),
         |        '%d-%m-%Y') AS DATE) AS parsed, o_totalprice
         |      FROM orders)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q73_binary_files" ->
      """SELECT doc_id, 16 AS n_bytes,
        |  CAST(list_reduce(list_prepend(0, bs), (a, b) -> a + b) AS BIGINT)
        |    AS byte_sum,
        |  CAST(list_reduce(list_prepend(0, bs),
        |    (a, b) -> CASE WHEN b > a THEN b ELSE a END) AS INT) AS max_byte
        |FROM (
        |  SELECT doc_id,
        |    list_transform(range(0, 16),
        |      i -> CAST(('0x' || substr(md5(text), i * 2 + 1, 2)) AS INT)) AS bs
        |  FROM documents WHERE doc_id < 20
        |) ORDER BY doc_id""".stripMargin,
    "q74_driver_splice" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS revenue
         |FROM orders
         |WHERE o_orderdate = (SELECT max(o_orderdate) FROM orders)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q75_ann_lsh" -> {
      import Features.{cosineSql, dotSql}
      s"""WITH v AS (
         |  SELECT vec_id,
         |    list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
         |  FROM embeddings
         |), planes AS (
         |  SELECT h, list_transform(range(0, 64),
         |    j -> (CAST(('0x' || substr(md5(h || ':' || j), 1, 4)) AS INT)
         |          % 2) * 2 - 1) AS w
         |  FROM range(0, 8) t(h)
         |), dots AS (
         |  SELECT vec_id, e, h, ${dotSql("e", "w")} AS d
         |  FROM v, planes
         |), sigs AS (
         |  SELECT vec_id, ANY_VALUE(e) AS e,
         |    CAST(SUM(CASE WHEN d >= 0 THEN 1 << h ELSE 0 END) AS BIGINT)
         |      AS bucket
         |  FROM dots GROUP BY vec_id
         |), q AS (
         |  SELECT e AS qe, bucket AS qb FROM sigs WHERE vec_id = 2
         |), probes AS (
         |  SELECT qe, unnest([qb, xor(qb, 1), xor(qb, 2), xor(qb, 4),
         |    xor(qb, 8), xor(qb, 16), xor(qb, 32), xor(qb, 64),
         |    xor(qb, 128)]) AS bucket
         |  FROM q
         |)
         |SELECT s.vec_id,
         |  ${cosineSql("s.e", "p.qe")} AS cos_sim
         |FROM sigs s JOIN probes p ON s.bucket = p.bucket
         |WHERE s.vec_id <> 2
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin
    },
    "q76_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf
        |  FROM terms WHERE length(term) > 0 GROUP BY 1, 2
        |), df AS (
        |  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
        |), n AS (SELECT COUNT(*) AS n FROM documents),
        |ranked AS (
        |  SELECT doc_id, term, tf, df,
        |    CAST(floor(tf * ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)) * 1e6)
        |      AS BIGINT) AS tfidf_q,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY CAST(floor(tf * ln(CAST(n AS DOUBLE)
        |          / CAST(df AS DOUBLE)) * 1e6) AS BIGINT) DESC,
        |        term) AS rnk
        |  FROM tf JOIN df USING (term), n
        |  WHERE doc_id < 20
        |)
        |SELECT doc_id, CAST(rnk AS INT) AS rnk, term,
        |  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, tfidf_q
        |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "q77_winnowing" ->
      """WITH grams AS (
        |  SELECT doc_id, source, i AS pos,
        |    CAST(('0x' || substr(md5(substr(text, i + 1, 5)), 1, 8)) AS BIGINT)
        |      AS h
        |  FROM documents, LATERAL unnest(range(0, length(text) - 4)) t(i)
        |), sel AS (
        |  SELECT DISTINCT doc_id, source,
        |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS wm
        |  FROM grams
        |  QUALIFY pos >= 7
        |)
        |SELECT source,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  COUNT(*) AS total_fps,
        |  CAST(COUNT(DISTINCT wm) AS BIGINT) AS distinct_fps
        |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin,
    "q79_dup_clusters" ->
      s"""WITH RECURSIVE q41 AS (
         |${Dedup.oracle("q41_minhash_lsh")}
         |), edges AS (
         |  SELECT doc_a, doc_b FROM q41
         |  UNION
         |  SELECT doc_b AS doc_a, doc_a AS doc_b FROM q41
         |), reach(v, label) AS (
         |  SELECT doc_a AS v, doc_a AS label FROM edges
         |  UNION
         |  SELECT e.doc_a AS v, r.label FROM edges e JOIN reach r ON e.doc_b = r.v
         |), comp AS (
         |  SELECT v, MIN(label) AS label FROM reach GROUP BY v
         |)
         |SELECT label AS cluster_keeper, COUNT(*) AS cluster_size,
         |  CAST(SUM(v) AS BIGINT) AS member_id_sum
         |FROM comp GROUP BY 1 ORDER BY 1""".stripMargin,
    "q80_hash_split" ->
      """SELECT CASE WHEN bucket < 8 THEN 'train'
        |  WHEN bucket < 9 THEN 'val' ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        |FROM (SELECT n_chars, lang,
        |        CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 10
        |          AS bucket
        |      FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q81_topk_udaf" ->
      """SELECT o_orderpriority, CAST(rnk AS INT) AS rnk, o_orderkey,
        |  price
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice AS price,
        |        ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |          ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |      FROM orders)
        |WHERE rnk <= 3 ORDER BY o_orderpriority, rnk""".stripMargin,
  )
}
