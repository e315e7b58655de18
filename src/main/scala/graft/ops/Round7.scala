package graft.ops

import java.io.File
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import OpsUtil._
import Features.{cosineSql, dotSql, quantizeSql}

/** Round-7 additions — the data-SELECTION stages of a training pipeline
  * (what to keep, not just what to dedup): SemDeDup semantic pruning,
  * the full Gopher quality-rule battery, DSIR importance weighting,
  * SCD2 dimension builds, mergeable bottom-k sampling sketches, vocab
  * coverage / OOV analysis, and the plain-text file source. Every query
  * follows the established cross-engine rules (PLANS.md): integer ppm
  * arithmetic, floor-quantized transcendentals, md5-derived hashes,
  * unique tiebreaks under every limit.
  */
object Round7 {

  /** (doc_id, lang, tok) fan-out shared by the text-selection queries —
    * the q100 shape (pre-explode rebalance, codegen'd split, no HOFs). */
  private def toks(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    Features.fanoutReady(df)
      .select($"doc_id", $"lang", explode(split($"text", " ")).as("tok"))
      .filter(length($"tok") > 0)
  }

  private val toksSql =
    """SELECT doc_id, lang, t.tok
      |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
      |    UNNEST(w) AS t(tok)
      |  WHERE t.tok <> ''""".stripMargin

  /** SemDeDup (Abbas et al. 2023): semantic deduplication = k-means-style
    * clustering of the embedding space, then near-identical pruning ONLY
    * inside each cluster — the trick that makes embedding dedup feasible at
    * corpus scale (no cross-cluster pairs are ever formed, and each
    * cluster's pair join is tiny).
    *
    * Cluster step: per-label integer centroids (the q51 IVF cells, but
    * every vector is RE-assigned to its nearest centroid — label is only
    * the centroid seed). Integer-exactness: vectors carry the q98 +1000
    * offset so the centroid's `(sum*1000) div n` never divides a negative
    * (Spark `div` truncates, DuckDB `//` floors; they agree on
    * non-negatives), and assignment cosine runs the codegen'd
    * [[graft.functions.CosineSimLong]] over the offset integer vectors —
    * cosine is scale-invariant, so the milli-scaled centroid needs no
    * normalization. Prune step: within a cluster, a vector is dropped iff
    * a SMALLER-id vector sits at offset-cosine ≥ 0.995 (the q44 rule on
    * the same offset space — the +1000 translation compresses angles, so
    * the near-dup bar sits much closer to 1 than q44's raw-space 0.3).
    *
    * Scale shape: centroids are k rows → broadcast; assignment is one
    * scan (k codegen'd cosines per row, argmax via a vec_id-partitioned
    * rank); the pair join shuffles once on cluster. */
  val q106SemDedup: Q = (spark, dir) => {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"label",
        transform(Features.quantize($"embedding", 0), x => x + 1000L).as("e"))
      .cache()
    val cent = emb.select($"label", posexplode($"e").as(Seq("pos", "v")))
      .groupBy($"label", $"pos")
      .agg(expr("(sum(v) * 1000) div count(1)").as("c"))
      .groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"pos", $"c"))),
        s => s.getField("c")).as("ce"))
      .select($"label".as("cluster"), $"ce")
    val wAsg = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cluster")
    val assigned = emb.crossJoin(broadcast(cent))
      .withColumn("ccos", graft.functions.VectorExprs.cosineLong($"e", $"ce"))
      .withColumn("rn", row_number().over(wAsg))
      .filter($"rn" === 1)
      .select($"vec_id", $"cluster", $"e")
      .cache()
    val dropped = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cluster") === col("b.cluster")
          && col("a.vec_id") < col("b.vec_id"))
      .filter(graft.functions.VectorExprs
        .cosineLong(col("a.e"), col("b.e")) >= 0.995)
      .select(col("a.cluster").as("cluster"), col("b.vec_id").as("vid"))
      .distinct()
      .groupBy($"cluster").agg(count(lit(1)).as("n_dropped"))
    assigned.groupBy($"cluster").agg(count(lit(1)).as("n_vecs"))
      .join(dropped, Seq("cluster"), "left")
      .withColumn("n_dropped", coalesce($"n_dropped", lit(0L)))
      .withColumn("n_kept", $"n_vecs" - $"n_dropped")
      .orderBy($"cluster")
  }

  /** The full Gopher quality-rule battery (Rae et al. 2021, Table A1) —
    * the rule-based document filter every curation pipeline runs before
    * model-based scoring: word-count bounds, mean-word-length band,
    * stopword evidence, duplicate-word fraction, and top-word dominance.
    * (Symbol/bullet/ellipsis rules degenerate on this corpus — no
    * punctuation exists to count — so the battery keeps the five rules
    * the data can actually exercise; thresholds sit inside the observed
    * per-doc distribution so each rule genuinely discriminates.)
    *
    * One fan-out → (doc,tok) count → per-doc re-agg (the q101 shape: two
    * map-side-combined aggregations, no joins), then a lang-level rollup
    * of pass/fail counts per rule. Everything integer (ppm / milli). */
  val q107GopherRules: Q = (spark, dir) => {
    import spark.implicits._
    val per = toks(Tables.documents(spark, dir))
      .groupBy($"doc_id", $"lang", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id", $"lang")
      .agg(
        sum($"c").as("n_words"),
        count(lit(1)).as("n_distinct"),
        max($"c").as("top_c"),
        sum($"c" * length($"tok")).as("sum_wl"),
        sum(when($"tok".isin("the", "a"), $"c").otherwise(lit(0L)))
          .as("n_stop"))
      .withColumn("mean_wl_mil", expr("sum_wl * 1000 div n_words"))
      .withColumn("dup_ppm",
        expr("(n_words - n_distinct) * 1000000 div n_words"))
      .withColumn("top_ppm", expr("top_c * 1000000 div n_words"))
      .withColumn("r_len", $"n_words" >= 30 && $"n_words" <= 2000)
      .withColumn("r_wl", $"mean_wl_mil" >= 4000 && $"mean_wl_mil" <= 5000)
      .withColumn("r_stop", $"n_stop" >= 2)
      .withColumn("r_dup", $"dup_ppm" <= 600000)
      .withColumn("r_top", $"top_ppm" <= 120000)
    per.groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when($"r_len" && $"r_wl" && $"r_stop" && $"r_dup" && $"r_top",
          1)).as("n_pass"),
        count(when(!$"r_len", 1)).as("fail_len"),
        count(when(!$"r_wl", 1)).as("fail_wl"),
        count(when(!$"r_stop", 1)).as("fail_stop"),
        count(when(!$"r_dup", 1)).as("fail_dup"),
        count(when(!$"r_top", 1)).as("fail_top"))
      .orderBy($"lang")
  }

  /** DSIR importance weighting (Xie et al. 2023): score every document in
    * the raw pool by how much more likely its tokens are under a TARGET
    * domain LM than under the raw-pool LM — the data-selection stage that
    * picks pretraining data matching a desired distribution. Target here:
    * the `en` slice; both models are add-1-smoothed unigram LMs, so the
    * whole scorer is exactly recomputable in SQL.
    *
    * w(doc) = Σ_tok floor((ln p_t(tok) − ln p_r(tok))·1e6): each token's
    * log-ratio is floor-quantized BEFORE the per-doc sum (the q100 rule —
    * integer sums are order-independent; the ln-ulp boundary risk is the
    * accepted q76 class, documented in PLANS.md). Scale shape: both LMs
    * are vocab-sized aggregates of one cached token fan-out; the scorer
    * is a broadcast join; corpus totals enter as driver literals (the
    * q100 corpus-scalar shape). Output: the 20 most-target-like docs
    * OUTSIDE the target slice (the docs DSIR would promote). */
  val q108DsirWeights: Q = (spark, dir) => {
    import spark.implicits._
    val t = toks(Tables.documents(spark, dir)).cache()
    // ONE conditional aggregation builds both the raw and the target
    // counts — the former separate en-only aggregation and the
    // raw ⋈ tgt left join (a second full pass over the token stream
    // plus a vocab-sized join) compute exactly count-when (guide §2.3
    // aggregate-before-shuffle; 0-fill falls out of count's semantics)
    val model = t.groupBy($"tok")
      .agg(count(lit(1)).as("cnt_r"),
        count(when($"lang" === "en", 1)).as("cnt_t"))
      .cache()
    val Seq(nR, nT, v) = {
      val r = model.agg(sum($"cnt_r"), sum($"cnt_t"), count(lit(1))).head()
      Seq(r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val scored = model.withColumn("lw_q",
      floor((log($"cnt_t".cast("double") + 1) - log(lit((nT + v).toDouble))
        - log($"cnt_r".cast("double") + 1) + log(lit((nR + v).toDouble)))
        * 1e6).cast("long"))
    t.filter($"lang" =!= "en")
      .join(broadcast(scored.select($"tok", $"lw_q")), Seq("tok"))
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_toks"), sum($"lw_q").as("w_q"))
      .orderBy($"w_q".desc, $"doc_id")
      .limit(20)
      .select($"doc_id", $"lang", $"n_toks", $"w_q")
  }

  /** SCD Type-2 dimension build — the warehouse-side face of CDC (q90
    * compacts to latest-wins; SCD2 keeps the full validity history):
    * per-customer order-status snapshots collapse into change rows, each
    * carrying [valid_from, valid_to) and an is_current flag. The classic
    * two-window recipe: lag() detects value changes, lead() closes each
    * interval — both windows partition on the dimension key, so the build
    * is one shuffle on custkey no matter how deep the history.
    *
    * Same-day duplicate snapshots resolve to the highest orderkey (the
    * CDC latest-version-wins rule); dates are exact cross-engine (q72). */
  val q109Scd2: Q = (spark, dir) => {
    import spark.implicits._
    val snap = Tables.orders(spark, dir)
      .filter($"o_custkey" < 30)
      .select($"o_custkey".as("custkey"), to_date($"o_orderdate").as("d"),
        $"o_orderstatus".as("status"), $"o_orderkey")
      .withColumn("rn", row_number().over(
        Window.partitionBy($"custkey", $"d").orderBy($"o_orderkey".desc)))
      .filter($"rn" === 1)
    val changes = snap
      .withColumn("prev",
        lag($"status", 1).over(Window.partitionBy($"custkey").orderBy($"d")))
      .filter($"prev".isNull || $"prev" =!= $"status")
      .select($"custkey", $"status", $"d".as("valid_from"))
    changes
      .withColumn("valid_to", lead($"valid_from", 1).over(
        Window.partitionBy($"custkey").orderBy($"valid_from")))
      .withColumn("is_current", $"valid_to".isNull)
      .orderBy($"custkey", $"valid_from")
  }

  /** Bottom-k sampling sketch: per language, the k = 5 documents with the
    * smallest content-hash — a MERGEABLE uniform sample (union two
    * sketches, re-take the k smallest: still exactly the bottom-k of the
    * union), the property that lets a 1000-executor scan build a uniform
    * corpus sample with one tiny shuffle of k rows per partition per
    * group. Membership is a pure function of content (the q85 rule):
    * re-sharding, re-runs, and retries all pick the same sample.
    * Hash = first 15 hex chars of md5(doc_id:text) as an exact long. */
  val q110BottomkSample: Q = (spark, dir) => {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"lang", $"doc_id",
        conv(substring(md5(concat_ws(":", $"doc_id", $"text")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"lang").orderBy($"h", $"doc_id")))
      .filter($"rank" <= 5)
      .select($"lang", $"rank", $"doc_id", $"h")
      .orderBy($"lang", $"rank")
  }

  /** Vocabulary coverage / OOV-rate analysis — the tokenizer-design stage:
    * build the top-16 token vocabulary (by corpus frequency, token-asc
    * tiebreak so the cut is deterministic), then measure per-language how
    * much of the token stream falls outside it. The vocab is a broadcast
    * of 16 rows; the corpus is scanned once; the OOV ratio is integer ppm
    * of exact counts. Output also carries the distinct OOV-type count per
    * language (how many new merges a tokenizer would need per language).
    *
    * The top-16 cut is `orderBy(...).limit(16)` — physically
    * TakeOrderedAndProject (each partition keeps its local 16, the
    * driver merges 16·partitions rows), NOT row_number over an
    * unpartitioned window, which would single-partition-sort the entire
    * vocabulary (10⁸+ types at web scale) to pick 16 rows — the exact
    * shape the r8 verdict had q153 delete. */
  val q111VocabOov: Q = (spark, dir) => {
    import spark.implicits._
    val t = toks(Tables.documents(spark, dir)).cache()
    val vocab = t.groupBy($"tok").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"tok")
      .limit(16)
      .select($"tok", lit(1).as("iv"))
    t.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_toks"),
        count(when($"iv".isNull, 1)).as("n_oov"),
        countDistinct(when($"iv".isNull, $"tok")).as("oov_types"))
      .withColumn("oov_ppm", expr("n_oov * 1000000 div n_toks"))
      .orderBy($"lang")
  }

  /** Plain-text file source/sink round trip (`format("text")` — the last
    * built-in file format §2's source family hadn't exercised: parquet,
    * csv, json, orc, binaryFile, image are q-covered already). One doc per
    * line as `doc_id\ttext`, written by Spark's own text writer and read
    * back with spark.read.text; the parse is codegen'd substring_index /
    * length arithmetic, and the aggregate proves the round trip lossless
    * against the parquet-side oracle. Deterministic: the scratch dir is
    * keyed by the sf dir and rewritten (mode overwrite) each run. */
  val q112TextSource: Q = (spark, dir) => {
    import spark.implicits._
    val scratch = new File(sys.props("java.io.tmpdir"),
      "graft_textsrc_" + dir.replaceAll("[^a-zA-Z0-9.]", "_")).getAbsolutePath
    Tables.documents(spark, dir)
      .select(concat_ws("\t", $"doc_id", $"text").as("value"))
      .coalesce(4)
      .write.mode("overwrite").text(scratch)
    spark.read.text(scratch)
      .select(substring_index($"value", "\t", 1).cast("long").as("doc_id"),
        (length($"value") - length(substring_index($"value", "\t", 1)) - 1)
          .as("n_chars"))
      .groupBy(expr("doc_id % 5").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("text_chars"),
        sum($"doc_id").as("id_sum"))
      .orderBy($"bucket")
  }

  /** BPE tokenizer TRAINING — the stage that produces the merge table the
    * q37 BPE-ish tokenizer only consumes: three greedy merge rounds over
    * the corpus, each round (1) counting adjacent token pairs weighted by
    * word frequency, (2) picking the most frequent pair (count-desc,
    * pair-asc tiebreak), (3) applying the merge greedy-left-to-right
    * inside every word. Emits the learned merge table (round, pair, cnt).
    *
    * Distributed shapes: pair counting is a map-side-combined aggregate
    * over the DISTINCT-WORD table (corpus-sized text never re-tokenizes —
    * the word table is vocab-sized ≪ corpus, the standard BPE-trainer
    * trick); the winning pair is a driver scalar entering round n+1's
    * plan as a literal (the q98 centroid pattern); the greedy merge is
    * pure window algebra partitioned by word — candidate runs via
    * gaps-and-islands (pos − row_number), odd-rank selection inside each
    * run (consecutive candidates overlap, so odd ranks ARE the greedy
    * choice), lag(sel) consumes the right token. Per-round
    * localCheckpoint keeps the lineage flat as rounds accumulate.
    * The oracle replays all three rounds as chained CTEs (q91/q98
    * precedent) — two evaluation strategies, identical merge table. */
  val q113BpeTrain: Q = (spark, dir) => {
    import spark.implicits._
    val words = toks(Tables.documents(spark, dir))
      .groupBy($"tok").agg(count(lit(1)).as("wc"))
      .select($"tok".as("word"), $"wc")
    var cur = words
      .withColumn("tokstr", concat_ws(" ",
        transform(sequence(lit(1), length($"word")),
          i => $"word".substr(i, lit(1)))))
      .localCheckpoint()
    val merges = (1 to 3).map { round =>
      // cached: the positional fan-out feeds BOTH the pair-count pass
      // (best-merge election) and the merge application below; without
      // the cache each round re-runs the split+posexplode from the
      // checkpoint twice (guide §1.2 — don't compute things twice).
      // Unpersisted as soon as the round's eager checkpoint lands.
      val staged = cur
        .select($"word", $"wc", split($"tokstr", " ").as("t"))
        .select($"word", $"wc", $"t", posexplode($"t").as(Seq("p", "tok")))
        .withColumn("pair", when($"p" < size($"t") - 1,
          concat($"tok", lit(" "), element_at($"t", $"p" + 2))))
        .cache()
      val best = staged.filter($"pair".isNotNull)
        .groupBy($"pair").agg(sum($"wc").as("cnt"))
        .orderBy($"cnt".desc, $"pair").limit(1).head()
      val (bestPair, bestCnt) = (best.getString(0), best.getLong(1))
      val wCand = Window.partitionBy($"word", $"cand").orderBy($"p")
      val wRun = Window.partitionBy($"word", $"run").orderBy($"p")
      val wWord = Window.partitionBy($"word").orderBy($"p")
      cur = staged
        .withColumn("cand", coalesce($"pair" === lit(bestPair), lit(false)))
        .withColumn("run",
          when($"cand", $"p" - row_number().over(wCand)))
        .withColumn("sel", coalesce(
          $"cand" && (row_number().over(wRun) % 2 === 1), lit(false)))
        .withColumn("lag_sel", coalesce(lag($"sel", 1).over(wWord), lit(false)))
        .withColumn("newtok",
          when($"sel", concat($"tok", element_at($"t", $"p" + 2)))
            .when($"lag_sel", lit(null)).otherwise($"tok"))
        .filter($"newtok".isNotNull)
        .groupBy($"word", $"wc")
        .agg(array_join(transform(
          array_sort(collect_list(struct($"p", $"newtok"))),
          s => s.getField("newtok")), " ").as("tokstr"))
        .localCheckpoint()
      staged.unpersist()
      (round, bestPair, bestCnt)
    }
    merges.toDF("round", "pair", "cnt")
  }

  /** Small-file compaction — the table-maintenance job every lakehouse
    * runs: a fragmented write (40 tiny part files here — the "too many
    * small files" state that kills scan throughput and NameNode/listing
    * at 100 TB) is compacted by one round-robin repartition(4) rewrite
    * into 4 right-sized files — round-robin, not hash-by-key: every
    * output partition is guaranteed non-empty (a key-hashed rewrite can
    * land two key values in one bucket and write fewer files than asked,
    * which is how this spec first failed), and the explicit count is
    * respected by AQE. The verified aggregate runs over the compacted
    * read-back, proving the rewrite lossless, and `Round7Spec` asserts
    * the 40 → 4 part-file collapse itself. */
  val q114Compaction: Q = (spark, dir) => {
    import spark.implicits._
    val base = new File(sys.props("java.io.tmpdir"),
      "graft_compact_" + dir.replaceAll("[^a-zA-Z0-9.]", "_")).getAbsolutePath
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"n_chars")
    docs.repartition(40).write.mode("overwrite").parquet(s"$base/frag")
    spark.read.parquet(s"$base/frag")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$base/compact")
    spark.read.parquet(s"$base/compact")
      .groupBy(pmod($"doc_id", lit(4)).as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars"),
        sum($"doc_id").as("id_sum"))
      .orderBy($"bucket")
  }

  /** Schema evolution across ingest batches — the ingestion reality every
    * long-lived lakehouse table faces: batch 1 wrote (doc_id, n_chars),
    * batch 2 added a `lang` column. `mergeSchema=true` unions the footer
    * schemas at read time (exactly what Spark's parquet source does when
    * a table accretes columns), and rows from the pre-evolution batch
    * surface the new column as NULL — the aggregate proves which batch
    * carries the column without touching row data. The batches live as
    * `batch=N` partition dirs, so the batch id itself is a discovered
    * partition column (the q87 pruning shape). */
  val q115SchemaEvolution: Q = (spark, dir) => {
    import spark.implicits._
    val base = new File(sys.props("java.io.tmpdir"),
      "graft_schemaevo_" + dir.replaceAll("[^a-zA-Z0-9.]", "_")).getAbsolutePath
    val docs = Tables.documents(spark, dir)
    docs.filter($"doc_id" % 2 === 0).select($"doc_id", $"n_chars")
      .write.mode("overwrite").parquet(s"$base/batch=1")
    docs.filter($"doc_id" % 2 =!= 0).select($"doc_id", $"n_chars", $"lang")
      .write.mode("overwrite").parquet(s"$base/batch=2")
    spark.read.option("mergeSchema", "true").parquet(base)
      .groupBy($"batch")
      .agg(count(lit(1)).as("n_docs"), count($"lang").as("n_lang"),
        sum($"n_chars").as("chars"))
      .orderBy($"batch")
  }

  /** Triangle counting — the third classic distributed-graph primitive
    * beside q91's PageRank and q79's connected components: on the
    * normalized undirected edge set (a < b after least/greatest, self
    * loops dropped, distinct), a triangle {a<b<c} is counted exactly once
    * by the two-hop join e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c). Both joins key on
    * edge endpoints, so the shuffles are degree-bounded — the standard
    * scale guard is pre-filtering high-degree hubs or ordering by degree;
    * this graph (the q91 deterministic 2-out-regular construction) has
    * max degree 4, so the plain join IS the bounded plan. */
  val q116Triangles: Q = (spark, dir) => {
    import spark.implicits._
    val n = 200
    val raw = spark.range(n).select($"id".as("src"),
        explode(array(($"id" * 2 + 1) % n, ($"id" * 3 + 2) % n)).as("dst"))
    val edges = raw
      .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .filter($"a" =!= $"b").distinct().cache()
    val e2 = edges.select($"a".as("b2"), $"b".as("c"))
    val e3 = edges.select($"a".as("a3"), $"b".as("c3"))
    val triangles = edges
      .join(e2, $"b" === $"b2")
      .join(e3, $"a" === $"a3" && $"c" === $"c3")
      .count()
    edges.agg(
        count(lit(1)).as("n_edges"),
        countDistinct($"a").as("n_src_nodes"))
      .withColumn("n_triangles", lit(triangles))
      .select($"n_edges", $"n_src_nodes", $"n_triangles")
  }

  /** Bigram-LM quality scoring — q100's unigram "surprise" upgraded to
    * conditional probabilities: each document scores the mean
    * −ln p(w₂|w₁) under an add-1-smoothed bigram model fit on the corpus
    * (p = (c₁₂+1)/(c₁+V), V = unigram vocab size). Repetitive texts score
    * LOW (their bigrams are predictable), disfluent ones HIGH — the
    * signal CCNet's KenLM filter actually uses, reduced to a form both
    * engines recompute exactly. Both count tables are vocab-sized
    * aggregates of one cached bigram fan-out, joined back by broadcast;
    * per-bigram surprise is floor-quantized before the per-doc sum
    * (the q100 rule; ln-ulp boundary risk documented in PLANS.md). */
  val q117BigramLm: Q = (spark, dir) => {
    import spark.implicits._
    val grams = Features.fanoutReady(Tables.documents(spark, dir))
      .select($"doc_id", split($"text", " ").as("w"))
      .filter(size($"w") >= 2)
      .select($"doc_id",
        explode(sequence(lit(0), size($"w") - 2)).as("i"), $"w")
      .select($"doc_id", element_at($"w", $"i" + 1).as("w1"),
        element_at($"w", $"i" + 2).as("w2"))
      .cache()
    // vocab-sized and consumed twice (the smoothing-V count and the
    // bigram join) — cached so the unigram aggregation over the bigram
    // fan-out runs once, not twice
    val uni = grams.groupBy($"w1").agg(count(lit(1)).as("c1")).cache()
    // smoothing vocabulary = distinct bigram-prefix tokens = exactly
    // the unigram table's row count (one row per distinct w1): the
    // former separate distinct().count() re-aggregated the whole
    // bigram stream a second time for a number uni already holds
    // (guide §1.2: don't compute things you throw away)
    val v = uni.count()
    val bi = grams.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
      .join(uni, Seq("w1"))
      .withColumn("sq",
        floor(-log(($"c12".cast("double") + 1) / ($"c1".cast("double") + v))
          * 1e6).cast("long"))
    grams
      .join(broadcast(bi.select($"w1", $"w2", $"sq")), Seq("w1", "w2"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"sq").as("sq_sum"))
      .withColumn("surprise_q", expr("sq_sum div n_bigrams"))
      .orderBy($"surprise_q".desc, $"doc_id")
      .limit(20)
      .select($"doc_id", $"n_bigrams", $"surprise_q")
  }

  /** Malformed-record handling at the CSV source — ingest robustness: a
    * fixture where every 10th line carries an unparseable numeric field
    * is read twice, PERMISSIVE (corrupt rows survive with the raw line
    * captured in the corrupt-record column and the bad field NULL) and
    * DROPMALFORMED (corrupt rows vanish). The aggregate pins all three
    * contracts at once: total row count, corrupt count, and that the
    * good-row character sum is identical under both modes. */
  val q118CorruptCsv: Q = (spark, dir) => {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val scratch = new File(sys.props("java.io.tmpdir"),
      "graft_corruptcsv_" + dir.replaceAll("[^a-zA-Z0-9.]", "_")).getAbsolutePath
    Tables.documents(spark, dir)
      .select(concat_ws(",", $"doc_id",
        when($"doc_id" % 10 === 0, lit("notanumber"))
          .otherwise($"n_chars".cast("string"))).as("value"))
      .coalesce(4)
      .write.mode("overwrite").text(scratch)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("nc", LongType),
      StructField("_corrupt", StringType)))
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(scratch)
      .agg(count(lit(1)).as("n_rows"),
        count($"_corrupt").as("n_corrupt"),
        sum($"nc").as("good_chars"))
    val dropped = spark.read
      .schema(StructType(schema.dropRight(1)))
      .option("mode", "DROPMALFORMED")
      .csv(scratch)
      .agg(count(lit(1)).as("n_kept"), sum($"nc").as("kept_chars"))
    permissive.crossJoin(dropped)
  }

  /** DSv2 AGGREGATE pushdown — the third pushdown contract of the custom
    * connector (q88 pushed filters, q94 added the write path): COUNT /
    * MIN / MAX over `doc_id` are recognized by the source's
    * `SupportsPushDownAggregates` and answered in closed form from the
    * filter-clamped range — the "scan" emits ONE pre-aggregated row and
    * never enumerates a document. `Round7Spec` proves it by running the
    * same aggregate over a 2-TRILLION-row table instantly; here the
    * range is small so the DuckDB oracle can enumerate it honestly. */
  val q119Dsv2AggPushdown: Q = (spark, dir) => {
    import spark.implicits._
    spark.read.format("graft.sources.GraftDocsSource")
      .option("rows", "50000").option("partitions", "8").load()
      .filter($"doc_id" >= 1000 && $"doc_id" < 42000)
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("min_id"),
        max($"doc_id").as("max_id"))
  }

  /** Blocked entity resolution (record linkage) — the classic two-phase
    * recipe: a cheap BLOCKING key (here the head noun of the part name)
    * bounds the candidate pairs, then the expensive similarity
    * (levenshtein ≤ 2, exact integer DP on both engines — the q71
    * precedent) runs only within blocks. "cold anvil" ↔ "old anvil"
    * match inside the `anvil` block; no cross-noun pair is ever formed,
    * which is what keeps linkage off the O(n²) cliff at catalog scale.
    * Resolution works on the DISTINCT-name table with per-name support
    * counts — corpus rows are aggregated once, never pair-joined. */
  val q120EntityResolution: Q = (spark, dir) => {
    import spark.implicits._
    val names = Tables.part(spark, dir)
      .groupBy($"p_name").agg(count(lit(1)).as("n_parts"))
      .withColumn("noun", substring_index($"p_name", " ", -1))
      .cache()
    val b = names.select($"noun", $"p_name".as("name_b"),
      $"n_parts".as("n_parts_b"))
    names.select($"noun", $"p_name".as("name_a"), $"n_parts".as("n_parts_a"))
      .join(b, Seq("noun"))
      .filter($"name_a" < $"name_b")
      .withColumn("dist", levenshtein($"name_a", $"name_b"))
      .filter($"dist" <= 2)
      .select($"name_a", $"name_b", $"dist", $"n_parts_a", $"n_parts_b")
      .orderBy($"name_a", $"name_b")
  }

  /** The capstone: an END-TO-END curation pipeline in one dataflow —
    * exact dedup → Gopher-rule filter → LM-surprise percentile cut →
    * benchmark decontamination — emitting the per-language funnel
    * (n_raw → n_dedup → n_rules → n_lm → n_final + surviving chars)
    * that a curation run reports. Each stage is the already-verified
    * operator's shape (q40, q107, q100, q99) composed into one lineage;
    * the oracle replays the whole pipeline as chained CTEs, so the
    * composition itself is hash-checked, not just the pieces.
    *
    * Scale notes per stage: dedup is one shuffle on the content key;
    * the rule filter is the q101 two-aggregation shape; the LM model is
    * a broadcast of a vocab-sized aggregate with the corpus total as a
    * driver literal; the percentile cut is the q104 two-level rank —
    * survivors block by a RANGE of the sort key, rank inside each block
    * (key-partitioned window), and add the block's cumulative offset
    * (computed from the ≤257-row block-count aggregate, fetched to the
    * driver like q131's one-row-per-round loops), so NO unpartitioned
    * window ever sees document rows; decontamination broadcasts the
    * benchmark grams so the corpus side never shuffles for the probe. */
  val q121CurationPipeline: Q = (spark, dir) => {
    import spark.implicits._
    val base = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"text", $"n_chars")
    // injected duplicates (the q40/q105 corpus) so the dedup stage has
    // real work; benchmark slice = doc_id % 97 (the q99 convention)
    val corpus = base.unionByName(
      base.filter($"doc_id" % 7 === 0)
        .withColumn("doc_id", $"doc_id" + 1000000L)).cache()
    // keep-first = the min-doc_id row per text: a hash AGGREGATE with
    // map-side partial combine instead of the former text-partitioned
    // window (shuffle + per-partition SORT + rank-filter) — same rows
    // kept (doc_ids are unique so min_by is deterministic), one sort
    // fewer, and partial aggregation collapses duplicate texts before
    // the exchange (guide §2.3 aggregate-before-shuffle). The grouping
    // KEY is a 128-bit md5 digest of the text, not the text itself
    // (the q40 exact-dedup key, r19-verdict item 1): hashing/equality
    // in the aggregate hash map and the exchange's partitioner then
    // touch 32 bytes instead of whole documents (§2.3 shuffle narrow
    // keys); min_by(text) carries each group's single surviving text
    // through the same partial-aggregate state the old plan already
    // moved.
    val dedup = corpus
      .groupBy(md5($"text").as("tdigest"))
      .agg(min($"doc_id").as("doc_id"),
        min_by($"lang", $"doc_id").as("lang"),
        min_by($"text", $"doc_id").as("text"),
        min_by($"n_chars", $"doc_id").as("n_chars"))
      .select($"doc_id", $"lang", $"text", $"n_chars")
      .cache()
    // Gopher-rule stats are ROW-LOCAL (word count, stopword count of one
    // document), so the rule stage is a filter over dedup — the former
    // corpus-wide explode → groupBy(doc) → join-back shape paid a token
    // fan-out over EVERY deduped document plus two shuffles to compute
    // per-row arithmetic (guide §1.2: don't compute things you throw
    // away; §2.4 remove shuffles outright). Only rule-SURVIVORS explode
    // below, and the rtok join disappears: survivors' tokens are emitted
    // directly. Same kept docs: n_words/n_stop here are exactly the old
    // aggregate's counts (split on single space, empty tokens dropped).
    val ruled = dedup
      .withColumn("toks", Features.words($"text"))
      .withColumn("n_words", size($"toks"))
      .withColumn("n_stop",
        size(filter($"toks", t => t === "the" || t === "a")))
      .filter($"n_words" >= 30 && $"n_words" <= 2000 && $"n_stop" >= 2)
    val rules = ruled.select($"doc_id", $"lang").cache()
    val rtok = Features.fanoutReady(ruled.select($"doc_id", $"lang", $"toks"))
      .select($"doc_id", $"lang", explode($"toks").as("tok"))
      .cache()
    val vocab = rtok.groupBy($"tok").agg(count(lit(1)).as("cnt"))
    // the smoothing total and the survivor count are INDEPENDENT driver
    // scalars over already-cached inputs: overlap them as concurrent
    // jobs (§2.6, the q170 pattern) instead of two serial round trips
    val nKeptF = scala.concurrent.Future(rules.count())(
      scala.concurrent.ExecutionContext.global)
    val total = vocab.agg(sum($"cnt")).head().getLong(0)
    val surprise = rtok
      .join(broadcast(vocab), Seq("tok"))
      .withColumn("tq",
        floor(-log($"cnt".cast("double") / lit(total.toDouble)) * 1e6)
          .cast("long"))
      .groupBy($"doc_id", $"lang")
      .agg(expr("sum(tq) div count(1)").as("sq"))
      .cache()
    val nKept = scala.concurrent.Await.result(nKeptF,
      scala.concurrent.duration.Duration.Inf)
    // Two-level distributed rank (the q104 shape): block survivors by a
    // RANGE of the sort key so block order == sort order and ties (same
    // sq) stay within one block, rank per-block under a key-partitioned
    // window, then add each block's cumulative predecessor count. The
    // block-count table is ≤257 rows by construction, so the offsets are
    // computed on the driver — no unpartitioned window anywhere, at any
    // scale.
    val sqStats = surprise.agg(min($"sq").as("lo"), max($"sq").as("hi")).head()
    val (sqLo, sqHi) = (sqStats.getLong(0), sqStats.getLong(1))
    val blkWidth = math.max(1L, (sqHi - sqLo) / 256L + 1L)
    val blocked = surprise
      .withColumn("blk", (($"sq" - sqLo) / blkWidth).cast("long"))
    val blkCounts = blocked.groupBy($"blk").agg(count(lit(1)).as("bc"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val blkOffsets = blkCounts.map(_._1)
      .zip(blkCounts.map(_._2).scanLeft(0L)(_ + _)).toSeq
    val lmkept = blocked
      .join(broadcast(blkOffsets.toDF("blk", "boff")), Seq("blk"))
      .withColumn("rk_in", row_number().over(
        Window.partitionBy($"blk").orderBy($"sq", $"doc_id")))
      .filter($"boff" + $"rk_in" <= lit(nKept * 95 / 100))
      .select($"doc_id", $"lang")
      .cache()
    // DistinctWordGrams (the q41/q167 rewrite): per-document distinct
    // 5-grams emitted DURING the scan by one codegen'd expression —
    // the interpreted per-position slice/concat_ws chain disappears,
    // and both consumers below only test gram EXISTENCE (a distinct
    // set joins identically to the positional stream).
    def grams5(df: DataFrame, idCol: String) = df
      .select(col(idCol), explode(graft.functions.TextExprs
        .distinctWordGrams($"text", 5)).as("gram"))
    val bgram = grams5(corpus.filter($"doc_id" % 97 === 0), "doc_id")
      .select($"gram").distinct()
    val contam = grams5(
        lmkept.filter($"doc_id" % 97 =!= 0)
          .join(dedup.select($"doc_id", $"text"), Seq("doc_id")), "doc_id")
      .join(broadcast(bgram), Seq("gram"))
      .select($"doc_id").distinct()
    val fin = lmkept.filter($"doc_id" % 97 =!= 0)
      .join(contam, Seq("doc_id"), "left_anti")
      .join(dedup.select($"doc_id", $"n_chars"), Seq("doc_id"))
    def cnt(df: DataFrame, name: String) =
      df.groupBy($"lang").agg(count(lit(1)).as(name))
    corpus.select($"lang").distinct()
      .join(cnt(corpus, "n_raw"), Seq("lang"), "left")
      .join(cnt(dedup, "n_dedup"), Seq("lang"), "left")
      .join(cnt(rules, "n_rules"), Seq("lang"), "left")
      .join(cnt(lmkept, "n_lm"), Seq("lang"), "left")
      .join(fin.groupBy($"lang").agg(count(lit(1)).as("n_final"),
        sum($"n_chars").as("final_chars")), Seq("lang"), "left")
      .na.fill(0L, Seq("n_raw", "n_dedup", "n_rules", "n_lm", "n_final"))
      .orderBy($"lang")
  }

  /** Winsorized (outlier-clipped) robust aggregation — the metrics-stage
    * counterpart of the q107 row FILTERS: instead of dropping outliers,
    * clip every value into the group's exact [P05, P95] band and
    * aggregate the clipped stream, so one anomalous record can no longer
    * swing a group mean. Percentiles are EXACT integer order statistics
    * (the q45 rank pattern: row_number over (cents, orderkey) with a
    * deterministic rank formula), so every emitted number is bit-stable;
    * at 100 TB the per-group sort gives way to the q92 sketch with rank
    * error bounds — this is the exact form the sketch approximates. */
  val q122Winsorize: Q = (spark, dir) => {
    import spark.implicits._
    val v = Tables.orders(spark, dir)
      .select($"o_orderpriority".as("prio"), $"o_orderkey",
        (money($"o_totalprice") * 100).cast("long").as("cents"))
    val r = v
      .withColumn("rk", row_number().over(
        Window.partitionBy($"prio").orderBy($"cents", $"o_orderkey")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"prio")))
    val cuts = r.groupBy($"prio").agg(
      max(when($"rk" === greatest(lit(1L), expr("n * 5 div 100")), $"cents"))
        .as("p05"),
      max(when($"rk" === greatest(lit(1L), expr("n * 95 div 100")), $"cents"))
        .as("p95"))
    v.join(broadcast(cuts), Seq("prio"))
      .groupBy($"prio", $"p05", $"p95")
      .agg(count(lit(1)).as("n_orders"),
        sum(least(greatest($"cents", $"p05"), $"p95")).as("winsorized_cents"),
        sum($"cents").as("raw_cents"))
      .select($"prio", $"n_orders", $"p05".as("p05_cents"),
        $"p95".as("p95_cents"), $"winsorized_cents", $"raw_cents")
      .orderBy($"prio")
  }

  val queries: Map[String, Q] = Map(
    "q106_semdedup" -> q106SemDedup,
    "q107_gopher_rules" -> q107GopherRules,
    "q108_dsir_weights" -> q108DsirWeights,
    "q109_scd2" -> q109Scd2,
    "q110_bottomk_sample" -> q110BottomkSample,
    "q111_vocab_oov" -> q111VocabOov,
    "q112_text_source" -> q112TextSource,
    "q113_bpe_train" -> q113BpeTrain,
    "q114_compaction" -> q114Compaction,
    "q115_schema_evolution" -> q115SchemaEvolution,
    "q116_triangles" -> q116Triangles,
    "q117_bigram_lm" -> q117BigramLm,
    "q118_corrupt_csv" -> q118CorruptCsv,
    "q119_dsv2_agg_pushdown" -> q119Dsv2AggPushdown,
    "q120_entity_resolution" -> q120EntityResolution,
    "q121_curation_pipeline" -> q121CurationPipeline,
    "q122_winsorize" -> q122Winsorize,
  )

  /** One DuckDB BPE round (see [[q113BpeTrain]]): w{n-1} → t/p/b/c/r/s/m/w{n}.
    * Mirrors the Spark window algebra exactly — gaps-and-islands runs,
    * odd-rank greedy selection, lag-consumed right tokens. */
  private def bpeRoundSql(n: Int): String =
    s"""t$n AS (
       |  SELECT w.word, w.wc, u.i AS pos, w.toks[u.i] AS tok,
       |    CASE WHEN u.i < len(w.toks)
       |      THEN w.toks[u.i] || ' ' || w.toks[u.i + 1] END AS pair
       |  FROM (SELECT word, wc, string_split(tokstr, ' ') AS toks
       |        FROM w${n - 1}) w,
       |    UNNEST(range(1, len(w.toks) + 1)) u(i)
       |), p$n AS (
       |  SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt FROM t$n
       |  WHERE pair IS NOT NULL GROUP BY 1
       |), b$n AS (
       |  SELECT pair, cnt FROM p$n ORDER BY cnt DESC, pair LIMIT 1
       |), c$n AS (
       |  SELECT t.*, (t.pair = (SELECT pair FROM b$n)) AS cand FROM t$n t
       |), r$n AS (
       |  SELECT *, CASE WHEN cand THEN pos - row_number()
       |    OVER (PARTITION BY word, cand ORDER BY pos) END AS run
       |  FROM c$n
       |), s$n AS (
       |  SELECT *, COALESCE(cand AND (row_number()
       |    OVER (PARTITION BY word, run ORDER BY pos) % 2 = 1), false) AS sel
       |  FROM r$n
       |), m$n AS (
       |  SELECT word, wc, pos,
       |    CASE WHEN sel THEN tok || next_tok
       |         WHEN lag_sel THEN NULL ELSE tok END AS newtok
       |  FROM (SELECT *,
       |          lead(tok) OVER (PARTITION BY word ORDER BY pos) AS next_tok,
       |          COALESCE(lag(sel) OVER (PARTITION BY word ORDER BY pos),
       |            false) AS lag_sel
       |        FROM s$n)
       |), w$n AS (
       |  SELECT word, wc, string_agg(newtok, ' ' ORDER BY pos) AS tokstr
       |  FROM m$n WHERE newtok IS NOT NULL GROUP BY 1, 2
       |)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q106_semdedup" ->
      s"""WITH v AS (
         |  SELECT vec_id, label,
         |    list_transform($quantizeSql, x -> x + 1000) AS e
         |  FROM embeddings
         |), comps AS (
         |  SELECT label, i AS pos, e[i] AS val
         |  FROM v, (SELECT unnest(range(1, 65)) AS i)
         |), cent AS (
         |  SELECT label AS cluster, list(c ORDER BY pos) AS ce
         |  FROM (SELECT label, pos, (SUM(val) * 1000) // COUNT(*) AS c
         |        FROM comps GROUP BY 1, 2)
         |  GROUP BY 1
         |), scoredasg AS (
         |  SELECT v.vec_id, c.cluster, v.e,
         |    ${cosineSql("v.e", "c.ce")} AS ccos
         |  FROM v, cent c
         |), asg AS (
         |  SELECT vec_id, cluster, e FROM scoredasg
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY ccos DESC, cluster) = 1
         |), dropped AS (
         |  SELECT cluster, COUNT(*) AS n_dropped FROM (
         |    SELECT DISTINCT a.cluster, b.vec_id
         |    FROM asg a JOIN asg b
         |      ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |    WHERE ${cosineSql("a.e", "b.e")} >= 0.995)
         |  GROUP BY 1
         |)
         |SELECT s.cluster, s.n_vecs,
         |  COALESCE(d.n_dropped, 0) AS n_dropped,
         |  s.n_vecs - COALESCE(d.n_dropped, 0) AS n_kept
         |FROM (SELECT cluster, COUNT(*) AS n_vecs FROM asg GROUP BY 1) s
         |LEFT JOIN dropped d USING (cluster)
         |ORDER BY cluster""".stripMargin,
    "q107_gopher_rules" ->
      s"""WITH tok AS (
         |$toksSql
         |), cnt AS (
         |  SELECT doc_id, lang, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2, 3
         |), per AS (
         |  SELECT doc_id, lang,
         |    SUM(c) AS n_words, COUNT(*) AS n_distinct, MAX(c) AS top_c,
         |    SUM(c * length(tok)) AS sum_wl,
         |    SUM(CASE WHEN tok IN ('the', 'a') THEN c ELSE 0 END) AS n_stop
         |  FROM cnt GROUP BY 1, 2
         |), flags AS (
         |  SELECT lang,
         |    (n_words >= 30 AND n_words <= 2000) AS r_len,
         |    (sum_wl * 1000 // n_words >= 4000
         |      AND sum_wl * 1000 // n_words <= 5000) AS r_wl,
         |    (n_stop >= 2) AS r_stop,
         |    ((n_words - n_distinct) * 1000000 // n_words <= 600000) AS r_dup,
         |    (top_c * 1000000 // n_words <= 120000) AS r_top
         |  FROM per
         |)
         |SELECT lang, COUNT(*) AS n_docs,
         |  COUNT(CASE WHEN r_len AND r_wl AND r_stop AND r_dup AND r_top
         |    THEN 1 END) AS n_pass,
         |  COUNT(CASE WHEN NOT r_len THEN 1 END) AS fail_len,
         |  COUNT(CASE WHEN NOT r_wl THEN 1 END) AS fail_wl,
         |  COUNT(CASE WHEN NOT r_stop THEN 1 END) AS fail_stop,
         |  COUNT(CASE WHEN NOT r_dup THEN 1 END) AS fail_dup,
         |  COUNT(CASE WHEN NOT r_top THEN 1 END) AS fail_top
         |FROM flags GROUP BY 1 ORDER BY 1""".stripMargin,
    "q108_dsir_weights" ->
      s"""WITH tok AS (
         |$toksSql
         |), raw AS (
         |  SELECT tok, COUNT(*) AS cnt_r FROM tok GROUP BY 1
         |), tgt AS (
         |  SELECT tok, COUNT(*) AS cnt_t FROM tok WHERE lang = 'en' GROUP BY 1
         |), model AS (
         |  SELECT r.tok, r.cnt_r, COALESCE(t.cnt_t, 0) AS cnt_t
         |  FROM raw r LEFT JOIN tgt t USING (tok)
         |), tot AS (
         |  SELECT CAST(SUM(cnt_r) AS DOUBLE) AS n_r,
         |    CAST(SUM(cnt_t) AS DOUBLE) AS n_t,
         |    CAST(COUNT(*) AS DOUBLE) AS v
         |  FROM model
         |), scored AS (
         |  SELECT tok,
         |    CAST(floor((ln(CAST(cnt_t AS DOUBLE) + 1) - ln(n_t + v)
         |      - ln(CAST(cnt_r AS DOUBLE) + 1) + ln(n_r + v)) * 1000000)
         |      AS BIGINT) AS lw_q
         |  FROM model, tot
         |)
         |SELECT t.doc_id, t.lang, COUNT(*) AS n_toks,
         |  CAST(SUM(s.lw_q) AS BIGINT) AS w_q
         |FROM tok t JOIN scored s USING (tok)
         |WHERE t.lang <> 'en'
         |GROUP BY 1, 2
         |ORDER BY w_q DESC, doc_id LIMIT 20""".stripMargin,
    "q109_scd2" ->
      """WITH snap AS (
        |  SELECT custkey, d, status FROM (
        |    SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS d,
        |      o_orderstatus AS status,
        |      row_number() OVER (PARTITION BY o_custkey,
        |        CAST(o_orderdate AS DATE) ORDER BY o_orderkey DESC) AS rn
        |    FROM orders WHERE o_custkey < 30)
        |  WHERE rn = 1
        |), changes AS (
        |  SELECT custkey, status, d AS valid_from FROM (
        |    SELECT *, lag(status) OVER (PARTITION BY custkey ORDER BY d)
        |      AS prev
        |    FROM snap)
        |  WHERE prev IS NULL OR prev <> status
        |)
        |SELECT custkey, status, valid_from,
        |  lead(valid_from) OVER (PARTITION BY custkey ORDER BY valid_from)
        |    AS valid_to,
        |  (lead(valid_from) OVER (PARTITION BY custkey ORDER BY valid_from)
        |    IS NULL) AS is_current
        |FROM changes ORDER BY custkey, valid_from""".stripMargin,
    "q110_bottomk_sample" ->
      """SELECT lang, rank, doc_id, h FROM (
        |  SELECT lang, doc_id,
        |    CAST(('0x' || substr(md5(doc_id || ':' || text), 1, 15))
        |      AS BIGINT) AS h,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY CAST(('0x' || substr(md5(doc_id || ':' || text), 1, 15))
        |        AS BIGINT), doc_id) AS rank
        |  FROM documents)
        |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,
    "q111_vocab_oov" ->
      s"""WITH tok AS (
         |$toksSql
         |), vocab AS (
         |  SELECT tok FROM (
         |    SELECT tok, row_number() OVER
         |      (ORDER BY COUNT(*) DESC, tok) AS rk
         |    FROM tok GROUP BY tok)
         |  WHERE rk <= 16
         |)
         |SELECT lang, COUNT(*) AS n_toks,
         |  COUNT(CASE WHEN v.tok IS NULL THEN 1 END) AS n_oov,
         |  COUNT(DISTINCT CASE WHEN v.tok IS NULL THEN t.tok END)
         |    AS oov_types,
         |  CAST(COUNT(CASE WHEN v.tok IS NULL THEN 1 END) * 1000000
         |    // COUNT(*) AS BIGINT) AS oov_ppm
         |FROM tok t LEFT JOIN vocab v USING (tok)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q112_text_source" ->
      """SELECT doc_id % 5 AS bucket, COUNT(*) AS n_docs,
        |  CAST(SUM(length(text)) AS BIGINT) AS text_chars,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q113_bpe_train" ->
      s"""WITH tok AS (
         |  SELECT t.tok
         |  FROM (SELECT string_split(text, ' ') AS w FROM documents),
         |    UNNEST(w) AS t(tok)
         |  WHERE t.tok <> ''
         |), words AS (
         |  SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS wc
         |  FROM tok GROUP BY 1
         |), w0 AS (
         |  SELECT word, wc,
         |    string_agg(substr(word, u.i, 1), ' ' ORDER BY u.i) AS tokstr
         |  FROM words, UNNEST(range(1, length(word) + 1)) u(i)
         |  GROUP BY 1, 2
         |), ${(1 to 3).map(bpeRoundSql).mkString(", ")}
         |SELECT 1 AS round, pair, cnt FROM b1
         |UNION ALL SELECT 2, pair, cnt FROM b2
         |UNION ALL SELECT 3, pair, cnt FROM b3
         |ORDER BY round""".stripMargin,
    "q114_compaction" ->
      """SELECT doc_id % 4 AS bucket, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q115_schema_evolution" ->
      """SELECT CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS INT)
        |    AS batch,
        |  COUNT(*) AS n_docs,
        |  COUNT(CASE WHEN doc_id % 2 = 1 THEN lang END) AS n_lang,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q116_triangles" ->
      """WITH raw AS (
        |  SELECT i AS src, (i * 2 + 1) % 200 AS dst FROM range(0, 200) t(i)
        |  UNION ALL
        |  SELECT i, (i * 3 + 2) % 200 FROM range(0, 200) t(i)
        |), e AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM raw WHERE src <> dst
        |)
        |SELECT (SELECT COUNT(*) FROM e) AS n_edges,
        |  (SELECT COUNT(DISTINCT a) FROM e) AS n_src_nodes,
        |  (SELECT COUNT(*) FROM e e1
        |    JOIN e e2 ON e1.b = e2.a
        |    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles""".stripMargin,
    "q117_bigram_lm" ->
      """WITH g AS (
        |  SELECT doc_id, w[u.i + 1] AS w1, w[u.i + 2] AS w2
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |    UNNEST(range(0, len(w) - 1)) u(i)
        |  WHERE len(w) >= 2
        |), uni AS (
        |  SELECT w1, COUNT(*) AS c1 FROM g GROUP BY 1
        |), vv AS (
        |  SELECT CAST(COUNT(DISTINCT w1) AS DOUBLE) AS v FROM g
        |), bic AS (
        |  SELECT w1, w2, COUNT(*) AS c12 FROM g GROUP BY 1, 2
        |), bi AS (
        |  SELECT b.w1, b.w2,
        |    CAST(floor(-ln((CAST(b.c12 AS DOUBLE) + 1)
        |      / (CAST(u.c1 AS DOUBLE) + vv.v)) * 1000000) AS BIGINT) AS sq
        |  FROM bic b JOIN uni u USING (w1), vv
        |)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(sq) // COUNT(*) AS BIGINT) AS surprise_q
        |FROM g JOIN bi USING (w1, w2)
        |GROUP BY 1
        |ORDER BY surprise_q DESC, doc_id LIMIT 20""".stripMargin,
    "q118_corrupt_csv" ->
      """WITH g AS (
        |  SELECT doc_id, n_chars, (doc_id % 10 = 0) AS bad FROM documents
        |)
        |SELECT COUNT(*) AS n_rows,
        |  COUNT(CASE WHEN bad THEN 1 END) AS n_corrupt,
        |  CAST(SUM(CASE WHEN NOT bad THEN n_chars END) AS BIGINT)
        |    AS good_chars,
        |  COUNT(CASE WHEN NOT bad THEN 1 END) AS n_kept,
        |  CAST(SUM(CASE WHEN NOT bad THEN n_chars END) AS BIGINT)
        |    AS kept_chars
        |FROM g""".stripMargin,
    "q119_dsv2_agg_pushdown" ->
      """SELECT COUNT(*) AS n_docs, MIN(i) AS min_id, MAX(i) AS max_id
        |FROM range(1000, 42000) t(i)""".stripMargin,
    "q121_curation_pipeline" ->
      """WITH corpus AS (
        |  SELECT doc_id, lang, text, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang, text, n_chars FROM documents
        |  WHERE doc_id % 7 = 0
        |), dedup AS (
        |  SELECT doc_id, lang, text, n_chars FROM (
        |    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id)
        |      AS rn
        |    FROM corpus)
        |  WHERE rn = 1
        |), tok AS (
        |  SELECT d.doc_id, d.lang, t.tok
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w
        |        FROM dedup) d,
        |    UNNEST(w) AS t(tok)
        |  WHERE t.tok <> ''
        |), per AS (
        |  SELECT doc_id, lang, COUNT(*) AS n_words,
        |    COUNT(CASE WHEN tok IN ('the', 'a') THEN 1 END) AS n_stop
        |  FROM tok GROUP BY 1, 2
        |), rules AS (
        |  SELECT doc_id, lang FROM per
        |  WHERE n_words >= 30 AND n_words <= 2000 AND n_stop >= 2
        |), rtok AS (
        |  SELECT t.doc_id, t.lang, t.tok FROM tok t JOIN rules r USING (doc_id)
        |), vocab AS (
        |  SELECT tok, COUNT(*) AS cnt FROM rtok GROUP BY 1
        |), tot AS (
        |  SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM vocab
        |), surprise AS (
        |  SELECT t.doc_id, t.lang,
        |    CAST(SUM(CAST(floor(-ln(CAST(v.cnt AS DOUBLE) / tot.total)
        |      * 1000000) AS BIGINT)) // COUNT(*) AS BIGINT) AS sq
        |  FROM rtok t JOIN vocab v USING (tok), tot
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (ORDER BY sq, doc_id) AS rk,
        |    COUNT(*) OVER () AS n
        |  FROM surprise
        |), lmkept AS (
        |  SELECT doc_id, lang FROM ranked WHERE rk <= n * 95 // 100
        |), bgram AS (
        |  SELECT DISTINCT array_to_string(w[i:i+4], ' ') AS gram
        |  FROM (SELECT string_split(text, ' ') AS w FROM corpus
        |        WHERE doc_id % 97 = 0),
        |    UNNEST(range(1, len(w) - 3)) AS u(i)
        |  WHERE len(w) >= 5
        |), cgram AS (
        |  SELECT k.doc_id, array_to_string(d.w[u.i:u.i+4], ' ') AS gram
        |  FROM lmkept k
        |  JOIN (SELECT doc_id, string_split(text, ' ') AS w FROM dedup) d
        |    USING (doc_id),
        |    UNNEST(range(1, len(d.w) - 3)) AS u(i)
        |  WHERE len(d.w) >= 5 AND k.doc_id % 97 <> 0
        |), contam AS (
        |  SELECT DISTINCT c.doc_id FROM cgram c JOIN bgram b USING (gram)
        |), final AS (
        |  SELECT k.doc_id, k.lang FROM lmkept k
        |  LEFT JOIN contam c USING (doc_id)
        |  WHERE c.doc_id IS NULL AND k.doc_id % 97 <> 0
        |)
        |SELECT l.lang,
        |  (SELECT COUNT(*) FROM corpus d WHERE d.lang = l.lang) AS n_raw,
        |  (SELECT COUNT(*) FROM dedup d WHERE d.lang = l.lang) AS n_dedup,
        |  (SELECT COUNT(*) FROM rules r WHERE r.lang = l.lang) AS n_rules,
        |  (SELECT COUNT(*) FROM lmkept k WHERE k.lang = l.lang) AS n_lm,
        |  (SELECT COUNT(*) FROM final f WHERE f.lang = l.lang) AS n_final,
        |  CAST((SELECT SUM(d.n_chars) FROM final f
        |    JOIN dedup d USING (doc_id)
        |    WHERE f.lang = l.lang) AS BIGINT) AS final_chars
        |FROM (SELECT DISTINCT lang FROM corpus) l
        |ORDER BY lang""".stripMargin,
    "q122_winsorize" ->
      """WITH v AS (
        |  SELECT o_orderpriority AS prio, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders
        |), r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY prio ORDER BY cents, o_orderkey)
        |      AS rk,
        |    COUNT(*) OVER (PARTITION BY prio) AS n
        |  FROM v
        |), cuts AS (
        |  SELECT prio,
        |    MAX(CASE WHEN rk = greatest(1, n * 5 // 100) THEN cents END)
        |      AS p05,
        |    MAX(CASE WHEN rk = greatest(1, n * 95 // 100) THEN cents END)
        |      AS p95
        |  FROM r GROUP BY 1
        |)
        |SELECT v.prio, COUNT(*) AS n_orders,
        |  CAST(c.p05 AS BIGINT) AS p05_cents,
        |  CAST(c.p95 AS BIGINT) AS p95_cents,
        |  CAST(SUM(least(greatest(v.cents, c.p05), c.p95)) AS BIGINT)
        |    AS winsorized_cents,
        |  CAST(SUM(v.cents) AS BIGINT) AS raw_cents
        |FROM v JOIN cuts c USING (prio)
        |GROUP BY 1, 3, 4 ORDER BY 1""".stripMargin,
    "q120_entity_resolution" ->
      """WITH names AS (
        |  SELECT p_name, COUNT(*) AS n_parts,
        |    split_part(p_name, ' ', 2) AS noun
        |  FROM part GROUP BY 1
        |)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist,
        |  a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
        |FROM names a JOIN names b
        |  ON a.noun = b.noun AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY name_a, name_b""".stripMargin,
  )
}
