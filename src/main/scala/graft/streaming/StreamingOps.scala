package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming operators (SURVEY.md §2.14: the reference has no
  * streaming — these are the engine's forward-looking seams, expressed so
  * the SAME transformations run over `spark.readStream` sources).
  *
  * Each function takes a DataFrame that may be batch (for the harness /
  * oracle) or streaming (readStream) — the plan is identical; Spark picks
  * micro-batch execution when the source is streaming.
  */
object StreamingOps {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

  final case class ShardTok(shard: Long, tok: String)
  final case class HhCand(shard: Long, tok: String, cnt: Long, gen: Long)

  final case class SessionUpdate(user_id: Long, n_events: Long,
    start_sec: Long, end_sec: Long, closed: Boolean)

  /** CSV file-stream ingestion face — the production counterpart of the
    * MemoryStream test seam: files dropped into `srcDir` are discovered
    * as an unbounded stream. The schema is DECLARED (a streaming source
    * cannot infer), `maxFilesPerTrigger` bounds each micro-batch so a
    * backlog of 10⁶ files drains in bounded-memory increments, and the
    * checkpoint's file log guarantees each file is processed exactly
    * once across restarts — the cron-resumable ingestion shape that
    * pairs with [[drainToParquet]]'s Trigger.AvailableNow. */
  def eventCsvStream(spark: org.apache.spark.sql.SparkSession,
      srcDir: String): DataFrame =
    spark.readStream
      .schema(Encoders.product[Event].schema)
      .option("maxFilesPerTrigger", 4)
      .csv(srcDir)

  /** Watermarked sliding-window counts per event type: the streaming analog
    * of the batch datetime rollup (q19). Late data beyond 30 min is
    * dropped; state is bounded by watermark × type cardinality. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Streaming rate-drift monitor — the q152 rate-spike audit running
    * continuously: per (10-minute window, event type), the observed
    * volume against a BROADCAST static reference rate (ref events per
    * window, learned offline), emitted as an exact-integer rate ratio
    * in ppm with the ≥2× spike flag. One watermarked streaming
    * aggregation plus a stream-static join — the static side adds no
    * state, so memory stays bounded by watermark × |types| exactly as
    * in [[windowedCounts]]. (Share-of-window drift — the q149 face —
    * would need a second aggregation over the aggregate, which
    * structured streaming forbids in one query; the reference-rate
    * form is the deployable monitor.) */
  def streamingRateDrift(events: DataFrame, refMeans: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(refMeans), Seq("event_type"))
      .withColumn("rate_ppm", expr("n * 1000000 div ref_per_window"))
      .withColumn("spike", col("rate_ppm") >= 2000000L)

  /** Streaming exact-dedup: watermark + dropDuplicates on the event key.
    * The streaming face of q40 — state holds only keys younger than the
    * watermark, so memory is bounded at any corpus size. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .dropDuplicates("event_id")

  /** Streaming CONTENT dedup: drop re-ingested rows whose payload text
    * (not id) was already seen inside the watermark — the streaming face
    * of q40's exact corpus dedup. Keyed on md5(text), so replays and
    * re-crawls of identical text dedup even under fresh ids; state holds
    * one 32-char key per distinct text younger than the watermark. */
  def dedupByContent(docs: DataFrame): DataFrame =
    docs
      .withColumn("content_key", md5(col("text")))
      .withWatermark("ts", "1 hour")
      .dropDuplicates("content_key")

  /** Streaming dedup via `dropDuplicatesWithinWatermark` — the newer API
    * that [[dedupStream]]'s plain dropDuplicates should usually be: plain
    * dropDuplicates keys state eviction on the DUPLICATE ROWS' OWN event
    * times (replays with perturbed timestamps can evade or pin state),
    * while WithinWatermark guarantees any duplicate arriving within the
    * watermark delay of the FIRST-SEEN row is dropped, and state for a
    * key is evicted one delay after first sight — bounded state with
    * replay-robust semantics even when duplicate timestamps differ. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment join: each micro-batch joins against a
    * broadcast dimension table (the streaming face of the q05/q08 dim
    * joins). No stream-side state, no watermark needed — the static side
    * is re-broadcast per batch only if it changes. */
  def enrichWithDim(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream interval join: purchases joined to the click (same
    * user) that happened at most 30 minutes earlier. Both sides carry
    * watermarks and the join condition bounds event time on both ends, so
    * each side's buffered state is provably droppable once the watermark
    * passes — the ONLY way a stream-stream join stays bounded at scale. */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks
      .selectExpr("user_id AS click_user", "ts AS click_ts",
        "event_id AS click_id")
      .withWatermark("click_ts", "1 hour")
    val p = purchases
      .selectExpr("user_id", "ts AS purchase_ts", "event_id AS purchase_id")
      .withWatermark("purchase_ts", "1 hour")
    p.join(c,
      expr("""user_id = click_user AND
              purchase_ts >= click_ts AND
              purchase_ts <= click_ts + INTERVAL 30 MINUTES"""))
  }

  final case class UserStat(user_id: Long, n_events: Long, max_value: Double)

  /** Per-user running aggregate via mapGroupsWithState (Update mode): the
    * unbounded-keyed-state API, complementing flatMapGroupsWithState's
    * append-mode sessionizer below. */
  def runningUserStats(events: Dataset[Event]): Dataset[UserStat] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserStat, UserStat](GroupStateTimeout.NoTimeout()) {
        case (userId, it, state: GroupState[UserStat]) =>
          val prev = state.getOption.getOrElse(UserStat(userId, 0L, Double.MinValue))
          val next = it.foldLeft(prev)((s, e) =>
            UserStat(userId, s.n_events + 1, math.max(s.max_value, e.value)))
          state.update(next)
          next
      }
  }

  final case class UserTotal(user_id: Long, n_events: Long, total_value: Double)

  /** [[StatefulProcessor]] for [[runningTotalsTws]]: one typed
    * [[ValueState]] cell per user, fetched from the state-store handle at
    * init. TTLConfig.NONE keeps state forever (this demo key space is
    * tiny); a production ingest keyed on unbounded ids would pass
    * `TTLConfig(Duration.ofHours(n))` and let the store expire idle keys
    * — the state-bounding story the old GroupState API never had. */
  private[streaming] class RunningTotalProcessor
      extends StatefulProcessor[Long, Event, UserTotal] {
    @transient private var totals: ValueState[UserTotal] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserTotal](
        "totals", Encoders.product[UserTotal], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[UserTotal] = {
      val prev =
        if (totals.exists()) totals.get() else UserTotal(key, 0L, 0.0)
      val next = rows.foldLeft(prev)((s, e) =>
        UserTotal(key, s.n_events + 1, s.total_value + e.value))
      totals.update(next)
      Iterator.single(next)
    }
  }

  /** Per-user running totals via `transformWithState` — Spark 4's
    * arbitrary-state operator (the successor to map/flatMapGroupsWithState):
    * named typed state cells (Value/List/MapState) resolved from a handle,
    * per-cell TTL, and timers, all backed by the RocksDB state store
    * (required by the operator; set
    * `spark.sql.streaming.stateStore.providerClass` to
    * RocksDBStateStoreProvider). Semantically this mirrors
    * [[runningUserStats]], which is kept as the legacy-API face of the
    * same aggregation. */
  def runningTotalsTws(events: Dataset[Event]): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  final case class TypeCount(user_id: Long, event_type: String, n: Long)

  /** [[StatefulProcessor]] for [[typeCountsTws]]: a [[MapState]] keyed by
    * event type — the third typed state cell beside [[ValueState]]
    * (runningTotalsTws) and [[ListState]] (timerSessions). The point of
    * MapState over a ValueState[Map[...]]: per-ENTRY store access — one
    * updated counter touches one RocksDB key, not a full-map
    * deserialize/rewrite, which is what keeps wide per-user state (many
    * types, many features) updatable at high event rates. */
  private[streaming] class TypeCountProcessor
      extends StatefulProcessor[Long, Event, TypeCount] {
    @transient private var counts: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[TypeCount] = {
      val touched = scala.collection.mutable.Set.empty[String]
      rows.foreach { e =>
        val c = if (counts.containsKey(e.event_type))
          counts.getValue(e.event_type) else 0L
        counts.updateValue(e.event_type, c + 1)
        touched += e.event_type
      }
      // emit only the entries this batch changed (Update-mode contract)
      touched.iterator.map(t => TypeCount(key, t, counts.getValue(t)))
    }
  }

  /** Per-user per-event-type running counters via MapState — wide keyed
    * state with per-entry access. */
  def typeCountsTws(events: Dataset[Event]): Dataset[TypeCount] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new TypeCountProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  final case class TwsSession(user_id: Long, n_events: Long,
    start_sec: Long, end_sec: Long)

  /** [[StatefulProcessor]] for [[timerSessions]]: buffered event seconds
    * in a [[ListState]], one EVENT-TIME timer re-armed at
    * (latest event + gap). When the watermark passes the timer,
    * [[handleExpiredTimer]] fires: the buffered events split on the gap,
    * every closed session is emitted, and state clears — the session
    * flush that the arrival-driven [[StreamingOps.sessionize]] could
    * never do for the FINAL session of an idle user (it waits for a
    * later event to prove the gap; the timer proves it by time alone).
    * That is the capability timers add over the old GroupState API's
    * processing-time timeouts: event-time-correct, replayable flushes. */
  private[streaming] class TimerSessionProcessor(gapSec: Long)
      extends StatefulProcessor[Long, Event, TwsSession] {
    @transient private var buf: ListState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState[Long]("evs", Encoders.scalaLong,
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[TwsSession] = {
      rows.foreach(e => buf.appendValue(e.ts.getTime / 1000))
      // one armed timer per key: re-arm at latest-event + gap
      getHandle.listTimers().foreach(t =>
        getHandle.deleteTimer(t.asInstanceOf[Long]))
      val latest = buf.get().max
      getHandle.registerTimer((latest + gapSec) * 1000)
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[TwsSession] = {
      val secs = buf.get().toArray.sorted
      buf.clear()
      if (secs.isEmpty) return Iterator.empty
      val sessions = secs.foldLeft(List.empty[List[Long]]) {
        case ((cur @ (last :: _)) :: rest, t) if t - last <= gapSec =>
          (t :: cur) :: rest
        case (acc, t) => List(t) :: acc
      }.map(_.reverse).reverse
      sessions.iterator.map(s =>
        TwsSession(key, s.size.toLong, s.head, s.last))
    }
  }

  /** Timer-driven sessionization via `transformWithState` in EventTime
    * mode: sessions close when the WATERMARK passes last-event + gap —
    * no later event needed. Input must carry a watermark (the engine
    * feeds it to the timer machinery); state is bounded because every
    * armed timer eventually fires and clears its key. */
  def timerSessions(events: Dataset[Event], gapSec: Long): Dataset[TwsSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new TimerSessionProcessor(gapSec),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Native session windows under a watermark: the streaming face of
    * batch q68 — sessions close when the 30-min gap passes the watermark,
    * so state is bounded and emission is append-mode (final sessions
    * only). Contrast [[sessionize]], which implements the same semantics
    * by hand with flatMapGroupsWithState. */
  def sessionWindowCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("user_id"), col("session_window.start").as("start"),
        col("session_window.end").as("end"), col("n_events"), col("total_value"))

  /** foreachBatch sink: per micro-batch, run an arbitrary BATCH write —
    * the escape hatch for sinks with no streaming connector (JDBC,
    * upserts, multi-table fan-out). foreachBatch is at-least-once: after
    * a failure the SAME batchId can be re-invoked, so a plain append
    * would duplicate the replayed batch's rows. Idempotence comes from
    * partitioning by batch_id + DYNAMIC partition overwrite: a replayed
    * batchId replaces exactly its own partition and touches no other. */
  def perBatchTypeTotals(events: DataFrame, outDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(outDir)
      }

  /** Bounded drain of a stream into parquet files with
    * Trigger.AvailableNow: processes everything available, checkpoints,
    * and stops — the pattern for incremental batch jobs (a cron-scheduled
    * pipeline that resumes from its checkpoint and exits). */
  def drainToParquet(events: DataFrame, outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode(OutputMode.Append())
      .start()

  /** Stateful sessionization with flatMapGroupsWithState: 30-min
    * inactivity gap closes a session (the streaming analog of batch q18).
    * A session is emitted when a later event for the same user proves the
    * gap; the open tail stays in state. (No processing-time timeout: a
    * timeout-driven flush re-schedules micro-batches forever under
    * processAllAvailable, which makes deterministic testing impossible —
    * the arrival-driven closure below is the portable semantics.) */
  def sessionize(events: Dataset[Event]): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Long], SessionUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, it, state: GroupState[List[Long]]) =>
          val incoming = it.map(_.ts.getTime / 1000).toList
          val secs = (state.getOption.getOrElse(Nil) ++ incoming).sorted
          // split on >30min gaps; emit closed sessions, keep the open tail
          val sessions = secs.foldLeft(List.empty[List[Long]]) {
            case (acc, t) => acc match {
              case (cur @ (last :: _)) :: rest if t - last <= 1800 =>
                (t :: cur) :: rest
              case _ => List(t) :: acc
            }
          }.map(_.reverse).reverse
          val closed = sessions.dropRight(1)
          state.update(sessions.lastOption.getOrElse(Nil))
          closed.iterator.map(s =>
            SessionUpdate(userId, s.size.toLong, s.head, s.last, closed = true))
      }
  }

  /** [[StatefulProcessor]] for [[streamingHeavyHitters]]: a Misra–Gries
    * sketch per shard held in a [[MapState]] BOUNDED at k entries — the
    * streaming face of q125's batch two-phase heavy hitters. Each batch
    * loads the ≤k carried counters, folds the batch's tokens through the
    * MG update (insert below k, decrement-all when full), writes the
    * surviving counters back, and emits the current candidate set tagged
    * with a state generation so a consumer (and the spec) can identify
    * the LATEST sketch among Update-mode emissions. Sequential MG over
    * batches IS MG over the concatenated stream, so the standard
    * guarantee holds at every point in time: any token whose shard
    * frequency-so-far exceeds 1/(k+1) of the shard's stream is in the
    * sketch. State never exceeds k counters + one generation cell per
    * shard — the property that lets this run forever on an unbounded
    * vocabulary where a naive per-token count grows without limit. */
  private[streaming] class HeavyHitterProcessor(k: Int)
      extends StatefulProcessor[Long, ShardTok, HhCand] {
    @transient private var counters: MapState[String, Long] = _
    @transient private var gen: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counters = getHandle.getMapState[String, Long]("mg",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      gen = getHandle.getValueState[Long]("gen", Encoders.scalaLong,
        TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[ShardTok],
        timerValues: TimerValues): Iterator[HhCand] = {
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      counters.iterator().foreach { case (t, c) => m.update(t, c) }
      rows.foreach { r =>
        m.get(r.tok) match {
          case Some(c) => m.update(r.tok, c + 1)
          case None if m.size < k => m.update(r.tok, 1L)
          case None =>
            val dead = List.newBuilder[String]
            m.mapValuesInPlace((_, c) => c - 1)
            m.foreach { case (t, c) => if (c == 0) dead += t }
            dead.result().foreach(m.remove)
        }
      }
      counters.clear()
      m.foreach { case (t, c) => counters.updateValue(t, c) }
      val g = (if (gen.exists()) gen.get() else 0L) + 1
      gen.update(g)
      m.iterator.map { case (t, c) => HhCand(key, t, c, g) }
    }
  }

  /** Streaming heavy hitters over a token stream: shard by a stable
    * content hash (re-shardable — membership is a pure token function),
    * then per-shard bounded Misra–Gries state via transformWithState.
    * Downstream, the candidate union feeds the exact-recount phase
    * exactly as in batch q125. */
  def streamingHeavyHitters(toks: Dataset[String], shards: Int = 4,
      k: Int = 8): Dataset[HhCand] = {
    import toks.sparkSession.implicits._
    toks
      .map(t => ShardTok(math.floorMod(t.hashCode.toLong, shards.toLong), t))
      .groupByKey(_.shard)
      .transformWithState(new HeavyHitterProcessor(k),
        TimeMode.None(), OutputMode.Update())
  }

  final case class CmsCell(shard: Long, r: Int, b: Int, cell: Long, gen: Long)

  /** [[StatefulProcessor]] for [[streamingCms]]: the q156 count-min grid
    * (d=4 × w=32, md5-derived buckets identical to the batch operator)
    * held per shard as 128 bounded [[MapState]] cells. Counters ADD, so
    * folding each micro-batch into the carried grid IS the grid of the
    * concatenated stream — the same cell-wise-addition mergeability the
    * q156 spec proves for shards, applied over TIME. State per shard is
    * fixed at 128 longs forever, on any vocabulary. Emissions carry a
    * generation so consumers read the latest grid. */
  private[streaming] class CmsProcessor
      extends StatefulProcessor[Long, ShardTok, CmsCell] {
    @transient private var cells: MapState[Int, Long] = _
    @transient private var gen: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      cells = getHandle.getMapState[Int, Long]("cms",
        Encoders.scalaInt, Encoders.scalaLong, TTLConfig.NONE)
      gen = getHandle.getValueState[Long]("gen", Encoders.scalaLong,
        TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[ShardTok],
        timerValues: TimerValues): Iterator[CmsCell] = {
      val m = scala.collection.mutable.HashMap.empty[Int, Long]
      cells.iterator().foreach { case (i, c) => m.update(i, c) }
      rows.foreach { t =>
        var r = 0
        while (r < 4) {
          val i = r * 32 + StreamingOps.cmsBucket(r, t.tok)
          m.update(i, m.getOrElse(i, 0L) + 1L)
          r += 1
        }
      }
      m.foreach { case (i, c) => cells.updateValue(i, c) }
      val g = (if (gen.exists()) gen.get() else 0L) + 1
      gen.update(g)
      m.iterator.map { case (i, c) => CmsCell(key, i / 32, i % 32, c, g) }
    }
  }

  /** The q156 bucket function, shared verbatim with the streaming grid so
    * batch and stream estimates agree cell-for-cell. */
  def cmsBucket(r: Int, tok: String): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$r:$tok".getBytes("UTF-8"))
      .take(4).map(x => f"$x%02x").mkString
    (java.lang.Long.parseLong(hex, 16) % 32L).toInt
  }

  /** Streaming count-min: bounded 128-cell grids per shard, mergeable by
    * addition across shards AND across micro-batches. */
  def streamingCms(toks: Dataset[String], shards: Int = 2): Dataset[CmsCell] = {
    import toks.sparkSession.implicits._
    toks
      .map(t => ShardTok(math.floorMod(t.hashCode.toLong, shards.toLong), t))
      .groupByKey(_.shard)
      .transformWithState(new CmsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  // -----------------------------------------------------------------------
  // Incremental curation waterfall (foreachBatch; pairs with batch q196)
  // -----------------------------------------------------------------------

  /** Incremental curation waterfall: the q196 token-accounting pipeline
    * run CONTINUOUSLY over an unbounded document stream via foreachBatch.
    * Each micro-batch is curated as a batch DataFrame — raw → exact
    * dedup → quality filter (the q196/q182 rules verbatim) — with exact
    * dedup enforced ACROSS batches through a persistent content-hash
    * ledger: batch N's docs are anti-joined against every hash admitted
    * by batches < N, so a re-crawl arriving hours later still dedups
    * against the full history (watermarked dropDuplicates state could
    * not — its state evicts; this ledger is the unbounded-horizon face).
    *
    * Two parquet outputs per batch, BOTH idempotent under foreachBatch's
    * at-least-once replay because each is partitioned by batch_id with
    * dynamic partition overwrite (a replayed batchId replaces exactly
    * its own partition), and the ledger read excludes the CURRENT
    * batch_id partition — so a half-written replay can never dedup a
    * batch against its own first attempt:
    *  - `<stateDir>/waterfall/batch_id=N`: per-stage (docs, tokens)
    *    counts for batch N — additive across batches, see
    *    [[waterfallTotals]].
    *  - `<stateDir>/seen/batch_id=N`: content hashes admitted by batch
    *    N (post-dedup survivors only, so the ledger grows by distinct
    *    content, not by arrivals).
    *
    * Scale shape: per batch, one scan of the micro-batch + one anti-join
    * against the hash ledger (a 32-char-key table, partition-pruned to
    * batches < N; at 10¹⁰ distinct docs it's the same |corpus|-keyed
    * shuffle the batch q40 dedup pays, amortized over arrival). Stage 3
    * near-dup LSH is deliberately OUT of this sink: cross-batch LSH
    * needs a persistent band-bucket index whose incremental semantics
    * (pair survivorship depends on arrival order) don't merge — the
    * batch q41/q196 path is the audited face for that stage.
    */
  def incrementalWaterfall(docs: DataFrame, stateDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        waterfallBatch(batch, batchId, stateDir)
      }

  /** One micro-batch of the incremental waterfall — factored out of the
    * foreachBatch lambda so the replay contract is directly testable:
    * calling this twice with the SAME batchId must leave byte-identical
    * state (the at-least-once scenario foreachBatch documents). */
  private[graft] def waterfallBatch(batch: DataFrame, batchId: Long,
      stateDir: String): Unit = {
        val spark = batch.sparkSession
        val flagged = batch.select(col("doc_id"), col("n_chars"),
            md5(col("text")).as("h"),
            graft.ops.Features.words(col("text")).as("w"))
          .withColumn("toks", size(col("w")).cast("long"))
          // in-batch keep-first, by arrival id within the micro-batch
          .withColumn("first_local", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("h")).orderBy(col("doc_id"))) === 1)
          .withColumn("quality_keep",
            col("n_chars") >= 200
              && graft.ops.Features.uniqueWordRatio >= 300000L
              && expr("aggregate(w, 0L, (a, x) -> a + length(x)) div size(w)")
                .between(3L, 12L))
        val seenPath = s"$stateDir/seen"
        val ledger: DataFrame =
          if (new java.io.File(seenPath).isDirectory)
            spark.read.parquet(seenPath)
              .where(col("batch_id") < batchId).select("h")
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("h",
                org.apache.spark.sql.types.StringType))))
        val deduped = flagged
          .join(ledger.withColumn("seen_before", lit(true)), Seq("h"), "left")
          .withColumn("exact_keep", col("first_local") && col("seen_before").isNull)
          .select(col("h"), col("toks"), col("exact_keep"), col("quality_keep"))
        // one pass: raw / post-exact-dedup / post-quality counts
        val r = deduped.agg(
          count(lit(1)).as("d0"), coalesce(sum(col("toks")), lit(0L)).as("t0"),
          count(when(col("exact_keep"), 1)).as("d1"),
          coalesce(sum(when(col("exact_keep"), col("toks"))), lit(0L)).as("t1"),
          count(when(col("exact_keep") && col("quality_keep"), 1)).as("d2"),
          coalesce(sum(when(col("exact_keep") && col("quality_keep"),
            col("toks"))), lit(0L)).as("t2")).head()
        import spark.implicits._
        Seq(("1_raw", r.getLong(0), r.getLong(1)),
            ("2_exact_dedup", r.getLong(2), r.getLong(3)),
            ("3_quality", r.getLong(4), r.getLong(5)))
          .toDF("stage", "n_docs", "n_tokens")
          .withColumn("batch_id", lit(batchId))
          .coalesce(1).write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(s"$stateDir/waterfall")
        // admit this batch's survivors into the ledger LAST — if the job
        // dies between the two writes, the replay recomputes from a
        // ledger that predates this batch and overwrites both partitions
        deduped.where(col("exact_keep")).select(col("h"))
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(seenPath)
        ()
      }

  /** Running waterfall across every processed batch: per-batch counts are
    * ADDITIVE (each batch's stage counts are over docs the ledger had not
    * seen), so the corpus-lifetime waterfall is a sum plus one ppm
    * division — no rescan of history. Before any batch has been
    * processed the waterfall directory does not exist; that is a normal
    * startup state (a monitor polling a fresh pipeline), so it returns
    * an EMPTY frame with the output schema rather than letting the
    * parquet read or head() throw a path-not-found. */
  def waterfallTotals(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): DataFrame = {
    import spark.implicits._
    val empty = Seq.empty[(String, Long, Long, Long)]
      .toDF("stage", "n_docs", "n_tokens", "token_retained_ppm")
    if (!new java.io.File(s"$stateDir/waterfall").isDirectory) return empty
    val per = spark.read.parquet(s"$stateDir/waterfall")
      .groupBy(col("stage"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    val raw = per.where(col("stage") === "1_raw")
      .select(col("n_tokens")).collect()
    if (raw.isEmpty) return empty
    val t0 = raw.head.getLong(0)
    per.withColumn("token_retained_ppm",
        expr(s"n_tokens * 1000000 div ${math.max(t0, 1L)}"))
      .orderBy(col("stage"))
  }
}
