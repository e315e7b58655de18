package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** Closed-loop driver for one workload: one client thread runs the
  * workload's queries one after another, each pass in an order drawn from
  * the seed, and times the calls it makes into each layer (build, analyze,
  * optimize, physical planning, the digest action).
  *
  * Usage: perfbench.Main --workload W --seed S --seconds T --trace 0|1
  *   --data DIR --tmp DIR --expected FILE --out TRACE_FILE [--revision REV]
  *   [--record FILE]
  *
  * Prints a run-record line and then, last, the result line. With
  * `--record` it writes each query's digest to FILE instead of checking. */
object Main {
  case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, tmp: String, expected: String, out: String,
      revision: String, record: Option[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    Args(need("workload"), need("seed").toLong, seconds, trace, need("data"),
      need("tmp"), need("expected"), need("out"), m.getOrElse("revision", "unknown"),
      m.get("record"))
  }

  /** The confs `graft.Bench` and `graft.Verify` set, for the same plans. */
  def confs(n: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> n.toString,
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    "spark.buffer.pageSize" -> "2m",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def newSession(n: Int, tmp: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$n]").appName("perfbench")
      .config("spark.local.dir", s"$tmp/local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
    confs(n).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Loads every table through the engine's own loaders, which resolve
    * each parquet file's schema and keep the relation for the session. */
  def loadTables(spark: SparkSession, dir: String): Unit = {
    import graft.{Tables => T}
    Seq(T.region _, T.nation _, T.customer _, T.supplier _, T.part _, T.orders _,
      T.lineitem _, T.events _, T.documents _, T.embeddings _)
      .foreach(load => load(spark, dir).schema)
  }

  /** Highest heap occupancy right after a full GC since the last reset.
    * Occupancy after a young GC also counts old garbage that no collection
    * has reached yet, so only full collections are read: the ones forced
    * at the start and end of each timed pass or after a query that cached
    * data, and any the program causes. */
  object HeapWatch extends NotificationListener {
    @volatile private var peak = 0L
    private val memory = ManagementFactory.getMemoryMXBean

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ => ()
    }
    def reset(): Unit = peak = 0L
    def peakMb: Double = peak / 1048576.0
    private def note(used: Long): Unit = synchronized { if (used > peak) peak = used }

    /** Collects the heap and notes what is left. */
    def collect(): Unit = {
      System.gc()
      note(memory.getHeapMemoryUsage.getUsed)
    }

    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction == "end of major GC")
          note(info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum)
      }
  }

  case class Outcome(record: QueryRecord, ok: Boolean, digest: Option[Digest.Result],
      error: Option[String]) {
    def latency: Double = (record.end - record.start) / 1e3
  }

  case class Pass(index: Int, traced: Boolean, start: Double, end: Double,
      outcomes: Seq[Outcome], heapPeakMb: Double) {
    def wall: Double = (end - start) / 1e3
  }

  /** Exits explicitly either way: threads a query left behind must not
    * keep the process alive. */
  def main(argv: Array[String]): Unit = {
    val code = try { run(parse(argv)); 0 } catch {
      case e: IllegalArgumentException =>
        System.err.println(s"perfbench: ${e.getMessage}")
        2
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.out.flush()
    sys.exit(code)
  }

  def run(a: Args): Unit = {
    val queries = Workloads(a.workload)
    val n = Runtime.getRuntime.availableProcessors
    val expected: Map[String, (Long, String)] =
      if (a.record.isDefined) Map.empty
      else Files.readAllLines(Paths.get(a.expected)).asScala.toSeq
        .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t")).collect {
          case Array(q, rows, hex) => q -> (rows.toLong, hex)
        }.toMap
    HeapWatch.install()

    val t0 = Clock.nowMs
    val spark = newSession(n, a.tmp)
    loadTables(spark, a.data)
    val sessionS = (Clock.nowMs - t0) / 1e3
    quietLogs()
    val probes = if (a.trace) Some(new Probes(spark)) else None

    def runQuery(pass: Int, name: String, fn: Workloads.Query, traced: Boolean,
        isolate: Boolean = true): Outcome = {
      val c0 = if (traced) Counters.read() else Map.empty[String, Double]
      val phases = mutable.ArrayBuffer[(String, Double, Double)]()
      def phase[T](label: String)(body: => T): T = {
        val t = Clock.nowMs
        try body finally phases += ((label, t, Clock.nowMs))
      }
      val start = Clock.nowMs
      var digest: Option[Digest.Result] = None
      var plan: Option[org.apache.spark.sql.execution.SparkPlan] = None
      val error = try {
        val df = phase("build")(fn(spark, a.data))
        val qe = df.queryExecution
        phase("analyze")(qe.analyzed)
        phase("optimize")(qe.optimizedPlan)
        phase("physical")(qe.executedPlan)
        digest = Some(phase("action")(Digest.run(qe, df.schema)))
        plan = Some(qe.executedPlan)
        None
      } catch {
        case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
      val end = Clock.nowMs
      val counters = if (traced) Counters.delta(c0, Counters.read()) else Map.empty[String, Double]
      // As in the engine's own bench: drop what the query cached, and
      // collect only when it left cached blocks behind.
      if (isolate) {
        val leftCached = spark.sparkContext.getPersistentRDDs.nonEmpty
        spark.catalog.clearCache()
        if (leftCached) System.gc()
      }
      val ok = error.isEmpty && (a.record.isDefined ||
        digest.exists(d => expected.get(name).contains((d.rows, d.hex))))
      val err = error.orElse(if (ok) None else Some(
        s"digest ${digest.map(d => s"${d.rows} ${d.hex}").getOrElse("-")} != expected " +
          expected.get(name).map { case (r, h) => s"$r $h" }.getOrElse("(none)")))
      Outcome(QueryRecord(pass, name, start, end, phases.toSeq, counters,
        digest.map(_.rows).getOrElse(0L), if (traced) plan else None), ok, digest, err)
    }

    def runPass(index: Int, traced: Boolean): Pass = {
      val order = new Random(a.seed * 1000003L + index).shuffle(queries)
      HeapWatch.reset()
      HeapWatch.collect()
      if (traced) probes.foreach(_.register())
      val start = Clock.nowMs
      val outcomes = order.map { case (name, fn) => runQuery(index, name, fn, traced) }
      val end = Clock.nowMs
      if (traced) probes.foreach(_.unregister())
      HeapWatch.collect()
      val heap = HeapWatch.peakMb
      Pass(index, traced, start, end, outcomes, heap)
    }

    // Warm-up: every query once, N at a time in name order, to fill the
    // JIT, codegen and file caches before timing. Queries run concurrently
    // here only; the timed passes run them one by one. Digests are checked
    // all the same.
    val warm = {
      val pool = Executors.newFixedThreadPool(n)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val start = Clock.nowMs
      val outcomes = try Await.result(Future.sequence(queries.map { case (name, fn) =>
        Future(runQuery(0, name, fn, traced = false, isolate = false))
      }), Duration.Inf) finally pool.shutdown()
      spark.catalog.clearCache()
      Pass(0, traced = false, start, Clock.nowMs, outcomes, 0.0)
    }
    // Process start to the first timed pass.
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val setupS = (warm.end - jvmStart) / 1e3

    val deadline = Clock.nowMs + a.seconds * 1000.0
    val passes = mutable.ArrayBuffer[Pass]()
    // Passes repeat until the time is up and, in an untraced run, the
    // workload's minimum is reached. Traced runs alternate untraced and
    // traced passes so the tracing overhead comes from the same process,
    // and end after a traced one.
    def enough = Clock.nowMs >= deadline && (
      if (a.trace) passes.size >= 2 && passes.size % 2 == 0
      else passes.size >= Workloads.minPasses(a.workload))
    while (!enough) {
      val i = passes.size + 1
      passes += runPass(i, traced = a.trace && i % 2 == 0)
    }

    val plain = passes.filterNot(_.traced).toSeq
    val all = warm +: passes.toSeq
    val outcomes = all.flatMap(_.outcomes)
    val failures = outcomes.filterNot(_.ok)

    def endToEnd(ps: Seq[Pass]): Map[String, Double] = {
      val lat = ps.flatMap(_.outcomes.map(_.latency))
      Map("pass_s" -> Stats.median(ps.map(_.wall)),
        "query_p50_s" -> Stats.median(lat),
        "query_tail_s" -> Stats.tail(lat).value,
        "heap_peak_mb" -> ps.map(_.heapPeakMb).max)
    }
    val e2e = endToEnd(plain) + ("setup_s" -> setupS)
    val tail = Stats.tail(plain.flatMap(_.outcomes.map(_.latency)))

    val metrics: Seq[(String, Double, String)] = probes match {
      case None => Seq(
        ("setup_s", e2e("setup_s"), "s"), ("pass_s", e2e("pass_s"), "s"),
        ("query_p50_s", e2e("query_p50_s"), "s"), ("query_tail_s", e2e("query_tail_s"), "s"),
        ("heap_peak_mb", e2e("heap_peak_mb"), "MB"))
      case Some(p) =>
        val traced = passes.filter(_.traced).toSeq
        val spans = new Spans(warm.start)
        val layers = p.attribute(traced.flatMap(_.outcomes.map(_.record)),
          traced.map(t => t.index -> t.end).toMap, spans)
        val overhead = endToEnd(traced).map { case (k, v) => k -> (v - e2e(k)) }
        spans.write(a.out, recordLine(a, n, sessionS, passes.toSeq, tail, failures))
        Layers.summarize(layers.map(_._2), traced.size, n, overhead)
    }

    a.record.foreach { path =>
      val lines = queries.map { case (q, _) =>
        val ds = outcomes.filter(_.record.name == q).map(_.digest)
        val d = ds.head.getOrElse(sys.error(s"$q failed while recording"))
        require(ds.forall(_.contains(d)), s"$q is not deterministic: ${ds.flatten.map(_.hex)}")
        s"$q\t${d.rows}\t${d.hex}"
      }
      Files.write(Paths.get(path), (s"# ${a.workload}: query, rows, digest" +: lines).asJava)
    }

    stopSession(spark)
    failures.take(20).foreach(f => System.err.println(
      s"perfbench: ${f.record.id} failed: ${f.error.getOrElse("")}"))
    println(recordLine(a, n, sessionS, passes.toSeq, tail, failures))
    println(Json.obj(Seq(
      "correct" -> (failures.isEmpty).toString,
      "attempted" -> outcomes.size.toString,
      "failed" -> failures.size.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }))))
  }

  /** The run record: everything needed to reproduce or compare the run. */
  def recordLine(a: Args, n: Int, sessionS: Double, passes: Seq[Pass],
      tail: Stats.Tail, failures: Seq[Outcome]): String = {
    val rt = Runtime.getRuntime
    Json.obj(Seq("record" -> Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString,
      "trace" -> (if (a.trace) "1" else "0"),
      "revision" -> Json.str(a.revision),
      "nproc" -> rt.availableProcessors.toString,
      "master" -> Json.str(s"local[$n]"),
      "heap_max_mb" -> Json.num(rt.maxMemory / 1048576.0),
      "conf" -> Json.obj(confs(n).map { case (k, v) => k -> Json.str(v) }),
      "session_s" -> Json.num(sessionS),
      "passes" -> passes.map(p => Json.obj(Seq("traced" -> p.traced.toString,
        "wall_s" -> Json.num(p.wall)))).mkString("[", ",", "]"),
      "query_tail" -> Json.obj(Seq("percentile" -> Json.num(tail.percentile),
        "samples" -> tail.samples.toString, "beyond" -> tail.beyond.toString)),
      "failures" -> failures.map(f => Json.str(s"${f.record.id}: ${f.error.getOrElse("")}"))
        .mkString("[", ",", "]")))))
  }

  private def quietLogs(): Unit = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.config.Configurator
    Seq("org.apache.spark.sql.catalyst.analysis.ResolveWriteToStream",
      "org.apache.spark.sql.execution.window.WindowExec")
      .foreach(Configurator.setLevel(_, Level.ERROR))
  }
}

/** Turns per-query layer numbers from traced passes into the per-layer
  * metrics: per-pass totals averaged over traced passes, plus ratios. */
object Layers {
  /** (name, unit) of every per-layer metric, in report order. */
  val Metrics: Seq[(String, String)] = Seq(
    "tables.input_bytes" -> "bytes", "tables.input_rows" -> "count",
    "tables.files_discovered" -> "count", "tables.file_cache_hits" -> "count",
    "ops.build_s" -> "s", "ops.build_self_s" -> "s", "ops.build_jobs" -> "count",
    "ops.sql_executions" -> "count",
    "io.read_calls" -> "count", "io.read_bytes" -> "bytes",
    "io.write_calls" -> "count", "io.write_bytes" -> "bytes",
    "plan.analyze_s" -> "s", "plan.optimize_s" -> "s", "plan.physical_s" -> "s",
    "plan.exchanges" -> "count",
    "exec.action_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s",
    "exec.core_busy" -> "ratio", "exec.tiny_stages" -> "count", "exec.driver_gap_s" -> "s",
    "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.task_gc_s" -> "s", "exec.failed_tasks" -> "count",
    "exec.join_output_rows" -> "count", "exec.join_yield" -> "ratio",
    "sources.output_bytes" -> "bytes", "sources.output_rows" -> "count",
    "streaming.batches" -> "count", "streaming.trigger_s" -> "s",
    "streaming.wal_commit_s" -> "s", "streaming.plan_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.jit_s" -> "s", "codegen.compile_s" -> "s",
    "codegen.classes" -> "count",
    "trace.overhead.pass_s" -> "s",
    "trace.overhead.query_p50_s" -> "s", "trace.overhead.query_tail_s" -> "s",
    "trace.overhead.heap_peak_mb" -> "MB")

  def summarize(perQuery: Seq[Map[String, Double]], passes: Int, n: Int,
      overhead: Map[String, Double]): Seq[(String, Double, String)] = {
    val total = perQuery.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
    def t(k: String) = total.getOrElse(k, 0.0)
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val derived = Map(
      "exec.core_busy" -> ratio(t("exec.task_run_s"), t("wall_s") * n),
      "exec.join_yield" -> ratio(t("result_rows"), t("exec.join_output_rows"))) ++
      overhead.map { case (k, v) => s"trace.overhead.$k" -> v }
    Metrics.map { case (k, unit) =>
      (k, derived.getOrElse(k, t(k) / math.max(1, passes)), unit)
    }
  }
}
