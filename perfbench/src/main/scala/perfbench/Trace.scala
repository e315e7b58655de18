package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in milliseconds since the epoch with sub-millisecond
  * resolution, on the same axis as Spark's listener event times. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Process-wide counters read on the driver thread at query boundaries:
  * `/proc/self/io`, GC and JIT MXBeans, and Spark's static metric sources. */
object Counters {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = Option(ManagementFactory.getCompilationMXBean)

  private def procIo(): Map[String, Double] = {
    val f = Paths.get("/proc/self/io")
    if (!Files.isReadable(f)) Map.empty
    else Files.readAllLines(f).asScala.flatMap { l =>
      l.split(":\\s*") match {
        case Array(k, v) => v.trim.toDoubleOption.map(k -> _)
        case _ => None
      }
    }.toMap
  }

  def read(): Map[String, Double] = {
    val io = procIo()
    val compile = CodegenMetrics.METRIC_COMPILATION_TIME
    Map(
      "io.read_calls" -> io.getOrElse("syscr", 0.0),
      "io.read_bytes" -> io.getOrElse("rchar", 0.0),
      "io.write_calls" -> io.getOrElse("syscw", 0.0),
      "io.write_bytes" -> io.getOrElse("wchar", 0.0),
      "jvm.gc_s" -> gcs.map(_.getCollectionTime.max(0L)).sum / 1e3,
      "jvm.jit_s" -> jit.filter(_.isCompilationTimeMonitoringSupported)
        .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0),
      "codegen.compiles" -> compile.getCount.toDouble,
      "codegen.compile_mean_s" -> compile.getSnapshot.getMean / 1e3,
      "codegen.classes" ->
        CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount.toDouble,
      "tables.files_discovered" ->
        HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount.toDouble,
      "tables.file_cache_hits" ->
        HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount.toDouble)
  }

  /** Counter deltas. The codegen compile-time histogram keeps no sum and
    * its mean comes from a decaying sample of all compilations so far, so
    * the compile time is estimated as the new compilations × that mean. */
  def delta(before: Map[String, Double], after: Map[String, Double]): Map[String, Double] = {
    val d = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
    d - "codegen.compiles" - "codegen.compile_mean_s" + ("codegen.compile_s" ->
      d.getOrElse("codegen.compiles", 0.0) * after.getOrElse("codegen.compile_mean_s", 0.0))
  }
}

/** One timed query as the driver thread saw it. `phases` are
  * (name, start, end) in [[Clock]] ms; `plan` is the final physical plan. */
case class QueryRecord(pass: Int, name: String, start: Double, end: Double,
    phases: Seq[(String, Double, Double)], counters: Map[String, Double],
    resultRows: Long, plan: Option[SparkPlan]) {
  def id: String = s"p$pass:$name"
}

/** The traced run's probes. They exist only in the traced run and are
  * registered only around traced passes; every event is kept in memory
  * and attributed to queries once the run ends. */
final class Probes(spark: SparkSession) {
  case class Job(id: Int, start: Double, stageIds: Seq[Int], var end: Double = Double.NaN)
  case class Stage(id: Int, attempt: Int, start: Double, end: Double, tasks: Int,
      m: Map[String, Double])

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val taskMs = new java.util.concurrent.ConcurrentHashMap[(Int, Int), mutable.ArrayBuffer[Long]]()
  private val failedTasks = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Int]()
  /** (time, function name) per finished SQL execution. */
  private val executions = new ConcurrentLinkedQueue[(Double, String)]()
  /** Start time and progress durations (ms by name) of each micro-batch. */
  private val batches = new ConcurrentLinkedQueue[(Double, Map[String, Double])]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = Job(e.jobId, e.time.toDouble, e.stageIds)
      jobById.put(e.jobId, j)
      jobs.add(j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobById.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val key = (e.stageId, e.stageAttemptId)
      if (e.reason != Success) failedTasks.merge(key, 1, Integer.sum)
      if (e.taskInfo != null) taskMs.synchronized {
        taskMs.computeIfAbsent(key, _ => mutable.ArrayBuffer.empty) += e.taskInfo.duration
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val tm = si.taskMetrics
      val m = if (tm == null) Map.empty[String, Double] else Map(
        "exec.task_run_s" -> tm.executorRunTime / 1e3,
        "exec.task_cpu_s" -> tm.executorCpuTime / 1e9,
        "exec.task_gc_s" -> tm.jvmGCTime / 1e3,
        "exec.shuffle_read_bytes" -> tm.shuffleReadMetrics.totalBytesRead.toDouble,
        "exec.shuffle_write_bytes" -> tm.shuffleWriteMetrics.bytesWritten.toDouble,
        "exec.spill_bytes" -> (tm.memoryBytesSpilled + tm.diskBytesSpilled).toDouble,
        "tables.input_bytes" -> tm.inputMetrics.bytesRead.toDouble,
        "tables.input_rows" -> tm.inputMetrics.recordsRead.toDouble,
        "sources.output_bytes" -> tm.outputMetrics.bytesWritten.toDouble,
        "sources.output_rows" -> tm.outputMetrics.recordsWritten.toDouble)
      val end = si.completionTime.map(_.toDouble).getOrElse(Clock.nowMs)
      stages.add(Stage(si.stageId, si.attemptNumber(),
        si.submissionTime.map(_.toDouble).getOrElse(end), end, si.numTasks, m))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      executions.add((Clock.nowMs - ns / 1e6, f))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      executions.add((Clock.nowMs, f))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add((java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap))
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits for every queued event, then detaches all probes. */
  def unregister(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Exchanges and join output rows of an executed plan, AQE stages included. */
  def planCounts(plan: SparkPlan): (Int, Long) = {
    val h = new AdaptiveSparkPlanHelper {}
    val exchanges = h.collectWithSubqueries(plan) { case e: Exchange => e }.size
    val joinRows = h.collectWithSubqueries(plan) {
      case j: BaseJoinExec => j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
    (exchanges, joinRows)
  }

  /** Attributes every recorded event to the query whose window holds its
    * start (only one query runs at a time), builds the span tree and
    * returns each query's per-layer numbers. */
  def attribute(queries: Seq[QueryRecord], passEnd: Map[Int, Double],
      spans: Spans): Seq[(QueryRecord, Map[String, Double])] = {
    val ordered = queries.sortBy(_.start)
    // A query's window closes when the next query of its pass starts, or
    // when its pass ends; late events of a pass's last query land there.
    val windows = ordered.map { q =>
      val next = ordered.find(o => o.pass == q.pass && o.start > q.start)
      q -> next.map(_.start).getOrElse(passEnd(q.pass))
    }
    def owner(t: Double): Option[QueryRecord] =
      windows.find { case (q, e) => t >= q.start - 1.0 && t < e }.map(_._1)

    val jobsOf = jobs.asScala.toSeq.filter(!_.end.isNaN).groupBy(j => owner(j.start))
    val execsOf = executions.asScala.toSeq.groupBy(e => owner(e._1))
    val batchesOf = batches.asScala.toSeq.groupBy(b => owner(b._1))
    val stageOwner = mutable.Map[Int, Job]()
    jobs.asScala.foreach(j => j.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, j)))
    val stagesOfJob = stages.asScala.toSeq.groupBy(s => stageOwner.get(s.id).map(_.id))

    ordered.map { q =>
      val qJobs = jobsOf.getOrElse(Some(q), Nil).sortBy(_.start)
      val qStages = qJobs.flatMap(j => stagesOfJob.getOrElse(Some(j.id), Nil))
      val intervals = qJobs.map(j => (j.start, j.end))
      def phase(n: String) = q.phases.find(_._1 == n)
      def dur(n: String) = phase(n).map(p => (p._3 - p._2) / 1e3).getOrElse(0.0)
      // A job's parent is the phase open when it started, else the query.
      val parentOf = qJobs.map { j =>
        j -> q.phases.find(p => j.start >= p._2 - 1.0 && j.start <= p._3 + 1.0).map(_._1)
      }.toMap
      val buildJobs = qJobs.filter(j => parentOf(j).contains("build"))

      // Spans: query -> phase -> job -> stage; each span's self time is
      // taken against its own children.
      val qSpan = spans.add(q.id, q.name, q.start, q.end, None,
        q.phases.map(p => (p._2, p._3)))
      val phaseSpans = q.phases.map { case (n, a, b) =>
        n -> spans.add(q.id, n, a, b, Some(qSpan),
          qJobs.filter(j => parentOf(j).contains(n)).map(j => (j.start, j.end)))
      }.toMap
      qJobs.foreach { j =>
        val st = stagesOfJob.getOrElse(Some(j.id), Nil)
        val jSpan = spans.add(q.id, s"job ${j.id}", j.start, j.end,
          Some(parentOf(j).map(phaseSpans).getOrElse(qSpan)), st.map(s => (s.start, s.end)))
        st.foreach(s => spans.add(q.id, s"stage ${s.id}.${s.attempt}", s.start, s.end,
          Some(jSpan), Nil))
      }

      val stageSums = qStages.flatMap(_.m).groupMapReduce(_._1)(_._2)(_ + _)
      val tiny = qStages.count { s =>
        val ds = Option(taskMs.get((s.id, s.attempt))).map(_.sorted).getOrElse(Nil)
        ds.nonEmpty && ds(ds.size / 2) < 10L
      }
      val failed = qStages.map(s => failedTasks.getOrDefault((s.id, s.attempt), 0)).sum
      val (exchanges, joinRows) = q.plan.map(planCounts).getOrElse((0, 0L))
      val build = phase("build")
      val qBatches = batchesOf.getOrElse(Some(q), Nil)
      def progress(k: String) = qBatches.map(_._2.getOrElse(k, 0.0)).sum / 1e3
      val layer = q.counters ++ stageSums ++ Map(
        "wall_s" -> (q.end - q.start) / 1e3,
        "result_rows" -> q.resultRows.toDouble,
        "ops.build_s" -> dur("build"),
        "ops.build_self_s" -> build.map(p => Stats.selfTime(p._2, p._3, intervals) / 1e3)
          .getOrElse(0.0),
        "ops.build_jobs" -> buildJobs.size.toDouble,
        "ops.sql_executions" ->
          execsOf.getOrElse(Some(q), Nil).count(_._2 != Digest.ActionName).toDouble,
        "plan.analyze_s" -> dur("analyze"),
        "plan.optimize_s" -> dur("optimize"),
        "plan.physical_s" -> dur("physical"),
        "plan.exchanges" -> exchanges.toDouble,
        "exec.action_s" -> dur("action"),
        "exec.jobs" -> qJobs.size.toDouble,
        "exec.stages" -> qStages.size.toDouble,
        "exec.tasks" -> qStages.map(_.tasks).sum.toDouble,
        "exec.tiny_stages" -> tiny.toDouble,
        "exec.failed_tasks" -> failed.toDouble,
        "exec.driver_gap_s" -> Stats.selfTime(q.start, q.end, intervals) / 1e3,
        "exec.join_output_rows" -> joinRows.toDouble,
        "streaming.batches" -> qBatches.size.toDouble,
        "streaming.trigger_s" -> progress("triggerExecution"),
        "streaming.wal_commit_s" -> progress("walCommit"),
        "streaming.plan_s" -> progress("queryPlanning"))
      q -> layer
    }
  }
}

/** In-memory span store, written out once when the run ends. */
final class Spans(origin: Double) {
  private val buf = mutable.ArrayBuffer[String]()
  private var next = 0L

  /** Adds a span and returns its id. `children` are the intervals its
    * child spans cover, from which its self time is computed. */
  def add(trace: String, name: String, start: Double, end: Double,
      parent: Option[Long], children: Seq[(Double, Double)]): Long = {
    next += 1
    val self = Stats.selfTime(start, end, children)
    buf += s"""{"trace":${Json.str(trace)},"span":$next,"parent":${parent.getOrElse(0L)},""" +
      s""""name":${Json.str(name)},"start_ms":${Json.num(start - origin)},""" +
      s""""end_ms":${Json.num(end - origin)},"self_ms":${Json.num(self)}}"""
    next
  }

  def write(path: String, header: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, (header +: buf.toSeq).asJava)
  }
}
