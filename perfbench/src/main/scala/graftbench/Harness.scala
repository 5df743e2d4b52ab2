package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Order statistics over plain samples. Percentiles interpolate linearly
  * between closest ranks (numpy's default), so small samples stay smooth.
  */
object Stats {
  def percentile(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = percentile(xs, 50)
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** In-memory span recorder. Every call the benchmark makes into a layer of
  * graft runs inside `span`, which always returns the call's wall time; with
  * tracing on it also keeps (id, parent, name, start, end, attributes),
  * written out as JSON lines when the run ends. `overheadNs` accumulates
  * the time the recorder and the traced listeners spend on their own
  * bookkeeping — the cost tracing adds to a run.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  import Tracer.Span

  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  val overheadNs = new AtomicLong(0L)
  private val epochOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** An epoch-millisecond instant on the monotonic clock spans use. */
  def epochNs(ms: Long): Long = ms * 1000000L + epochOffsetNs

  /** Runs `body` inside a span; returns its result and wall nanoseconds. */
  def span[T](name: String)(body: => T): (T, Long) = {
    val id = ids.incrementAndGet()
    val parents = stack.get()
    if (enabled) stack.set(id :: parents)
    val t0 = System.nanoTime()
    try {
      val r = body
      val t1 = System.nanoTime()
      if (enabled) record(Span(id, parents.headOption.getOrElse(0), name, t0, t1, Map.empty))
      (r, t1 - t0)
    } finally if (enabled) stack.set(parents)
  }

  /** Span milliseconds of `body`, discarding its result. */
  def ms(name: String)(body: => Any): Double = span(name)(body)._2 / 1e6

  /** A span whose bounds were observed elsewhere (a micro-batch from its
    * progress event, a catalog entry from its timed pass), carrying the
    * listener counts that belong to it.
    */
  def external(name: String, startNs: Long, endNs: Long, attrs: Map[String, Double]): Unit =
    if (enabled) record(Span(ids.incrementAndGet(), 0, name, startNs, endNs, attrs))

  private def record(s: Span): Unit = {
    val t0 = System.nanoTime()
    spans.add(s)
    overheadNs.addAndGet(System.nanoTime() - t0)
  }

  /** Self time per span name: a span's duration minus its child spans. */
  def selfMs: Map[String, Double] = {
    val all = spans.asScala.toSeq
    val childNs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e6
    }
  }

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val m = Json.mapper
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      m.writeValueAsString(Map[String, Any](
        "run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "attrs" -> s.attrs.asJava).asJava)
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                        endNs: Long, attrs: Map[String, Double])
}

object Json {
  val mapper = new ObjectMapper()
  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))
}

/** Job, stage and task counts from Spark's public listener bus. Jobs are
  * keyed by the micro-batch id Structured Streaming stamps on them, and by
  * submission time for everything else, so a count can be charged to the
  * batch or the catalog entry it belongs to.
  */
final class JobStats(tracer: Tracer) extends SparkListener {
  import JobStats._

  private val lock = new Object
  private val jobs = mutable.ArrayBuffer[Job]()
  private val stages = mutable.Map[Int, Stage]()
  @volatile var lastEventNs: Long = System.nanoTime()

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    lock.synchronized(body)
    lastEventNs = System.nanoTime()
    tracer.overheadNs.addAndGet(lastEventNs - t0)
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = timed {
    val batch = Option(j.properties)
      .flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
    jobs += Job(j.jobId, j.time, batch, j.stageIds)
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = timed {
    val i = s.stageInfo
    if (i.completionTime.isDefined && i.failureReason.isEmpty) {
      val m = i.taskMetrics
      stages(i.stageId) = Stage(i.numTasks,
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Wait until the bus has been quiet for `quietMs` (bounded by `maxMs`):
    * listener events arrive asynchronously after the action returns.
    */
  def settle(quietMs: Long = 400, maxMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() - lastEventNs < quietMs * 1000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }

  private def totals(js: Seq[Job]): Totals = {
    val ran = js.flatMap(_.stages).distinct.flatMap(id => stages.get(id).map(id -> _))
    Totals(js.size, ran.size, ran.map(_._2.taskMs).sum / 1e3,
      ran.map(_._2.shuffleWrite).sum,
      if (ran.isEmpty) 0 else ran.minBy(_._1)._2.tasks)
  }

  def forBatch(batchId: Long): Totals = lock.synchronized(totals(jobs.filter(_.batchId.contains(batchId)).toSeq))

  /** Jobs submitted in [fromMs, untilMs] that carry no micro-batch id. */
  def forWindow(fromMs: Long, untilMs: Long): Totals = lock.synchronized(totals(
    jobs.filter(j => j.batchId.isEmpty && j.timeMs >= fromMs && j.timeMs <= untilMs).toSeq))
}

object JobStats {
  final case class Job(id: Int, timeMs: Long, batchId: Option[Long], stages: Seq[Int])
  final case class Stage(tasks: Int, taskMs: Long, shuffleWrite: Long)
  final case class Totals(jobs: Int, stages: Int, taskS: Double, shuffleBytes: Long,
                          firstStageTasks: Int)
}

/** Progress events of every streaming query in the session, stamped with
  * the monotonic time the listener received them. `onProgress` hooks let a
  * workload turn committed end offsets into per-record latencies.
  */
final class ProgressLog extends StreamingQueryListener {
  import StreamingQueryListener._
  val events = new ConcurrentLinkedQueue[(Long, StreamingQueryProgress)]()
  @volatile var onProgress: (Long, StreamingQueryProgress) => Unit = (_, _) => ()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val t = System.nanoTime()
    events.add(t -> e.progress)
    onProgress(t, e.progress)
  }

  /** Progress of micro-batches that read data, received in [fromNs, untilNs]. */
  def dataBatches(fromNs: Long, untilNs: Long = Long.MaxValue): Seq[StreamingQueryProgress] =
    events.asScala.toSeq.collect {
      case (t, p) if t >= fromNs && t <= untilNs && p.numInputRows > 0 => p
    }
}

/** Per-batch streaming metrics of the push engine: the `durationMs`
  * phases of each data micro-batch and the listener counts charged to it.
  */
object StreamingLayer {
  def phase(p: StreamingQueryProgress, name: String): Double =
    Option(p.durationMs.get(name)).map(_.toDouble).getOrElse(0.0)

  def metrics(batches: Seq[StreamingQueryProgress], jobs: JobStats,
              tracer: Tracer, busyWallMs: Double,
              busyBatches: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def p(name: String, q: Double) = Stats.percentile(batches.map(phase(_, name)), q)
    val perBatch = batches.map { b =>
      val t = jobs.forBatch(b.batchId)
      val startMs = java.time.Instant.parse(b.timestamp).toEpochMilli
      val trig = phase(b, "triggerExecution")
      val attrs = Map("rows" -> b.numInputRows.toDouble,
        "jobs" -> t.jobs.toDouble, "stages" -> t.stages.toDouble, "task_s" -> t.taskS,
        "shuffle_write_bytes" -> t.shuffleBytes.toDouble,
        "input_partitions" -> t.firstStageTasks.toDouble)
      tracer.external("streaming.batch", tracer.epochNs(startMs), tracer.epochNs(startMs + trig.toLong), attrs)
      attrs
    }
    def avg(k: String) = Stats.mean(perBatch.map(_(k)))
    Map(
      "streaming.batches" -> batches.size.toDouble,
      "streaming.rows_per_batch_p50" -> Stats.median(batches.map(_.numInputRows.toDouble)),
      "streaming.query_planning_ms_p50" -> p("queryPlanning", 50),
      "streaming.wal_commit_ms_p50" -> p("walCommit", 50),
      "streaming.commit_offsets_ms_p50" -> p("commitOffsets", 50),
      "streaming.add_batch_ms_p50" -> p("addBatch", 50),
      "streaming.add_batch_ms_p99" -> p("addBatch", 99),
      "streaming.trigger_ms_p50" -> p("triggerExecution", 50),
      "streaming.busy_frac" ->
        (if (busyWallMs <= 0) 0.0 else busyBatches.map(phase(_, "triggerExecution")).sum / busyWallMs),
      "streaming.jobs_per_batch" -> avg("jobs"),
      "streaming.stages_per_batch" -> avg("stages"),
      "streaming.task_s_per_batch" -> avg("task_s"),
      "sinks.shuffle_write_bytes_per_batch" -> avg("shuffle_write_bytes"),
      "sources.input_partitions_per_batch" -> avg("input_partitions"))
  }
}

/** Session lifecycle and small filesystem helpers. */
object Env {
  /** The session graft's own mains build (GraftSession), sized to the box. */
  def session(cpus: Int, work: java.nio.file.Path): SparkSession = {
    // SparkConf reads spark.* system properties: keep scratch space and
    // the warehouse inside the run's work directory
    System.setProperty("spark.local.dir", work.resolve("spark-local").toString)
    System.setProperty("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    val s = graft.GraftSession.getOrCreate(s"local[$cpus]", cpus, quietAcceptedWarnings = true)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Data files under `dir` (Spark's `_SUCCESS`, `.crc` and metadata excluded). */
  def dataFiles(dir: java.nio.file.Path): Seq[(String, Long)] =
    if (!java.nio.file.Files.exists(dir)) Seq.empty
    else {
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .filterNot { p =>
          val n = p.getFileName.toString
          n.startsWith("_") || n.startsWith(".")
        }
        .map(p => p.toString -> java.nio.file.Files.size(p)).toSeq
      finally s.close()
    }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** The machine's (busy, steal) CPU ticks from /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val t = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (t(0) + t(1) + t(2) + t(5) + t(6), if (t.length > 7) t(7) else 0L)
    } finally f.close()
  }

  /** Share of CPU time the hypervisor took away since `from`, as a percent
    * of the time this machine was busy or stolen — box weather, recorded
    * next to the timings it explains.
    */
  def stealPct(from: (Long, Long)): Double = {
    val (busy, steal) = cpuTicks()
    val b = busy - from._1
    val s = steal - from._2
    if (b + s <= 0) 0.0 else 100.0 * s / (b + s)
  }

  /** Seconds of `wallS` the machine could run: the wall time less the share
    * the hypervisor stole from it since `from`. A stolen tick is one a busy
    * vCPU waited for the host, so every runnable thread lost that share;
    * this keeps other tenants' load out of the timings that are compared.
    */
  def runnableS(wallS: Double, from: (Long, Long)): Double = wallS * (1 - stealPct(from) / 100)

  /** Poll `cond` every few milliseconds until it holds or `timeoutMs` passes. */
  def await(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(2)
    cond
  }
}
