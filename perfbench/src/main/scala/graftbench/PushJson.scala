package graftbench

import java.nio.file.Path
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.{KafkaRecord, SinkConfig}
import graft.sinks.FileSink
import graft.sources.{PushBuffers, PushDataSource}
import graft.streaming.Engine

/** `push_json`: the daemon as graft.Main assembles it, minus the network
  * front — `Engine.fromConfigJson` with one push-source connector and the
  * shipped JSON sink settings, `engine.start()`, records appended through
  * `PushBuffers.push` by one generator thread.
  *
  * Phases: an open-loop steady phase of `--seconds` at a fixed offered
  * rate, then bursts of a fixed backlog pushed at once: untimed warm-up
  * bursts first, then the timed ones, whose median drain rate (over the
  * time the machine could run, `Env.runnableS`) is the run's throughput.
  * A record's latency runs from its scheduled send time to the progress
  * event whose source end offset covers it, so trigger wait is included as
  * an operator sees it.
  */
final class PushJson(ctx: Ctx) {
  private val p = ctx.params
  private val rate = p.get("offered_rate_rps").asDouble()
  private val warmup = p.get("warmup_records").asInt()
  private val burstRecords = p.get("burst_records").asInt()
  private val warmupBursts = p.get("warmup_bursts").asInt()
  private val bursts = warmupBursts + p.get("bursts").asInt()
  private val sinkConf: Map[String, String] =
    p.get("sink").properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
  private val interval = sinkConf("rotate.interval.ms").toLong
  private val connector = "push-source"
  private val tracer = ctx.tracer

  private def engineJson(queue: String): String = {
    val sink = Json.mapper.writeValueAsString(sinkConf.asJava)
    s"""{"kafka": {"bootstrap_servers": [], "group_id": "graftbench"},
       | "connectors": [
       |  {"name": "$connector", "connector_class": "graft.PushSourceConnector",
       |   "connector_type": "source", "tasks_max": 1, "topics": ["events", "documents"],
       |   "config": {"queue": "$queue"}},
       |  {"name": "sink", "connector_class": "graft.FileSinkConnector",
       |   "connector_type": "sink", "tasks_max": 2, "topics": ["events", "documents"],
       |   "config": $sink}]}""".stripMargin
  }

  /** Commit bookkeeping for the measured queue, fed by the progress hook. */
  private final class Commits(capacity: Int) {
    val sentNs = new Array[Long](capacity)
    val committedNs = new Array[Long](capacity)
    @volatile var committed = 0
    def onProgress(t: Long, end: Long): Unit = {
      val e = math.min(end, capacity.toLong).toInt
      var i = committed
      while (i < e) { committedNs(i) = t; i += 1 }
      if (e > committed) committed = e
    }
  }

  private final class Live(val spark: SparkSession, val engine: Engine, val log: ProgressLog,
                           val queue: String, val out: Path, val commits: Commits)

  def run(): Result = {
    val res = new Result
    val (fixture, fixtureNs) = tracer.span("harness.fixture_load")(Fixture.load(ctx.replayFile))
    val replay = new Replay(fixture, ctx.seed, withDocuments = true)
    val steadyN = (rate * ctx.seconds).toInt
    val capacity = warmup + steadyN + bursts * burstRecords
    val pushed = ArrayBuffer[KafkaRecord]()
    var live: Live = null

    // set-up: session → engine → first committed batch of the warm-up push,
    // several times; the last engine stays up for the measured phases
    val setups = (0 until ctx.setups).map { i =>
      // the first set-up counts from process start, less the fixture read
      val t0 = if (i == 0) ctx.jvmStartNs + fixtureNs else System.nanoTime()
      val spark = Env.session(ctx.cpus, ctx.work)
      val log = new ProgressLog
      spark.streams.addListener(log)
      val queue = s"push-json-$i"
      val out = ctx.work.resolve(s"engine-$i")
      val commits = new Commits(if (i == ctx.setups - 1) capacity else warmup)
      log.onProgress = (t, prog) =>
        if (prog.name == connector && prog.sources.nonEmpty)
          commits.onProgress(t, prog.sources.head.endOffset.toLong)
      val first = replay.take(warmup)
      val engine = tracer.span("streaming.engine_assemble")(
        Engine.fromConfigJson(spark, engineJson(queue), out.resolve("data").toString,
          out.resolve("checkpoints").toString))._1
      val sent = System.nanoTime()
      tracer.span("sources.push")(PushBuffers.push(queue, first))
      java.util.Arrays.fill(commits.sentNs, 0, warmup, sent)
      tracer.span("streaming.engine_start")(engine.start())
      if (!Env.await(120000)(commits.committed >= warmup))
        throw new IllegalStateException("warm-up batch did not commit within 120 s")
      val s = (System.nanoTime() - t0) / 1e9
      if (i < ctx.setups - 1) { engine.stop(); Env.stop(spark) }
      else { live = new Live(spark, engine, log, queue, out, commits); pushed ++= first }
      s
    }
    val (spark, engine, log, queue, out, commits) =
      (live.spark, live.engine, live.log, live.queue, live.out, live.commits)
    val jobs = new JobStats(tracer)
    if (tracer.enabled) spark.sparkContext.addSparkListener(jobs)
    val outData = java.nio.file.Paths.get(FileSink.outputPath(SinkConfig.fromMap(sinkConf),
      out.resolve("data").resolve(connector).toString))
    val filesBefore = Env.dataFiles(outData).map(_._1).toSet

    // steady phase: open loop at the offered rate, one push per due chunk
    val steady = replay.take(steadyN)
    val lagMs = ArrayBuffer[Double]()
    var pushNs = 0L
    val base = pushed.size
    val tStart = System.nanoTime() + 20000000L
    val measureStart = tStart
    def sched(j: Int): Long = tStart + (j * 1e9 / rate).toLong
    var k = 0
    var backlogMax = 0L
    while (k < steadyN) {
      val now = System.nanoTime()
      val due = math.min(steadyN.toLong, ((now - tStart) * rate / 1e9).toLong + 1).toInt
      if (due > k) {
        val chunk = steady.slice(k, due)
        var j = k
        while (j < due) { commits.sentNs(base + j) = sched(j); j += 1 }
        lagMs += (now - sched(k)) / 1e6
        val (_, ns) = tracer.span("sources.push")(PushBuffers.push(queue, chunk))
        pushNs += ns
        backlogMax = math.max(backlogMax, (base + due - commits.committed).toLong)
        k = due
      } else LockSupport.parkNanos(math.max(sched(k) - now, 100000L))
    }
    val tSteadyEnd = System.nanoTime()
    pushed ++= steady
    if (!Env.await(60000)(commits.committed >= pushed.size))
      throw new IllegalStateException("steady-phase records did not commit within 60 s")
    val steadyBatches = log.dataBatches(tStart, tSteadyEnd)

    // bursts: a fixed backlog pushed at once just before a trigger boundary
    // (ProcessingTime triggers fire on multiples of the interval since the
    // epoch), so the measured drain carries no random trigger wait; the
    // first ones warm the burst-sized code paths and are not timed
    val burstSets = (0 until bursts).map(_ => replay.take(burstRecords))
    val drains = burstSets.map { recs =>
      val b0 = pushed.size
      val toBoundary = interval - System.currentTimeMillis() % interval
      Thread.sleep((toBoundary - 40 + interval) % interval)
      val cpu0 = Env.cpuTicks()
      val t0 = System.nanoTime()
      val (_, ns) = tracer.span("sources.push")(PushBuffers.push(queue, recs))
      pushNs += ns
      java.util.Arrays.fill(commits.sentNs, b0, b0 + recs.size, t0)
      pushed ++= recs
      if (!Env.await(120000)(commits.committed >= pushed.size))
        throw new IllegalStateException("burst did not commit within 120 s")
      val wallS = (commits.committedNs(pushed.size - 1) - t0) / 1e9
      (recs.size / Env.runnableS(wallS, cpu0), recs.size / wallS)
    }
    val measureEnd = System.nanoTime()
    val measuredBatches = log.dataBatches(measureStart, measureEnd)
    tracer.span("streaming.engine_stop")(engine.stop())

    // outputs: committed objects of the measured phases, then the read-back
    val after = Env.dataFiles(outData)
    val measuredFiles = after.filterNot(f => filesBefore.contains(f._1))
    val measuredRecords = pushed.size - warmup
    val (checked, failed, notes) =
      tracer.span("harness.readback")(Readback.checkJsonSink(spark, outData.toString, pushed))._1
    res.attempted = checked; res.failed = failed; res.notes ++= notes

    val latMs = (base until base + steadyN).map(i => (commits.committedNs(i) - commits.sentNs(i)) / 1e6)
    val objectsPerKrec = measuredFiles.size / (measuredRecords / 1000.0)
    val timed = drains.drop(warmupBursts)
    val timedWall = timed.map(_._2)
    res.e2e("setup_s", Stats.median(setups), "s")
    res.e2e("throughput_per_s", Stats.median(timed.map(_._1)), "1/s")
    res.human("commit_p50_ms", Stats.median(latMs), "ms")
    res.human("commit_p95_ms", Stats.percentile(latMs, 95), "ms")
    res.human("commit_p99_ms", Stats.percentile(latMs, 99), "ms")
    res.human("steady_records", steadyN.toDouble, "count")
    res.human("drain_rps_wall", Stats.median(timedWall), "records/s")
    res.human("drain_rps_wall_min", timedWall.min, "records/s")
    res.human("drain_rps_wall_max", timedWall.max, "records/s")
    res.human("drain_rps_wall_warmup", Stats.median(drains.take(warmupBursts).map(_._2)), "records/s")
    res.human("objects_per_krec", objectsPerKrec, "files/1000 records")
    res.human("offered_rps", rate, "records/s")
    res.human("achieved_rps", steadyN / ((tSteadyEnd - tStart) / 1e9), "records/s")
    res.human("setup_first_s", setups.head, "s")

    if (tracer.enabled) {
      jobs.settle()
      res.layers ++= StreamingLayer.metrics(measuredBatches, jobs, tracer,
        (tSteadyEnd - tStart) / 1e6, steadyBatches)
      def phaseP50(name: String) = Stats.median(measuredBatches.map(StreamingLayer.phase(_, name)))
      res.layers ++= Map(
        "streaming.commit_ms_p50" -> Stats.median(latMs),
        "streaming.commit_ms_p95" -> Stats.percentile(latMs, 95),
        "sources.push_us_per_record" -> pushNs / 1e3 / (steadyN + bursts * burstRecords),
        "sources.latest_offset_ms_p50" -> phaseP50("latestOffset"),
        "sources.get_batch_ms_p50" -> phaseP50("getBatch"),
        "sources.backlog_max_records" -> backlogMax.toDouble,
        "sinks.files_per_batch" -> measuredFiles.size.toDouble / math.max(1, measuredBatches.size),
        "sinks.bytes_per_record" -> measuredFiles.map(_._2).sum.toDouble / measuredRecords,
        "sinks.objects_per_krec" -> objectsPerKrec,
        "harness.generator_lag_ms_p99" -> Stats.percentile(lagMs, 99),
        "harness.trace_overhead_pct" ->
          100.0 * tracer.overheadNs.get() / (measureEnd - measureStart))
      res.layers ++= directCalls(spark, burstSets.head, jobs)
      res.layers ++= new GrpcFront(ctx, p.get("grpc_front"), sinkConf).measure(spark, replay, res)
    }
    Env.stop(spark)
    res
  }

  /** The traced run's direct layer calls on one burst's records, read back
    * through the push source in batch mode so the 1 000-record split holds.
    */
  private def directCalls(spark: SparkSession, recs: Seq[KafkaRecord],
                          jobs: JobStats): Map[String, Double] = {
    val krec = recs.size / 1000.0
    val scanQueue = "push-json-scan"
    PushBuffers.push(scanQueue, recs)
    def scan: DataFrame = spark.read.format(classOf[PushDataSource].getName)
      .option("queue", scanQueue).load()
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    // the cheap calls run three times and report their median
    def median3(name: String)(body: => Any): Double =
      Stats.median((1 to 3).map(_ => tracer.ms(name)(body)))

    val scanMs = median3("sources.scan")(noop(scan))
    val encodeMs = median3("operators.encode")(noop(graft.operators.Encode.jsonLinesProjection(scan)))
    val hourly = SinkConfig.fromMap(Map("s3.bucket.name" -> "bench", "format.class" -> "parquet",
      "partitioner.class" -> "time", "compression" -> "snappy"))
    val partMs = median3("operators.partition")(
      noop(graft.operators.OutputPartitioners.applyPartitioner(scan, hourly)))

    // one sink write into a fresh directory: (ms per file written, shuffle bytes)
    def write(name: String, cfg: SinkConfig): (Double, Double) = {
      val dir = ctx.work.resolve(s"direct-$name")
      val fromMs = System.currentTimeMillis()
      val ms = tracer.ms(s"sinks.$name")(FileSink.writeBatch(scan, cfg, dir.toString))
      val untilMs = System.currentTimeMillis()
      jobs.settle(200, 3000)
      (ms / math.max(1, Env.dataFiles(dir).size), jobs.forWindow(fromMs, untilMs).shuffleBytes.toDouble)
    }
    val (jsonPerFile, _) = write("write_json", SinkConfig.fromMap(sinkConf))
    val (hourlyPerFile, hourlyShuffle) = write("write_parquet_hourly", hourly)
    PushBuffers.clear(scanQueue)
    Map(
      "sources.scan_ms_per_krec" -> scanMs / krec,
      "operators.encode_ms_per_krec" -> math.max(0.0, encodeMs - scanMs) / krec,
      "operators.partition_ms_per_krec" -> math.max(0.0, partMs - scanMs) / krec,
      "sinks.write_ms_per_file" -> jsonPerFile,
      "sinks.parquet_hourly_write_ms_per_file" -> hourlyPerFile,
      "sinks.parquet_hourly_shuffle_bytes_per_krec" -> hourlyShuffle / krec)
  }
}
