package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** Planning time of every action, keyed by when its planning started, so
  * it can be charged to the catalog entry whose window holds it.
  */
final class PlanningLog(tracer: Tracer) extends QueryExecutionListener {
  val events = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val t0 = System.nanoTime()
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) events.add(phases.map(_.startTimeMs).min -> phases.map(_.durationMs).sum.toDouble)
    tracer.overheadNs.addAndGet(System.nanoTime() - t0)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def within(fromMs: Long, untilMs: Long): Double =
    events.asScala.collect { case (t, ms) if t >= fromMs && t <= untilMs => ms }.sum
}

/** `catalog_slice`: catalog entries through `SparkEntry.queries`, each
  * written to a noop sink with the cache cleared first (as the catalog
  * bench times them). One untimed warm pass writes each entry's rows to
  * parquet for the oracle check; then timed passes walk the slice, each in
  * a seeded order, and each entry keeps its fastest pass (as the catalog
  * bench keeps its fastest of N).
  */
final class CatalogSlice(ctx: Ctx) {
  private val p = ctx.params
  private val entries = p.get("entries").elements().asScala.map(_.asText()).toIndexedSeq
  private val tracer = ctx.tracer
  private val tables = p.get("tables").elements().asScala.map(_.asText()).toSeq
  private val timedPasses = p.get("timed_passes").asInt()

  def run(): Result = {
    val res = new Result
    val dir = ctx.fixture(p.get("fixture").asText())
    val catalog = SparkEntry.queries
    val missing = entries.filterNot(catalog.contains)
    require(missing.isEmpty, s"entries not in the catalog: ${missing.mkString(", ")}")

    // set-up: session ready with the slice's base tables touched
    var spark: SparkSession = null
    val setups = (0 until ctx.setups).map { i =>
      val t0 = if (i == 0) ctx.jvmStartNs else System.nanoTime()
      spark = Env.session(ctx.cpus, ctx.work)
      for (t <- tables)
        graft.sources.Sources.table(spark, dir, t).write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      if (i < ctx.setups - 1) Env.stop(spark)
      s
    }

    // warm pass: untimed, its rows are what the oracle check reads
    val out = ctx.work.resolve("entries")
    val failedEntries = mutable.LinkedHashSet[String]()
    for (e <- entries) {
      spark.catalog.clearCache()
      try catalog(e)(spark, dir).coalesce(1).write.mode("overwrite").parquet(out.resolve(e).toString)
      catch { case t: Throwable =>
        failedEntries += e
        res.notes += s"$e failed: ${String.valueOf(t.getMessage).take(200)}"
      }
    }

    val jobs = new JobStats(tracer)
    val planning = new PlanningLog(tracer)
    if (tracer.enabled) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(planning)
    }

    // the timed passes, each in a seeded order; each entry's span (its
    // fastest pass) is recorded below, once its listener counts are in
    final case class Obs(startNs: Long, endNs: Long, fromMs: Long, untilMs: Long, runS: Double) {
      def s: Double = (endNs - startNs) / 1e9
    }
    val obs = mutable.LinkedHashMap[String, Obs]()
    val measureStart = System.nanoTime()
    val order = new scala.util.Random(ctx.seed)
    for (_ <- 1 to timedPasses; e <- order.shuffle(entries) if !failedEntries.contains(e)) {
      spark.catalog.clearCache()
      val fromMs = System.currentTimeMillis()
      try {
        val cpu0 = Env.cpuTicks()
        val t0 = System.nanoTime()
        catalog(e)(spark, dir).write.format("noop").mode("overwrite").save()
        val t1 = System.nanoTime()
        val o = Obs(t0, t1, fromMs, System.currentTimeMillis(), Env.runnableS((t1 - t0) / 1e9, cpu0))
        if (obs.get(e).forall(_.runS > o.runS)) obs(e) = o
      } catch { case t: Throwable =>
        failedEntries += e
        res.notes += s"$e failed in the timed pass: ${String.valueOf(t.getMessage).take(200)}"
      }
    }
    val measureEnd = System.nanoTime()
    val timed = entries.flatMap(e => obs.get(e).map(e -> _))
    val total = timed.map(_._2.s).sum

    res.attempted = entries.size
    res.failed = failedEntries.size
    res.e2e("setup_s", Stats.median(setups), "s")
    res.e2e("throughput_per_s", timed.size / timed.map(_._2.runS).sum, "1/s")
    res.human("catalog_s", total, "s")
    res.human("throughput_wall_per_s", timed.size / total, "1/s")
    for ((e, o) <- timed) res.human(e, o.s, "s")
    res.human("setup_first_s", setups.head, "s")
    res.extra("entry_outputs") = entries.filterNot(failedEntries.contains)
      .map(e => e -> out.resolve(e).toString).toMap.asJava
    res.extra("oracle_sql") = entries.flatMap(e => SparkEntry.oracleSql.get(e).map(e -> _)).toMap.asJava

    if (tracer.enabled) {
      jobs.settle()
      for ((e, o) <- timed) {
        val t = jobs.forWindow(o.fromMs, o.untilMs)
        val planMs = planning.within(o.fromMs, o.untilMs)
        tracer.external(s"catalog.$e", o.startNs, o.endNs, Map(
          "jobs" -> t.jobs.toDouble, "stages" -> t.stages.toDouble, "task_s" -> t.taskS,
          "shuffle_write_bytes" -> t.shuffleBytes.toDouble, "planning_ms" -> planMs))
        // the giant-plan gate's measure: the executed plan of a fresh frame
        val planChars = tracer.span(s"catalog.$e.plan")(
          catalog(e)(spark, dir).queryExecution.executedPlan.toString.length)._1
        res.layers ++= Map(
          s"catalog.$e.s" -> o.s,
          s"catalog.$e.planning_ms" -> planMs,
          s"catalog.$e.jobs" -> t.jobs.toDouble,
          s"catalog.$e.stages" -> t.stages.toDouble,
          s"catalog.$e.task_s" -> t.taskS,
          s"catalog.$e.shuffle_mb" -> t.shuffleBytes / 1e6,
          s"catalog.$e.plan_chars" -> planChars.toDouble)
      }
      res.layers("harness.trace_overhead_pct") =
        100.0 * tracer.overheadNs.get() / (measureEnd - measureStart)
    }
    Env.stop(spark)
    res
  }
}
