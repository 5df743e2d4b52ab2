package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

/** What one run needs: the workload's parameters (from workloads.json),
  * the seed, the measuring time, the Spark width and the run's private
  * work directory.
  */
final class Ctx(val params: JsonNode, val seed: Long, val seconds: Int,
                val cpus: Int, val setups: Int, val work: Path, fixtures: Path,
                val replayFile: String, val tracer: Tracer) {
  /** Monotonic time of JVM start, for the first set-up's "process start". */
  val jvmStartNs: Long = System.nanoTime() -
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) *
      1000000L
  def fixture(name: String): String = fixtures.resolve(name).toString
}

/** A run's outcome: the output checks, the end-to-end metrics (untraced
  * runs report these), the per-layer metrics (traced runs), and extra
  * figures for the human-readable table.
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, Double]()
  val table = mutable.ArrayBuffer[(String, Double, String)]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val extra = mutable.LinkedHashMap[String, AnyRef]()

  def e2e(name: String, v: Double, unit: String): Unit = { metrics(name) = v; table += ((name, v, unit)) }
  def human(name: String, v: Double, unit: String): Unit = table += ((name, v, unit))
}

/** Benchmark JVM entry point, started by run.py:
  * `graftbench.Main <workload> <seed> <seconds> <trace 0|1> <cpus>
  *  <workloads.json> <fixtures dir> <replay file> <work dir> <result.json>`.
  * Writes the result as JSON; run.py prints the final line.
  */
object Main {
  def main(args: Array[String]): Unit =
    try run(args)
    catch { case e: Throwable =>
      e.printStackTrace()
      System.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, cpus, spec, fixtures, replay, work, out) = args
    val specJson = Json.read(spec)
    val params = specJson.get("workloads").get(workload)
    require(params != null, s"unknown workload: $workload")
    val workDir = Files.createDirectories(Paths.get(work).toAbsolutePath)
    val tracer = new Tracer(trace == "1", s"$workload-seed$seed-${ProcessHandle.current().pid()}")
    val ctx = new Ctx(params, seed.toLong, seconds.toInt, cpus.toInt,
      params.get("setups").asInt(), workDir,
      Paths.get(fixtures).toAbsolutePath, replay, tracer)
    val cpuAtStart = Env.cpuTicks()
    val res = workload match {
      case "push_json" => new PushJson(ctx).run()
      case "catalog_slice" => new CatalogSlice(ctx).run()
    }
    val steal = Env.stealPct(cpuAtStart)
    res.human("peak_rss_mb", Env.peakRssMb(), "MB")
    res.human("cpu_steal_pct", steal, "%")
    if (tracer.enabled) {
      res.layers("harness.peak_rss_mb") = Env.peakRssMb()
      res.layers("harness.cpu_steal_pct") = steal
    }
    tracer.write(workDir.resolve("spans.jsonl"))
    val selfMs = tracer.selfMs
    val doc = Map[String, AnyRef](
      "workload" -> workload,
      "attempted" -> Long.box(res.attempted),
      "failed" -> Long.box(res.failed),
      "notes" -> res.notes.asJava,
      "metrics" -> res.metrics.map { case (k, v) => k -> Double.box(v) }.asJava,
      "layers" -> res.layers.map { case (k, v) => k -> Double.box(v) }.asJava,
      "table" -> res.table.map { case (n, v, u) => Seq[AnyRef](n, Double.box(v), u).asJava }.asJava,
      "span_self_ms" -> selfMs.map { case (k, v) => k -> Double.box(v) }.asJava,
      "extra" -> res.extra.asJava)
    Json.mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(out), doc.asJava)
    // gRPC and Spark leave non-daemon threads behind; the run is over
    System.exit(0)
  }
}
