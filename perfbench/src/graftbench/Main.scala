package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command line of the benchmark JVM (run.py passes every flag). */
final case class Args(workload: String, data: String, out: String, seconds: Int,
    trace: Boolean, seed: Long, slots: Int) {
  def outPath: Path = Paths.get(out)
}

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("data"), need("out"), need("seconds").toInt,
      need("trace") == "1", need("seed").toLong, need("slots").toInt)
  }
}

/** What one measured pass over a workload's fixed input produced. */
final case class Measured(
    wallS: Double,            // fixed input to complete result
    latencyMs: Seq[Double],   // per-operation latencies, timed from when each was due
    throughputPerS: Double,
    units: Double,            // how many fixed inputs the region processed
    layers: Map[String, Double] = Map.empty)

/** Result sink shared by the workloads: attempted/failed counts, files
  * for the DuckDB checks, and free-form extras written next to the
  * metrics. */
final class Ctx(val args: Args) {
  var attempted = 0L
  var failed = 0L
  val extras = mutable.LinkedHashMap[String, Any]()
  val checks = mutable.ArrayBuffer[Map[String, String]]()
  def fail(what: String): Unit = { failed += 1; System.err.println(s"[graftbench] wrong: $what") }
}

trait Workload {
  /** Everything a run needs before its first timed operation. */
  def prepare(spark: SparkSession, ctx: Ctx): Unit
  /** Untimed, but counted in set-up: a short run of the workload's
    * operations so that class loading and code generation are done
    * before timing. */
  def warmup(spark: SparkSession, ctx: Ctx): Unit
  /** The timed region over the fixed input; with a trace, the spans
    * and listener counts also yield the per-layer metrics. */
  def measure(spark: SparkSession, ctx: Ctx, seconds: Double, trace: Option[Trace]): Measured
  /** Start the traced pass from the same state as the untraced one. */
  def fresh(spark: SparkSession): Unit = ()
  /** Whether the traced run compares its traced pass with a second
    * untraced pass, as warm as the traced one, rather than with the
    * first untraced pass. */
  def secondReferencePass: Boolean = true
  /** Untimed, at the end: check outputs, or hand them to check.py. */
  def check(spark: SparkSession, ctx: Ctx): Unit
  /** Extra traced-only readings made after the traced pass. */
  def tracedExtras(spark: SparkSession, ctx: Ctx): Map[String, Double] = Map.empty
}

object Main {
  def session(args: Args, slots: Int, tag: String): SparkSession = {
    val local = args.outPath.resolve(s"spark-local-$tag").toAbsolutePath.toString
    // the same session confs as graft.Bench
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", args.outPath.resolve("warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9

  private def procField(file: String, key: String): Double =
    try scala.util.Using.resource(scala.io.Source.fromFile(file)) { src =>
      src.getLines().collectFirst {
        case l if l.startsWith(key) => l.drop(key.length).trim.split("\\s+")(0).toDouble
      }.getOrElse(0.0)
    } catch { case _: Exception => 0.0 }

  /** Bytes this process has passed to write(2), files and pipes alike. */
  def writtenBytes(): Double = procField("/proc/self/io", "wchar:")
  def peakRssMb(): Double = procField("/proc/self/status", "VmHWM:") / 1024.0

  def hostLoad(): Map[String, Double] = {
    val la = scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+"))
      .getOrElse(Array("0"))
    val up = scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/uptime"))).trim.split("\\s+")(0).toDouble)
      .getOrElse(0.0)
    Map("load1" -> la(0).toDouble, "uptime_s" -> up)
  }

  def workload(name: String, args: Args): Workload = name match {
    case "stedi_stream" => new StediStream(args)
    case "batch_corpus" => new BatchCorpus(args)
    case "durable_ingest" => new DurableIngest(args)
    case other => sys.error(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    Files.createDirectories(args.outPath)
    val ctx = new Ctx(args)
    val wl = workload(args.workload, args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    // set-up runs once, cold: JVM start, class loading, the session,
    // the workload's inputs and the untimed warm-up all count
    val t0 = System.nanoTime()
    val spark = session(args, args.slots, "main")
    wl.prepare(spark, ctx)
    val t1 = System.nanoTime()
    wl.warmup(spark, ctx)
    val t2 = System.nanoTime()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    ctx.extras("jvm_to_session_s") = setupS - (t2 - t0) / 1e9
    ctx.extras("prepare_s") = (t1 - t0) / 1e9
    ctx.extras("warmup_s") = (t2 - t1) / 1e9
    val load0 = hostLoad()

    val cpu0 = cpuSeconds(); val w0 = writtenBytes()
    val plain = wl.measure(spark, ctx, args.seconds, None)
    val cpu = cpuSeconds() - cpu0; val written = writtenBytes() - w0

    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    if (!args.trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("wall_s") = (plain.wallS, "s")
      metrics("cpu_s") = (cpu / plain.units, "s")
      metrics("peak_rss_mb") = (peakRssMb(), "MB")
      metrics("latency_p50_ms") = (Stats.pct(plain.latencyMs, 50), "ms")
      metrics("latency_p99_ms") = (Stats.pct(plain.latencyMs, 99), "ms")
      metrics("throughput_per_s") = (plain.throughputPerS, "1/s")
      metrics("write_mb") = (written / plain.units / 1e6, "MB")
    } else {
      // the traced pass repeats the untraced one with listeners and
      // spans on; its difference in wall time to an untraced pass as
      // warm as it is the tracing overhead
      val reference =
        if (wl.secondReferencePass) { wl.fresh(spark); wl.measure(spark, ctx, args.seconds, None) }
        else plain
      wl.fresh(spark)
      val trace = new Trace(spark.sparkContext)
      trace.install(spark)
      val t0 = System.nanoTime()
      val traced = wl.measure(spark, ctx, args.seconds, Some(trace))
      val t1 = System.nanoTime()
      trace.remove(spark)
      traced.layers.foreach { case (k, v) => metrics(k) = (v, "") }
      metrics("trace.overhead_s") = (traced.wallS - reference.wallS, "s")
      metrics("spark.slot_util") =
        (trace.executorRunSeconds(t0, t1) / ((t1 - t0) / 1e9 * args.slots), "ratio")
      trace.writeJson(args.outPath.resolve("trace.json"))
      ctx.extras("traced_wall_s") = traced.wallS
      ctx.extras("untraced_warm_wall_s") = reference.wallS
      wl.tracedExtras(spark, ctx).foreach { case (k, v) => metrics(k) = (v, "") }
    }
    ctx.extras("untraced_wall_s") = plain.wallS
    ctx.extras("latency_samples") = plain.latencyMs.size
    ctx.extras("units") = plain.units
    ctx.extras("host_load") = Map("start" -> load0, "end" -> hostLoad())
    wl.check(SparkSession.active, ctx)

    val body = Seq(
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "checks" -> ctx.checks,
      "extras" -> ctx.extras)
    val json = body.map { case (k, v) => Json.str(k) + ":" + Json.value(v) }.mkString("{", ",", "}")
    Files.write(args.outPath.resolve("result.json"), json.getBytes("UTF-8"))
    SparkSession.active.stop()
  }
}
