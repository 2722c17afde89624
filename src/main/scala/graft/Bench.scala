package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line {"metric":...,"queries":{name:sec}}.
  * A short warmup (scan + tiny agg) runs first so the first timed
  * query doesn't absorb JVM/codegen/session warmup. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup: touch the big tables once, exercise codegen + shuffle
    Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count().count()
    Tables.documents(spark, sfDir).count()
    Tables.embeddings(spark, sfDir).count()
    // noop sink: forces full computation of every output column
    // (count() would let Catalyst prune projection-only work)
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench] $name: $e") }
      (System.nanoTime() - t0) / 1e9
    }
    // median of three timed passes per query: one host-load window can
    // no longer fabricate a multi-x outlier (a min-of-two reading once
    // reported 9s for a query that reproducibly runs in 2.3s), and the
    // median doesn't over-reward a single cache-warm fluke either.
    // The per-pass times are emitted too: a fully-contended run (all
    // three passes inflated — the median can't save that) is then
    // self-evident from the spread, as is wall-vs-CPU skew below.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // host-contention bracket: 1-min load average + uptime at start and
    // end make a contaminated run machine-detectable (load >> cpus, or
    // an uptime delta far above wall_sec means the host was descheduled)
    // rather than inferred from per-pass spread after the fact.
    def loadAvg(): Double = osBean.getSystemLoadAverage
    def uptimeSec(): Double =
      try scala.util.Using.resource(
        scala.io.Source.fromFile("/proc/uptime"))(_.mkString)
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val (load0, up0) = (loadAvg(), uptimeSec())
    val wall0 = System.nanoTime()
    val cpu0 = osBean.getProcessCpuTime
    // dev-only: restrict to a comma-separated subset for fast iteration
    val only: Set[String] =
      if (args.nonEmpty) args(0).split(",").toSet else Set.empty
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    val passes = (1 to 3).map { _ =>
      ordered.map { case (n, f) => n -> timeOnce(n, f) }.toMap
    }
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val cpuSec = (osBean.getProcessCpuTime - cpu0) / 1e9
    val results = ordered.map { case (n, _) =>
      n -> passes.map(_(n)).sorted.apply(1)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qp = ordered.map { case (n, _) =>
      "\"" + n + "\":" + passes.map(_(n)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val (load1, up1) = (loadAvg(), uptimeSec())
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""queries_passes":$qp,"wall_sec":$wallSec,"process_cpu_sec":$cpuSec,""" +
      s""""load_avg":[$load0,$load1],"uptime_sec":[$up0,$up1],""" +
      s""""sf":"$sfDir"}"""
    println(json)
    // self-capture: the driver's stdout window has truncated this line
    // two rounds running (BENCH_r05/r06 "parsed": null), so also write
    // it where the round artifact can always recover it in full.
    // Write-then-atomic-move, and no fixed shared /tmp path: two
    // concurrent bench JVMs must neither clobber nor tear each other.
    // The default committed capture is a full run's: a subset run
    // keeps only its per-pid copy unless SPARK_GRAFT_BENCH_OUT says
    // where to write.
    val fullRun = ordered.size == SparkEntry.queries.size
    val out = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(Option.when(fullRun)("BENCH_selfcapture.json"))
    for (p <- s"/tmp/graft_bench_${ProcessHandle.current.pid}.json" +: out.toSeq)
      try {
        val target = java.nio.file.Paths.get(p)
        val tmp = java.nio.file.Files.createTempFile(
          target.toAbsolutePath.getParent, ".graft_bench", ".tmp")
        java.nio.file.Files.write(tmp,
          (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.move(tmp, target,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch { case e: Throwable => System.err.println(s"[bench] write $p: $e") }
    spark.stop()
  }
}
