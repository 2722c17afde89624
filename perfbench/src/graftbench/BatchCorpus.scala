package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

/** A fixed set of catalog queries in a closed loop with one client.
  * Each query is called (operator call, which runs any eager round
  * jobs) and then forced with a noop write, as graft.Bench does. A pass
  * runs every query once; passes repeat until the run's seconds are
  * used, and the median pass is the reading. The first pass runs cold,
  * as a submitted batch job does. */
final class BatchCorpus(args: Args) extends Workload {
  import BatchCorpus._

  private val executions = mutable.HashMap[String, Long]().withDefaultValue(0L)
  private val first = mutable.LinkedHashMap[String, DataFrame]()

  def prepare(spark: SparkSession, ctx: Ctx): Unit = {
    // graft.Bench's warm-up: touch the big tables once
    val dir = args.data
    Tables.lineitem(spark, dir).groupBy("l_returnflag").count().count()
    Tables.documents(spark, dir).count()
    Tables.embeddings(spark, dir).count()
  }

  def measure(spark: SparkSession, ctx: Ctx, seconds: Double, trace: Option[Trace]): Measured = {
    val t = trace.getOrElse(null)
    def span[A](n: String)(b: => A): A = if (t == null) b else t.span(n)(b)
    val passes = mutable.ArrayBuffer[Double]()
    val latency = mutable.ArrayBuffer[Double]()
    val start = System.nanoTime()
    while (passes.size < MinPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      val p0 = System.nanoTime()
      Queries.foreach { case (family, name) =>
        executions(name) += 1
        ctx.attempted += 1
        val q0 = System.nanoTime()
        try span(s"$family/$name") {
          val df = span("call")(SparkEntry.queries(name)(spark, args.data))
          span("write")(df.write.format("noop").mode("overwrite").save())
          // the first result is written for the oracle check at the end
          if (!first.contains(name)) first(name) = df
        } catch { case e: Exception => ctx.fail(s"$name: $e") }
        latency += (System.nanoTime() - q0) / 1e6
      }
      passes += (System.nanoTime() - p0) / 1e9
    }
    val elapsed = (System.nanoTime() - start) / 1e9
    ctx.extras(if (t == null) "pass_s" else "traced_pass_s") = passes.toSeq
    ctx.extras(if (t == null) "query_ms" else "traced_query_ms") =
      Queries.map(_._2).zip(latency.grouped(Queries.size).toSeq.transpose).toMap
    val layers = if (t == null) Map.empty[String, Double] else familyMetrics(t, passes.size)
    Measured(Stats.median(passes.toSeq), latency.toSeq, latency.size / elapsed,
      units = passes.size, layers)
  }

  /** Per-pass totals of each family's query spans. */
  private def familyMetrics(t: Trace, passes: Int): Map[String, Double] = {
    val spans = t.allSpans
    val byId = spans.map(s => s.id -> s).toMap
    Families.flatMap { family =>
      val roots = spans.filter(s => s.parent == 0 && s.name.startsWith(family + "/"))
      val l = t.layer(roots)
      val callS = spans.filter(s => s.name == "call" && byId.get(s.parent).exists(roots.contains))
        .map(_.seconds).sum
      Seq("wall_s" -> l.wallS, "call_s" -> callS, "jobs" -> l.jobs.toDouble,
        "tasks" -> l.tasks.toDouble, "driver_s" -> l.driverS, "exec_cpu_s" -> l.execCpuS,
        "shuffle_mb" -> l.shuffleMb, "gc_s" -> l.gcS)
        .map { case (k, v) => s"$family.$k" -> v / passes }
    }.toMap
  }

  /** None: a batch job runs in a fresh process, so the timed pass is
    * the first call of every query. */
  def warmup(spark: SparkSession, ctx: Ctx): Unit = ()

  /** Writes each query's first result for check.py; a wrong result
    * counts every execution of that query as wrong. */
  def check(spark: SparkSession, ctx: Ctx): Unit =
    first.foreach { case (name, df) =>
      val path = args.outPath.resolve("results").resolve(name).toString
      df.write.mode("overwrite").parquet(path)
      ctx.checks += Map("kind" -> "oracle", "name" -> name, "result" -> path,
        "sql" -> SparkEntry.oracleSql(name), "executions" -> executions(name).toString)
    }
}

object BatchCorpus {
  val MinPasses = 1
  /** (family, query): graph rounds, connected components, and
    * k-means-trained semantic dedup. */
  val Queries: Seq[(String, String)] = Seq(
    "graph" -> "graph_label_prop", "dedup_cc" -> "dedup_clusters",
    "similarity" -> "dedup_semantic")
  val Families: Seq[String] = Queries.map(_._1).distinct
}
