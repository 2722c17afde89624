package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span: a timed call into a layer, made from the benchmark's side.
  * `parent` is the id of the enclosing span (0 = none). */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** A finished Spark job as the listener saw it, tagged with the span
  * that was open on the submitting thread. */
final case class JobRec(jobId: Int, span: Long, startNs: Long, endNs: Long,
    streamBatch: Boolean)

/** Per-task totals for one job. */
final class TaskTotals {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
}

/** Spans and Spark listener counts, kept in memory for the traced run
  * and written out when it ends. Spans propagate to Spark jobs through
  * a thread-local property, which pool threads created inside a span
  * inherit. Timestamps are System.nanoTime on the driver. */
final class Trace(sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Boolean)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val totals = new java.util.concurrent.ConcurrentHashMap[Int, TaskTotals]()
  /** Streaming progress reports with the driver time they arrived. */
  val progress = new ConcurrentLinkedQueue[(Long, org.apache.spark.sql.streaming.StreamingQueryProgress)]()
  private val Key = "graftbench.span"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(Key))).map(_.toLong).getOrElse(0L)
      val stream = props.exists(p => p.getProperty("streaming.sql.batchId") != null)
      jobStart.put(e.jobId, (span, System.nanoTime(), stream))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (span, t0, stream) =>
        jobs.add(JobRec(e.jobId, span, t0, System.nanoTime(), stream))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val job = stageJob.getOrDefault(e.stageId, -1)
        val t = totals.computeIfAbsent(job, _ => new TaskTotals)
        t.synchronized {
          t.tasks += 1
          t.runMs += m.executorRunTime
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add((System.nanoTime(), e.progress))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  def remove(spark: org.apache.spark.sql.SparkSession): Unit = {
    org.apache.spark.graftbenchbus.Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** Time `body` as a span named `name`; jobs it submits are tagged. */
  def span[A](name: String)(body: => A): A = {
    val id = nextId.getAndIncrement()
    val prev = sc.getLocalProperty(Key)
    val parent = Option(prev).map(_.toLong).getOrElse(0L)
    sc.setLocalProperty(Key, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, name, t0, System.nanoTime()))
      sc.setLocalProperty(Key, prev)
    }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
  def allJobs: Seq[JobRec] = { org.apache.spark.graftbenchbus.Bus.drain(sc); jobs.asScala.toSeq.sortBy(_.startNs) }
  def totalsOf(jobId: Int): TaskTotals = totals.getOrDefault(jobId, new TaskTotals)

  /** Ids of `root` and every span nested under it. */
  def subtree(root: Long): Set[Long] = {
    val kids = allSpans.groupBy(_.parent)
    def go(id: Long): Seq[Long] = id +: kids.getOrElse(id, Nil).flatMap(s => go(s.id))
    go(root).toSet
  }

  /** Layer totals over a set of top-level spans (their subtrees
    * included): jobs, tasks, executor CPU and GC, shuffle, and the
    * driver-only time, i.e. span time during which none of the span's
    * jobs was running. */
  def layer(roots: Seq[Span]): LayerStats = {
    val js = allJobs
    var nJobs = 0L; var wall = 0.0; var driver = 0.0
    val tt = new TaskTotals
    roots.foreach { r =>
      val ids = subtree(r.id)
      val mine = js.filter(j => ids(j.span))
      nJobs += mine.size
      wall += r.seconds
      val busy = Stats.unionNs(mine.map(j => (math.max(j.startNs, r.startNs), math.min(j.endNs, r.endNs))))
      driver += math.max(0L, (r.endNs - r.startNs) - busy) / 1e9
      mine.foreach { j =>
        val t = totalsOf(j.jobId)
        tt.tasks += t.tasks; tt.runMs += t.runMs; tt.cpuNs += t.cpuNs; tt.gcMs += t.gcMs
        tt.shuffleWriteBytes += t.shuffleWriteBytes
      }
    }
    LayerStats(wall, nJobs, tt.tasks, driver, tt.cpuNs / 1e9, tt.gcMs / 1e3,
      tt.shuffleWriteBytes / 1e6, tt.runMs / 1e3)
  }

  /** Executor run time of every job that ended in [t0, t1]. */
  def executorRunSeconds(t0: Long, t1: Long): Double =
    allJobs.filter(j => j.endNs >= t0 && j.startNs <= t1)
      .map(j => totalsOf(j.jobId).runMs).sum / 1e3

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("{\"spans\":[")
    sb.append(allSpans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      .mkString(","))
    sb.append("],\"jobs\":[")
    sb.append(allJobs.map { j =>
      val t = totalsOf(j.jobId)
      s"""{"job":${j.jobId},"span":${j.span},"start_ns":${j.startNs},"end_ns":${j.endNs},""" +
        s""""stream":${j.streamBatch},"tasks":${t.tasks},"run_ms":${t.runMs},"cpu_ns":${t.cpuNs},""" +
        s""""gc_ms":${t.gcMs},"shuffle_write_bytes":${t.shuffleWriteBytes}}"""
    }.mkString(","))
    sb.append("]}")
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

final case class LayerStats(wallS: Double, jobs: Long, tasks: Long, driverS: Double,
    execCpuS: Double, gcS: Double, shuffleMb: Double, execRunS: Double)

object Stats {
  /** Linear-interpolated percentile, q in [0, 100]; 0 for no samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * q / 100.0
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Total length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def value(v: Any): String = v match {
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }
}
