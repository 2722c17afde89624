package graftbench

import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.BenchAccess
import graft.operators.{Admission, ContentHashIndex, MinHashIndex}

/** The durable admission loop over seeded document shards (gen.ingest),
  * closed loop with one writer. Per epoch (one latency sample): admit
  * the shard (Admission.admitEpoch), then read the loop's stores: probe
  * the held-out probe set against the exact and near-duplicate indexes
  * and read the admitted corpus as of two epochs back. Every second
  * epoch the stores are compacted, keeping one superseded generation so
  * those as-of reads stay in reach; between compactions live delta
  * segments pile up. A loop runs init to the last epoch's reads on a
  * fresh root; loops repeat until the run's seconds are used. The
  * timed loop runs graft's calls only: what it admitted is read back
  * from each loop's stores and checked after all timing. */
final class DurableIngest(args: Args) extends Workload {
  import DurableIngest._

  private var shards: IndexedSeq[DataFrame] = _
  private var shardIds: IndexedSeq[Set[Long]] = _   // disjoint across shards
  private var probe: DataFrame = _
  private val measured = mutable.ArrayBuffer[Loop]()
  // one shard file per epoch, as gen.ingest wrote them
  private val Epochs = new java.io.File(args.data).list().count(_.startsWith("shard_"))

  def prepare(spark: SparkSession, ctx: Ctx): Unit = {
    val dir = args.data
    shards = (0 until Epochs).map { e =>
      spark.read.parquet(f"$dir/shard_$e%02d.parquet").select("doc_id", "text")
        .localCheckpoint(eager = true)
    }
    val ids = spark.read.parquet(s"$dir/shard_*.parquet").select("epoch", "doc_id").collect()
      .groupBy(_.getLong(0)).map { case (e, rs) => e -> rs.map(_.getLong(1)).toSet }
    shardIds = (0 until Epochs).map(e => ids.getOrElse(e.toLong, Set.empty[Long]))
    probe = spark.read.parquet(s"$dir/probe.parquet").localCheckpoint(eager = true)
  }

  /** A loop's root and its as-of reads: (epoch read after, as-of epoch, ids read). */
  private final case class Loop(root: String, asOf: Seq[(Int, Long, Set[Long])])

  /** What the loops of one pass recorded. */
  private final class Rec {
    val loops = mutable.ArrayBuffer[Double]()
    val reads = mutable.ArrayBuffer[(String, Double)]()   // (read, ms)
    val steps = mutable.ArrayBuffer[Double]()   // ms: an epoch's admission plus its reads
    val epochs = mutable.ArrayBuffer[Double]()
    val live = mutable.ArrayBuffer[Int]()       // traced only
    val writes = mutable.ArrayBuffer[(String, Long, Long)]()   // (step, bytes, files)
    var docs = 0L
  }

  /** One loop over the first `epochs` shards, init to the last
    * epoch's reads, on a fresh root. */
  private def loop(spark: SparkSession, t: Trace, rec: Rec, epochs: Int = Epochs): Loop = {
    def span[A](n: String)(b: => A): A = if (t == null) b else t.span(n)(b)
    val root = args.outPath.resolve(s"loop-${System.nanoTime()}").toAbsolutePath.toString
    val asOfReads = mutable.ArrayBuffer[(Int, Long, Set[Long])]()
    var files = Map.empty[String, Long]
    def written(step: String): Unit = if (t != null) {
      val now = listing(root)
      val fresh = now.filter { case (p, n) => !files.get(p).contains(n) }
      rec.writes += ((step, fresh.values.sum, fresh.size.toLong))
      files = now
    }
    val l0 = System.nanoTime()
    span("admission.init")(Admission.init(spark, root))
    written("init")
    for (e <- 0 until epochs) {
      val e0 = System.nanoTime()
      span("admission.epoch")(Admission.admitEpoch(spark, root, e.toLong, shards(e)))
      rec.epochs += (System.nanoTime() - e0) / 1e9
      written("epoch")
      rec.docs += shardIds(e).size
      if (t != null) rec.live += BenchAccess.liveSegments(spark, s"$root/admitted")
      rec.reads += "probe_exact" -> timed(span("index.probe_exact")(
        ContentHashIndex.probeNew(spark, s"$root/exact", probe).write.format("noop").mode("overwrite").save()))
      rec.reads += "probe_near" -> timed(span("index.probe_near") {
        val pairs = MinHashIndex.probePairs(spark, s"$root/neardup", probe, Threshold)
        try pairs.count() finally BenchAccess.release(pairs)
      })
      val asOf = math.max(0, e - AsOfLag).toLong
      var got: Set[Long] = Set.empty
      rec.reads += "as_of" -> timed(span("admission.as_of") {
        got = Admission.admittedAsOf(spark, root, asOf).select("doc_id").collect().map(_.getLong(0)).toSet
      })
      asOfReads += ((e, asOf, got))
      rec.steps += rec.epochs.last * 1e3 + rec.reads.takeRight(3).map(_._2).sum
      if ((e + 1) % CompactEvery == 0 && e + 1 < epochs) {
        span("admission.compact")(Admission.compact(spark, root, retainGens = 1))
        written("compact")
      }
    }
    rec.loops += (System.nanoTime() - l0) / 1e9
    Loop(root, asOfReads.toSeq)
  }

  /** A loop is too long for a third pass inside a run's time limit:
    * the tracing overhead compares with the first loop, which runs
    * less warm than the traced one. */
  override def secondReferencePass: Boolean = false

  /** The first epoch and its reads on a scratch root. */
  def warmup(spark: SparkSession, ctx: Ctx): Unit = loop(spark, null, new Rec, epochs = 1)

  def measure(spark: SparkSession, ctx: Ctx, seconds: Double, trace: Option[Trace]): Measured = {
    val t = trace.getOrElse(null)
    val rec = new Rec
    val start = System.nanoTime()
    while (rec.loops.size < MinLoops || (System.nanoTime() - start) / 1e9 < seconds)
      measured += loop(spark, t, rec)
    val elapsed = (System.nanoTime() - start) / 1e9
    ctx.extras(if (t == null) "loop_s" else "traced_loop_s") = rec.loops.toSeq
    ctx.extras(if (t == null) "epoch_s" else "traced_epoch_s") = rec.epochs.toSeq
    ctx.extras(if (t == null) "read_ms" else "traced_read_ms") =
      rec.reads.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    if (t != null) ctx.extras("live_segments") = rec.live.toSeq
    val layers =
      if (t == null) Map.empty[String, Double]
      else layerMetrics(spark, t, rec.epochs.toSeq, rec.live.toSeq, rec.writes.toSeq, rec.loops.size)
    Measured(Stats.median(rec.loops.toSeq), rec.steps.toSeq, rec.docs / elapsed,
      units = rec.loops.size, layers)
  }

  private def layerMetrics(spark: SparkSession, t: Trace, epochs: Seq[Double], live: Seq[Int],
      writes: Seq[(String, Long, Long)], loops: Int): Map[String, Double] = {
    val spans = t.allSpans
    def named(n: String) = spans.filter(s => s.parent == 0 && s.name == n)
    def per(n: String) = { val ss = named(n); (t.layer(ss), math.max(1, ss.size)) }
    val (ep, nEp) = per("admission.epoch")
    val probes = named("index.probe_exact") ++ named("index.probe_near")
    val (pr, nPr) = (t.layer(probes), math.max(1, probes.size))
    val (cp, nCp) = per("admission.compact")
    val (in, nIn) = per("admission.init")
    def bytes(step: String) = writes.filter(_._1 == step)
    val text = Admission.admittedAll(spark, measured.last.root).agg(sum(length(col("text")))).first().getLong(0)
    val lastLoop = writes.takeRight(writes.size / loops)
    Map(
      "admission.epoch_p50_s" -> Stats.median(epochs),
      "admission.epoch_jobs" -> ep.jobs.toDouble / nEp,
      "admission.epoch_driver_s" -> ep.driverS / nEp,
      "admission.epoch_exec_cpu_s" -> ep.execCpuS / nEp,
      "lsm.live_segments_max" -> live.max.toDouble,
      "index.probe_p50_ms" -> Stats.median(probes.map(_.seconds * 1e3)),
      "index.probe_jobs" -> pr.jobs.toDouble / nPr,
      "admission.asof_p50_ms" -> Stats.median(named("admission.as_of").map(_.seconds * 1e3)),
      "lsm.epoch_write_mb" -> bytes("epoch").map(_._2).sum / 1e6 / math.max(1, bytes("epoch").size),
      "lsm.epoch_files" -> bytes("epoch").map(_._3).sum.toDouble / math.max(1, bytes("epoch").size),
      "admission.compact_write_mb" -> bytes("compact").map(_._2).sum / 1e6 / math.max(1, bytes("compact").size),
      "lsm.write_amp" -> lastLoop.map(_._2).sum.toDouble / math.max(1L, text),
      "admission.init_s" -> in.wallS / nIn,
      "admission.compact_s" -> cp.wallS / nCp,
      "admission.compact_jobs" -> cp.jobs.toDouble / nCp)
  }

  /** Admitted ids per epoch of the loop at `root`, read back from its
    * stores: every admitted id belongs to exactly one shard. */
  private def admitted(spark: SparkSession, ctx: Ctx, root: String): Map[Long, Set[Long]] = {
    val ids = Admission.admittedAll(spark, root).select("doc_id").collect().map(_.getLong(0))
    val byEpoch = ids.groupBy(id => shardIds.indexWhere(_.contains(id)).toLong)
    if (byEpoch.contains(-1L)) ctx.fail(s"${byEpoch(-1L).length} admitted ids are in no shard")
    (0 until Epochs).map(e => e.toLong -> byEpoch.getOrElse(e.toLong, Array.empty[Long]).toSet).toMap
  }

  /** The first loop's admissions are replayed under DuckDB, every later
    * loop must admit the same, and every as-of read must return exactly
    * the ids admitted up to its epoch. */
  def check(spark: SparkSession, ctx: Ctx): Unit = {
    var reference: Map[Long, Set[Long]] = null
    measured.foreach { l =>
      val ids = admitted(spark, ctx, l.root)
      ctx.attempted += Epochs
      if (reference == null) reference = ids
      else ids.foreach { case (e, got) =>
        if (got != reference(e)) ctx.fail(s"epoch $e admitted other ids than the checked loop")
      }
      l.asOf.foreach { case (e, asOf, got) =>
        ctx.attempted += 1
        val want = ids.filter(_._1 <= asOf).values.flatten.toSet
        if (got != want) ctx.fail(s"admittedAsOf($asOf) after epoch $e: ${got.size} ids, expected ${want.size}")
      }
    }
    val path = args.outPath.resolve("admitted").toString
    import spark.implicits._
    reference.toSeq.flatMap { case (e, ids) => ids.map(id => (id, e)) }
      .toDF("doc_id", "epoch").coalesce(1).write.mode("overwrite").parquet(path)
    ctx.checks += Map("kind" -> "admission", "result" -> path,
      "threshold" -> Threshold.toString,
      "shingles_sql" -> ShingleSql.fromOracle(graft.SparkEntry.oracleSql("dedup_admission_loop")))
  }
}

object DurableIngest {
  val CompactEvery = 2
  val AsOfLag = 2
  val Threshold = 0.5
  val MinLoops = 1

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }

  /** path -> size of every regular file under `root`. */
  def listing(root: String): Map[String, Long] = {
    val p = java.nio.file.Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else scala.util.Using.resource(Files.walk(p)) { s =>
      s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
    }
  }
}

/** The shingle-set SQL of the catalog's admission oracle, so the replay
  * of the loop under DuckDB shingles exactly as that oracle does. */
object ShingleSql {
  def fromOracle(sql: String): String = {
    val m = "(?s)WITH d AS \\(SELECT doc_id, text, (.*?) AS sh FROM documents\\)".r.findFirstMatchIn(sql)
    m.map(_.group(1)).getOrElse(sys.error("admission oracle has no shingle-set expression"))
  }
}
