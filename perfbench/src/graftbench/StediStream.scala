package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipelines.{StediPipelines, WireFixtures}

/** The reference's join pipeline as a streaming query over two
  * MemoryStreams, fed open loop by one generator thread.
  *
  * Records (customer envelopes and risk events) arrive in a seeded
  * order: customers in a random order, each customer's events spread
  * around its record, so some events arrive before their customer.
  * Record i of a phase is due at phase start + i / rate. A joined row's
  * latency runs from the due time of the later of its two records to
  * the moment the sink has collected the row. The join keeps the
  * reference's state (no watermark), so state grows through the run. */
final class StediStream(args: Args) extends Workload {
  import StediStream._

  // rates are records (customers + events) per second
  private val FixedRate = 2000.0
  private val FixedShare = 0.6       // of the run's seconds
  private val BurstRecords = 30000
  private val WarmupRecords = 3000

  private var redisWire: Array[(String, String)] = _
  private var stediWire: Array[(String, String)] = _
  private var order: Array[Int] = _           // record -> code (see Sched)
  private var custOf: mutable.HashMap[String, Int] = _
  private var eventOf: mutable.HashMap[String, Int] = _
  private var live: Live = _

  /** One running query and everything fed to it. */
  private final class Live(val q: StreamingQuery,
      val redis: MemoryStream[(String, String)], val stedi: MemoryStream[(String, String)],
      val emitted: ConcurrentLinkedQueue[(String, String, String, Long)]) {
    var fed = 0                                   // records of `order` fed so far
    val dueNs = new Array[Long](order.length)     // per record position
    val lateNs = mutable.ArrayBuffer[Double]()
    val feedTimes = mutable.ArrayBuffer[(Long, Int)]()   // (time, fed) after each tick
  }

  def prepare(spark: SparkSession, ctx: Ctx): Unit = {
    val dir = args.data
    val redis = WireFixtures.redisTopicFrame(spark, dir)
    val stedi = WireFixtures.stediTopicFrame(spark, dir)
    redisWire = redis.select("key", "value").collect().map(r => (r.getString(0), r.getString(1)))
    stediWire = stedi.select("key", "value").collect().map(r => (r.getString(0), r.getString(1)))
    import spark.implicits._
    // identify each wire record by the decoded fields the sink sees:
    // a narrow projection over a local relation keeps row order
    val custKeys = StediPipelines.customerPipeline(redisWire.toSeq.toDF("key", "value"))
      .select("email").as[String].collect()
    val riskKeys = StediPipelines.riskPipeline(stediWire.toSeq.toDF("key", "value"))
      .select(concat_ws("|", col("customer"), col("score"))).as[String].collect()
    require(custKeys.length == redisWire.length && riskKeys.length == stediWire.length,
      "decode dropped wire records")
    custOf = mutable.HashMap.from(custKeys.iterator.zipWithIndex)
    eventOf = mutable.HashMap.from(riskKeys.iterator.zipWithIndex)
    require(eventOf.size == riskKeys.length, "risk events are not unique by (customer, score)")
    order = Sched.order(args.seed, custKeys, stediWire.map(_._1))
    live = start(spark, newCheckpoint())
  }

  def warmup(spark: SparkSession, ctx: Ctx): Unit = {
    // the same query over the first records, fed at once and then
    // dropped
    val warm = start(spark, newCheckpoint())
    feed(warm, Double.PositiveInfinity, WarmupRecords)
    warm.q.processAllAvailable()
    warm.q.stop()
  }

  override def fresh(spark: SparkSession): Unit = {
    live.q.stop()
    live = start(spark, newCheckpoint())
  }

  private def newCheckpoint(): String =
    args.outPath.resolve(s"stream-${System.nanoTime()}").toString

  private def start(spark: SparkSession, ckpt: String): Live = {
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // one input partition per slot, as a topic with that many partitions
    def source() = MemoryStream[(String, String)](args.slots)
    val redis = source()
    val stedi = source()
    val emitted = new ConcurrentLinkedQueue[(String, String, String, Long)]()
    val joined = StediPipelines.joinPipeline(redis.toDF().toDF("key", "value"),
      stedi.toDF().toDF("key", "value"))
    val q = joined.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val rows = batch.select(col("value"),
          get_json_object(col("value"), "$.email"),
          concat_ws("|", get_json_object(col("value"), "$.customer"),
            get_json_object(col("value"), "$.score"))).collect()
        val now = System.nanoTime()
        rows.foreach(r => emitted.add((r.getString(0), r.getString(1), r.getString(2), now)))
      }
      .start()
    q.processAllAvailable()
    new Live(q, redis, stedi, emitted)
  }

  /** Feed the next `n` records at `rate`, open loop; returns the
    * record range fed. */
  private def feed(l: Live, rate: Double, n: Int): Range = {
    val from = l.fed
    val to = math.min(order.length, from + n)
    val t0 = System.nanoTime()
    for (i <- from until to) l.dueNs(i) = t0 + ((i - from) * 1e9 / rate).toLong
    var next = from
    while (next < to) {
      val now = System.nanoTime()
      var upto = next
      while (upto < to && l.dueNs(upto) <= now) upto += 1
      if (upto > next) {
        val (rs, es) = (next until upto).partition(i => Sched.isCustomer(order(i)))
        if (rs.nonEmpty) l.redis.addData(rs.map(i => redisWire(Sched.index(order(i)))))
        if (es.nonEmpty) l.stedi.addData(es.map(i => stediWire(Sched.index(order(i)))))
        val done = System.nanoTime()
        if (!rate.isInfinite) {
          (next until upto).foreach(i => l.lateNs += (done - l.dueNs(i)).toDouble)
          l.feedTimes += ((done, upto))
        }
        next = upto
      } else {
        val wait = (l.dueNs(next) - now) / 1000000L
        if (wait > 0) Thread.sleep(math.min(wait, 5L))
      }
    }
    l.fed = to
    from until to
  }

  /** Latencies (ms) of joined rows whose later record is in `range`. */
  private def latencies(l: Live, range: Range): (Seq[Double], Long) = {
    val posOfCust = new Array[Int](redisWire.length)
    val posOfEvent = new Array[Int](stediWire.length)
    java.util.Arrays.fill(posOfCust, -1); java.util.Arrays.fill(posOfEvent, -1)
    (0 until l.fed).foreach { i =>
      val c = order(i)
      if (Sched.isCustomer(c)) posOfCust(Sched.index(c)) = i else posOfEvent(Sched.index(c)) = i
    }
    var lastEmit = 0L
    // a row of unknown records is wrong; check() counts it
    val lat = l.emitted.asScala.toSeq.flatMap { case (_, email, ev, t) =>
      for {
        c <- custOf.get(email); e <- eventOf.get(ev)
        later = math.max(posOfCust(c), posOfEvent(e)) if range.contains(later)
      } yield {
        lastEmit = math.max(lastEmit, t)
        (t - l.dueNs(later)) / 1e6
      }
    }
    (lat, lastEmit)
  }

  def measure(spark: SparkSession, ctx: Ctx, seconds: Double, trace: Option[Trace]): Measured = {
    val l = live
    val t = trace.getOrElse(null)
    def span[A](n: String)(b: => A): A = if (t == null) b else t.span(n)(b)
    // fixed rate: latency, and time from the first record due to the
    // last joined row
    val t0 = System.nanoTime()
    val fixed = span("stream.fixed_rate")(feed(l, FixedRate, (FixedRate * seconds * FixedShare).toInt))
    span("stream.drain")(l.q.processAllAvailable())
    val (lat, lastEmit) = latencies(l, fixed)
    val fixedEnd = System.nanoTime()
    // burst: a backlog added at once and drained; its rate is the
    // most the query absorbs
    val b0 = System.nanoTime()
    val burst = span("stream.burst") {
      val r = feed(l, Double.PositiveInfinity, BurstRecords)
      l.q.processAllAvailable()
      r
    }
    val burstRate = burst.size / ((System.nanoTime() - b0) / 1e9)
    val layers = if (t == null) Map.empty[String, Double] else layerMetrics(l, t, fixedEnd)
    Measured((lastEmit - t0) / 1e9, lat, burstRate, units = 1.0, layers)
  }

  /** Progress medians over every batch; backlog and generator
    * lateness over the fixed-rate phase (ending at `fixedEnd`). */
  private def layerMetrics(l: Live, t: Trace, fixedEnd: Long): Map[String, Double] = {
    val ps = t.progress.asScala.toSeq.filter(_._2.numInputRows > 0)
    def dur(k: String) =
      Stats.median(ps.flatMap(p => Option(p._2.durationMs.get(k)).map(_.doubleValue)))
    val state = ps.flatMap(_._2.stateOperators.headOption)
    val streamJobs = t.allJobs.count(_.streamBatch)
    // backlog: records fed but not taken by any finished batch
    var consumed = 0L
    val backlog = ps.takeWhile(_._1 <= fixedEnd).map { case (at, p) =>
      consumed += p.numInputRows
      val fedThen = l.feedTimes.takeWhile(_._1 <= at).lastOption.map(_._2).getOrElse(0)
      math.max(0.0, fedThen - consumed.toDouble)
    }
    Map(
      "pipelines.batches" -> ps.size.toDouble,
      "pipelines.trigger_p50_ms" -> dur("triggerExecution"),
      "pipelines.planning_p50_ms" -> dur("queryPlanning"),
      "pipelines.addbatch_p50_ms" -> dur("addBatch"),
      "pipelines.commit_p50_ms" -> dur("commitOffsets"),
      "pipelines.jobs_per_batch" -> (if (ps.isEmpty) 0.0 else streamJobs.toDouble / ps.size),
      "streaming.state_rows" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_mb" -> state.lastOption.map(_.memoryUsedBytes / 1e6).getOrElse(0.0),
      "streaming.state_commit_p50_ms" -> Stats.median(state.map(_.commitTimeMs.toDouble)),
      "sources.backlog_max_rows" -> (if (backlog.isEmpty) 0.0 else backlog.max),
      "gen.late_p99_ms" -> Stats.pct(l.lateNs.toSeq, 99) / 1e6)
  }

  def check(spark: SparkSession, ctx: Ctx): Unit = {
    val l = live
    import spark.implicits._
    val fedIdx = order.take(l.fed)
    val redisFed = fedIdx.filter(Sched.isCustomer).map(c => redisWire(Sched.index(c)))
    val stediFed = fedIdx.filterNot(Sched.isCustomer).map(c => stediWire(Sched.index(c)))
    val expected = StediPipelines.joinedColumns(
      redisFed.toSeq.toDF("key", "value"), stediFed.toSeq.toDF("key", "value"))
      .select(to_json(struct(col("*")))).as[String].collect()
    val got = l.emitted.asScala.toSeq.map(_._1)
    val diff = multisetDiff(expected.toSeq, got)
    ctx.attempted += math.max(1, expected.length)
    if (diff > 0) ctx.fail(s"stedi_stream: $diff joined rows differ from the batch join")
    ctx.extras("records_fed") = l.fed
    ctx.extras("joined_rows") = got.size
  }

  override def tracedExtras(spark: SparkSession, ctx: Ctx): Map[String, Double] = {
    // single-slot baseline: the same measurement on a local[1] session
    live.q.stop()
    spark.stop()
    val one = Main.session(args, 1, "one")
    live = start(one, newCheckpoint())
    warmup(one, ctx)
    val m = measure(one, ctx, args.seconds, None)
    live.q.stop()
    Map("pipelines.max_rate_1slot_eps" -> m.throughputPerS)
  }
}

object StediStream {
  /** Count of elements in either multiset and not matched in the other. */
  def multisetDiff(a: Seq[String], b: Seq[String]): Int = {
    val m = mutable.HashMap[String, Int]()
    a.foreach(x => m(x) = m.getOrElse(x, 0) + 1)
    b.foreach(x => m(x) = m.getOrElse(x, 0) - 1)
    m.values.map(math.abs).sum
  }
}

/** The arrival order of the stream's records. A record code is
  * customer index * 2 or event index * 2 + 1. */
object Sched {
  def isCustomer(code: Int): Boolean = (code & 1) == 0
  def index(code: Int): Int = code >>> 1

  /** Customers in a seeded random order; each event is placed at its
    * customer's rank plus an offset drawn from [-0.3, 2.7) ranks, so
    * about one event in ten arrives before its customer record. */
  def order(seed: Long, custEmails: Array[String], eventEmails: Array[String]): Array[Int] = {
    val rnd = new scala.util.Random(seed)
    val perm = rnd.shuffle((0 until custEmails.length).toVector)
    val rank = new Array[Double](custEmails.length)
    perm.zipWithIndex.foreach { case (c, r) => rank(c) = r.toDouble }
    val byEmail = custEmails.zipWithIndex.toMap
    val keyed = custEmails.indices.map(c => (rank(c), c * 2)) ++
      eventEmails.indices.map(e => (rank(byEmail(eventEmails(e))) - 0.3 + rnd.nextDouble() * 3.0, e * 2 + 1))
    keyed.sortBy(_._1).map(_._2).toArray
  }
}
