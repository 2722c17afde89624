package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The store surface of the [[LsmSegments]] protocol, written once:
  * init, idempotent epoch appends, the live and as-of snapshot reads,
  * compaction and gc. A store supplies only what differs between
  * stores — how one segment is read ([[loadSegment]]) and written
  * ([[writeSegment]]), and how an appended input becomes segment rows
  * ([[encode]]) — while every protocol step stays in [[LsmSegments]].
  * Index tiers extend it; a store whose public reads differ holds one
  * ([[IvfIndex]], the admission loops' `admitted` decision logs). */
private[graft] class SegmentStore {

  /** Read one segment directory. */
  protected def loadSegment(spark: SparkSession, p: String): DataFrame =
    spark.read.parquet(p)

  /** Write one segment directory (overwrite — replays clobber torn
    * attempts). */
  protected def writeSegment(df: DataFrame, p: String): Unit =
    df.write.mode("overwrite").parquet(p)

  /** The segment rows an appended input becomes; may read the store's
    * trained state under `path`. */
  protected def encode(spark: SparkSession, path: String, input: DataFrame): DataFrame =
    input

  /** Write `base` as base generation 0 beside the `siblings`
    * (trained-state writes the base does not read), all inside
    * [[LsmSegments.initBaseWith]]'s barrier: the generation marker
    * lands after every write settles. */
  private[graft] def initBaseWith(
      spark: SparkSession, path: String,
      siblings: Seq[() => Unit] = Nil)(base: => DataFrame): Unit =
    LsmSegments.initBaseWith(spark, path, siblings)(writeSegment(base, _))

  /** Idempotently encode + append one epoch as a delta segment; false
    * = the epoch was already committed (a replay — nothing is
    * written). */
  def appendEpoch(
      spark: SparkSession, path: String, epoch: Long,
      input: DataFrame): Boolean =
    LsmSegments.appendEpoch(spark, path, epoch)(
      writeSegment(encode(spark, path, input), _))

  /** The base ∪ deltas snapshot `segments` through this store's
    * loader. */
  private[graft] def fold(
      spark: SparkSession, segments: (String, Seq[String])): DataFrame =
    LsmSegments.fold(segments, loadSegment(spark, _))

  /** One consistent snapshot: the current base generation ∪ the
    * committed deltas not yet folded into it. */
  def readAll(spark: SparkSession, path: String): DataFrame =
    fold(spark, LsmSegments.liveSegments(spark, path))

  /** [[readAll]] AS OF a committed delta epoch
    * ([[LsmSegments.segmentsAsOf]]; −1 = the fresh base; epochs past
    * the gc horizon fail loudly). */
  def readAsOf(spark: SparkSession, path: String, epoch: Long): DataFrame =
    fold(spark, LsmSegments.segmentsAsOf(spark, path, epoch))

  /** Fold committed deltas into a new base generation, marker written
    * last; the old data is retired by [[gc]]. */
  def compact(spark: SparkSession, path: String): Unit =
    LsmSegments.compact(spark, path, loadSegment(spark, _), writeSegment)

  /** Retire superseded generations and folded delta data (the epoch
    * markers stay — they are the replay guard). */
  def gc(spark: SparkSession, path: String, retainGens: Int = 0): Unit =
    LsmSegments.gc(spark, path, retainGens)
}
