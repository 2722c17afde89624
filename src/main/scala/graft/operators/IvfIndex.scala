package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable IVF ANN index: the trained centroid table plus the
  * per-vector inverted-list assignment, persisted as parquet and
  * served WITHOUT retraining or reassignment — how a production
  * pipeline actually uses a trainer's output (train once, serve many).
  *
  * Layout ([[LsmSegments]] holds the generation/epoch metadata):
  *  - `<path>/centroids`: (c_id, c_vec) — k rows;
  *  - `<path>/base/<gen>`, `<path>/deltas/<epoch>`: (vec_id,
  *    embedding, c_id) segments PARTITIONED BY c_id — one directory
  *    per inverted list, so a probe of `nProbe` lists is a
  *    partition-pruned scan: the broadcast probe join's c_id filter
  *    reaches the parquet source as a partition filter (dynamic
  *    partition pruning), and the un-probed (nCentroids −
  *    nProbe)/nCentroids of the corpus is never read. That pruning is
  *    the entire point of IVF at 100 TB — the on-disk layout makes it
  *    literal instead of logical, and it holds segment by segment.
  *
  * float32 embeddings round-trip parquet bit-exactly, so serving from
  * the persisted index is hash-identical to the in-memory
  * [[Similarity.ivfKnnWith]] path (pinned by spec + the
  * `knn_ivf_persisted` oracle query).
  *
  * Incremental maintenance is the LSM pattern every real ANN serving
  * system uses: each arriving epoch of vectors is assigned against the
  * FIXED trained centroids and committed as a marker-guarded delta
  * segment ([[appendEpoch]] — replayed epochs are skipped, torn
  * segments invisible), serving unions base ∪ committed deltas
  * ([[serveAll]]), and [[compact]] folds deltas into a NEW base
  * generation committed by a generation marker written last — so a
  * reader interleaved anywhere in the compact sees exactly one
  * consistent copy of every vector (pinned by SimilaritySpec's
  * compaction-race test). */
object IvfIndex {

  /** The segment store. Held rather than extended: [[readAll]] and
    * [[readAsOf]] return (assignments, centroids) and read the pre-LSM
    * layout too. */
  private[operators] object segments extends SegmentStore {
    /** The c_id partition column comes back type-inferred (int), so it
      * is cast to the long the serving plan expects. */
    override protected def loadSegment(spark: SparkSession, p: String): DataFrame =
      spark.read.parquet(p)
        .select(col("vec_id"), col("embedding"), col("c_id").cast("long").as("c_id"))

    /** c_id-partitioned with the empty-frame fallback, shared with
      * [[IvfPqIndex]] — see [[LsmSegments.writeCidPartitionedSegment]]. */
    override protected def writeSegment(df: DataFrame, p: String): Unit =
      LsmSegments.writeCidPartitionedSegment(df, p)

    /** Appends assign against the STORED trained centroids. */
    override protected def encode(
        spark: SparkSession, path: String, vectors: DataFrame): DataFrame =
      Similarity.ivfAssign(vectors, spark.read.parquet(s"$path/centroids"))
  }

  /** Resolve (basePath, deltaPaths) with back-compat for the pre-LSM
    * on-disk layout: an index persisted before the generation-pointer
    * refactor keeps its assignment under `<path>/assignments` with no
    * `gens/` marker at all. Such an index is READ as if its assignment
    * were base generation 0 with nothing folded (every committed delta
    * epoch is live) — its data is intact and serving must not fail
    * with "never initialized". Mutating maintenance ([[compact]] /
    * [[gc]]) still requires the current layout: it must write `base/`
    * generations, so on a legacy index it fails with LsmSegments'
    * init error — rewrite the index (one [[write]]) to migrate. */
  private def resolveSegments(
      spark: SparkSession, path: String): (String, Seq[String]) = {
    val legacy = new org.apache.hadoop.fs.Path(s"$path/assignments")
    val gens = new org.apache.hadoop.fs.Path(s"$path/gens")
    val f = legacy.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(gens) && f.exists(legacy))
      (s"$path/assignments",
        LsmSegments.committedEpochs(spark, path).map(e => s"$path/deltas/$e"))
    else LsmSegments.liveSegments(spark, path)
  }

  /** Build the assignment from `centroids` and persist both halves
    * (base generation 0, committed by its generation marker). */
  def write(embeddings: DataFrame, centroids: DataFrame, path: String): Unit = {
    val spark = embeddings.sparkSession
    // the assignment already encodes from the in-memory centroids, so
    // the centroids write and the base write are independent jobs —
    // overlap them (guide §2.6); marker after both settle
    segments.initBaseWith(spark, path, Seq(
      () => centroids.write.mode("overwrite").parquet(s"$path/centroids")))(
      Similarity.ivfAssign(embeddings, centroids))
  }

  /** Load the current base generation + centroids (no deltas). */
  def read(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val (basePath, _) = resolveSegments(spark, path)
    (segments.fold(spark, (basePath, Nil)), spark.read.parquet(s"$path/centroids"))
  }

  /** Serve top-k from the persisted index: probe-list selection +
    * exact-cosine rank, corpus touched only in the probed partitions.
    * `queries` = (query_id, q: array<float>). */
  def serve(
      spark: SparkSession, path: String, queries: DataFrame,
      k: Int = 5, nProbe: Int = 4): DataFrame = {
    val (assigned, centroids) = read(spark, path)
    Similarity.ivfServe(assigned, centroids, queries, k, nProbe)
  }

  /** Committed delta epochs, ascending. */
  def committedEpochs(spark: SparkSession, path: String): Seq[Long] =
    LsmSegments.committedEpochs(spark, path)

  /** Idempotently assign + append one epoch of `vectors` (vec_id,
    * embedding); false = epoch already committed (replay — no write). */
  def appendEpoch(
      spark: SparkSession, path: String, epoch: Long,
      vectors: DataFrame): Boolean =
    segments.appendEpoch(spark, path, epoch, vectors)

  /** One consistent snapshot of the assignment (base ∪ unfolded
    * committed deltas) + the centroids. */
  def readAll(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    (segments.fold(spark, resolveSegments(spark, path)),
      spark.read.parquet(s"$path/centroids"))

  /** [[serve]] over base + committed deltas. */
  def serveAll(
      spark: SparkSession, path: String, queries: DataFrame,
      k: Int = 5, nProbe: Int = 4): DataFrame = {
    val (assigned, centroids) = readAll(spark, path)
    Similarity.ivfServe(assigned, centroids, queries, k, nProbe)
  }

  /** TIME TRAVEL: the assignment + centroids AS OF a committed delta
    * epoch ([[LsmSegments.segmentsAsOf]]; −1 = the fresh base) — the
    * index exactly as it served right after that epoch's commit.
    * Centroids are FIXED for the life of the index (the class
    * contract), so only the assignment rows travel. The horizon is
    * what `gc(retainGens = n)` kept; older epochs fail loudly. */
  def readAsOf(
      spark: SparkSession, path: String, epoch: Long): (DataFrame, DataFrame) =
    (segments.readAsOf(spark, path, epoch),
      spark.read.parquet(s"$path/centroids"))

  /** [[serveAll]] AS OF a committed delta epoch: historical top-k —
    * "what would this query have retrieved when epoch N landed?", the
    * reproducibility question a training-data pipeline answers when it
    * re-derives which neighbors shaped an old decision (an admission
    * drop, a mined hard negative) without replaying any ingest. Same
    * probe/ranking as [[serveAll]], over the retained snapshot. */
  def serveAsOf(
      spark: SparkSession, path: String, epoch: Long, queries: DataFrame,
      k: Int = 5, nProbe: Int = 4): DataFrame = {
    val (assigned, centroids) = readAsOf(spark, path, epoch)
    Similarity.ivfServe(assigned, centroids, queries, k, nProbe)
  }

  /** Semantic admission probe — SemDeDup at INGEST time, the
    * embedding analogue of [[MinHashIndex.probePairs]]: for a new
    * shard of vectors (vec_id, embedding — ids disjoint from the
    * index), every (indexed, shard) and (shard, shard) pair whose two
    * sides land in the SAME inverted list (assignment against the
    * index's FIXED trained centroids) with cosine ≥ `threshold`. An
    * admission loop drops the shard side of each pair before the
    * vectors enter a training corpus; index-index pairs are excluded
    * by construction (they were screened when THEY were admitted).
    *
    * o(index) per probe: candidate generation is cluster-blocked —
    * the shard's (at most |shard|) assigned c_ids broadcast, and with
    * the c_id-partitioned on-disk layout the broadcast join's c_id
    * filter reaches the parquet source as a partition filter, so
    * un-touched inverted lists are never read (the same pruning
    * [[serve]] relies on, here keyed by the shard's clusters). The
    * corpus is never shuffled; within-shard pairs are a broadcast
    * self-join. The shard assignment is computed ONCE (eager
    * localCheckpoint — it feeds three plan branches) and the result
    * comes back eagerly materialized (it is output-sized); release
    * with [[Storage.unpersistLocalCheckpoint]].
    *
    * SKEW CAP (`maxList`): a touched inverted list holding more than
    * `maxList` INDEXED members is saturated and contributes NO pairs —
    * the same documented contract as [[Similarity.cosineLshVerdicts]]'
    * megabuckets and [[Dedup.MAX_BUCKET]]'s LSH buckets (every other
    * candidate-generation path is bounded; this one is too). Without
    * it, one k-means megacluster — real embedding corpora have them —
    * makes one straggler task own |list|×|shard∩list| of the probe at
    * 100 TB. Recall inside a saturated list degrades explicitly (the
    * list stops flagging), never silently (no partial pair set). The
    * per-list member count is one map-side-combinable count over the
    * already-pruned partitions touching only the partition column —
    * metadata-cheap — resolved driver-side (≤ nCentroids values, the
    * same literal-filter class as `touched`), so the exclusion
    * reaches every segment scan as a planning-time partition filter
    * and no pair branch re-runs the aggregation. */
  def probeSemantic(
      spark: SparkSession, path: String, newVectors: DataFrame,
      threshold: Double = 0.95, maxList: Int = 4096): DataFrame = {
    val centroids = spark.read.parquet(s"$path/centroids")
    val shard = Similarity.ivfAssign(newVectors, centroids)
      .localCheckpoint(eager = true)
    try probeSemanticPlan(spark, path, shard, threshold, maxList)
      .localCheckpoint(eager = true)
    finally Storage.unpersistLocalCheckpoint(shard)
  }

  /** Pure plan builder of [[probeSemantic]] over an already-assigned,
    * materialized shard (c_id, vec_id, embedding) — factored out so
    * the index-pruning tree stays visible to plan pins and
    * PLAN_DIGEST; the operator surface hides it behind the eager
    * checkpoint. The shard's touched inverted lists are collected
    * (the shard is already materialized; distinct c_ids are bounded
    * by min(|shard|, nCentroids), and the centroid table broadcasts
    * by contract) and pushed into the segment scans as a LITERAL
    * `c_id IN (...)` — a planning-time partition filter, so the
    * untouched lists are pruned statically with no reliance on the
    * runtime DPP heuristics (which skip a filter-less broadcast
    * side). */
  private[graft] def probeSemanticPlan(
      spark: SparkSession, path: String, shard: DataFrame,
      threshold: Double, maxList: Int = 4096): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    val touched = shard.select(col("c_id")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val (allSegs, _) = readAll(spark, path)
    // the skew cap's saturated-list set: indexed members per TOUCHED
    // list (one count over the pruned partitions, reading only the
    // partition column — metadata-cheap), resolved DRIVER-SIDE like
    // `touched` itself (≤ min(|touched|, nCentroids) rows — the same
    // literal-partition-filter class as a DPP literal). Resolving it
    // here instead of as a relational anti-join keeps it out of the
    // pair branches, which would each re-run the aggregation (plan
    // branches share no work), and lets the exclusion reach every
    // scan as a planning-time partition filter. A touched list with
    // NO indexed members never saturates — its within-shard pairs
    // still flow.
    val saturated = allSegs.where(col("c_id").isin(touched: _*))
      .groupBy("c_id").agg(count(lit(1)).as("n_members"))
      .where(col("n_members") > maxList)
      .select("c_id").collect().map(_.getLong(0)).toSet
    val ok = touched.filterNot(saturated)
    val all = allSegs.where(col("c_id").isin(ok: _*))
    val shardOk = shard.where(col("c_id").isin(ok: _*))
    val crossPairs = all
      .join(broadcast(shardOk.select(col("c_id"),
        col("vec_id").as("s_id"), col("embedding").as("s_v"))), "c_id")
      .select(
        least(col("vec_id"), col("s_id")).as("a_id"),
        greatest(col("vec_id"), col("s_id")).as("b_id"),
        cosine(col("embedding"), col("s_v")).as("cos"))
      .where(col("cos") >= threshold)
    val withinPairs = shardOk
      .select(col("c_id"), col("vec_id").as("a_id"),
        col("embedding").as("a_v"))
      .join(broadcast(shardOk.select(col("c_id"),
        col("vec_id").as("b_id"), col("embedding").as("b_v"))), "c_id")
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        cosine(col("a_v"), col("b_v")).as("cos"))
      .where(col("cos") >= threshold)
    crossPairs.unionByName(withinPairs)
  }

  /** Fold committed deltas into a new base generation (marker last);
    * data retired by [[gc]]. Current layout only — see
    * [[resolveSegments]]. */
  def compact(spark: SparkSession, path: String): Unit =
    segments.compact(spark, path)

  /** Retire superseded generations + folded delta data (epoch markers
    * kept — the replay guard). */
  def gc(spark: SparkSession, path: String, retainGens: Int = 0): Unit =
    segments.gc(spark, path, retainGens)
}
