package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators._

/** One lifecycle, run against every LSM store: the ten index tiers and
  * the admission loop's `admitted` decision log. Each store goes
  * through base → epoch 0 → EMPTY epoch 1 → replay of epoch 1 →
  * compact → gc(retainGens = 1) → gc(0), and after every step the
  * on-disk layout (`base/<g>`, `deltas/<e>`, `epochs/<e>`,
  * `gens/<g>_<upto>`, plus the tier's fixed trained-state siblings)
  * and the ids served by readAll / readAsOf(0) must be exactly the
  * expected ones — so every store shares one protocol, step for step. */
class SegmentStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft_store_$tag").toString

  private lazy val embs = spark.read
    .parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    .select($"vec_id", $"embedding").localCheckpoint(true)

  /** Inputs keyed on `id`: the base holds ids [0, 8), epoch 0 ids
    * [8, 16), the replayed epoch 1 ids [16, 20) (never stored). */
  private case class Parts(base: DataFrame, e0: DataFrame, e1: DataFrame,
      replay: DataFrame)

  private def split(df: DataFrame, id: org.apache.spark.sql.Column): Parts =
    Parts(df.where(id < 8), df.where(id >= 8 && id < 16), df.where(lit(false)),
      df.where(id >= 16 && id < 20))

  private lazy val vecs = split(embs, $"vec_id")

  /** Synthetic documents: six tokens unique to each doc, so no two
    * docs share a word shingle or a content hash. */
  private lazy val docs = split(
    spark.range(0, 20).select($"id".as("doc_id"),
      concat_ws(" ", (0 until 6).map(k =>
        concat(lit(s"w${k}_"), $"id".cast("string"))): _*).as("text")),
    $"doc_id")

  private lazy val sigs = split(
    spark.range(0, 20).select(Seq($"id".as("doc_id")) ++ (0 until 4).map(k =>
      (($"id" * 7919 + k * 104729) % 65536).cast("int").as(s"c$k")): _*),
    $"doc_id")

  private lazy val records = split(
    spark.range(0, 20).select($"id", concat(lit("name"), $"id".cast("string"))
      .as("name"), ($"id" % 3).cast("string").as("block")),
    $"id")

  private lazy val seeds = embs.where($"vec_id" < 4)
    .select($"vec_id".as("c_id"), $"embedding".as("c_vec"))

  /** One store under test: how to build it at `root`, where its segment
    * protocol lives under `root`, and how it appends and serves ids. */
  private case class Row(
      name: String, parts: () => Parts, state: Set[String],
      write: (DataFrame, String) => Unit,
      append: (String, Long, DataFrame) => Boolean,
      readAll: String => DataFrame, readAsOf: (String, Long) => DataFrame,
      compact: String => Unit, gc: (String, Int) => Unit,
      ids: DataFrame => Set[Long], storeDir: String => String = identity)

  private def longIds(col: String)(df: DataFrame): Set[Long] =
    df.select(col).collect().map(_.getLong(0)).toSet

  private val rows: Seq[Row] = Seq(
    Row("ContentHashIndex", () => docs, Set.empty,
      ContentHashIndex.write, ContentHashIndex.appendEpoch(spark, _, _, _),
      ContentHashIndex.readAll(spark, _), ContentHashIndex.readAsOf(spark, _, _),
      ContentHashIndex.compact(spark, _), ContentHashIndex.gc(spark, _, _),
      longIds("doc_id")),
    Row("MinHashIndex", () => docs, Set("meta"),
      MinHashIndex.write(_, _), MinHashIndex.appendEpoch(spark, _, _, _),
      MinHashIndex.readAll(spark, _), MinHashIndex.readAsOf(spark, _, _),
      MinHashIndex.compact(spark, _), MinHashIndex.gc(spark, _, _),
      longIds("doc_id")),
    Row("HammingIndex", () => sigs, Set.empty,
      HammingIndex.write, HammingIndex.appendEpoch(spark, _, _, _),
      HammingIndex.readAll(spark, _), HammingIndex.readAsOf(spark, _, _),
      HammingIndex.compact(spark, _), HammingIndex.gc(spark, _, _),
      longIds("doc_id")),
    Row("RecordIndex", () => records, Set.empty,
      RecordIndex.write, RecordIndex.appendEpoch(spark, _, _, _),
      RecordIndex.readAll(spark, _), RecordIndex.readAsOf(spark, _, _),
      RecordIndex.compact(spark, _), RecordIndex.gc(spark, _, _),
      longIds("id")),
    Row("BinaryIndex", () => vecs, Set.empty,
      BinaryIndex.write, BinaryIndex.appendEpoch(spark, _, _, _),
      BinaryIndex.readAll(spark, _),
      // BinaryIndex serves no as-of read; fold the shared snapshot
      (p, e) => {
        val (base, deltas) = LsmSegments.segmentsAsOf(spark, p, e)
        deltas.foldLeft(spark.read.parquet(base))(
          (acc, d) => acc.unionByName(spark.read.parquet(d)))
      },
      BinaryIndex.compact(spark, _), BinaryIndex.gc(spark, _, _),
      longIds("vec_id")),
    Row("Sq8Index", () => vecs, Set.empty,
      Sq8Index.write, Sq8Index.appendEpoch(spark, _, _, _),
      Sq8Index.readAll(spark, _), Sq8Index.readAsOf(spark, _, _),
      Sq8Index.compact(spark, _), Sq8Index.gc(spark, _, _),
      longIds("vec_id")),
    Row("PqIndex", () => vecs, Set("codebook", "meta"),
      (d, p) => PqIndex.write(d, embs.where($"vec_id" < 16)
        .select($"vec_id".cast("int").as("cw_k"), $"embedding".as("cw")), p),
      PqIndex.appendEpoch(spark, _, _, _),
      PqIndex.readAll(spark, _), PqIndex.readAsOf(spark, _, _),
      PqIndex.compact(spark, _), PqIndex.gc(spark, _, _),
      longIds("vec_id")),
    Row("MaxSimIndex",
      () => split(embs.withColumn("doc_id", floor($"vec_id" / 4)), $"doc_id"),
      Set("meta"),
      MaxSimIndex.write(_, _, tokensPerDoc = 4),
      MaxSimIndex.appendEpoch(spark, _, _, _),
      MaxSimIndex.readAll(spark, _), MaxSimIndex.readAsOf(spark, _, _),
      MaxSimIndex.compact(spark, _), MaxSimIndex.gc(spark, _, _),
      longIds("doc_id")),
    Row("IvfIndex", () => vecs, Set("centroids"),
      IvfIndex.write(_, seeds, _), IvfIndex.appendEpoch(spark, _, _, _),
      IvfIndex.readAll(spark, _)._1, IvfIndex.readAsOf(spark, _, _)._1,
      IvfIndex.compact(spark, _), IvfIndex.gc(spark, _, _),
      longIds("vec_id")),
    Row("IvfPqIndex", () => vecs, Set("centroids", "codebook", "meta"),
      (d, p) => IvfPqIndex.write(d, seeds,
        Similarity.ivfPqSeedCodebook(embs, seeds), p),
      IvfPqIndex.appendEpoch(spark, _, _, _),
      IvfPqIndex.readAll(spark, _), IvfPqIndex.readAsOf(spark, _, _),
      IvfPqIndex.compact(spark, _), IvfPqIndex.gc(spark, _, _),
      longIds("vec_id")),
    // the decision log: an empty base from init, epochs admitted through
    // the loop, maintenance through Admission.compact (which compacts,
    // then gcs with its retainGens — retaining 1000 keeps everything)
    Row("Admission.admitted", () => docs, Set.empty,
      (_, root) => Admission.init(spark, root),
      (root, e, shard) => {
        val fresh = !Admission.committedEpochs(spark, root).contains(e)
        Admission.admitEpoch(spark, root, e, shard)
        fresh
      },
      Admission.admittedAll(spark, _), Admission.admittedAsOf(spark, _, _),
      Admission.compact(spark, _, retainGens = 1000),
      Admission.compact(spark, _, _),
      longIds("doc_id"), storeDir = root => s"$root/admitted"))

  private val protocolDirs = Seq("base", "deltas", "epochs", "gens")

  private def names(dir: java.nio.file.Path): Set[String] =
    if (!java.nio.file.Files.isDirectory(dir)) Set.empty
    else {
      val s = java.nio.file.Files.list(dir)
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
        .filterNot(_.startsWith(".")).toSet
      finally s.close()
    }

  /** `<protocol dir>/<entry>` for every protocol entry, plus the
    * tier's other top-level entries (its trained state). */
  private def layout(dir: String): (Set[String], Set[String]) = {
    val root = java.nio.file.Paths.get(dir)
    (protocolDirs.flatMap(d => names(root.resolve(d)).map(n => s"$d/$n")).toSet,
      names(root) -- protocolDirs)
  }

  rows.foreach { r =>
    test(s"${r.name}: base, epoch 0, empty epoch 1, replay, compact, gc(1), gc(0) keep the fixed layout and ids") {
      val root = tmp(r.name.replace('.', '_'))
      val dir = r.storeDir(root)
      val parts = r.parts()
      val baseIds = if (r.name.startsWith("Admission")) Set.empty[Long]
        else r.ids(parts.base)
      val allIds = baseIds ++ r.ids(parts.e0)
      assert(r.ids(parts.e0).nonEmpty && r.ids(parts.replay).nonEmpty)

      def check(step: String, expected: Set[String], live: Set[Long],
          asOf0: Option[Set[Long]]): Unit = {
        val (segs, state) = layout(dir)
        assert(segs == expected, s"$step: layout")
        assert(state == r.state, s"$step: trained-state siblings")
        assert(r.ids(r.readAll(root)) == live, s"$step: readAll ids")
        asOf0 match {
          case Some(ids) =>
            assert(r.ids(r.readAsOf(root, 0L)) == ids, s"$step: readAsOf(0) ids")
          case None =>
            val e = intercept[IllegalArgumentException](r.ids(r.readAsOf(root, 0L)))
            assert(e.getMessage.contains("time-travel horizon"), e.getMessage)
        }
      }

      r.write(parts.base, root)
      val l1 = Set("base/0", "gens/0_-1")
      check("base", l1, baseIds, Some(baseIds))

      assert(r.append(root, 0L, parts.e0), "epoch 0 must commit")
      val l2 = l1 ++ Set("deltas/0", "epochs/0")
      check("epoch 0", l2, allIds, Some(allIds))

      assert(r.append(root, 1L, parts.e1), "empty epoch 1 must commit")
      val l3 = l2 ++ Set("deltas/1", "epochs/1")
      check("empty epoch 1", l3, allIds, Some(allIds))

      assert(!r.append(root, 1L, parts.replay), "a replayed epoch must not commit")
      check("replay of epoch 1", l3, allIds, Some(allIds))

      r.compact(root)
      val l5 = l3 ++ Set("base/1", "gens/1_1")
      check("compact", l5, allIds, Some(allIds))

      r.gc(root, 1)
      check("gc(retainGens = 1)", l5, allIds, Some(allIds))

      r.gc(root, 0)
      check("gc(0)", Set("base/1", "epochs/0", "epochs/1", "gens/1_1"),
        allIds, None)
    }
  }
}
