package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The two library internals the benchmark reads from outside: the
  * live-segment count of an LSM store, and the release of a
  * localCheckpoint'ed result (the contract of MinHashIndex.probePairs). */
object BenchAccess {
  def liveSegments(spark: SparkSession, path: String): Int =
    operators.LsmSegments.liveSegments(spark, path)._2.size

  def release(df: DataFrame): Unit = operators.Storage.unpersistLocalCheckpoint(df)
}
