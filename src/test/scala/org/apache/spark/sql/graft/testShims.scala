package org.apache.spark.sql.graft

import scala.util.DynamicVariable

import org.apache.spark.sql.{classic, SparkSession}

/** Test-side reads of Spark's `private[sql]` state and of this package's
  * test hooks. */
object testShims {

  /** [[PackedCountAgg.radixThreshold]], for tests outside the package. */
  def packedRadixThreshold: DynamicVariable[Long] =
    PackedCountAgg.radixThreshold

  /** [[PackedCountAgg.persistentSwitch]], likewise. */
  def packedPersistentSwitch: DynamicVariable[Long] =
    PackedCountAgg.persistentSwitch

  /** How many frames `spark`'s cache manager holds persisted. */
  def cachedFrames(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .numCachedEntries
}
