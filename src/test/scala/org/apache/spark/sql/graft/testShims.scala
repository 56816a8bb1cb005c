package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, SparkSession}

/** Test-side reads of Spark's `private[sql]` state. */
object testShims {

  /** How many frames `spark`'s cache manager holds persisted. */
  def cachedFrames(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .numCachedEntries
}
