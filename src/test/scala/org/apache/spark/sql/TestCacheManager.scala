package org.apache.spark.sql

/** Test access to a session's cache registry: how many frames are cached
  * (persisted and not yet unpersisted). */
object TestCacheManager {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
