package org.apache.spark.sql

import org.apache.spark.sql.execution.CacheManager

/** Test access to the session's cache entries, whose count is `private[sql]`. */
object TestCacheManager {
  def apply(spark: SparkSession): CacheManager =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager

  /** The number of frames the session's CacheManager holds. */
  def entries(spark: SparkSession): Int = apply(spark).numCachedEntries
}
