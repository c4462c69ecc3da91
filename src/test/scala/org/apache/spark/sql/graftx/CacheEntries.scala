package org.apache.spark.sql.graftx

import org.apache.spark.sql.SparkSession

/** Test access to the session's CacheManager entry count (`private[sql]`). */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
