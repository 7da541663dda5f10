package org.apache.spark.sql

/** Test access to Spark internals that are private to `org.apache.spark`. */
object GraftTestBridge {
  /** How many plans the session's CacheManager holds (every `persist()`ed
    * frame not yet unpersisted). */
  def cachedEntries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
