package org.apache.spark.sql

/** Test access to the number of CacheManager entries of a session: a
  * `persist` registers one per distinct plan, and only `unpersist` or
  * `clearCache` removes it. */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
