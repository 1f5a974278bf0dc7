package org.apache.spark.sql

/** Test access to the session's cache registry (its size is
  * package-private to Spark SQL): a count of the plans `persist()` has
  * registered and `unpersist()` not yet released. */
object CacheProbe {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
