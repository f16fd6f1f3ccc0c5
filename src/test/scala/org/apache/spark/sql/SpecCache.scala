package org.apache.spark.sql

/** Test access to the CacheManager's entry count, which Spark keeps
  * package-private. */
object SpecCache {
  def entries(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
