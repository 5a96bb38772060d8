package org.apache.spark.sql

/** The number of entries in the SQL cache that every session of `spark`'s
  * context shares. Lives in Spark's package because the count is
  * package-private. */
object SqlCacheEntries {
  def count(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
