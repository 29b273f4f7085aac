package org.apache.spark.sql

/** The cache manager's entry count is private to Spark's SQL package; this
  * bridge lets a spec compare it before and after a run. */
object CachedEntries {
  def apply(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
