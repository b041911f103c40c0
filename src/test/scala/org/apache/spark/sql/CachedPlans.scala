package org.apache.spark.sql

/** Test-side view of the session cache size (`numCachedEntries` is
  * `private[sql]`), for the SparkSpec leak guard's report. */
object CachedPlans {
  def count(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
