package org.apache.spark.sql

/** Same-package access to the session's `CacheManager` (the `private[sql]`
  * `sharedState` of the classic session), the way [[PlanBridge]] reaches
  * `classic`.
  */
object CacheProbe {
  def isEmpty(spark: SparkSession): Boolean =
    classic.ClassicConversions.castToImpl(spark).sharedState.cacheManager.isEmpty
}
