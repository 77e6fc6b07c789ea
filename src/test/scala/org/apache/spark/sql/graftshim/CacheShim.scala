package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession

/** The number of plans the session's cache manager holds (what
  * `Dataset.persist` registers and `unpersist` removes); the count is
  * package-private in Spark.
  */
object CacheShim {
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
