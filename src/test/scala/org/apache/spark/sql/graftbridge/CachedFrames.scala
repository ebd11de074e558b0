package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Number of cached-query entries in a session's CacheManager, for leak
  * checks. The count is package-private to Spark; this object sits under
  * org.apache.spark.sql for access, like the main tree's Bridge.
  */
object CachedFrames {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
