package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession

/** Test-only access to `private[sql]` state; contains no logic. */
object TestShims {
  /** Entries in the session's CacheManager (persisted query plans). */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
