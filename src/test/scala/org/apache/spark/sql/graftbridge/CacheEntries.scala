package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** The number of entries in a session's cache manager, which counts a
  * `persist` as soon as it is called, before any job materializes it.
  * The count is `private[sql]` in Spark 4; specs use it to prove that a
  * failed call released what it persisted.
  */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
