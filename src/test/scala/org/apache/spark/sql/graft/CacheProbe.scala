package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test access to the session's cache-manager entry count, which Spark
  * keeps private to its sql package, hence this package. */
object CacheProbe {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
