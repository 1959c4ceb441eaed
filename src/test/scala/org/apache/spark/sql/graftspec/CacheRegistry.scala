package org.apache.spark.sql.graftspec

import org.apache.spark.sql.SparkSession

/** Test access to the session's cached-data registry (the
  * `CacheManager` that `persist`/`cache` register a plan with), which is
  * only reachable from inside the `org.apache.spark.sql` package.
  */
object CacheRegistry {
  def entries(s: SparkSession): Int =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
