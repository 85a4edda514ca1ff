package org.apache.spark.sql

/** Test access to the session's cache manager, whose entry count and
  * lookup are private[sql]: how many persisted plans the session holds,
  * and whether `df`'s cache exists with its column buffers loaded. */
object CacheEntries {
  private def manager(s: SparkSession) =
    s.asInstanceOf[classic.SparkSession].sharedState.cacheManager

  def apply(s: SparkSession): Int = manager(s).numCachedEntries

  def loaded(df: DataFrame): Boolean =
    manager(df.sparkSession).lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
      .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)
}
