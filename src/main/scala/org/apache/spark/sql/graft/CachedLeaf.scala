package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, DataFrame}

/** Session-cached tables that plan as leaves. `df.cache()` keeps `df`'s
 *  whole plan: each query over it is analyzed and optimized through that
 *  plan before the cache manager swaps in the cached data. The DataFrame
 *  returned here is the cache's own columnar relation (the same columnar
 *  buffers, not a row copy), so queries over it start at the cached data.
 *  Building the relation needs Spark's private `Dataset.ofRows`, hence
 *  this package.
 *
 *  `unpersist()` on the leaf does not find the entry (its plan is not the
 *  cached one); `spark.catalog.clearCache()` drops the data, and the next
 *  query over the leaf rebuilds it outside the cache manager's books,
 *  until the leaf itself is garbage-collected. */
object CachedLeaf {

  def apply(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.cache()
    val relation = ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .getOrElse(throw new IllegalStateException("cache() registered no entry"))
      .cachedRepresentation
    classic.Dataset.ofRows(ds.sparkSession, relation)
  }
}
