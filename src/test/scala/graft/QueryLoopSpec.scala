package graft

import org.apache.spark.sql.graftshim.CacheShim.cachedEntries

class QueryLoopSpec extends SparkSpec {

  test("clean-up empties the cache manager, so a re-run persists again") {
    val bm25 = SparkEntry.queries("text_bm25")
    def persisted = spark.sparkContext.getPersistentRDDs.size
    QueryLoop.cleanUp(spark)
    bm25(spark, sf("sf0.001")).count()
    assert(cachedEntries(spark) > 0 && persisted > 0)
    QueryLoop.cleanUp(spark)
    assert(cachedEntries(spark) == 0 && persisted == 0)
    // a stale cache entry would turn this run's persist into a no-op
    bm25(spark, sf("sf0.001")).count()
    assert(persisted > 0, "the second run found a stale cache entry")
    QueryLoop.cleanUp(spark)
  }
}
