package graft.sources

import graft.SparkSuite

/**
 * ParquetEventLog's session memo: the synthesized-offset view is one
 * Dataset per (session, dir, partitions), reused across reads, and it is
 * memoized, NOT cached — the CacheManager never holds it, so a harness
 * that clears the cache between passes reads the same plan every pass.
 * Sweeping a stopped session's view is the store's contract
 * (FixtureStoreSuite).
 */
class LogSourceCacheSuite extends SparkSuite {

  private val log = ParquetEventLog(sfDir, 4)

  test("cache is per session: one entry per session, reused across reads") {
    val df1 = log.read(spark)
    assert(log.read(spark) eq df1, "second read must reuse the memoized view")

    val s2 = spark.newSession()
    val other = log.read(s2)
    assert(!(other eq df1), "a second session must get its own view")
    assert(log.read(s2) eq other)
  }

  test("a read plus an action leaves no cache-manager entry for the log") {
    val df = log.read(spark)
    assert(df.count() > 0)
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    assert(spark.sharedState.cacheManager.lookupCachedData(classic).isEmpty,
      "the log view must not be persisted")
  }
}
