package graft

import graft.functions.Dedup
import org.apache.spark.sql.functions._

/**
 * Persist-lifecycle contract for builder-internal caches (the r12 ADVICE
 * item, Dedup.containmentPairsFromShingled): a builder whose result is a
 * lazy plan cannot unpersist its own caches, so they need an OWNER.
 * Two guarantees pinned here:
 *   1. repeated invocations over the same input do NOT grow the cache
 *      (Spark's CacheManager dedupes by canonicalized plan) — a
 *      long-lived caller that drops the handles leaks nothing per call;
 *   2. the returned CacheHandles release the entries — the owning caller
 *      can return the session to a clean cache without the harness-level
 *      clearCache() hammer.
 */
class CacheLifecycleSpec extends SparkSpec {

  /** CacheManager entry count via reflection (the field is private; the
    * public surface only offers isEmpty/lookup). Test-only. */
  private def cacheEntryCount: Int = {
    val cm = spark.sharedState.cacheManager
    val m = cm.getClass.getDeclaredMethod("cachedData")
    m.setAccessible(true)
    m.invoke(cm).asInstanceOf[scala.collection.immutable.IndexedSeq[_]].size
  }

  test("builder persists: flat entry count across repeated invocations; handles release them") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    spark.sharedState.cacheManager.clearCache()
    assert(cacheEntryCount === 0)

    val shingled = Dedup.shingledDf(docs, "doc_id", "text", 4)
    // N repeated invocations WITHOUT harness clearCache: the count must
    // be flat after the first (plan-canonical dedupe), never N-linear.
    var afterFirst = -1
    var lastHandles: Dedup.CacheHandles = null
    for (i <- 1 to 3) {
      val (pairs, handles) = Dedup.containmentPairsFromShingledOwned(shingled, 0.9, 8)
      pairs.count() // the consuming action materializes the persists
      if (i == 1) afterFirst = cacheEntryCount
      assert(cacheEntryCount === afterFirst,
        s"invocation $i grew the cache: $cacheEntryCount entries vs $afterFirst after the first")
      lastHandles = handles
    }
    assert(afterFirst > 0, "builder persisted nothing — the lifecycle contract is vacuous")

    // The owner releases: entry count returns to zero with no clearCache.
    // (Handles over equivalent plans share entries, so the last holder's
    // release frees them all — the documented flip side of the dedupe.)
    lastHandles.release()
    assert(cacheEntryCount === 0,
      s"release() left $cacheEntryCount cache entries behind")
  }

  test("duplicateClustersOwned: flat entry count across repeated calls; release() empties the cache") {
    import spark.implicits._
    spark.sharedState.cacheManager.clearCache()
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 4L), (20L, 21L)).toDF("i", "j")
    var afterFirst = -1
    var lastHandles: Dedup.CacheHandles = null
    for (i <- 1 to 3) {
      val (clusters, handles) = Dedup.duplicateClustersOwned(pairs)
      assert(clusters.as[(Long, Long)].collect().toMap ===
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
      if (i == 1) afterFirst = cacheEntryCount
      assert(cacheEntryCount === afterFirst,
        s"call $i grew the cache: $cacheEntryCount entries vs $afterFirst after the first")
      lastHandles = handles
    }
    assert(afterFirst === 2, "expected one persisted per-node frame per contraction level")
    lastHandles.release()
    assert(cacheEntryCount === 0, s"release() left $cacheEntryCount cache entries behind")
  }
}
