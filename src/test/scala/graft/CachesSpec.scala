package graft

/** Lifecycle of builder-internal persists (round-6 advice): the
  * frames an operator caches while building its plan (here the
  * balance-guarded IVF index inside `ann_ivf_balanced`, which persists
  * only tracked frames) must be
  * releasable by the caller — otherwise a long-lived session
  * accumulates cache entries per invocation, and Bench's runs 2..n
  * would read warm cache instead of executing. */
class CachesSpec extends SparkSpecBase {

  test("tracked persists are released exactly once") {
    Caches.release() // drain anything left behind by earlier suites
    SparkEntry.queries("ann_ivf_balanced")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    val released = Caches.release()
    assert(released >= 1, s"expected >=1 tracked frame, released $released")
    assert(Caches.release() == 0, "second release must find nothing to unpersist")
  }

  test("after release the SQL cache holds no tracked frames") {
    Caches.release()
    spark.catalog.clearCache() // earlier suites' untracked caches don't count
    SparkEntry.queries("ann_ivf_balanced")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    assert(!spark.sharedState.cacheManager.isEmpty,
      "the run should have left a tracked frame in the CacheManager")
    assert(Caches.release() >= 1)
    // release() must UNPERSIST, not merely forget: the CacheManager
    // itself has to be empty, with no clearCache() help
    assert(spark.sharedState.cacheManager.isEmpty,
      "release() drained the queue but left entries in the CacheManager")
    assert(Caches.release() == 0)
  }

  test("memo builds once per (context, id, dir) and survives release()") {
    Caches.releaseMemos()
    var builds = 0
    def build() = { builds += 1; spark.range(5).toDF("x") }
    val a = Caches.memo(spark, "caches-spec-frame", sfDir)(build())
    val b = Caches.memo(spark, "caches-spec-frame", sfDir)(build())
    assert(builds == 1, s"memo must build once, built $builds")
    assert(a eq b, "memo must return the SAME frame instance")
    Caches.release() // per-key drain must NOT touch memos
    assert(spark.sharedState.cacheManager.lookupCachedData(a.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).nonEmpty,
      "memo frame must stay cached across Caches.release()")
    assert(Caches.releaseMemos() >= 1)
    assert(spark.sharedState.cacheManager.lookupCachedData(a.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty,
      "releaseMemos() must unpersist the memo frame")
  }

  test("memo re-arms after an external clearCache eviction") {
    Caches.releaseMemos()
    val a = Caches.memo(spark, "caches-spec-rearm", sfDir)(spark.range(7).toDF("x"))
    a.count()
    spark.catalog.clearCache()
    val b = Caches.memo(spark, "caches-spec-rearm", sfDir)(spark.range(99).toDF("x"))
    assert(a eq b)
    assert(spark.sharedState.cacheManager.lookupCachedData(b.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).nonEmpty,
      "memo must re-persist a frame evicted by clearCache()")
    Caches.releaseMemos()
  }

  test("the graph keys share ONE memoized co-purchase edge frame") {
    Caches.releaseMemos()
    SparkEntry.queries("graph_triangles")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    Caches.release() // between-keys drain, as Verify/Bench do
    val e1 = graft.graph.Graph.sharedEdges(spark, sfDir)
    assert(spark.sharedState.cacheManager.lookupCachedData(e1.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).nonEmpty,
      "triangles must have left the shared edge frame materialized")
    val e2 = graft.graph.Graph.sharedEdges(spark, sfDir)
    assert(e1 eq e2, "second graph key must reuse the same edge frame")
    Caches.releaseMemos()
  }
}
