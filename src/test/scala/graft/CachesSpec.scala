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

  test("rebuilding a key re-persists nothing: no second cache entry, no CacheManager warning") {
    Caches.release()
    spark.catalog.clearCache()
    def run(): Unit = SparkEntry.queries("ann_ivf_balanced")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    val warned = cacheWarnings {
      run()
      val perBuild = Caches.release()
      run()
      val cached = spark.sparkContext.getPersistentRDDs.size
      run() // no release in between: every plan is already cached
      assert(spark.sparkContext.getPersistentRDDs.size == cached,
        "the second build must reuse the first build's cache entries")
      assert(Caches.release() == perBuild, "the second build must track nothing new")
      assert(spark.sharedState.cacheManager.isEmpty)
    }
    assert(warned == 0, s"CacheManager warned $warned times about already-cached data")
  }

  /** Runs `body` and counts CacheManager's "Asked to cache already
    * cached data" warnings logged meanwhile. */
  private def cacheWarnings(body: => Unit): Int = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val probe = new AbstractAppender("caches-spec-probe", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("Asked to cache already cached data"))
          n.incrementAndGet()
    }
    probe.start()
    val logger = LogManager.getLogger("org.apache.spark.sql.execution.CacheManager").asInstanceOf[Logger]
    logger.addAppender(probe)
    try body finally { logger.removeAppender(probe); probe.stop() }
    n.get
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

  test("dedup_components builds its labels without the memo") {
    Caches.releaseMemos()
    SparkEntry.queries("dedup_components")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    Caches.release()
    assert(Caches.releaseMemos() == 0, "dedup_components left a memo entry")
  }

  test("the graph keys share ONE memoized co-purchase edge frame") {
    Caches.releaseMemos()
    SparkEntry.queries("graph_triangles")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    Caches.release() // between-keys drain, as Verify/Bench do
    val e1 = graft.graph.Graph.arcs(spark, sfDir)
    assert(spark.sharedState.cacheManager.lookupCachedData(e1.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).nonEmpty,
      "triangles must have left the shared arc frame materialized")
    val e2 = graft.graph.Graph.arcs(spark, sfDir)
    assert(e1 eq e2, "second graph key must reuse the same arc frame")
    Caches.releaseMemos()
  }
}
