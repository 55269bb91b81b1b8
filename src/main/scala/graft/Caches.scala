package graft

import org.apache.spark.sql.DataFrame

/** Registry of frames persisted INSIDE operator builders (e.g. the
  * IVF balance guard's index).
  *
  * A builder-internal `persist()` has no natural unpersist point —
  * the builder returns a lazy frame and only the CALLER knows when
  * the terminal action has run — so a long-lived session invoking
  * those builders over many inputs would accumulate cache entries for
  * its lifetime. This object is the release path: builders persist
  * via [[persistTracked]], and harnesses call [[release]] after each
  * terminal action (`Verify` after each query dump, `Bench` before
  * each timed run so every measurement is a cold full execution).
  *
  * Scope: the registry is PROCESS-GLOBAL and release() drains all of
  * it — the contract is one harness owning the session's cache
  * lifecycle at a time (Verify, Bench, a driver job). Concurrent
  * independent queries in a shared long-lived session should not
  * interleave release() calls: one caller's release would unpersist
  * another's in-flight frame (correct, Spark recomputes, but the
  * persist's savings are lost). Such a service should persist and
  * unpersist per-request frames itself.
  */
object Caches {
  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private val memos = new Sessions.ContextMemo[DataFrame]

  /** Persist `df` unless its plan is already in the SQL cache; true
    * iff this call persisted it. Re-persisting a cached plan only
    * makes the CacheManager warn "Asked to cache already cached data". */
  private def persistOnce(df: DataFrame): Boolean =
    df.sparkSession.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty && {
      df.persist(); true
    }

  /** Build-once shared frames, keyed on (SparkContext incarnation,
    * frame id, input dir) — the in-suite reuse path for expensive
    * frames that registry keys consume as an INPUT (the co-purchase
    * arc frame feeds all 7 graph keys; the dup-cluster label frame
    * feeds pipeline_split_cluster). A real pipeline materializes these
    * once and fans out; before this memo the suite paid the priciest
    * computations up to 7×. A key whose OUTPUT is such a frame builds
    * it without the memo, so its own timed runs stay cold.
    *
    * Deliberately NOT drained by [[release]] — these are shared
    * INPUTS with suite lifetime, not builder-internal scratch; the
    * cold-run bench discipline applies to the operator under test,
    * not to its materialized upstream. [[releaseMemos]] is the
    * explicit end-of-suite drain (also safe mid-suite: consumers
    * recompute). */
  private[graft] def memo(spark: org.apache.spark.sql.SparkSession,
      id: String, dir: String)(build: => DataFrame): DataFrame = {
    val df = memos(spark, s"$id:$dir")(build)
    // (re-)arms the entry: persists on first build and after an
    // external clearCache() evicted it
    persistOnce(df)
    df
  }

  /** Unpersist and forget every memoized frame; returns how many
    * live entries were released. */
  def releaseMemos(): Int = unpersistAll(memos.drain())

  private def unpersistAll(dfs: Seq[DataFrame]): Int =
    dfs.count { df =>
      try { df.unpersist(blocking = false); true }
      catch { case _: IllegalStateException => false } // stopped context — just sweep
    }

  /** Persist `df` and remember it for the next [[release]]; a plan
    * that is already cached is left to its current owner. */
  private[graft] def persistTracked(df: DataFrame): DataFrame = {
    if (persistOnce(df)) tracked.add(df)
    df
  }

  /** Unpersist every tracked frame; returns how many were released.
    * Safe to call at any time — unpersisting a frame that was never
    * materialised (or already evicted) is a no-op in Spark. */
  def release(): Int = {
    var n = 0
    var df = tracked.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      n += 1
      df = tracked.poll()
    }
    n
  }
}
