package graft

import org.apache.spark.sql.DataFrame

/** Registry of frames persisted INSIDE operator builders (e.g. the
  * graph keys' edge frames, the IVF balance guard's index).
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
  private val memos =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Build-once shared frames, keyed on (SparkContext incarnation,
    * frame id, input dir) — the in-suite reuse path for expensive
    * frames that MANY registry keys consume as an input (the
    * co-purchase edge list feeds all 7 graph keys; the dup-cluster
    * label frame feeds both dedup_components and
    * pipeline_split_cluster). A real pipeline materializes these once
    * and fans out; before this memo the suite paid the priciest
    * computations up to 7×.
    *
    * Deliberately NOT drained by [[release]] — these are shared
    * INPUTS with suite lifetime, not builder-internal scratch; the
    * cold-run bench discipline applies to the operator under test,
    * not to its materialized upstream. [[releaseMemos]] is the
    * explicit end-of-suite drain (also safe mid-suite: consumers
    * recompute). The context incarnation in the key makes entries
    * from stopped sessions unreachable; they are swept (not
    * unpersisted — their context is gone) on the next releaseMemos. */
  private[graft] def memo(spark: org.apache.spark.sql.SparkSession,
      id: String, dir: String)(build: => DataFrame): DataFrame = {
    val sc = spark.sparkContext
    val key = s"${sc.applicationId}@${sc.startTime}:$id:$dir"
    val df = memos.computeIfAbsent(key, _ => build.persist())
    // re-arm if an external clearCache() evicted the entry (persist on
    // an already-cached frame is a no-op, so this is cheap insurance)
    if (spark.sharedState.cacheManager.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty) df.persist()
    df
  }

  /** Unpersist and forget the memo entries for ONE frame id (any
    * context incarnation / input dir). This is the bench-honesty path
    * for registry keys whose OUTPUT is itself the memoized frame
    * (today: `dedup_components` → "dedupComponents"): for those, a
    * suite-lifetime memo would turn timed runs 2..n into cache reads,
    * so the harness drops exactly this id before each clock start
    * while other keys' shared-input memos stay warm. */
  def releaseMemo(id: String): Int = {
    var n = 0
    val it = memos.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.contains(s":$id:")) {
        it.remove()
        try { e.getValue.unpersist(blocking = false); n += 1 }
        catch { case _: IllegalStateException => () } // stopped context — just sweep
      }
    }
    n
  }

  /** Unpersist and forget every memoized frame; returns how many
    * live entries were released. */
  def releaseMemos(): Int = {
    var n = 0
    val it = memos.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next(); it.remove()
      try { e.getValue.unpersist(blocking = false); n += 1 }
      catch { case _: IllegalStateException => () } // stopped context — just sweep
    }
    n
  }

  /** Persist `df` and remember it for the next [[release]]. */
  private[graft] def persistTracked(df: DataFrame): DataFrame = {
    tracked.add(df.persist())
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
