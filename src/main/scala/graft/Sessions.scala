package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine, and the one place that keys
  * state to a SparkContext incarnation.
  *
  * Tuned for the driver's local[32] harness but with settings that
  * transfer to a real cluster: AQE on (runtime re-plan, skew-join
  * splitting, shuffle coalescing), UTC session time zone (oracle
  * parity), and an explicit shuffle-partition count instead of the
  * default 200 (on a cluster this is sized to 2-3x total cores; the
  * driver env pins it to the local core count).
  *
  * `Bench`, `Verify`, the specs and perfbench all build their sessions
  * here.
  */
object Sessions {
  def local(appName: String = "graft", cpus: Int = 4): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // config-time injection of graft's native expressions and the
      // TopKRewrite optimizer rule: every session derived from this
      // context — including newSession() forks with fresh function
      // registries — resolves them without a runtime register() call,
      // which is how a cluster deployment ships them
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Get-or-create cache keyed on (SparkContext incarnation, key).
    *
    * The incarnation is `applicationId@startTime`, so entries built
    * under a stopped context are unreachable from its successor (they
    * are swept, not reused, by [[drain]]). Each use site owns its own
    * instance: a build may consult another memo without re-entering
    * the same map. */
  final class ContextMemo[V <: AnyRef] {
    private val entries =
      new java.util.concurrent.ConcurrentHashMap[(String, String), V]()

    def apply(s: SparkSession, key: String)(build: => V): V = {
      val sc = s.sparkContext
      entries.computeIfAbsent((s"${sc.applicationId}@${sc.startTime}", key), _ => build)
    }

    /** Removes and returns every entry (any incarnation) whose key
      * satisfies `p`. */
    def drain(p: String => Boolean = _ => true): Seq[V] = {
      val out = Seq.newBuilder[V]
      val it = entries.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (p(e.getKey._2)) { it.remove(); out += e.getValue }
      }
      out.result()
    }
  }

  /** Memo tag for a conf set. */
  private[graft] def confTag(confs: Seq[(String, String)]): String =
    confs.map { case (k, v) => s"$k=$v" }.mkString(";")

  /** A fresh child of `s` carrying `confs`: it shares the context and
    * external catalog but owns its conf, temp views and functions, so
    * nothing set on it reaches the caller's session. */
  private[graft] def child(s: SparkSession, confs: Seq[(String, String)]): SparkSession = {
    val ss = s.newSession()
    confs.foreach { case (k, v) => ss.conf.set(k, v) }
    ss
  }

  private val children = new ContextMemo[SparkSession]

  /** [[child]], built once per conf set: repeated registry-key builds
    * (bench loops, specs) reuse one child instead of accumulating
    * sessions whose listeners and state are never released. */
  def childWith(s: SparkSession, confs: Seq[(String, String)]): SparkSession =
    children(s, confTag(confs))(child(s, confs))
}
