package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Interleaved same-JVM A/B over registry keys — the one timing
  * instrument behind speed claims in dev/BENCH_NOTES.md (manual tool,
  * not a test). An arm is a registry key, optionally with a conf set
  * applied to the session its frame runs in and restored afterwards:
  *
  * {{{
  * Test/runMain graft.AbMain <sfDir> <pairs> <armA> <armB> [...]
  * Test/runMain graft.AbMain dev/sf1 10 op_topk_rewrite op_topk_rewrite@spark.sql.optimizer.excludedRules=graft.plans.TopKRewrite
  * }}}
  *
  * Every arm's order-insensitive digest (row count + Σ hash over the
  * name-sorted columns) must agree before any timing. Each pair runs
  * every arm once, rotating which goes first so drift hits all arms
  * alike, with `Caches.release()` before each run and the `noop` sink
  * as the action. The report: each arm's sorted times, median,
  * quartiles and pairs won, and the 9-of-10 verdict of every later arm
  * against the first — it wins ≥ 9/10 of the pairs AND its median beats
  * the first arm's by more than the first arm's IQR. */
object AbMain {
  private final case class Arm(spec: String) {
    val (key, confs) = spec.split("@", 2) match {
      case Array(k) => (k, Seq.empty[(String, String)])
      case Array(k, c) => (k, c.split(",").toSeq.map(_.split("=", 2) match {
        case Array(ck, cv) => ck -> cv
        case _ => sys.error(s"bad conf '$c' in arm '$spec' (want k=v,k=v)")
      }))
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: AbMain <sfDir> <pairs> <armA> <armB> [...]")
    val (sfDir, pairs, arms) = (args(0), args(1).toInt, args.drop(2).toSeq.map(Arm))
    arms.foreach(a => require(Registry.byName.contains(a.key), s"unknown key ${a.key}"))
    val spark = Sessions.local("ab", sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors))
    spark.sparkContext.setLogLevel("ERROR")

    // build once to find the key's session, set the arm's confs there,
    // hand out builds under them, restore the previous values
    def withArm[A](arm: Arm)(f: (() => DataFrame) => A): A = {
      val q = Registry.byName(arm.key)
      val ss = q.build(spark, sfDir).sparkSession
      val prev = arm.confs.map { case (k, _) => k -> ss.conf.getOption(k) }
      arm.confs.foreach { case (k, v) => ss.conf.set(k, v) }
      Caches.release()
      try f(() => q.build(spark, sfDir))
      finally prev.foreach { case (k, v) => v.fold(ss.conf.unset(k))(ss.conf.set(k, _)) }
    }
    def digest(arm: Arm): (Long, Long) = withArm(arm) { build =>
      val df = build()
      val cols = df.columns.sorted.map(c => col(s"`${c.replace("`", "``")}`"))
      val r = df.agg(count(lit(1)), sum(hash(cols.toIndexedSeq: _*).cast("long"))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    def run(arm: Arm): Double = withArm(arm) { build =>
      val t0 = System.nanoTime()
      build().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    val digests = arms.map(digest) // also pays layout writes and JIT warm-up
    println(s"[ab] digests (rows, Σhash) ${arms.map(_.spec).zip(digests).mkString(" ")}")
    require(digests.distinct.size == 1, "arms disagree — no timing without equal results")
    arms.foreach(run)
    val times = arms.map(_ => collection.mutable.Buffer[Double]())
    val wins = Array.fill(arms.size)(0)
    for (p <- 0 until pairs) {
      val ts = arms.indices.map(i => (i + p) % arms.size).map(i => i -> run(arms(i))).toMap
      ts.foreach { case (i, t) => times(i) += t }
      wins(ts.minBy(_._2)._1) += 1
      println(s"[ab] pair ${p + 1} " + arms.indices.map(i => f"${ts(i)}%.3f").mkString(" "))
    }
    def qt(xs: Seq[Double], f: Double): Double = { // interpolated quantile
      val h = (xs.size - 1) * f; val lo = h.toInt
      xs(lo) + (h - lo) * (xs(math.min(lo + 1, xs.size - 1)) - xs(lo))
    }
    def f3(x: Double) = f"$x%.3f"
    val stats = times.map(_.sorted.toSeq).map(s => (s, qt(s, 0.25), qt(s, 0.5), qt(s, 0.75)))
    for (((s, q1, med, q3), i) <- stats.zipWithIndex)
      println(s"[ab] ${arms(i).spec} sorted=${s.map(f3).mkString("[", ",", "]")} median=${f3(med)} " +
        s"q1=${f3(q1)} q3=${f3(q3)} iqr=${f3(q3 - q1)} wins=${wins(i)}/$pairs")
    val (_, baseQ1, baseMed, baseQ3) = stats.head
    for (i <- arms.indices.tail) {
      val win = wins(i) * 10 >= pairs * 9 && baseMed - stats(i)._3 > baseQ3 - baseQ1
      println(s"[ab] verdict ${arms(i).spec} vs ${arms.head.spec}: ${if (win) "WIN" else "no win"}")
    }
    spark.stop()
  }
}
