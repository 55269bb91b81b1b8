package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench's output-line contract without running Spark.
  *
  * The driver archives the last 2000 chars of combined sbt output and
  * json-parses a line out of that tail; r10 shipped a line 4 chars over
  * its own budget and lost all five `slow` spreads in exactly the round
  * with an 8× anomaly to adjudicate. These tests make the budgets a
  * compile-gate: the compact stderr line (the parse target) must fit
  * behind the worst-case sbt trailer at the CURRENT registry size and
  * under worst-case timings, and the `hidden` accounting of the full
  * line must balance its own arithmetic.
  */
class BenchFormatSpec extends AnyFunSuite {

  private val keys = Registry.all.map(_.name).sorted

  private def res(times: Map[String, Seq[Double]],
                  failed: Set[String] = Set.empty): Seq[(String, Either[String, Seq[Double]])] =
    keys.map { k =>
      k -> (if (failed(k)) Left("boom"): Either[String, Seq[Double]]
            else Right(times.getOrElse(k, Seq(0.11, 0.13, 0.19)).sorted))
    }

  private def mk(results: Seq[(String, Either[String, Seq[Double]])],
                 sfNum: String, n: Int, warm3: Seq[Double],
                 loads: (Double, Double)): BenchFormat.Lines =
    BenchFormat.lines(results, sfNum, n, warm3, loads, stealPct = 1.25)

  test("compact line fits the tail window behind a worst-case sbt trailer") {
    // worst case: every key slow (wide values), n=7 spreads, 5 failures,
    // a per-chunk warm_mid vector at the CURRENT registry's chunk count
    // (plus slack), the chunks gate triple, and a layout_build field
    val chunkCount = Bench.chunkPlan(keys, 12).size
    val wide = keys.map(_ -> Seq(987.65, 991.0, 999.99)).toMap
    val l = BenchFormat.lines(res(wide, failed = keys.take(5).toSet),
      sfNum = "100", n = 7, warm3 = Seq(99.99, 100.0, 101.55),
      loads = (31.99, 32.01), stealPct = 1.25,
      warmMid = Seq.fill(chunkCount + 8)(101.55), layoutSec = 999.99,
      chunks = (chunkCount, chunkCount - 3, 9))
    assert(l.compact.length + BenchFormat.TrailerWorst + BenchFormat.LineBreaks <= BenchFormat.TailWindow,
      s"compact line ${l.compact.length} chars cannot parse behind the sbt trailer")
    // the realistic case also fits — the queries fill is budgeted, not
    // bounded by luck (r17 verdict #1: the fill must never overflow the
    // window it exists to ride)
    val quiet = mk(res(Map.empty), "0.1", 3, Seq(0.2, 0.31, 0.3), (0.1, 0.2))
    assert(quiet.compact.length + BenchFormat.TrailerWorst + BenchFormat.LineBreaks <= BenchFormat.TailWindow,
      s"compact grew to ${quiet.compact.length} chars")
  }

  test("compact line carries a most-expensive-prefix queries map with qmore accounting") {
    val times = keys.zipWithIndex.map { case (k, i) =>
      k -> Seq(0.1 + i * 0.05, 0.2 + i * 0.05, 0.3 + i * 0.05)
    }.toMap
    val l = mk(res(times), "0.1", 3, Seq(0.3, 0.3, 0.3), (0.1, 0.1))
    val compact = parse(l.compact)
    val q = (compact \ "queries").asInstanceOf[JObject].obj
    assert(q.nonEmpty, "compact line lacks a queries map (r17 verdict #1)")
    // most-expensive-first, and an exact prefix of the cost ranking:
    // every omitted key's min is <= the cheapest included key's min
    val inOrder = q.map { case (k, v) => (k, v.values.toString.toDouble) }
    assert(inOrder.map(_._2) == inOrder.map(_._2).sorted.reverse, "queries not cost-descending")
    val qmore = compact \ "qmore"
    if (qmore != JNothing) {
      val omitted = keys.toSet -- q.map(_._1).toSet
      val cheapestIncluded = inOrder.map(_._2).min
      omitted.foreach { k =>
        assert(times(k).min <= cheapestIncluded + 1e-9, s"$k omitted but more expensive")
      }
      assert(qmore == JInt(omitted.size))
    } else assert(q.size == keys.size)
    // values are the per-key mins, same as the full line's
    val fullQ = (parse(l.full) \ "queries").asInstanceOf[JObject].obj.toMap
    q.foreach { case (k, v) => assert(v == fullQ(k), s"$k differs between lines") }
  }

  test("qmore accounting holds and the line fits with more than 999 omitted keys") {
    // synthetic keys: the qmore reserve is sized from the key count,
    // so a four-digit omitted count must still fit the window
    val many = (0 until 1500).map(i => f"k$i%04d" -> Seq(1.0 + i * 0.01))
    val l = BenchFormat.lines(many.map { case (k, ts) => k -> Right(ts) }, "0.1", 3,
      Seq(0.3, 0.3, 0.3), (0.1, 0.1), stealPct = 0.1)
    assert(l.compact.length + BenchFormat.TrailerWorst + BenchFormat.LineBreaks <= BenchFormat.TailWindow,
      s"compact line ${l.compact.length} chars cannot parse behind the sbt trailer")
    val compact = parse(l.compact)
    val q = (compact \ "queries").asInstanceOf[JObject].obj
    assert(q.nonEmpty)
    val omitted = many.size - q.size
    assert(omitted > 999, s"only $omitted keys omitted")
    assert((compact \ "qmore") == JInt(omitted))
  }

  test("mergeAttempts admits times from rejected windows (min-over-all-attempts rule)") {
    val rejected = Bench.ChunkAttempt(accepted = false, 0.9, 0.8, 5.0,
      Map("k1" -> Seq(1.0, 1.4)), Map.empty)
    val accepted = Bench.ChunkAttempt(accepted = true, 0.2, 0.2, 0.1,
      Map("k1" -> Seq(1.2, 1.3)), Map.empty)
    val merged = Bench.mergeAttempts(Seq(rejected, accepted), "k1")
    assert(merged == Seq(1.0, 1.2, 1.3, 1.4))
    // the rejected window's faster cold run IS the canonical min —
    // storms only inflate, so acceptance gates health, not evidence
    assert(merged.head == 1.0)
    assert(Bench.mergeAttempts(Seq(rejected, accepted), "absent").isEmpty)
  }

  test("chunks gate triple rides the compact line only when chunking ran") {
    val times = keys.map(_ -> Seq(0.2, 0.25, 0.3)).toMap
    val without = mk(res(times), "0.1", 3, Seq(0.3, 0.3, 0.3), (0.1, 0.1))
    assert(!without.compact.contains("\"chunks\""))
    val l = BenchFormat.lines(res(times), "0.1", 3, Seq(0.3, 0.3, 0.3), (0.1, 0.1),
      stealPct = 0.1, health = "accepted", chunks = (24, 24, 2))
    val c = parse(l.compact) \ "chunks"
    assert((c \ "n") == JInt(24) && (c \ "acc") == JInt(24) && (c \ "retry") == JInt(2))
  }

  test("chunkPlan is a deterministic family partition of the key set") {
    val plan = Bench.chunkPlan(keys, 12)
    // exact partition: every key in exactly one chunk
    assert(plan.flatMap(_._2).sorted == keys.sorted)
    assert(plan.map(_._1).distinct.size == plan.size, "duplicate chunk names")
    plan.foreach { case (cn, ks) =>
      assert(ks.size <= 12, s"$cn has ${ks.size} keys")
      assert(ks.map(Bench.familyOf).distinct.size == 1, s"$cn mixes families")
    }
    // family routing: full-suite keys (incl. bucketed/rewrite arms)
    // never share a chunk with the adapted suite
    assert(Bench.familyOf("q21_full_bucketed") == "tpchfull")
    assert(Bench.familyOf("q22_full_anti_rewrite") == "tpchfull")
    assert(Bench.familyOf("q1_full") == "tpchfull")
    assert(Bench.familyOf("q1_pricing_summary") == "tpch")
    assert(Bench.familyOf("op_fuzzy_join") == "op")
    assert(Bench.familyOf("pipeline_curate") == "pipeline")
    // deterministic across calls (retry contract)
    assert(plan == Bench.chunkPlan(keys, 12))
  }

  test("both lines are valid JSON with the contract fields; slow carries 5 spreads undropped") {
    val times = keys.zipWithIndex.map { case (k, i) =>
      k -> Seq(0.1 + i * 0.07, 0.15 + i * 0.07, 0.3 + i * 0.07)
    }.toMap
    val l = mk(res(times), "0.1", 3, Seq(0.37, 0.4, 0.35), (0.14, 0.5))
    val full = parse(l.full)
    val compact = parse(l.compact)
    for (f <- Seq("metric", "value", "unit", "queries", "sf", "n", "warm", "load", "failed"))
      assert((full \ f) != JNothing, s"full line lacks $f")
    assert((full \ "queries").asInstanceOf[JObject].obj.size == keys.size)
    for (f <- Seq("metric", "value", "unit", "sf", "n", "warm", "warm3", "load",
                  "steal", "slow", "failed"))
      assert((compact \ f) != JNothing, s"compact line lacks $f")
    val slow = (compact \ "slow").asInstanceOf[JObject].obj
    assert(slow.size == 5, s"slow has ${slow.size} entries")
    // slow names the 5 most expensive keys, each with a [min,med,max] triple
    val expensive = times.toSeq.sortBy(-_._2.min).take(5).map(_._1).toSet
    assert(slow.map(_._1).toSet == expensive)
    slow.foreach { case (k, v) =>
      val t = v.asInstanceOf[JArray].arr.map(_.values.toString.toDouble)
      assert(t.size == 3 && t(0) <= t(1) && t(1) <= t(2), s"$k triple $t")
    }
    assert((compact \ "warm3").asInstanceOf[JArray].arr.size == 3)
  }

  test("warm_mid and layout_build ride the compact line only when present") {
    val times = keys.map(_ -> Seq(0.2, 0.25, 0.3)).toMap
    val without = mk(res(times), "0.1", 3, Seq(0.3, 0.3, 0.3), (0.1, 0.1))
    assert(!without.compact.contains("warm_mid") && !without.compact.contains("layout_build"))
    val l = BenchFormat.lines(res(times), "0.1", 3, Seq(0.3, 0.3, 0.3), (0.1, 0.1),
      stealPct = 0.1, warmMid = Seq(0.31, 0.29, 0.85), layoutSec = 12.34)
    val compact = parse(l.compact)
    assert((compact \ "warm_mid").asInstanceOf[JArray].arr.size == 3)
    assert((compact \ "layout_build").values.toString.toDouble == 12.34)
  }

  test("full line orders queries cheapest-first and hidden bounds exactly the clipped head") {
    val times = keys.zipWithIndex.map { case (k, i) =>
      k -> Seq(0.05 + i * 0.11, 0.06 + i * 0.11, 0.07 + i * 0.11)
    }.toMap
    val l = mk(res(times), "0.1", 3, Seq(0.3, 0.3, 0.3), (0.1, 0.1))
    val order = """"([a-z][a-z0-9_]*)":""".r.findAllMatchIn(
      l.full.substring(l.full.indexOf("queries") + 10, l.full.indexOf("},\"sf\""))
    ).map(_.group(1)).toSeq
    assert(order == order.sortBy(k => times(k).min), "queries not cost-ascending")
    // the hidden count must equal the entries whose start offset precedes
    // the window overflow — recompute independently
    val overflow = l.full.length + 1 + l.compact.length + 1 + BenchFormat.TrailerWorst + 1 -
      BenchFormat.TailWindow
    if (overflow > 0) {
      val mapStart = l.full.indexOf("\"queries\":{") + "\"queries\":{".length
      val starts = order.scanLeft(mapStart)((off, k) =>
        off + s""""$k":${BenchFormat.f2(times(k).min)}""".length + 1).init
      val expectHidden = starts.count(_ < overflow)
      assert(l.hiddenN == expectHidden, s"hidden ${l.hiddenN} vs recomputed $expectHidden")
      val expectMax = order.take(expectHidden).map(k => times(k).min).max
      assert(math.abs(l.hiddenMax - expectMax) < 1e-9)
      // the survivors (if any — the queries-filled compact line can
      // displace the whole full line) include every key the spread
      // debate could be about
      val survivors = order.drop(expectHidden).map(k => times(k).min)
      if (survivors.nonEmpty) assert(survivors.min >= l.hiddenMax)
    } else assert(l.hiddenN == 0)
  }

  test("duck geomean excludes duckNotComparable keys; raw pair and health ride the compact line") {
    val times = keys.map(_ -> Seq(1.0, 1.1, 1.2)).toMap
    val results = res(times)
    // two comparable keys at 2x, one not-comparable key at 100x — the
    // headline geo must read 2, not the polluted 5.85
    val duck = Seq(keys(0) -> 0.5, keys(1) -> 0.5, keys(2) -> 0.01)
    val l = BenchFormat.lines(results, "0.1", 3, Seq(0.3, 0.3, 0.3), (0.1, 0.1),
      stealPct = 0.2, duck = duck, floorSec = 0.25,
      notComparable = Set(keys(2)), health = "accepted")
    val compact = parse(l.compact)
    assert((compact \ "health") == JString("accepted"))
    val d = compact \ "duck"
    assert((d \ "n") == JInt(2))
    assert((d \ "geo").values.toString.toDouble == 2.0)
    assert((d \ "raw_n") == JInt(3))
    // raw geo over all three: (2*2*100)^(1/3) ≈ 7.37 — published, not headline
    assert(math.abs((d \ "raw_geo").values.toString.toDouble - 7.37) < 0.01)
    // worst is drawn from the COMPARABLE keys (both tie at 2x here;
    // the tagged 100x key must NOT be it), the >2x audit trigger
    assert(Set[JValue](JString(keys(0)), JString(keys(1)))
      .contains((d \ "worst").asInstanceOf[JArray].arr.head))
    // adj is over comparable keys only: (1.0-0.25)/0.5 = 1.5
    assert(math.abs((d \ "adj").values.toString.toDouble - 1.5) < 0.01)
    // the full line's per-key map still carries ALL ratios, tagged or not
    val ratios = (parse(l.full) \ "spark_vs_duckdb").asInstanceOf[JObject].obj.toMap
    assert(ratios.keySet == Set(keys(0), keys(1), keys(2)))
    // rejected health is emitted verbatim — the artifact records the storm
    val r = BenchFormat.lines(results, "0.1", 3, Seq(1.5, 1.6, 1.4), (9.0, 15.0),
      stealPct = 3.0, health = "rejected")
    assert((parse(r.compact) \ "health") == JString("rejected"))
  }

  test("stripped 2-decimal floats stay valid JSON tokens") {
    assert(BenchFormat.f2(0.20) == "0.2")
    assert(BenchFormat.f2(1.00) == "1")
    assert(BenchFormat.f2(14.02) == "14.02")
    assert(BenchFormat.f2(0.0) == "0")
    for (v <- Seq(0.1, 0.25, 3.999, 10.0, 99.95, 1234.5))
      assert(parse(s"""{"v":${BenchFormat.f2(v)}}""") != JNothing)
  }

  test("failed keys cap at 8 in the compact line and ride cheapest-first in full") {
    val l = mk(res(Map.empty, failed = keys.take(12).toSet),
      "0.01", 3, Seq(0.2, 0.2, 0.2), (0.1, 0.1))
    val compact = parse(l.compact)
    assert((compact \ "failed").asInstanceOf[JArray].arr.size == 8)
    assert((compact \ "failed_more") == JInt(4))
    val full = parse(l.full)
    // all 12 still present in the full queries map, valued -1
    val q = (full \ "queries").asInstanceOf[JObject].obj.toMap
    keys.take(12).foreach(k => assert(q(k) == JInt(-1), s"$k"))
  }
}
