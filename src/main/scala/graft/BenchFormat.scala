package graft

/** Pure construction of Bench's two output lines, separated from the
  * timing loop so a spec can pin the size budgets without running Spark.
  *
  * WHY TWO LINES (round-11 forensics): the driver archives the last
  * 2000 chars of combined sbt output and json-parses a line from that
  * tail. Every round r5-r10 archived `parsed: null` because sbt's
  * default fork OutputStrategy prefixes stdout with "[info] " and
  * stderr with "[error] " — NO line ever parsed (r9's lone "parse" was
  * a truncation that happened to cut inside "[error] ", leaving a bare
  * `{`). build.sbt now forks with StdoutOutput so lines arrive raw —
  * but the arithmetic still forbids ONE line carrying everything: 74
  * key names alone are ~1158 chars, a full seconds-precision queries
  * map ~1740, and the usable window behind sbt's "[success] Total
  * time:" trailer is ~1920 — a named 5-key [min,med,max] spread
  * (~170) cannot also fit. So:
  *
  *   - STDOUT, printed first: the driver-contract line
  *     (metric/value/unit/queries/sf + n/warm/load/failed), queries in
  *     seconds. Entries are ordered CHEAPEST-FIRST: when the tail
  *     window clips this line it clips the head, so the keys that fall
  *     off are exactly the sub-second ones a regression debate is
  *     never about. The compact line bounds what was clipped.
  *   - STDERR, printed last: a compact always-parseable line —
  *     metric/value/unit/sf/n, warm sentinel as median-of-3 plus the
  *     raw `warm3` triple, machine load at [start,end] of the run,
  *     `slow` = named [min,med,max] for the top-5 most expensive keys,
  *     a `queries` map holding as many per-key seconds as the window
  *     affords, MOST-EXPENSIVE-FIRST (r17 verdict #1: PERF's per_query
  *     came back empty every round because the only queries map rode
  *     the clipped stdout line — the parse target now carries the keys
  *     a regression debate is actually about; `qmore` counts the
  *     omitted cheap tail, every one of which is bounded above by the
  *     cheapest included key), `hidden` = {n,max} count and value-bound
  *     of full-line entries the window cannot show, and `failed`
  *     (capped). This line is what `parsed` captures; the queries fill
  *     is budgeted against the tail window so it never overflows it.
  *
  * Float encoding: fixed 2-decimal, then trailing zeros stripped
  * ("0.20"→"0.2", "1.00"→"1") — still valid JSON (leading digit kept),
  * ~10-60 chars saved across 74 keys. Full 3-decimal spreads for every
  * key still go to the human channel ("[bench] spread ..." on stderr,
  * prefixed so they can never be mistaken for the metric line) and to
  * dev/bench_last.json.
  */
object BenchFormat {
  /** Driver archives the last 2000 chars of combined output. */
  val TailWindow = 2000
  /** Worst-case chars AFTER the compact line inside the window: sbt's
    * "[success] Total time: 35640 s (9:54:00), completed <date>" plus
    * surrounding newlines, rounded up. */
  val TrailerWorst = 80
  /** The newlines framing the compact line inside the window (one
    * before it, one after). */
  val LineBreaks = 2
  /** Chars the queries fill leaves free for the `hidden` field's size
    * wobble: the budget is computed with a placeholder hidden field,
    * and the real one's count and max may be wider. */
  val HiddenReserve = 40

  /** f"%.2f" with trailing zeros stripped; always keeps a leading digit
    * so the token stays valid JSON. */
  def f2(d: Double): String = strip(f"$d%.2f")
  def f3(d: Double): String = f"$d%.3f"
  private def strip(s: String): String =
    if (s.contains('.')) {
      val t = s.reverse.dropWhile(_ == '0').reverse
      if (t.endsWith(".")) t.dropRight(1) else t
    } else s

  def median(ts: Seq[Double]): Double =
    if (ts.isEmpty) -1.0 else ts.sorted.apply(ts.size / 2)

  /** [min,med,max] of an already-sorted run vector. */
  private def triple(ts: Seq[Double]): String =
    s"[${f2(ts.head)},${f2(ts(ts.size / 2))},${f2(ts.last)}]"

  final case class Lines(full: String, compact: String, hiddenN: Int, hiddenMax: Double)

  /** @param results  per-key sorted run times (Right) or first error (Left)
    * @param sfNum    numeric scale factor as a string ("-1" if unknown)
    * @param warm3    the three post-init q6 sentinel times, run order
    * @param loads    (loadavg at start, loadavg at end)
    * @param stealPct hypervisor CPU-steal %% across the run (-1 unknown) —
    *                 loadavg can read idle while a shared host starves the
    *                 guest; steal is the counter that convicts the box
    * @param duck     DuckDB seconds per q*_full key, same box + bytes
    *                 (empty = baseline unavailable). Full line carries
    *                 the per-query spark/duckdb ratio map; the compact
    *                 parse target carries {n, geomean, worst} so its
    *                 size stays key-count-independent.
    * @param notComparable keys whose oracle does strictly less work by
    *                 construction (layout/compaction writes the oracle
    *                 never pays, TRUE-literal tolerance checks) — their
    *                 ratios stay in the full line's per-key map for
    *                 transparency but are EXCLUDED from the headline
    *                 `geo`/`adj`/`worst`; the compact line reports them
    *                 separately as `raw_n`/`raw_geo` (r14 verdict #3:
    *                 the published geomean was polluted by
    *                 apples-to-oranges keys its own footnotes disclaim)
    * @param health   "accepted" | "rejected" — the Bench-enforced box
    *                 gate (warm sentinel ≤ the sf-scaled idle ceiling
    *                 AND steal ≤ 1%); a rejected line is an upper
    *                 bound, never the artifact of record. Empty = omit
    *                 (spec fixtures).
    * @param chunks   (total, accepted, retries) for the family-chunked
    *                 health gates (r16 verdict #1): the suite runs in
    *                 sentinel-bracketed chunks, rejected chunks retry
    *                 after a backoff, and `health` above is "accepted"
    *                 iff every chunk earned one accepted attempt.
    *                 (0,0,0) = chunking off (spec fixtures / legacy). */
  def lines(
      results: Seq[(String, Either[String, Seq[Double]])],
      sfNum: String,
      n: Int,
      warm3: Seq[Double],
      loads: (Double, Double),
      stealPct: Double,
      duck: Seq[(String, Double)] = Nil,
      floorSec: Double = -1,
      notComparable: Set[String] = Set.empty,
      health: String = "",
      warmMid: Seq[Double] = Nil,
      layoutSec: Double = -1,
      chunks: (Int, Int, Int) = (0, 0, 0)): Lines = {
    val ok = results.collect { case (k, Right(ts)) => (k, ts) }
    val failed = results.collect { case (k, Left(_)) => k }
    val total = ok.map(_._2.head).sum
    val warmMed = median(warm3)

    // full line: queries cheapest-first so window clipping eats the
    // sub-second tail of the distribution, never the expensive keys
    val ordered =
      failed.sorted.map(k => (k, -1.0)) ++
        ok.map { case (k, ts) => (k, ts.head) }.sortBy { case (k, t) => (t, k) }
    val entries = ordered.map {
      case (k, t) => s""""$k":${if (t < 0) "-1" else f2(t)}"""
    }
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // spark/duckdb ratio per baselined key (spark min over duckdb min;
    // >1 = slower than DuckDB on the same bytes and box)
    val sparkMin = ok.toMap
    val ratios = duck.collect {
      case (k, d) if d > 0 && sparkMin.contains(k) => (k, sparkMin(k).head / d)
    }
    val ratioJson =
      if (ratios.isEmpty) ""
      else ratios.map { case (k, r) => s""""$k":${f2(r)}""" }
        .mkString(""""spark_vs_duckdb":{""", ",", "},")
    val prefix = s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":{"""
    val suffix = s"""},"sf":$sfNum,"n":$n,"warm":${f2(warmMed)},""" +
      s""""load":[${f2(loads._1)},${f2(loads._2)}],$ratioJson"failed":$failedJson}"""
    val full = prefix + entries.mkString(",") + suffix

    // compact line: the parse target; size independent of key count
    val costly = ok.sortBy { case (k, ts) => (-ts.head, k) }.take(5)
    val slow = costly.map { case (k, ts) => s""""$k":${triple(ts)}""" }
      .mkString("{", ",", "}")
    val failedCapped = failed.sorted.take(8).map("\"" + _ + "\"").mkString("[", ",", "]")
    val failedMore = math.max(0, failed.size - 8)
    // baseline summary, bounded size: count, geometric-mean ratio, and
    // the worst (key, ratio) — the >2× audit trigger
    // the fixed per-query cost of the platform on this box (1-row noop
    // write, median of 3) — see Bench's floor sentinel
    val floorJson = if (floorSec < 0) "" else s""","floor":${f2(floorSec)}"""
    val duckJson =
      if (ratios.isEmpty) ""
      else {
        // headline geo/adj/worst run over COMPARABLE keys only; the
        // excluded keys' ratios still ride the full line's per-key map
        // and the raw_n/raw_geo pair keeps the unfiltered number
        // published for transparency
        val comp = ratios.filterNot { case (k, _) => notComparable(k) }
        val head = if (comp.nonEmpty) comp else ratios
        def geoOf(rs: Seq[(String, Double)]): Double =
          math.exp(rs.map(r => math.log(r._2)).sum / rs.size)
        val geo = geoOf(head)
        val (wk, wr) = head.maxBy(_._2)
        // overhead-adjusted ratio (r13 directive #2): subtract the
        // per-query platform floor (1-row noop write) from the Spark
        // min before dividing — at small sf the raw ratio mostly
        // prices local-mode Spark's fixed scheduling/codegen cost,
        // which a cluster amortizes over 1000 executors; `adj` is the
        // plan-vs-plan number. Clamped at 5 ms so a query faster than
        // its own floor measurement can't go nonpositive.
        val adjJson =
          if (floorSec <= 0) ""
          else {
            val adj = duck.collect {
              case (k, d) if d > 0 && sparkMin.contains(k) &&
                (comp.isEmpty || !notComparable(k)) =>
                math.max(sparkMin(k).head - floorSec, 0.005) / d
            }
            val g = math.exp(adj.map(math.log).sum / adj.size)
            s""","adj":${f2(g)}"""
          }
        val rawJson =
          if (comp.size == ratios.size) ""
          else s""","raw_n":${ratios.size},"raw_geo":${f2(geoOf(ratios))}"""
        s""","duck":{"n":${head.size},"geo":${f2(geo)}$adjJson$rawJson,"worst":["$wk",${f2(wr)}]}"""
      }
    val healthJson = if (health.isEmpty) "" else s""","health":"$health""""
    // intra-run weather record (r15 verdict #3): one q6 sentinel every
    // ~30 keys — a mid-run storm is visible in the artifact itself,
    // and Bench rejects the line when one exceeds 2× the idle ceiling
    val warmMidJson =
      if (warmMid.isEmpty) ""
      else s""","warm_mid":[${warmMid.map(f2).mkString(",")}]"""
    // shared pay-once layout builds, paid BEFORE the timed loop so the
    // bucketed consumer keys measure queries, not the write (r15
    // verdict #4); the write cost stays priced — in its own field
    val layoutJson = if (layoutSec < 0) "" else s""","layout_build":${f2(layoutSec)}"""
    // chunked health gates (r16 verdict #1): how many sentinel-bracketed
    // chunks ran, how many earned an accepted attempt, and how many
    // retry attempts the storm cost; per-chunk detail lives in
    // dev/bench_last.json (size-unbounded channel)
    val chunksJson = chunks match {
      case (0, 0, 0) => ""
      case (t, a, r) => s""","chunks":{"n":$t,"acc":$a,"retry":$r}"""
    }
    def compactWith(hiddenN: Int, hiddenMax: Double, queriesJson: String): String =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","sf":$sfNum,"n":$n,""" +
        s""""warm":${f2(warmMed)},"warm3":[${warm3.map(f2).mkString(",")}]$warmMidJson$layoutJson$chunksJson,""" +
        s""""load":[${f2(loads._1)},${f2(loads._2)}],"steal":${f2(stealPct)}$healthJson$floorJson$duckJson,"slow":$slow$queriesJson""" +
        (if (hiddenN > 0) s""","hidden":{"n":$hiddenN,"max":${f2(hiddenMax)}}""" else "") +
        (if (failedMore > 0) s""","failed":$failedCapped,"failed_more":$failedMore}"""
         else s""","failed":$failedCapped}""")

    // per-query fill (r17 verdict #1): greedily pack most-expensive-
    // first per-key seconds into the compact line until the tail-window
    // budget is spent. The budget is computed against the line WITHOUT
    // the queries map plus a fixed reserve for the hidden field's size
    // wobble, so the filled line still parses behind the worst-case sbt
    // trailer at any registry size.
    val expensiveFirst = ok.sortBy { case (k, ts) => (-ts.head, k) }
    val qBudget = {
      val baseLen = compactWith(entries.size, 9999.99, "").length
      TailWindow - TrailerWorst - LineBreaks - HiddenReserve - baseLen
    }
    val qJson = {
      // qmore can count at most every key, so reserve that many digits
      val wrapOverhead = ""","queries":{}""".length +
        s""","qmore":${expensiveFirst.size}""".length
      // stop at the FIRST non-fitting entry so the included set is an
      // exact most-expensive prefix: every omitted key's min is then
      // provably <= the cheapest included key's
      var used = wrapOverhead
      val taken = Vector.newBuilder[String]
      var nTaken = 0
      var fits = true
      while (fits && nTaken < expensiveFirst.size) {
        val (k, ts) = expensiveFirst(nTaken)
        val e = s""""$k":${f2(ts.head)}"""
        if (used + e.length + 1 <= qBudget) { taken += e; used += e.length + 1; nTaken += 1 }
        else fits = false
      }
      val omitted = expensiveFirst.size - nTaken
      if (nTaken == 0) ""
      else s""","queries":{${taken.result().mkString(",")}}""" +
        (if (omitted > 0) s""","qmore":$omitted""" else "")
    }

    // hidden = full-line queries entries whose first char falls outside
    // the tail window once the compact line + trailer are behind them.
    // The compact line's own length moves the boundary by a few chars,
    // so iterate to a fixed point (converges immediately in practice).
    def clipped(compactLen: Int): (Int, Double) = {
      val overflow = (full.length + 1) + (compactLen + 1) + (TrailerWorst + 1) - TailWindow
      if (overflow <= 0) (0, 0.0)
      else {
        var off = prefix.length
        var i = 0
        var nHidden = 0
        var maxV = 0.0
        while (i < entries.size) {
          if (off < overflow) {
            nHidden += 1
            maxV = math.max(maxV, ordered(i)._2)
          }
          off += entries(i).length + 1 // comma
          i += 1
        }
        (nHidden, maxV)
      }
    }
    var hid = (0, 0.0)
    var compact = compactWith(hid._1, hid._2, qJson)
    var stable = false
    var iter = 0
    while (!stable && iter < 4) {
      val next = clipped(compact.length)
      val nextLine = compactWith(next._1, next._2, qJson)
      stable = nextLine == compact
      hid = next
      compact = nextLine
      iter += 1
    }
    Lines(full, compact, hid._1, hid._2)
  }
}
