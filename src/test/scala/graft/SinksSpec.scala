package graft

import graft.sources.{Sinks, Tables}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** §2.6 persistence round-trips. */
class SinksSpec extends SparkSpecBase {

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_$name").toString + "/out"

  /** Runs `body` with the caller's broadcast threshold at `threshold`,
    * restoring it even on failure — a leaked value would silently
    * change every later suite's plans in the shared session. */
  private def withBroadcastThreshold[A](threshold: String)(body: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    try body
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** At sf0.001 the default threshold broadcasts every side and hides
    * the exchanges the bucketed layouts exist to erase. At 8 KB the
    * dimension sides (≤ 10 KB estimated before their filters) broadcast
    * and no layout fact (57-236 KB) does — the 100 TB regime, where
    * dimensions broadcast and facts never fit. */
  private def atLayoutScale[A](body: => A): A = withBroadcastThreshold("8KB")(body)

  /** The raw spec-text key each layout key runs over its layout. */
  private def baseOf(layoutKey: GQuery): GQuery = Registry.all
    .find(q => q.oracle == layoutKey.oracle && !q.name.endsWith("_full_bucketed"))
    .getOrElse(fail(s"no raw key shares ${layoutKey.name}'s oracle"))

  test("partitioned parquet write creates partition dirs and round-trips") {
    val dir = tmp("parquet")
    val src = Tables.nation(spark, sfDir)
    Sinks.writeParquet(src, dir, partitionBy = Seq("n_regionkey"))
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("n_regionkey=")), dirs.mkString(","))
    val back = spark.read.parquet(dir)
    assert(back.count() == src.count())
    // partition-column filter prunes to one directory
    val pruned = back.filter(col("n_regionkey") === 0)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan.take(1500))
  }

  test("co-bucketed tables join with no shuffle exchange") {
    val o = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_totalprice"))
    val l = Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_quantity"))
    Sinks.writeBucketed(o, "b_orders", tmp("b_orders"), "o_orderkey", 4)
    Sinks.writeBucketed(l.withColumnRenamed("l_orderkey", "o_orderkey"),
      "b_lineitem", tmp("b_lineitem"), "o_orderkey", 4)
    try withBroadcastThreshold("-1") {
      val joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n${plan.take(2000)}")
      assert(plan.contains("Bucketed: true"), s"scan is not bucket-aware:\n${plan.take(2000)}")
      assert(joined.count() == l.count()) // every lineitem has its order
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("csv round-trip preserves rows with an explicit schema") {
    val dir = tmp("csv")
    val src = Tables.region(spark, sfDir).select(col("r_regionkey"), col("r_name"))
    Sinks.writeCsv(src, dir)
    val back = Sinks.readCsv(spark, dir, src.schema)
    assert(back.orderBy(col("r_regionkey")).collect().toSeq ==
      src.orderBy(col("r_regionkey")).collect().toSeq)
  }

  test("json round-trip preserves rows with an explicit schema") {
    val dir = tmp("json")
    val src = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
    Sinks.writeJson(src, dir)
    val back = Sinks.readJson(spark, dir, src.schema)
    assert(back.orderBy(col("s_suppkey")).collect().toSeq ==
      src.orderBy(col("s_suppkey")).collect().toSeq)
  }

  test("op_bucketed_join registry key: bucketed scans feed the merge join, only the rollup shuffles") {
    val df = Registry.byName("op_bucketed_join").build(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(2000))
    assert(plan.contains("Bucketed: true"), plan.take(2000))
    // the co-bucketed join itself must not shuffle; the single allowed
    // Exchange is the final groupBy(o_orderpriority) rollup
    val exchanges = "Exchange".r.findAllMatchIn(plan).size
    assert(exchanges <= 1, s"expected only the rollup shuffle:\n${plan.take(3000)}")
    // 5 priority buckets, every lineitem row accounted once
    val rows = df.collect()
    assert(rows.length == 5, rows.mkString(","))
    assert(rows.map(_.getLong(1)).sum == sources.Tables.lineitem(spark, sfDir).count())
  }

  test("q21_full_bucketed: the layout erases every fact exchange and changes no row") {
    atLayoutScale {
      val df = Registry.byName("q21_full_bucketed").build(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), plan.take(2000))
      // raw-parquet q21 hash-partitions lineitem three times plus orders
      // once; over the layout the ONLY shuffle is the final count-by-s_name
      val shuffles = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
      assert(shuffles == 1, s"expected only the s_name rollup shuffle, got $shuffles:\n${plan.take(4000)}")
      // one sorted file per bucket + the sorted-scan conf: the merge
      // joins consume the buckets' own sort order, no re-sort anywhere
      val sorts = "\\bSort \\[".r.findAllMatchIn(plan).size
      assert(sorts == 0, s"expected sort-free merge joins over bucket order, got $sorts:\n${plan.take(4000)}")
      // relayout must not change a single row vs the spec-text SQL plan
      val expected = Registry.byName("q21_full_waiting_suppliers").build(spark, sfDir)
      assert(df.collect().toSeq == expected.collect().toSeq)
    }
  }

  test("q18_full_bucketed: every fact-side step rides the bucket partitioning, zero hash exchanges") {
    atLayoutScale {
      val df = Registry.byName("q18_full_bucketed").build(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), plan.take(2000))
      // the HAVING agg, semi-join, fact join, and per-order rollup all
      // consume the bucket partitioning; the customer join broadcasts
      // the qualifying-orders side — nothing hash-partitions at all
      val shuffles = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
      assert(shuffles == 0, s"expected a hash-exchange-free plan, got $shuffles:\n${plan.take(4000)}")
      // pre-join rollup + broadcast must not change a single row vs the
      // spec-text SQL plan over the raw tables
      val expected = Registry.byName("q18_full_large_orders").build(spark, sfDir)
      assert(df.collect().toSeq == expected.collect().toSeq)
    }
  }

  test("q5_full_bucketed: fact join rides the layout; only the reduced fact, customer, and rollup move") {
    atLayoutScale {
      val df = Registry.byName("q5_full_bucketed").build(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), plan.take(2000))
      // raw q5 hash-partitions the FULL lineitem, orders, and customer
      // (plus re-exchanges of the join chain); over the layout the
      // orders⋈lineitem join is exchange-free, the dimensions broadcast,
      // and the only exchange left is the 25-group n_name rollup
      val shuffles = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
      assert(shuffles == 1, s"expected only the rollup shuffle, got $shuffles:\n${plan.take(4000)}")
      // no Sort may touch the bucket-ordered fact join
      assert(!plan.contains("Sort [l_orderkey"),
        s"the bucket-ordered fact join re-sorted:\n${plan.take(4000)}")
      val expected = Registry.byName("q5_full_local_supplier").build(spark, sfDir)
      assert(df.collect().toSeq == expected.collect().toSeq)
    }
  }

  test("q17_full_bucketed: correlated-avg rollup and both joins ride the partkey bucketing") {
    atLayoutScale {
      val df = Registry.byName("q17_full_bucketed").build(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), plan.take(2000))
      // raw q17 pays lineitem twice on the partkey (join + the rewritten
      // correlated avg); over the layout both the per-partkey avg and
      // the three-way join are bucket-aligned — zero hash exchanges,
      // zero Sorts, only the single-row global agg's SinglePartition
      val shuffles = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
      assert(shuffles == 0, s"expected a hash-exchange-free plan, got $shuffles:\n${plan.take(4000)}")
      // one bucket-LOCAL sort survives: the per-partkey avg frame loses
      // the scan's order through the hash aggregate and is re-sorted
      // for its merge join — one row per part, never a fact-side sort
      val sorts = "\\bSort \\[".r.findAllMatchIn(plan).toSeq
      assert(sorts.size == 1, s"expected only the avg-frame re-sort, got ${sorts.size}:\n${plan.take(4000)}")
      val avgSort = """Sort \[l_partkey[^\n]*\n(?:[^\n]*Filter[^\n]*\n)?[^\n]*HashAggregate\(keys=\[l_partkey""".r
      assert(avgSort.findFirstIn(plan).nonEmpty,
        s"the surviving sort is not the avg frame's:\n${plan.take(4000)}")
      val expected = Registry.byName("q17_full_small_qty_revenue").build(spark, sfDir)
      assert(df.collect().toSeq == expected.collect().toSeq)
    }
  }

  test("q4_full_bucketed: the EXISTS semi join is exchange-free; only the rollup moves") {
    atLayoutScale {
      val df = Registry.byName("q4_full_bucketed").build(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), plan.take(2000))
      val shuffles = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
      assert(shuffles <= 1, s"expected only the 5-group rollup, got $shuffles:\n${plan.take(4000)}")
      val expected = Registry.byName("q4_full_order_priority").build(spark, sfDir)
      assert(df.collect().toSeq == expected.collect().toSeq)
    }
  }

  test("q12_full_bucketed: unfiltered orders streams the bucket scan; only the rollup moves") {
    atLayoutScale {
      val df = Registry.byName("q12_full_bucketed").build(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), plan.take(2000))
      val shuffles = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
      assert(shuffles <= 1, s"expected only the shipmode rollup, got $shuffles:\n${plan.take(4000)}")
      val expected = Registry.byName("q12_full_priority_class").build(spark, sfDir)
      assert(df.collect().toSeq == expected.collect().toSeq)
    }
  }

  test("q13_full_bucketed: comment-predicate outer join and per-customer count ride the custkey bucketing") {
    atLayoutScale {
      val df = Registry.byName("q13_full_bucketed").build(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), plan.take(2000))
      // raw q13 moves 15M comment-carrying orders rows through an
      // exchange; over the layout the left-outer join (NOT LIKE inside
      // the condition) and the per-customer count are bucket-aligned —
      // the only exchange is the c_count distribution rollup
      val shuffles = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
      assert(shuffles <= 1, s"expected only the distribution rollup, got $shuffles:\n${plan.take(4000)}")
      assert(plan.contains("LeftOuter"), s"outer join missing:\n${plan.take(4000)}")
      val expected = Registry.byName("q13_full_customer_distribution").build(spark, sfDir)
      assert(df.collect().toSeq == expected.collect().toSeq)
    }
  }

  test("q7_full_bucketed: fact join rides the layout; only the reduced fact, customer, and rollup move") {
    atLayoutScale {
      val df = Registry.byName("q7_full_bucketed").build(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), plan.take(2000))
      // same routing as q5: fact join exchange-free, supplier, nations
      // and customer broadcast, and only the 4-group rollup moves
      val shuffles = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
      assert(shuffles == 1, s"expected only the rollup shuffle, got $shuffles:\n${plan.take(4000)}")
      assert(!plan.contains("Sort [l_orderkey"),
        s"the bucket-ordered fact join re-sorted:\n${plan.take(4000)}")
      val expected = Registry.byName("q7_full_volume_shipping").build(spark, sfDir)
      assert(df.collect().toSeq == expected.collect().toSeq)
    }
  }

  test("each layout key runs its base key's spec text over the layout") {
    // q18 keeps its hand plan: the spec text pushes the IN semi-join into
    // both join sides and aggregates lineitem twice; the hand plan does
    // it once and won 10/10 interleaved pairs at sf1 (median 1.06 s
    // against 1.56 s, dev/BENCH_NOTES.md)
    val handWritten = Set("q18_full_bucketed")
    val layoutKeys = Registry.all.filter(_.name.endsWith("_full_bucketed"))
    assert(layoutKeys.size == 8, layoutKeys.map(_.name))
    val drifted = layoutKeys.filterNot(q => handWritten(q.name)).filterNot { q =>
      val df = q.build(spark, sfDir)
      val text = df.sparkSession.sql(tpch.FullTpch.sparkSqlOf(baseOf(q).name))
      df.queryExecution.analyzed.sameResult(text.queryExecution.analyzed)
    }
    assert(drifted.isEmpty, s"not the base key's spec text: ${drifted.map(_.name).mkString(", ")}")
  }

  test("building a layout key leaves no planner conf behind on the shared layout session") {
    // every *_full_bucketed key reads through one cached child session,
    // so a conf.set by one key there would re-plan every later key —
    // this co-partitioning relaxation is the one layout keys have set
    val conf = "spark.sql.requireAllClusterKeysForCoPartition"
    val default = spark.newSession().conf.get(conf)
    val frames = Registry.all.filter(_.name.endsWith("_full_bucketed"))
      .map(q => q.name -> q.build(spark, sfDir))
    assert(frames.nonEmpty)
    frames.foreach { case (name, df) =>
      assert(df.sparkSession.conf.get(conf) == default,
        s"$name's session reads $conf=${df.sparkSession.conf.get(conf)}, default $default")
    }
  }

  test("op_bloom_filter_join: a runtime bloom probe is injected into the fact scan") {
    val df = Registry.byName("op_bloom_filter_join").build(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // InjectRuntimeFilter builds bloom_filter_agg on the filtered dim
    // keys and plants might_contain on the fact side BEFORE the
    // exchange — the scan-reduction path for unpartitioned tables
    assert(plan.toLowerCase.contains("might_contain"),
      s"expected a runtime bloom probe on the fact side:\n${plan.take(4000)}")
    assert(plan.toLowerCase.contains("bloom_filter_agg") ||
      plan.contains("ObjectHashAggregate"),
      s"expected the bloom build on the dim side:\n${plan.take(4000)}")
    // and it must not change the answer
    assert(df.collect().head.getLong(0) > 0)
  }

  test("compactParquet collapses a fragmented directory to size-targeted files, row-for-row") {
    val src = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val frag = tmp("frag")
    src.repartition(64).write.mode("overwrite").parquet(frag)
    def parquetFiles(p: String) =
      new java.io.File(p).listFiles().filter(_.getName.endsWith(".parquet"))
    // round-robin spreads one row per partition; empty partitions may
    // skip their file, so the floor is min(64, rows)
    val fragCount = parquetFiles(frag).length
    assert(fragCount >= math.min(64L, src.count()).toInt / 2, fragCount.toString)
    assert(fragCount > 8, fragCount.toString)
    val out = Sinks.compactParquet(spark, frag, targetBytes = 8L << 20)
    // sf0.001 documents total well under 8 MB -> exactly one output file
    assert(parquetFiles(out).length == 1, parquetFiles(out).length.toString)
    // every row moved, none corrupted
    val back = spark.read.parquet(out)
    assert(back.orderBy(col("doc_id")).collect().toSeq ==
      src.orderBy(col("doc_id")).collect().toSeq)
    // a sub-target targetBytes splits the output: ceil-sizing is live
    val totalBytes = parquetFiles(frag).map(_.length).sum
    val out2 = Sinks.compactParquet(spark, frag, targetBytes = totalBytes / 4 + 1,
      out = Some(frag + "_4way"))
    assert(parquetFiles(out2).length == 4, parquetFiles(out2).length.toString)
    // directory-partitioned input: sizing must recurse into the
    // partition subdirectories (a flat listing would see 0 bytes and
    // silently single-file a huge table)
    val part = tmp("frag_part")
    Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"), col("text"))
      .write.partitionBy("lang").mode("overwrite").parquet(part)
    val partBytes = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length else 0L
      walk(new java.io.File(part))
    }
    assert(partBytes > 0)
    val out3 = Sinks.compactParquet(spark, part, targetBytes = partBytes / 2 + 1,
      out = Some(part + "_c"))
    assert(parquetFiles(out3).length == 2, parquetFiles(out3).length.toString)
    assert(spark.read.parquet(out3).count() == src.count())
    intercept[IllegalArgumentException](Sinks.compactParquet(spark, frag, 0))
  }

  test("compactParquetPartitioned keeps the partition layout while collapsing per-partition files") {
    val src = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"), col("lang"))
    val frag = tmp("fragp")
    src.repartition(8).write.partitionBy("lang").mode("overwrite").parquet(frag)
    def langDirs(p: String) = new java.io.File(p).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("lang=")).sortBy(_.getName)
    def files(d: java.io.File) = d.listFiles().filter(_.getName.endsWith(".parquet"))
    val fragDirs = langDirs(frag)
    assert(fragDirs.nonEmpty)
    // parallel-writer mess: each task leaves a file in every partition
    // it touches, so partitions carry several fragments
    assert(fragDirs.map(files(_).length).max > 2, fragDirs.map(files(_).length).mkString(","))
    val out = Sinks.compactParquetPartitioned(spark, frag, "lang", targetBytes = 8L << 20)
    val outDirs = langDirs(out)
    // layout preserved: same partition values...
    assert(outDirs.map(_.getName).toSeq == fragDirs.map(_.getName).toSeq)
    // ...and one ~target-sized file each (every lang is far below 8 MB)
    outDirs.foreach(d => assert(files(d).length == 1, s"${d.getName}: ${files(d).length}"))
    // every row moved, none corrupted, partition column intact
    assert(spark.read.parquet(out).orderBy(col("doc_id")).collect().toSeq ==
      src.orderBy(col("doc_id")).collect().toSeq)
    // a sub-partition target splits the big partitions: the per-value
    // split map is live (salt collisions may merge two slots in one
    // task, so the count is bounded, not exact)
    val bigLang = fragDirs.maxBy(files(_).map(_.length).sum)
    val bigBytes = files(bigLang).map(_.length).sum
    val out2 = Sinks.compactParquetPartitioned(spark, frag, "lang",
      targetBytes = bigBytes / 3 + 1, out = Some(frag + "_split"))
    val splitCount = files(langDirs(out2).find(_.getName == bigLang.getName).get).length
    assert(splitCount >= 2 && splitCount <= 3, splitCount.toString)
  }

  test("compactParquetPartitioned reruns land every row in the same file slot") {
    val src = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"), col("lang"))
    val frag = tmp("fragdet")
    src.repartition(8).write.partitionBy("lang").mode("overwrite").parquet(frag)
    def dirBytes(d: java.io.File): Long =
      d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val bigBytes = new java.io.File(frag).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("lang=")).map(dirBytes).max
    // sub-partition target → multi-file partitions, so the pin covers
    // row-to-file ASSIGNMENT, not just per-partition counts
    def sig(p: String): Seq[String] =
      spark.read.parquet(p)
        .groupBy(input_file_name().as("f"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .collect().map(_.getSeq[Any](1).mkString(",")).sorted.toSeq
    val a = Sinks.compactParquetPartitioned(spark, frag, "lang",
      targetBytes = bigBytes / 3 + 1, out = Some(frag + "_a"))
    val b = Sinks.compactParquetPartitioned(spark, frag, "lang",
      targetBytes = bigBytes / 3 + 1, out = Some(frag + "_b"))
    assert(sig(a).size > 1)
    // content-hash salt: the same rows share a file on every rerun —
    // a positional salt (monotonically_increasing_id) makes this
    // nondeterministic across task layouts and recomputes
    assert(sig(a) == sig(b))
  }

  test("escaped partition values and the null partition route through the split map") {
    // Spark URL-escapes special chars in partition directory names and
    // writes null as __HIVE_DEFAULT_PARTITION__; the splits map must be
    // keyed on the DECODED value or these partitions silently coalesce
    // to one oversized file (r14 advice, medium)
    val df = spark.range(0, 400).select(col("id"),
      when(col("id") % 4 === 0, lit("a b"))
        .when(col("id") % 4 === 1, lit("x:y"))
        .when(col("id") % 4 === 2, lit(null).cast("string"))
        .otherwise(lit("plain")).as("k"))
    val frag = tmp("esc")
    df.repartition(4).write.partitionBy("k").mode("overwrite").parquet(frag)
    val dirs = new java.io.File(frag).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("k=")).map(_.getName).sorted
    assert(dirs.exists(_.contains("__HIVE_DEFAULT_PARTITION__")), dirs.mkString(","))
    // the colon value really is escaped on disk (%3A) — the scenario
    // the decode guards against is live, not hypothetical
    assert(dirs.contains("k=x%3Ay"), dirs.mkString(","))
    val out = Sinks.compactParquetPartitioned(spark, frag, "k", targetBytes = 1024)
    // every partition is larger than the 1 KB target, so every value —
    // escaped, null-sentinel, and plain alike — must split into >1 file;
    // a missed decode coalesces its value to exactly one
    new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("k=")).foreach { d =>
        val n = d.listFiles().count(_.getName.endsWith(".parquet"))
        assert(n >= 2, s"${d.getName} compacted to $n file(s) — split map missed it")
      }
    // row-for-row, null partition value included
    assert(spark.read.parquet(out).orderBy(col("id")).collect().toSeq ==
      df.orderBy(col("id")).collect().toSeq)
  }

  test("op_stats_skipping: the manifest skips most files and the pruned answer is exact") {
    val root = Sinks.skipRoot(spark, sfDir)
    val lo = lit("2024-01-10 00:00:00").cast("timestamp")
    val hi = lit("2024-01-15 00:00:00").cast("timestamp")
    val (keep, total) = Sinks.skipSelect(spark, root, lo, hi)
    assert(total == 16, s"expected 16 clustered files, manifest lists $total")
    // a 5-day window over a range-clustered 30-day table must skip
    // more than half the files — the clustering is what makes the
    // min/max stats tight enough to act on
    assert(keep.length * 2 < total, s"kept ${keep.length} of $total files — stats not tight")
    assert(keep.nonEmpty)
    val pruned = Sinks.statsSkipping.build(spark, sfDir)
      .orderBy(col("event_type")).collect().toSeq
    val flat = graft.sources.Tables.events(spark, sfDir)
      .filter(col("ts") >= lo && col("ts") < hi)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("value_cents"))
      .orderBy(col("event_type")).collect().toSeq
    assert(pruned == flat)
  }
}
