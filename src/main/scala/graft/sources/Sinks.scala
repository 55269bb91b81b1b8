package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** §2.6 write/read helpers — the persistence surface (≙ the
  * reference's COPY-to-parquet examples, examples/parquet.rs).
  *
  * None of these coalesce: output file count follows the task count,
  * which is what a 1000-executor write needs (the Verify harness's
  * single-file dump is a dev-only exception, not this API).
  */
object Sinks {

  /** Partitioned parquet write. `partitionBy` columns become
    * directory partitions, so downstream reads with a filter on them
    * prune whole directories before any IO (dynamic partition
    * pruning at scale). */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
      mode: String = "overwrite"): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Bucketed (and bucket-sorted) parquet table: rows are hash-split
    * into `nBuckets` files per partition by `bucketCol`, recorded in
    * the catalog, so every LATER join or aggregation keyed on
    * `bucketCol` between co-bucketed tables reads pre-partitioned
    * data and plans with NO shuffle exchange — the pay-the-shuffle-
    * once pattern for a 100 TB fact table that is joined on the same
    * key query after query (SinksSpec pins the exchange-free plan).
    * Registered as an external table at `path` (the catalog holds
    * only metadata; DROP TABLE leaves the files). */
  def writeBucketed(df: DataFrame, table: String, path: String, bucketCol: String,
      nBuckets: Int, mode: String = "overwrite"): Unit = {
    // repartition on the bucket column first: bucketBy alone writes one
    // file per (write task, bucket) — a 32-task writer × 32 buckets is
    // 1024 fragment files whose concatenation is NOT sorted, so every
    // later merge join re-sorts and the scan pays small-file overhead.
    // repartition uses the same murmur3 hash as the bucket id, so each
    // task holds exactly one bucket → ONE sorted file per bucket, and
    // the scan reports its sort order (merge joins skip the Sort).
    import org.apache.spark.sql.functions.col
    df.repartition(nBuckets, col(bucketCol)).write.mode(mode)
      .option("path", path)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Registry key driving [[writeBucketed]] end-to-end — the
    * pay-the-shuffle-once layout pattern, driver-checked (before this
    * key the exchange-free property lived only in SinksSpec). The
    * build bucketizes lineitem and orders on the join key into 16
    * co-bucketed catalog tables (one [[compactScratch]] path per
    * corpus — every call still pays BOTH full overwrite writes; the
    * write IS part of the operator and of its timed cost), then runs
    * the fact-fact join with a merge hint: co-bucketed scans feed the
    * sort-merge join with ZERO shuffle exchange (the spec pins the
    * plan), which at 100 TB is the difference between shuffling the
    * fact table on every query and shuffling it once at layout time.
    * The oracle replays the same join+rollup over the raw tables —
    * bucketing must not change a single row. */
  val bucketedJoin: graft.GQuery = graft.GQuery(
    "op_bucketed_join",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val wh = compactScratch(s, s"$dir#bkt", "graft_buckets")()
      writeBucketed(Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_quantity")),
        "graft_bkt_lineitem", s"$wh/li", "l_orderkey", 16)
      writeBucketed(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority")),
        "graft_bkt_orders", s"$wh/or", "o_orderkey", 16)
      s.table("graft_bkt_orders").hint("merge")
        .join(s.table("graft_bkt_lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(floor(col("l_quantity") * 100 + 0.5).cast("long")).as("qty_cents"))
    },
    Some("""
      SELECT o_orderpriority,
             CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS qty_cents
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1"""),
    // duckNotComparable: the Spark side rewrites BOTH fact tables into
    // bucketed layouts before joining (the write is the operator); the
    // oracle runs a plain join — a ratio over this pair prices layout
    // construction against a query (r14 verdict)
    tags = Set("sinks", "duckNotComparable"))

  /** A bucketed copy of some spec tables: per table, the columns it
    * keeps and the column it is bucketed and sorted on. `tag` names the
    * copy in the memo and in its catalog table names. */
  private final case class Layout(tag: String, tables: Seq[(String, Seq[String], String)])

  /** One bucketized copy of a [[Layout]] per (context incarnation,
    * full-TPC-H corpus root): the layout is CORPUS state, written once
    * and reused by every later call — the same pay-once contract as
    * [[graft.tpch.FullTpch.ensurePersisted]] itself. Values are
    * (spec table name, registered catalog table name) pairs. */
  private val factLayouts = new graft.Sessions.ContextMemo[Seq[(String, String)]]
  private val layoutSeq = new java.util.concurrent.atomic.AtomicInteger()

  /** Memoized writer behind the layout family: each source file
    * projected to its column list and bucket-sorted on its key. Bucket
    * count bounds the exchange-free scan's parallelism (one task per
    * bucket): 32 here; a cluster deployment sizes it to executor-cores
    * × executors. */
  private def factLayout(s: SparkSession, root: String, layout: Layout): Seq[(String, String)] = {
    import org.apache.spark.sql.functions.col
    factLayouts(s, s"$root#${layout.tag}") {
      // table-name suffix: a monotone counter claimed INSIDE the
      // mapping function, never map size — two roots whose sanitized
      // tails collide (sf0.1 vs sf0_1) and first-build concurrently
      // would otherwise mint identical catalog names and silently
      // repoint one layout at the other corpus's data
      val suffix = root.replaceAll("[^A-Za-z0-9]", "_").takeRight(24) +
        s"_${layoutSeq.getAndIncrement()}"
      val wh = compactScratch(s, s"$root#layout#${layout.tag}", "graft_fact_layout")()
      layout.tables.map { case (file, cols, bucketCol) =>
        // full file name, not a prefix: "partsupp"/"part" share any
        // short prefix, and a collision silently repoints one catalog
        // table at the other's data
        val table = s"graft_bktfact_${layout.tag}_$file$suffix"
        writeBucketed(Tables.load(s, root, file).select(cols.map(col): _*),
          table, s"$wh/$file", bucketCol, 32)
        file -> table
      }
    }
  }

  /** The shared orderkey-bucketed fact layout: lineitem + orders
    * bucket-sorted on the orderkey, projected to the union of the
    * columns the serving query family (q21/q18/q5/q4/q12/q7
    * `_full_bucketed`) reads — at 100 TB this is "store the fact
    * tables bucketed on their join key"; parquet column pruning keeps
    * each query's scan as narrow as its own column set, so widening the
    * set costs only layout-write bytes. */
  private val orderkeyLayout = Layout("ok", Seq(
    ("lineitem", Seq("l_orderkey", "l_suppkey", "l_quantity",
      "l_extendedprice", "l_discount",
      "l_receiptdate", "l_commitdate", "l_shipdate", "l_shipmode"),
      "l_orderkey"),
    ("orders", Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority"),
      "o_orderkey")))

  /** The PARTKEY sibling of [[orderkeyLayout]]: lineitem + part
    * bucket-sorted on the part key, serving the lineitem⋈part query
    * family (`q17_full_bucketed`). Separate layout, same contract —
    * a real deployment keeps one clustered copy of the fact table per
    * high-traffic join key and routes each query to the copy whose
    * bucketing its joins consume. */
  private val partkeyLayout = Layout("pk", Seq(
    ("lineitem", Seq("l_partkey", "l_quantity", "l_extendedprice"), "l_partkey"),
    ("part", Seq("p_partkey", "p_brand", "p_container"), "p_partkey")))

  /** The CUSTKEY layout: orders + customer bucket-sorted on the
    * customer key, serving the custkey-joined family (`q13_full_
    * bucketed`). Orders carries its comment column here — q13's NOT
    * LIKE lives inside the outer-join condition, so the raw plan
    * shuffles 15M rows WITH the ~50-byte comment attached; the layout
    * pays that width once at write time and never moves it again. */
  private val custkeyLayout = Layout("ck", Seq(
    ("orders", Seq("o_custkey", "o_orderkey", "o_comment"), "o_custkey"),
    ("customer", Seq("c_custkey"), "c_custkey")))

  /** Build every shared pay-once layout for `dir`'s corpus up front and
    * return the wall-seconds the writes took. Bench calls this BEFORE
    * its timed loop (when any `*_full_bucketed` key is selected) so the
    * consumer keys measure QUERIES while the write-once cost stays
    * priced in its own `layout_build` field — previously whichever
    * bucketed key ran first in a fresh JVM absorbed the whole shared
    * write (r15: q21_full_bucketed 13.4 s in-suite vs 0.77 s settled).
    * Idempotent per (context, corpus): later calls are memo lookups. */
  def prebuildLayouts(s: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    val root = graft.tpch.FullTpch.rootFor(s, dir)
    Seq(orderkeyLayout, partkeyLayout, custkeyLayout).foreach(factLayout(s, root, _))
    (System.nanoTime() - t0) / 1e9
  }

  /** One catalog per (context incarnation, corpus root, layout, conf
    * set) in which the layout's bucketed tables carry the spec table
    * names and every other spec table is the raw corpus — the layout is
    * physical design, so the spec text runs over it unchanged. A child
    * session (shares the catalog, owns its conf and views): bucket-
    * sorted scans only report their sort order under
    * `spark.sql.legacy.bucketedTableScan.outputOrdering` — off by
    * default since Spark 3.0 because it forces one-file-per-bucket read
    * granularity, which is exactly what [[writeBucketed]]'s repartition
    * guarantees — and without it every merge join re-sorts the
    * already-sorted bucket files. The caller's broadcast threshold
    * rides the memo key, so planner A/Bs see the layout keys. A key
    * must never `conf.set` on the session it gets back — the setting
    * would leak into every other key's plans (SinksSpec pins this). */
  private val layoutSessions = new graft.Sessions.ContextMemo[SparkSession]

  private def layoutSession(s: SparkSession, root: String, layout: Layout): SparkSession = {
    val confs = Seq(
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" ->
        s.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    layoutSessions(s, s"$root#${layout.tag}#${graft.Sessions.confTag(confs)}") {
      val bucketed = factLayout(s, root, layout)
      val ss = graft.Sessions.child(s, confs)
      Tables.registerAll(ss, root,
        graft.tpch.TpchGen.tableNames.filterNot(bucketed.map(_._1).contains))
      Tables.registerViews(bucketed.map { case (spec, table) => spec -> ss.table(table) })
      ss
    }
  }

  /** Registry key running `base`'s spec text over `layout`: the query
    * text and the oracle are `base`'s, byte for byte, and the layout
    * alone decides which joins and aggregates consume the bucketing. */
  private def layoutKey(name: String, base: graft.GQuery, layout: Layout): graft.GQuery =
    graft.GQuery(name,
      (s, dir) => {
        val root = graft.tpch.FullTpch.rootFor(s, dir)
        layoutSession(s, root, layout).sql(graft.tpch.FullTpch.sparkSqlOf(base.name))
      },
      base.oracle,
      tags = Set("sinks", "tpch_full"))

  /** Textbook TPC-H Q18 (large-volume customers) over the
    * [[orderkeyLayout]], the one layout key whose plan is written by
    * hand. Every fact-side operation is keyed on the orderkey — the
    * `HAVING sum(l_quantity) > 300` aggregation, the IN semi-join, the
    * orders⋈lineitem join, and the per-order rollup — so all of them
    * consume the bucket partitioning, and the customer lookup joins
    * customer against a BROADCAST of the ≤few-hundred-row
    * qualifying-orders frame: the executed plan has ZERO `Exchange
    * hashpartitioning`. The spec text over the same layout plans no
    * exchange either, but Catalyst pushes the IN semi-join into both
    * join sides, so the lineitem aggregate runs twice; this plan runs
    * it once (sf1 `AbMain`, dev/BENCH_NOTES.md). Two row-preserving
    * rewrites: (a) `sum_qty` is aggregated per order BEFORE the
    * customer join — o_orderkey is unique in orders and the
    * semi-join/1:N join keep one group per order, and c_name/c_custkey
    * are functionally determined by o_custkey, so the spec's post-join
    * GROUP BY collapses nothing the pre-join rollup didn't; (b) the
    * broadcast side is the rolled-up order frame, bounded by the HAVING
    * filter to a small FRACTION of orders (~60 at sf1) — a deployment
    * where the qualifying set itself outgrew broadcast (sf ≳ 10⁴) would
    * drop the hint. Oracle BYTE-IDENTICAL to `q18_full_large_orders`'
    * spec text. */
  private val q18Bucketed: graft.GQuery = graft.GQuery(
    "q18_full_bucketed",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val ss = layoutSession(s, graft.tpch.FullTpch.rootFor(s, dir), orderkeyLayout)
      val li = ss.table("lineitem").select(col("l_orderkey"), col("l_quantity"))
      // HAVING sum(l_quantity) > 300 — exchange-free: grouping key IS
      // the bucket key
      val bigOrderKeys = li.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("qty_sum"))
        .where(col("qty_sum") > 300).select(col("l_orderkey"))
      val ord = ss.table("orders").select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderdate"))
      // IN (subquery) ⇒ left-semi; both sides bucket-partitioned on the
      // orderkey ⇒ no exchange
      val bigOrders = ord.join(bigOrderKeys,
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      // per-order rollup before the customer join (rewrite (a) above);
      // partitioning on o_orderkey satisfies the wider grouping set
      val perOrder = li.join(bigOrders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderdate"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
      val cust = ss.table("customer").select(col("c_custkey"), col("c_name"))
      cust.join(broadcast(perOrder), col("c_custkey") === col("o_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(desc("o_totalprice"), col("o_orderdate"), col("o_orderkey"))
        .limit(100)
    },
    graft.tpch.FullTpch.q18Full.oracle,
    tags = Set("sinks", "tpch_full"))

  /** The layout keys: TPC-H spec text over a bucketed layout, each
    * oracle BYTE-IDENTICAL to its base key's (relayout must not change
    * a single row). Over the layout Catalyst plans the exchange-free
    * joins and aggregates on its own: the fact-side exchanges of the
    * raw plan vanish wherever the bucket key is the join or grouping
    * key (SinksSpec pins each plan's exchange and sort counts where
    * dimensions broadcast and facts do not). q18 is the one
    * hand-written plan ([[q18Bucketed]]). The measured verdicts per key
    * are in dev/BENCH_NOTES.md and SURVEY.md §2. */
  val layoutKeys: Seq[graft.GQuery] = {
    import graft.tpch.FullTpch._
    Seq(
      layoutKey("q21_full_bucketed", q21Full, orderkeyLayout),
      q18Bucketed,
      layoutKey("q5_full_bucketed", q5Full, orderkeyLayout),
      layoutKey("q17_full_bucketed", q17Full, partkeyLayout),
      layoutKey("q4_full_bucketed", q4Full, orderkeyLayout),
      layoutKey("q12_full_bucketed", q12Full, orderkeyLayout),
      layoutKey("q13_full_bucketed", q13Full, custkeyLayout),
      layoutKey("q7_full_bucketed", q7Full, orderkeyLayout))
  }

  /** Compact a parquet directory's files to ~`targetBytes` outputs and
    * return the output path. THE at-scale table-maintenance operator:
    * streaming ingest and fine-grained partitioning leave a 100 TB
    * table as millions of KB-scale files, and every later scan then
    * pays per-file open/footer/schedule cost that dwarfs the IO —
    * compaction rewrites the data into size-targeted files in one
    * round-robin shuffle. Sizing comes from the Hadoop FS listing (not
    * `java.io` — the same code runs against HDFS/S3), output count =
    * ⌈bytes / targetBytes⌉, and round-robin repartitioning (no key)
    * gives evenly-sized files with zero skew by construction. Content
    * is preserved row-for-row — the registry key's oracle hash-checks
    * exactly that. */
  def compactParquet(spark: SparkSession, path: String, targetBytes: Long,
      out: Option[String] = None): String = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recursive listing: fine-grained directory partitioning is the
    // main producer of the small-file problem, so the data files
    // usually live in partition subdirectories, not at the root
    val it = fs.listFiles(hPath, true)
    var bytes = 0L
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet")) bytes += st.getLen
    }
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val outPath = out.getOrElse(path.stripSuffix("/") + "_compacted")
    // NOTE: directory-partition columns are read back as data columns
    // and the output is unpartitioned — compacting a partitioned table
    // while KEEPING its layout means calling this once per partition
    // directory (each call is one bounded round-robin shuffle).
    spark.read.parquet(path).repartition(nOut)
      .write.mode("overwrite").parquet(outPath)
    outPath
  }

  /** Partition-PRESERVING compaction: rewrite a directory-partitioned
    * parquet table so each `partitionCol=value` directory holds
    * ⌈its bytes / targetBytes⌉ files, keeping the partition layout
    * (unlike [[compactParquet]], which flattens it). One Spark job for
    * the whole table: per-partition sizes come from ONE recursive FS
    * listing (a per-directory listing loop is minutes of serial driver
    * wall-clock on an object store with ~100k partitions; one
    * recursive pass returns the same information), a broadcast
    * value→splits map salts each row into its target file slot, and a
    * single `repartition(partitionCol, salt)` + `partitionBy` write
    * lands every partition's rows in co-located tasks — skew-aware by
    * construction, because a 10 TB partition gets 10 TB/target salts
    * while a 1 MB partition gets one, so no task ever owns more than
    * ~targetBytes of one partition. Salt collisions can merge two
    * slots of the same value in one task, so per-partition file counts
    * are ≤ the computed split count (exact when the count is 1 — the
    * common compaction case).
    *
    * Determinism contract: the salt is a hash of ROW CONTENT
    * (`saltCols`, defaulting to every data column), never of task or
    * row position — so two compactions of the same table land every
    * row in the same file slot (file-level diff/retry audits stay
    * quiet), and a stage recompute after a fetch failure re-routes
    * each row to the same reducer (a positional salt such as
    * `monotonically_increasing_id` can silently drop/duplicate rows in
    * exactly that window). Callers with a known row key pass it as
    * `saltCols` to skip hashing wide payload columns.
    *
    * Duplicate-mass caveat (the flip side of content hashing): rows
    * whose `saltCols` values are IDENTICAL co-route to one slot by
    * construction, so a partition dominated by byte-identical
    * duplicates can emit one file well over `targetBytes` — the skew
    * guarantee above holds per DISTINCT content, not per row. Callers
    * compacting a corpus with planted duplicate mass should pass a
    * near-unique `saltCols` (a row id); determinism then still holds
    * because the id is row content. A positional disambiguator would
    * restore the size bound but break the recompute-safety contract,
    * which this operator ranks higher — a 2× oversized file is a
    * nuisance, a dropped row under a fetch-failure recompute is
    * corruption.
    *
    * Partition-name decoding: Spark ESCAPES partition values in
    * directory names (URL-style for chars like `:` or space, and the
    * `__HIVE_DEFAULT_PARTITION__` sentinel for null) while
    * `col(partitionCol)` reads back the unescaped value — the splits
    * map is therefore keyed on the UNESCAPED value, and the null
    * sentinel gets its own `isNull` routing arm (a missed decode would
    * coalesce a huge partition to one slot and silently emit one
    * oversized file, defeating the skew guarantee). */
  def compactParquetPartitioned(spark: SparkSession, path: String,
      partitionCol: String, targetBytes: Long, out: Option[String] = None,
      saltCols: Seq[String] = Nil): String = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qRoot = fs.makeQualified(hPath)
    // one recursive listing; each data file is attributed to the
    // top-level partition directory it sits under
    val bytesByDir = scala.collection.mutable.Map.empty[String, Long]
    val it = fs.listFiles(qRoot, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        var d = f.getPath.getParent
        while (d != null && d.getParent != null && d.getParent != qRoot) d = d.getParent
        if (d != null && d.getName.startsWith(s"$partitionCol="))
          bytesByDir.updateWith(d.getName.substring(partitionCol.length + 1)) {
            prev => Some(prev.getOrElse(0L) + f.getLen)
          }
      }
    }
    def toSplits(bytes: Long): Int =
      math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val nullSplits = bytesByDir.get(ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
      .map(toSplits)
    val splits: Map[String, Int] = bytesByDir.iterator
      .filter(_._1 != ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
      .map { case (escaped, bytes) =>
        ExternalCatalogUtils.unescapePathName(escaped) -> toSplits(bytes)
      }.toMap
    require(splits.nonEmpty || nullSplits.nonEmpty,
      s"$path has no $partitionCol=<value> partition directories")
    val outPath = out.getOrElse(path.stripSuffix("/") + "_compacted")
    val mapped =
      if (splits.isEmpty) lit(null).cast("int")
      else element_at(typedLit(splits), col(partitionCol).cast("string"))
    val routed = nullSplits match {
      case Some(n) => when(col(partitionCol).isNull, lit(n)).otherwise(mapped)
      case None => mapped
    }
    val nSlots = greatest(coalesce(routed, lit(1)), lit(1))
    // explicit partition count: an unpinned repartition lets AQE
    // re-coalesce the salted slots toward its 64 MB advisory size,
    // silently merging them whenever targetBytes is smaller — the salt
    // map IS the partition sizing here, so the exchange is pinned to
    // ~one task per output file (×4 headroom against (value, slot)
    // hash collisions, which would merge two slots into one oversized
    // file)
    val allSplits = splits.values.map(_.toLong).sum + nullSplits.getOrElse(0)
    val totalSlots = math.max(1, allSplits.min(64 << 10).toInt) * 4
    val df = spark.read.parquet(path)
    val saltCandidates =
      if (saltCols.nonEmpty) saltCols
      else df.columns.toSeq.filterNot(_ == partitionCol)
    // a partition-col-only table has nothing to salt on: route every
    // row to slot 0 (one file per partition — the only correct answer
    // for zero data columns) instead of letting hash() with no args
    // fail analysis with an opaque error
    val salt =
      if (saltCandidates.isEmpty) lit(0)
      else hash(saltCandidates.map(col): _*)
    df.withColumn("__slot", pmod(salt, nSlots))
      .repartition(totalSlots, col(partitionCol), col("__slot"))
      .drop("__slot")
      .write.partitionBy(partitionCol).mode("overwrite").parquet(outPath)
    outPath
  }

  private val scratchDirs = new graft.Sessions.ContextMemo[String]

  /** The one maker of scratch directories: one per (context
    * incarnation, `key`), named `<prefix>…` in the JVM temp dir and
    * deleted with its contents when the JVM exits. The keys that stage
    * their own input layouts still pay their full write passes on every
    * build (mode=overwrite, nothing is cached); reusing the path only
    * stops repeated builds from accumulating copies in /tmp. `fill`
    * runs once, when the directory is made: the pay-once layouts write
    * their corpus state there. */
  private[graft] def compactScratch(s: SparkSession, key: String, prefix: String)(
      fill: String => Unit = _ => ()): String =
    scratchDirs(s, key) {
      val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
      sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir))
      fill(dir.toString)
      dir.toString
    }

  /** Registry key driving [[compactParquet]] end-to-end: fragments the
    * `documents` table into 64 shard files (the shape a per-batch
    * streaming sink leaves behind), compacts them to size-targeted
    * files, and returns the compacted content — the oracle replays
    * (doc_id, md5(text), source) over the raw table, so the driver
    * hash-check proves compaction moved every row and corrupted none.
    * The file-count collapse itself is pinned by SinksSpec (64 → the
    * computed target count). */
  val compactSmallFiles: graft.GQuery = graft.GQuery(
    "op_compact_small_files",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("source"))
      val scratch = compactScratch(s, s"$dir#frag", "graft_frag")()
      val frag = s"$scratch/docs"
      docs.repartition(64).write.mode("overwrite").parquet(frag)
      val outPath = compactParquet(s, frag, targetBytes = 8L << 20)
      s.read.parquet(outPath)
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("source"))
    },
    // duckNotComparable: Spark fragments + rewrites the whole table
    // twice; the oracle is a single projection over the raw table
    Some("SELECT doc_id, md5(text) AS text_md5, source FROM documents"),
    tags = Set("sinks", "duckNotComparable"))

  /** Registry key driving [[compactParquetPartitioned]] end-to-end:
    * fragments `documents` into a lang-partitioned table with ~16
    * files per partition (each write task leaves one file in every
    * partition it touches — the exact mess a parallel writer makes),
    * compacts partition-preserving, and returns the compacted content;
    * the oracle replays (doc_id, md5(text), lang) over the raw table.
    * SinksSpec pins the layout survival and the per-partition
    * file-count collapse. */
  val compactPartitioned: graft.GQuery = graft.GQuery(
    "op_compact_partitioned",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"))
      val scratch = compactScratch(s, s"$dir#part", "graft_fragp")()
      val frag = s"$scratch/docs_by_lang"
      docs.repartition(16).write.partitionBy("lang").mode("overwrite").parquet(frag)
      // doc_id is the table's stable row key — salting on it (not the
      // wide text payload) keeps the deterministic-layout contract cheap
      val outPath = compactParquetPartitioned(s, frag, "lang",
        targetBytes = 8L << 20, saltCols = Seq("doc_id"))
      s.read.parquet(outPath)
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("lang"))
    },
    // duckNotComparable: same asymmetry as op_compact_small_files
    Some("SELECT doc_id, md5(text) AS text_md5, lang FROM documents"),
    tags = Set("sinks", "duckNotComparable"))

  /** Registry key demonstrating DYNAMIC partition pruning — the single
    * most common scan-pruning path on a real cluster: a fact table
    * directory-partitioned on a date key, joined to a small dimension
    * whose FILTER is on a non-partition attribute (year/quarter), so
    * no static rule can prune the fact scan; Spark's DPP instead
    * evaluates the dim side first (reusing its broadcast) and injects
    * the surviving month keys as a runtime `dynamicpruning` partition
    * filter — the fact scan OPENS only the matching month directories.
    * At 100 TB this is the difference between scanning a decade of a
    * date-partitioned fact table and reading the three months a
    * quarter report asks for. The layout (orders partitioned by ship
    * month + a month dimension carrying year/quarter) is written once
    * per corpus — the pay-once contract of the layout family; the
    * timed query is the pruned join. ExplainSpec pins the
    * `dynamicpruning` expression in the executed fact scan; the oracle
    * replays the same quarter rollup over the RAW orders table, so the
    * hash check proves pruning dropped no row and kept no extra. */
  val partitionPrune: graft.GQuery = graft.GQuery(
    "op_partition_prune",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val root = compactScratch(s, s"$dir#dpp", "graft_dpp") { base =>
        val ord = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_totalprice"),
            date_format(col("o_orderdate"), "yyyy-MM").as("o_month"))
        ord.write.partitionBy("o_month").mode("overwrite").parquet(s"$base/fact")
        Tables.orders(s, dir)
          .select(date_format(col("o_orderdate"), "yyyy-MM").as("month_key"),
            year(col("o_orderdate")).as("y"), quarter(col("o_orderdate")).as("q"))
          .distinct()
          .write.mode("overwrite").parquet(s"$base/dim_month")
      }
      val fact = s.read.parquet(s"$root/fact")
      val dim = s.read.parquet(s"$root/dim_month")
        .where(col("y") === 1995 && col("q") === 2)
      fact.join(dim, col("o_month") === col("month_key"))
        .groupBy(col("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("total_cents"))
    },
    Some("""
      SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
      FROM orders
      WHERE year(o_orderdate) = 1995 AND quarter(o_orderdate) = 2
      GROUP BY 1"""),
    // duckNotComparable: the dim is DERIVED from orders, so the oracle
    // collapses the star join into a one-table WHERE over the raw file
    // — no dim scan, no join, no partitioned layout, no runtime
    // subquery; at bench sf the ratio prices partition-granular read
    // overhead against a 12 ms flat scan, not engine against engine
    tags = Set("sinks", "duckNotComparable"))

  /** Registry key demonstrating RUNTIME BLOOM-FILTER pushdown — the
    * scan-reduction sibling of [[partitionPrune]] for tables with NO
    * partition layout: a large fact shuffle-joined to a selectively-
    * filtered dimension gets a `bloom_filter_agg` built on the dim's
    * join keys at runtime and a `might_contain` probe INJECTED into
    * the fact side's scan filter (Catalyst's InjectRuntimeFilter), so
    * non-matching fact rows die at the scan — BEFORE the exchange —
    * at the join's selectivity. At 100 TB this is the difference
    * between shuffling the whole fact table and shuffling the ~1%
    * that can possibly join, with zero layout preparation. The
    * sub-session pins the thresholds the feature gates on (the
    * 10 GB application-side default exists because the filter only
    * pays on big scans — exactly the 100 TB case; bench scale needs
    * it lowered to demonstrate the plan) and disables auto-broadcast
    * (a broadcast join already prunes at the probe; the bloom filter
    * is the SHUFFLE join's equivalent). SinksSpec pins the
    * `might_contain` probe in the executed fact scan; the oracle
    * replays the same join+rollup in DuckDB — the filter must drop no
    * row and keep no extra. */
  val bloomFilterJoin: graft.GQuery = graft.GQuery(
    "op_bloom_filter_join",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val ss = graft.Sessions.childWith(s, Seq(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1"))
      val ord = Tables.orders(ss, dir)
        .where(col("o_orderdate") >= lit("1995-01-01").cast("date") &&
          col("o_orderdate") < lit("1995-02-01").cast("date") &&
          col("o_totalprice") > 150000.0)
        .select(col("o_orderkey"))
      val li = Tables.lineitem(ss, dir)
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(floor(col("l_quantity") * 100 + 0.5).cast("long")).as("qty_cents"),
          sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long")).as("price_cents"))
    },
    Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS qty_cents,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderdate >= DATE '1995-01-01'
        AND o_orderdate < DATE '1995-02-01'
        AND o_totalprice > 150000.0"""),
    tags = Set("sinks"))

  /** Registry key demonstrating FILE-LEVEL STATS SKIPPING — the
    * manifest pattern behind Delta/Iceberg data skipping, built from
    * parts Spark already has: (1) at write time, range-cluster the
    * fact on the skip column (`repartitionByRange` + sort — the 1-D
    * little sibling of [[graft.operators.Relational.zorderCluster]])
    * so each file covers a narrow `ts` span, and record a MANIFEST of
    * per-file min/max/rowcount (`_metadata.file_path` + one tiny
    * aggregate — exactly what a table format's commit protocol stores);
    * (2) at query time, plan the read from the manifest: only files
    * whose [min,max] intersects the predicate window are opened, the
    * exact predicate still applies to the survivors, so the answer is
    * independent of how well the skip worked. The selected-path list
    * is driver-side by design — one row per FILE, the same metadata
    * a FileIndex already holds (at 100 TB with 10^6 files this is
    * megabytes, and a real table format pages it; it is never
    * O(rows)). Clustering is what makes the stats tight: without it
    * every file spans the whole month and nothing skips (SinksSpec
    * asserts >half the files are skipped AND the pruned result equals
    * the unpruned one). The oracle collapses the whole apparatus to a
    * flat WHERE over raw events — the skip must not change a row. */
  /** Clustered-fact + manifest build for [[statsSkipping]], memoized
    * per (context incarnation, corpus) like every layout. */
  private[graft] def skipRoot(s: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions._
    compactScratch(s, s"$dir#skip", "graft_skip") { base =>
      Tables.events(s, dir)
        .repartitionByRange(16, col("ts"))
        .sortWithinPartitions("ts")
        .write.mode("overwrite").parquet(s"$base/fact")
      s.read.parquet(s"$base/fact")
        .groupBy(col("_metadata.file_path").as("path"))
        .agg(min(col("ts")).as("ts_min"), max(col("ts")).as("ts_max"),
          count(lit(1)).as("n_rows"))
        .write.mode("overwrite").parquet(s"$base/manifest")
    }
  }

  /** Manifest-side planning for [[statsSkipping]]: (surviving file
    * paths, total file count). Driver-side by design — one row per
    * file, the same metadata a FileIndex holds. */
  private[graft] def skipSelect(s: SparkSession, root: String,
      lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column): (Array[String], Long) = {
    import org.apache.spark.sql.functions.col
    val manifest = s.read.parquet(s"$root/manifest")
    val keep = manifest.filter(col("ts_max") >= lo && col("ts_min") < hi)
      .select(col("path")).collect().map(_.getString(0)).sorted
    (keep, manifest.count())
  }

  val statsSkipping: graft.GQuery = graft.GQuery(
    "op_stats_skipping",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val root = skipRoot(s, dir)
      val lo = lit("2024-01-10 00:00:00").cast("timestamp_ntz")
      val hi = lit("2024-01-15 00:00:00").cast("timestamp_ntz")
      val (keep, _) = skipSelect(s, root, lo, hi)
      s.read.parquet(keep: _*)
        .filter(col("ts") >= lo && col("ts") < hi)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 100 + 0.5).cast("long")).as("value_cents"))
    },
    Some("""
      SELECT event_type, count(*) AS n_events,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
      GROUP BY 1"""),
    // duckNotComparable: the Spark side pays the clustered rewrite +
    // manifest build inside the key (the write IS the operator); the
    // oracle is a flat scan with a WHERE — the ratio prices layout
    // construction, not engine against engine
    tags = Set("sinks", "duckNotComparable"))

  /** CSV with header. An explicit schema on read avoids the
    * inference pass (a full extra scan at 100 TB — never rely on it
    * in production paths). */
  def writeCsv(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).option("header", "true").csv(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** JSON lines. Same schema-on-read discipline as CSV. */
  def writeJson(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).json(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)
}
