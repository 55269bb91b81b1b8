package graft.sources

import java.util
import java.util.Locale

import scala.jdk.CollectionConverters._

import graft.tpch.TpchGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeSeq, BindReferences, Expression, Generator, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LocalRelation, LogicalPlan, Project, Range => LogicalRange}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The `tpch` data-source format: inline-parameterized generated
  * tables with no Scala call in sight —
  *
  * {{{
  * spark.read.format("tpch").option("sf", 0.1).option("table", "lineitem").load()
  * // or, fully inside SQL (≙ the reference's `SELECT * FROM tpch_lineitem(1)`,
  * // clflushopt/datafusion-tpch src/lib.rs:69-106,132-186):
  * CREATE TEMPORARY VIEW lineitem USING tpch OPTIONS (table 'lineitem', sf '0.1')
  * }}}
  *
  * Options: `table` (or the `load(...)` path) — one of
  * [[TpchGen.tableNames]]; `sf` — scale factor; optional
  * `numParts`/`part` — the shard surface, same semantics as
  * [[TpchGen.table]].
  *
  * Binding: DataSourceV2 [[TableProvider]] with a NATIVE batch read
  * path. The scan still has exactly ONE construction point — the scan
  * builder takes [[TpchGen.table]]'s own optimized Catalyst plan
  * (`Project*(Range)`, plus one `Project(Generate(Project(Range)))` for
  * lineitem's 1..7-lines explode, or an empty relation for a fixed
  * table's empty shard), binds its resolved expressions to
  * ordinals on the driver, and ships them as a tiny [[GenProgram]] that
  * each [[PartitionReader]] evaluates through executor-side
  * `UnsafeProjection` codegen. No `df.rdd`, no boxed `Row` bridge, no
  * second generator to keep in sync: the expressions ARE the
  * generator's (an unrecognized plan shape — e.g. a future optimizer
  * change — fails the scan build with the plan in the message rather
  * than diverging). The scan also reports row-count/size statistics
  * from the spec layout, so Catalyst can pick broadcast joins for small
  * generated dims.
  */
class TpchDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "tpch"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TpchDataSource.plan(SparkSession.active, options.asCaseSensitiveMap().asScala.toMap).schema

  // supportsExternalMetadata stays false: the schema is the generator's,
  // never user-supplied — Spark rejects a .schema(...) override for us
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new TpchTable(properties.asScala.toMap)
}

private[sources] class TpchTable(opts: Map[String, String]) extends Table with SupportsRead {
  // parse eagerly: a typo'd table name or non-numeric sf fails at
  // resolution on the driver, not at first action on an executor
  private val parsed = TpchDataSource.parse(opts)

  override def name(): String = s"tpch_${parsed._1}(sf=${parsed._2})"
  // memoized: the analyzer asks for the schema repeatedly per query,
  // and each plan() call rebuilds the whole generator expression tree
  private lazy val schema0: StructType =
    TpchDataSource.plan(SparkSession.active, opts).schema
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // reader options already rode in via getTable properties; merge
    // anyway so catalog-provided tables can still take per-read options
    val merged = opts ++ options.asCaseSensitiveMap().asScala
    // column pruning happens HERE, at the DSv2 ScanBuilder: the pruned
    // select is folded into the generator plan BEFORE compilation, so
    // the optimizer collapses it into the projection list and a
    // count() over generated lineitem synthesizes zero columns per row
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: Option[StructType] = None
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = Some(requiredSchema)
      override def build(): Scan = {
        val df = {
          val base = TpchDataSource.plan(SparkSession.active, merged)
          required.fold(base)(r =>
            base.select(r.fieldNames.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*))
        }
        val plan = df.queryExecution.optimizedPlan
        val prog = GenProgram.compile(plan).getOrElse(throw new IllegalStateException(
          s"tpch generator plan outside the compiled scan grammar:\n$plan"))
        new TpchBatchScan(prog, df.schema)
      }
    }
  }
}

/** A compiled generator slice: evaluate `steps` bottom-up over each row
  * id in the [[LogicalRange]]. Everything inside is a RESOLVED, BOUND
  * Catalyst expression lifted straight out of the generator's own
  * optimized plan — serialized once per scan, codegen'd per partition. */
private[sources] final case class GenProgram(
    start: Long, end: Long, slices: Int, steps: Seq[GenStep]) {
  /** Spec-layout row-count estimate: the range cardinality, ×4 per
    * explode level (lineitem's 1..7 lines/order average per the spec). */
  def estimatedRows: Long =
    steps.foldLeft(math.max(0L, end - start)) {
      case (n, _: GenerateStep) => n * 4
      case (n, _) => n
    }
}
private[sources] sealed trait GenStep extends Serializable
private[sources] final case class ProjectStep(exprs: Seq[Expression]) extends GenStep
private[sources] final case class GenerateStep(generator: Generator) extends GenStep

private[sources] object GenProgram {
  /** Driver-side compilation of the generator's optimized plan. Returns
    * None on any shape this grammar doesn't cover. */
  def compile(plan: LogicalPlan): Option[GenProgram] = plan match {
    case Project(list, child) =>
      compile(child).map { p =>
        val bound = list.map(e =>
          BindReferences.bindReference(e: Expression, AttributeSeq(child.output)))
        p.copy(steps = p.steps :+ ProjectStep(bound))
      }
    case g @ Generate(gen: Generator, unrequired, false, _, _, child) =>
      compile(child).map { p =>
        val bound = BindReferences.bindReference(gen: Expression, AttributeSeq(child.output))
        val generated = p.steps :+ GenerateStep(bound.asInstanceOf[Generator])
        // pruned plans (e.g. a count over lineitem) drop child columns
        // the parent never reads: project the joined row down to g.output
        val steps = if (unrequired.isEmpty) generated else generated :+ ProjectStep(
          g.output.map(a => BindReferences.bindReference(a: Expression,
            AttributeSeq(child.output ++ g.generatorOutput))))
        p.copy(steps = steps)
      }
    case r: LogicalRange if r.step == 1 =>
      Some(GenProgram(r.start, r.end, r.numSlices.getOrElse(1), Nil))
    // a fixed table's empty shard (region/nation, part > 0): its
    // limit(0) optimizes to an empty relation — zero rows, no steps
    case l: LocalRelation if l.data.isEmpty => Some(GenProgram(0, 0, 1, Nil))
    case _ => None
  }
}

private[sources] class TpchBatchScan(prog: GenProgram, schema: StructType)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String = s"TpchNativeScan${schema.fieldNames.mkString("[", ",", "]")}"

  override def planInputPartitions(): Array[InputPartition] = {
    val n = prog.end - prog.start
    val slices = math.max(1, math.min(prog.slices, math.max(1L, n)).toInt)
    // same contiguous slicing as Range: slice k = [n·k/p, n·(k+1)/p)
    (0 until slices).map { k =>
      TpchInputPartition(prog.start + n * k / slices, prog.start + n * (k + 1) / slices)
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory = TpchReaderFactory(prog.steps)

  /** Spec-layout statistics: lets Catalyst broadcast small generated
    * dims. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val rows = prog.estimatedRows
    override def sizeInBytes(): util.OptionalLong =
      util.OptionalLong.of(rows * (schema.defaultSize + 8L))
    override def numRows(): util.OptionalLong = util.OptionalLong.of(rows)
  }
}

private[sources] final case class TpchInputPartition(start: Long, end: Long)
    extends InputPartition

private[sources] final case class TpchReaderFactory(steps: Seq[GenStep])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[TpchInputPartition]
    new TpchPartitionReader(p.start, p.end, steps)
  }
}

/** Evaluates the compiled step chain over the id slice. Projections are
  * `UnsafeProjection.create` — Janino codegen ON THE EXECUTOR, one
  * compile per (partition, level) — so per-row work is generated code,
  * same arithmetic the expressions would run inside whole-stage codegen.
  * Iterator layering: a [[GenerateStep]] fully drains each input row's
  * element iterator before the input advances, so reused projection
  * buffers are never read after overwrite. */
private[sources] class TpchPartitionReader(
    start: Long, end: Long, steps: Seq[GenStep]) extends PartitionReader[InternalRow] {

  private val iter: Iterator[InternalRow] = {
    val ids = new Iterator[InternalRow] {
      private[this] var i = start
      private[this] val row = new GenericInternalRow(1)
      override def hasNext: Boolean = i < end
      override def next(): InternalRow = { row.setLong(0, i); i += 1; row }
    }
    steps.foldLeft(ids: Iterator[InternalRow]) { (it, step) =>
      step match {
        case ProjectStep(exprs) =>
          val proj = UnsafeProjection.create(exprs)
          it.map(proj)
        case GenerateStep(gen) =>
          val joined = new JoinedRow
          it.flatMap(r => gen.eval(r).iterator.map(e => joined(r, e)))
      }
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean = {
    if (iter.hasNext) { current = iter.next(); true } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

object TpchDataSource {
  /** (table, sf, numParts, part) from user options, keys
    * case-insensitive, `path` accepted as the table name so
    * `load("lineitem")` works. */
  private[sources] def parse(options: Map[String, String]): (String, Double, Int, Int) = {
    val o = options.map { case (k, v) => k.toLowerCase(Locale.ROOT) -> v }
    def num[N](key: String, dflt: String, conv: String => N): N = {
      val raw = o.getOrElse(key, dflt)
      try conv(raw)
      catch { case _: NumberFormatException => throw new IllegalArgumentException(
        s"tpch option '$key' must be numeric, got '$raw'") }
    }
    // table matching is case-insensitive like the rest of Spark's
    // identifier resolution (LINEITEM is classic TPC-H spelling)
    val table = o.get("table").orElse(o.get("path"))
      .map(_.toLowerCase(Locale.ROOT))
      .getOrElse(throw new IllegalArgumentException(
        s"tpch source needs a 'table' option (or load path): one of ${TpchGen.tableNames.mkString(", ")}"))
    require(TpchGen.tableNames.contains(table),
      s"unknown tpch table '$table' (expected one of ${TpchGen.tableNames.mkString(", ")})")
    require(o.contains("sf"), "tpch source needs an 'sf' option (scale factor, e.g. sf '1')")
    val sf = num("sf", "", _.toDouble)
    require(sf > 0, s"tpch option 'sf' must be positive, got $sf")
    (table, sf, num("numparts", "0", _.toInt), num("part", "-1", _.toInt))
  }

  private[sources] def plan(spark: SparkSession, options: Map[String, String]): DataFrame = {
    val (table, sf, numParts, part) = parse(options)
    TpchGen.table(spark, table, sf, numParts, part)
  }
}
