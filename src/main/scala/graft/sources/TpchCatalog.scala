package graft.sources

import java.util
import java.util.Locale

import graft.tpch.TpchGen
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A read-only [[TableCatalog]] exposing the generated tables as a
  * scale-factor-per-namespace catalog — zero setup beyond one conf:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.tpch", "graft.sources.TpchCatalog")
  * spark.sql("SELECT count(*) FROM tpch.sf1.lineitem")
  * spark.sql("SELECT * FROM tpch.sf0_1.orders")            // sf0_1 ⇒ sf 0.1
  * spark.sql("SELECT * FROM tpch.sf1.part_2_of_8.lineitem") // shard 2 of 8
  * spark.sql("SHOW NAMESPACES IN tpch")                    // canonical sf ladder
  * }}}
  *
  * This is the third spelling of the same single construction point
  * ([[TpchGen.table]], via [[TpchTable]]'s native DSv2 scan): the
  * `tpch` FORMAT parameterizes reads, `USING tpch` views parameterize
  * DDL, and this catalog removes even the view step — the closest
  * Spark idiom to the reference's `SELECT * FROM tpch_lineitem(1)`
  * inline UDTF (clflushopt/datafusion-tpch src/lib.rs:69-106).
  *
  * Namespaces are VIRTUAL and dynamic: `sfX` or `sfX_Y` (underscore
  * for the decimal point, since `.` separates SQL identifiers;
  * backticked `` `sf0.1` `` works too) generates at that scale factor
  * — any positive sf resolves, not only the advertised ladder.
  * [[SupportsNamespaces]] makes the contract discoverable: `SHOW
  * NAMESPACES` lists the canonical sf ladder, `DESCRIBE NAMESPACE
  * tpch.sf1` states the dynamic rule, and `namespaceExists` accepts
  * every valid spelling. A second namespace level `part_I_of_N`
  * (0 ≤ I < N) scopes a table to one generation shard — catalog
  * parity with the reference UDTFs' `(sf, part, num_parts)` argument
  * surface (lib.rs:84-106), same semantics as [[TpchGen.table]]'s
  * `part`/`numParts`. The catalog is read-only — create / alter /
  * drop / rename of tables or namespaces all fail with
  * UnsupportedOperationException.
  */
class TpchCatalog extends TableCatalog with SupportsNamespaces {
  private var catalogName = "tpch"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName

  /** "sf1" / "sf0.1" / "sf0_1" → scale factor; None if not an sf namespace. */
  private def sfOf(ns: String): Option[Double] = {
    val s = ns.toLowerCase(Locale.ROOT)
    if (s.startsWith("sf")) s.drop(2).replace('_', '.').toDoubleOption.filter(_ > 0)
    else None
  }

  private val PartNs = """(?i)part_([0-9]+)_of_([0-9]+)""".r

  /** "part_2_of_8" → (part=2, numParts=8); None if not a shard namespace. */
  private def partOf(ns: String): Option[(Int, Int)] = ns match {
    case PartNs(i, n) =>
      (i.toIntOption, n.toIntOption) match {
        case (Some(pi), Some(pn)) if pn > 0 && pi >= 0 && pi < pn => Some((pi, pn))
        case _ => None
      }
    case _ => None
  }

  /** Full namespace → generator options; None if the namespace is not
    * one of the two valid shapes ([sfX] or [sfX, part_I_of_N]). */
  private def nsOptions(namespace: Array[String]): Option[Map[String, String]] =
    namespace match {
      case Array(sfNs) =>
        sfOf(sfNs).map(sf => Map("sf" -> sf.toString))
      case Array(sfNs, partNs) =>
        for { sf <- sfOf(sfNs); (pi, pn) <- partOf(partNs) }
          yield Map("sf" -> sf.toString, "part" -> pi.toString, "numparts" -> pn.toString)
      case _ => None
    }

  private def noSuchNamespace(namespace: Array[String]) =
    new NoSuchNamespaceException(name() +: namespace.toSeq)

  override def listTables(namespace: Array[String]): Array[Identifier] =
    nsOptions(namespace) match {
      case Some(_) => TpchGen.tableNames.map(Identifier.of(namespace, _)).toArray
      case None => throw noSuchNamespace(namespace)
    }

  override def loadTable(ident: Identifier): Table = {
    // case-insensitive like Spark's default identifier resolution
    // (LINEITEM is classic TPC-H spelling); sfOf lowercases too
    val table = ident.name().toLowerCase(Locale.ROOT)
    nsOptions(ident.namespace())
      .filter(_ => TpchGen.tableNames.contains(table))
      .map(opts => new TpchTable(opts + ("table" -> table)))
      .getOrElse(throw new NoSuchTableException(name() +: ident.namespace().toSeq :+ ident.name()))
  }

  /** Canonical sf ladder advertised by `SHOW NAMESPACES` — discovery
    * only; any `sfX`/`sfX_Y` namespace resolves (dynamic contract,
    * stated in each namespace's DESCRIBE metadata). Matches the
    * standard TPC-H published scale points. */
  private[sources] val advertisedSfs: Seq[String] =
    Seq("sf0_001", "sf0_01", "sf0_1", "sf1", "sf10", "sf100", "sf1000")

  override def listNamespaces(): Array[Array[String]] =
    advertisedSfs.map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    namespace match {
      case Array() => listNamespaces()
      // shard namespaces are an infinite virtual family (any N>0): not
      // enumerable, so an sf namespace lists no children — DESCRIBE
      // NAMESPACE documents the part_I_of_N rule instead
      case Array(sfNs) if sfOf(sfNs).isDefined => Array.empty
      case other if nsOptions(other).isDefined => Array.empty
      case other => throw noSuchNamespace(other)
    }

  override def namespaceExists(namespace: Array[String]): Boolean =
    nsOptions(namespace).isDefined

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    nsOptions(namespace) match {
      case Some(opts) =>
        val m = new util.HashMap[String, String]()
        opts.foreach { case (k, v) => m.put(k, v) }
        m.put("comment",
          "virtual namespace: any sfX / sfX_Y generates at scale factor X.Y; " +
            "an optional part_I_of_N child namespace scopes tables to generation shard I of N")
        m
      case None => throw noSuchNamespace(namespace)
    }

  private def readOnly = new UnsupportedOperationException(
    s"catalog ${name()} is read-only: tables are generated, not stored")
  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = throw readOnly
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = throw readOnly
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw readOnly
  override def createTable(ident: Identifier, schema: org.apache.spark.sql.types.StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String]): Table = throw readOnly
  override def alterTable(ident: Identifier, changes: TableChange*): Table = throw readOnly
  override def dropTable(ident: Identifier): Boolean = throw readOnly
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = throw readOnly
}
