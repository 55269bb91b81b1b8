package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, hash, lit, sum}
import org.scalatest.funsuite.AnyFunSuite

/** One shared session for the whole test run (Spark boot is ~5s;
  * per-suite sessions would dominate test time). */
object TestSession {
  lazy val spark: SparkSession = Sessions.local("graft-test", cpus = 4)
  val sfDir = "/root/testdata/sf0.001"
  val sfDir01 = "/root/testdata/sf0.01"
}

abstract class SparkSpecBase extends AnyFunSuite {
  def spark: SparkSession = TestSession.spark
  def sfDir: String = TestSession.sfDir

  /** Cancels the test unless `python3` can import DuckDB, the oracle engine. */
  protected def assumeDuckdb(): Unit = {
    import scala.sys.process._
    assume(Seq("python3", "-c", "import duckdb").!(ProcessLogger(_ => ())) == 0,
      "python3 with duckdb is not installed")
  }

  /** Order-insensitive (row count, Σ hash over the name-sorted columns). */
  protected def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(hash(df.columns.sorted.toSeq.map(col): _*).cast("long"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}
