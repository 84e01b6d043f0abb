package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared helpers for the oracle-checked query inventory. */
object QueryUtil {

  /** One scratch dir per JVM for the source round-trip queries, deleted on
    * exit — per-invocation createTempDirectory leaked a full table copy per
    * bench/verify run. */
  lazy val scratchDir: String =
    org.apache.spark.sql.graft.ScratchDir.create("graft_scratch").toString

  /**
   * Order-independent, engine-exact sum of a double "money" column.
   *
   * A plain `sum(double)` differs between Spark and DuckDB in the last ulps
   * because summation order differs; casting each value to DECIMAL(18,2) first
   * makes the sum exact and associative, so both engines produce the identical
   * double after the final cast. Oracle spelling:
   * `CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`.
   */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Exact mean via decimal sum / count (same determinism argument). */
  def davg(c: Column): Column =
    (sum(c.cast(DecimalType(18, 2))).cast("double") / count(lit(1))).cast("double")

  /** Cities of the reference list (`sql_generator.py:61`), capitalized. */
  val CityNames: Seq[String] = graft.RuleSqlGenerator.Cities.map(_.capitalize)

  /**
   * Deterministic "incidents" view over `orders`, shaped like the reference's
   * implied domain (`/root/reference/README.md:42`: service/city/date
   * columns). Column names are chosen so the reference profiler semantics land
   * where the demo needs them: `city` → city keyword, `occurred_date` → date
   * keyword (and timestamp dtype), `service_type` → service keyword.
   */
  def incidents(spark: SparkSession, sfDir: String): DataFrame = {
    val o = graft.sources.Tables(spark, sfDir, "orders")
    val cityCase = CityNames.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (name, i)) => when(pmod(col("o_custkey"), lit(8)) === i, lit(name)).otherwise(acc)
    }
    o.select(
      col("o_orderkey").as("item_id"),
      col("o_orderpriority").as("service_type"),
      cityCase.as("city"),
      col("o_orderdate").as("occurred_date"))
  }

  /** DuckDB-side equivalent of [[incidents]] as a FROM-able subquery. */
  val IncidentsSql: String = {
    val cases = CityNames.zipWithIndex
      .map { case (n, i) => s"WHEN $i THEN '$n'" }.mkString(" ")
    s"""(SELECT o_orderkey AS item_id, o_orderpriority AS service_type,
       | CASE CAST(o_custkey % 8 AS INT) $cases END AS city,
       | o_orderdate AS occurred_date FROM orders)""".stripMargin.replace("\n", " ")
  }

  /** Fixed clock for every "last month" query — reference calls
    * `datetime.now()` (`sql_generator.py:13`); we inject mid-range of the
    * orders table's 1995–2001 dates for reproducibility. */
  val FixedNow: java.time.LocalDateTime = java.time.LocalDateTime.of(1998, 8, 15, 10, 30, 0)
}
