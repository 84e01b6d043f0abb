package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.time.LocalDateTime
import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/**
 * Query executor — Spark replacement for the reference's execution path
 * (`/root/reference/app/routes/query.py:42-57`): where the reference
 * registers a pandas frame into an embedded DuckDB connection and fetches the
 * whole result back, we register the DataFrame as a temp view named `df`
 * (`query.py:43`) and let Catalyst + whole-stage codegen run the SQL
 * distributed. The NL question path is generate → validate → execute →
 * duplicate-collapse, exactly the reference pipeline (`query.py:33-57`).
 * A LIMIT-bounded answer runs as ONE Spark job and comes back as a local
 * snapshot of at most `MAX_ROWS_LIMIT` rows, like the reference's
 * `fetchdf()`; an unbounded one stays distributed (see [[collapseDuplicates]]).
 */
object Engine {

  /** Mirrors `QueryResult` (`app/schemas/models.py:24-26`):
    * a DataFrame instead of `rows: List[Dict]` — a local relation when the
    * result is LIMIT-bounded, a distributed plan otherwise. */
  case class QueryResult(sql: String, result: DataFrame)

  /**
   * The generator emits double-quoted identifiers (`sql_generator.py:8-10`,
   * DuckDB dialect); Spark SQL wants backticks unless
   * `spark.sql.ansi.doubleQuotedIdentifiers` is on. The rewrite is
   * quote-aware: double-quoted spans inside single-quoted string literals
   * (reachable via the arbitrary-SQL path) are left untouched, including
   * doubled-'' escapes.
   */
  def toSparkSql(sql: String): String = {
    val out = new StringBuilder(sql.length)
    var i = 0
    while (i < sql.length) {
      sql.charAt(i) match {
        case '\'' => // copy the single-quoted literal verbatim ('' = escape)
          out.append('\'')
          i += 1
          var done = false
          while (i < sql.length && !done) {
            val c = sql.charAt(i)
            out.append(c)
            i += 1
            if (c == '\'') {
              if (i < sql.length && sql.charAt(i) == '\'') { out.append('\''); i += 1 }
              else done = true
            }
          }
        case '"' => // identifier span → backticks ("" = escaped quote)
          val start = i
          i += 1
          val ident = new StringBuilder
          var closed = false
          while (i < sql.length && !closed) {
            val c = sql.charAt(i)
            if (c == '"') {
              // Doubled "" inside the span is an escaped literal " in the
              // identifier (SQL standard); emit it as-is in the backtick span
              // and double any backticks (Spark's own escape) so `a"b` and
              // `a\`b` both round-trip.
              if (i + 1 < sql.length && sql.charAt(i + 1) == '"') { ident.append('"'); i += 2 }
              else { closed = true; i += 1 }
            } else { ident.append(c); i += 1 }
          }
          if (!closed) out.append(sql.substring(start)) // unterminated: verbatim
          else out.append('`').append(ident.toString.replace("`", "``")).append('`')
        case c =>
          out.append(c)
          i += 1
      }
    }
    out.toString
  }

  /** Raised for the reference's HTTP-400 upload rejections
    * (`/root/reference/app/routes/upload.py:20-22`). */
  final class UploadException(msg: String, cause: Throwable = null)
      extends IllegalArgumentException(msg, cause)

  /**
   * Composed ingest entry point — port of `POST /upload`
   * (`/root/reference/app/routes/upload.py:16-30`): extension gate (`.csv`
   * else the reference's 400 "Only CSV files allowed") → CSV read with
   * schema inference (`pd.read_csv`) → column profiling (`profile_csv`).
   * Read errors surface as the reference's catch-all 400
   * ("Error reading CSV: …", `upload.py:31-33`).
   */
  def load(spark: SparkSession, path: String): (DataFrame, Seq[Profiler.ColumnInfo]) = {
    if (!path.endsWith(".csv"))
      throw new UploadException("Only CSV files allowed")
    try {
      val df = graft.sources.CsvSource.read(spark, path)
      (df, Profiler.profile(df))
    } catch {
      case e: Exception => throw new UploadException(s"Error reading CSV: ${e.getMessage}", e)
    }
  }

  /** Register + execute one validated SELECT over the session table `df`
    * (`query.py:42-45`), then apply the duplicate collapse (`query.py:49-57`). */
  def execute(spark: SparkSession, df: DataFrame, validatedSql: String): DataFrame = {
    df.createOrReplaceTempView("df")
    collapseDuplicates(spark.sql(toSparkSql(validatedSql)))
  }

  /**
   * Duplicate-row collapse, port of `query.py:49-57`: if the result contains
   * any fully-duplicated row, group by ALL columns with a `count` and sort by
   * count descending; otherwise pass through. Pandas `groupby` drops rows with
   * null group keys (`dropna=True` default); we replicate by dropping rows
   * with a null (or, as `na.drop` does, NaN) key in the collapse branch only.
   *
   * Scale notes: a result whose optimized plan bounds it to at most
   * `MAX_ROWS_LIMIT` rows — every rule-generated question and every SELECT
   * whose LIMIT the validator injected — is collected ONCE and collapsed on
   * the driver ([[collapseOnDriver]]). The answer is then a driver-side
   * snapshot of at most `MAX_ROWS_LIMIT` rows, as the reference's
   * `fetchdf()` is, and the caller's `collect()` runs no further job. Any
   * other result (an explicit LIMIT above the cap, or a "limit" that only
   * appears in an alias and so suppressed the injection) may be as large as
   * the input, so it keeps the distributed probe ([[collapseDistributed]]):
   * nothing is pulled to the driver unless the caller asks for it.
   */
  def collapseDuplicates(res: DataFrame): DataFrame =
    if (res.columns.isEmpty) res
    else if (boundedByLimit(res)) collapseOnDriver(res)
    else collapseDistributed(res)

  /** The driver path's precondition: the plan itself caps the row count at
    * `MAX_ROWS_LIMIT`, and every column is of a flat type whose `groupBy`
    * equality [[groupKey]] reproduces (nested, map, interval and collated
    * string columns take the distributed path). */
  private[graft] def boundedByLimit(res: DataFrame): Boolean =
    res.queryExecution.optimizedPlan.maxRows.exists(_ <= SqlValidator.MaxRowsLimit) &&
      res.schema.fields.forall(f => f.dataType match {
        case s: StringType => s.collationId == StringType.collationId
        case _: NumericType | BooleanType | BinaryType | DateType | TimestampType |
             TimestampNTZType | NullType => true
        case _ => false
      })

  /** A cell as `groupBy` compares it: null-safe (Scala `==`), NaN equal to
    * NaN and -0.0 equal to 0.0 (the canonical bits of `x + 0.0`), binary by
    * content (a bare `Array[Byte]` hashes by identity). */
  private def groupKey(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(d + 0.0)
    case f: Float => java.lang.Float.floatToIntBits(f + 0.0f)
    case b: Array[Byte] => ArraySeq.unsafeWrapArray(b)
    case other => other
  }

  /** One job: collect the bounded result, then probe and collapse the rows
    * in driver memory. The returned frame is a local relation. */
  private[graft] def collapseOnDriver(res: DataFrame): DataFrame = {
    val spark = res.sparkSession
    // bounded-collect: qa-answer-snapshot (maxRows ≤ MAX_ROWS_LIMIT, see boundedByLimit)
    val rows = res.collect()
    val keys = rows.map(r => r.toSeq.map(groupKey))
    if (keys.distinct.length == rows.length)
      return spark.createDataFrame(rows.toSeq.asJava, res.schema)
    require(!res.columns.contains("count"), "cannot insert count, already exists")
    val counts = mutable.LinkedHashMap.empty[Seq[Any], (Row, Long)]
    rows.iterator.zip(keys.iterator).foreach { case (r, k) =>
      val isNa = r.toSeq.exists {
        case null => true
        case d: Double => d.isNaN
        case f: Float => f.isNaN
        case _ => false
      }
      if (!isNa) counts.updateWith(k) {
        case Some((first, n)) => Some((first, n + 1))
        case None => Some((r, 1L))
      }
    }
    // groupBy emits normalized float keys (-0.0 as 0.0)
    val collapsed = counts.values.toSeq.sortBy(-_._2).map { case (r, n) =>
      Row.fromSeq(r.toSeq.map {
        case d: Double => d + 0.0
        case f: Float => f + 0.0f
        case v => v
      } :+ n)
    }
    spark.createDataFrame(collapsed.asJava,
      res.schema.add(StructField("count", LongType, nullable = false)))
  }

  /** The unbounded path: one hash aggregation computes the groups and a
    * `filter(count>1).limit(1)` probe on it decides the branch — two jobs
    * over one shuffle, no driver materialization. */
  private[graft] def collapseDistributed(res: DataFrame): DataFrame = {
    val cols = res.columns
    // Temp name so the probe never collides with a user column named `count`
    // (pandas only errors on that collision when duplicates actually exist).
    val tmpCnt = "__graft_count"
    // The duplicate PROBE runs on the FULL frame: pandas `duplicated()`
    // treats NaN == NaN, and Spark's groupBy is likewise null-safe — a pair
    // of identical null-keyed rows must trigger the collapse branch.
    val fullGrouped = res.groupBy(cols.map(col).toIndexedSeq: _*)
      .agg(count(lit(1)).as(tmpCnt))
    val hasDuplicates = fullGrouped.filter(col(tmpCnt) > 1).limit(1).count() > 0
    if (hasDuplicates) {
      // pandas parity: reset_index(name='count') raises if `count` exists
      require(!cols.contains("count"), "cannot insert count, already exists")
      // ...but the GROUPING itself drops null-keyed rows (groupby dropna=True)
      res.na.drop(cols.toIndexedSeq)
        .groupBy(cols.map(col).toIndexedSeq: _*)
        .agg(count(lit(1)).as("count"))
        .orderBy(desc("count"))
    } else res
  }

  /**
   * Full NL pipeline (rule-based path of `query.py:33-45`): profile-provided
   * columns → rule SQL → validator → execute. The AI path (`query.py:34`,
   * network LLM) is out of engine scope; its contract — "execute an arbitrary
   * validated SELECT" — is [[executeSql]].
   */
  def answer(spark: SparkSession, df: DataFrame, question: String,
             columnsInfo: Seq[Profiler.ColumnInfo], now: LocalDateTime): QueryResult = {
    val sql = RuleSqlGenerator.generate(question, columnsInfo, now)
    val validated = SqlValidator.validate(sql, columnsInfo.map(_.name))
    QueryResult(validated, execute(spark, df, validated))
  }

  /** The AI-path contract: any externally produced SELECT, validated then
    * run. The validator keeps the reference's substring semantics for parity;
    * deployments wanting plan-level hardening (catching side-effecting
    * statements the blocklist misses, e.g. `CACHE TABLE … AS SELECT`) should
    * additionally call [[graft.plans.ReadOnlyGuard.assertReadOnly]] and set
    * `spark.graft.maxRows` for the optimizer-rule row cap
    * ([[graft.plans.EnforceMaxRows]]). */
  def executeSql(spark: SparkSession, df: DataFrame, sql: String): QueryResult = {
    val validated = SqlValidator.validate(sql, df.columns.toIndexedSeq)
    QueryResult(validated, execute(spark, df, validated))
  }
}
