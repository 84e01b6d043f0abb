package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (`TESTDATA.md`). Parquet
  * scans are columnar and Catalyst pushes filters/pruning into them — every
  * query should show `PushedFilters`/`ReadSchema` reaching these scans. */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else spark.read.parquet(s"$sfDir/$name.parquet")

  /** `events.ts` has shipped in two parquet physical forms across testdata
    * generations: INT64 TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects — read as long via the legacy conf, then convert) and native
    * TIMESTAMP(MICROS) without UTC adjustment (which Spark reads as
    * TIMESTAMP_NTZ). The conf is session-scoped and must hold at BOTH schema
    * inference and scan execution, so it cannot be restored after the read —
    * a documented side effect (the conf has a registered default, so an
    * explicit caller "false" is indistinguishable from the default).
    * Production alternative: a dedicated session (`spark.newSession()`) per
    * ingest of nanos-timestamped data. */
  private[graft] def ensureNanosAsLong(spark: SparkSession): Unit = {
    if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true") // session-mutation: must hold at scan
    // Map non-UTC-adjusted parquet timestamps to session-zone TimestampType AT
    // THE SCAN (session tz is UTC, so the instant is unchanged) instead of
    // inferring TIMESTAMP_NTZ and casting after. The cast form blocks
    // predicate pushdown on ts — the deciding property at scale, where a
    // time-range filter must prune row groups inside the parquet scan.
    if (!spark.conf.getOption("spark.sql.parquet.inferTimestampNTZ.enabled").contains("false"))
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false") // session-mutation: must hold at scan
  }

  /** Normalize whatever physical form `ts` arrived in to one logical schema:
    * session-zone `TimestampType` at µs precision (sub-µs is below every
    * query's granularity). Schema-adaptive so the engine is robust to the
    * producer's parquet writer version — the deciding property at ingest
    * scale, where upstream writers change under you:
    *   - long (nanos via the legacy conf)  → `timestamp_micros(ns div 1000)`
    *   - TIMESTAMP_NTZ (µs, no UTC flag)   → cast (session tz is UTC, so the
    *     wall-clock value becomes the same UTC instant DuckDB reads)
    *   - TimestampType                     → already normalized, no-op */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  private def events(spark: SparkSession, sfDir: String): DataFrame = {
    ensureNanosAsLong(spark)
    normalizeEventTs(spark.read.parquet(s"$sfDir/events.parquet"))
  }

  /** Register every table as a temp view (multi-table SQL surface). A
    * builder calls this only on a fresh session of its own
    * ([[graft.queries.QueryRegistry]]'s `sqlQuery`), never on the session it
    * is given. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    All.foreach(n => apply(spark, sfDir, n).createOrReplaceTempView(n)) // session-mutation: the caller's choice of session
}
