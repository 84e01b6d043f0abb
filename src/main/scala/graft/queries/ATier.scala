package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Engine, Profiler}
import graft.sources.{CsvSource, Tables}
import QueryUtil._

/**
 * Tier A — one oracle-checked query per operator the reference implements in
 * its own code (SURVEY.md §2.1, A1–A12). Where the behavior is the NL→SQL
 * engine path itself, the query goes through the REAL pipeline
 * ([[graft.Engine.answer]] / [[graft.Engine.executeSql]]), then gets a
 * deterministic ORDER BY wrapper so the driver's hash compare is stable.
 */
object ATier extends QueryRegistry {

  /** A1 — CSV source round-trip: parquet → CSV (RFC-4180 writer, A14) → CSV
    * scan with schema inference → aggregate. Values round-trip exactly
    * (shortest-repr doubles), so the oracle aggregates the parquet directly. */
  private val a01: Q = query("a01_csv_roundtrip_agg", oracle =
      ("SELECT l_returnflag, l_linestatus, COUNT(*) AS n, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")) { (spark, sfDir) =>
    val li = Tables(spark, sfDir, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
    CsvSource.write(li, s"$scratchDir/lineitem_csv")
    CsvSource.read(spark, s"$scratchDir/lineitem_csv")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** A2 — column profiler over `orders` (keyword + content-sniff semantics,
    * including the numeric-epoch quirk; see [[graft.Profiler]]). */
  private val a02: Q = query("a02_profile_columns", oracle =
      ("SELECT * FROM (VALUES " +
        "('o_orderkey','numeric','date'),('o_custkey','numeric','date')," +
        "('o_orderstatus','string','other'),('o_totalprice','numeric','date')," +
        "('o_orderdate','date','date'),('o_orderpriority','string','other')) " +
        "AS t(name, type, semantic_type) ORDER BY name")) { (spark, sfDir) =>
    import spark.implicits._
    Profiler.profile(Tables(spark, sfDir, "orders"))
      .map(c => (c.name, c.tpe, c.semanticType))
      .toDF("name", "type", "semantic_type")
      .orderBy("name")
  }

  /** A3 — projection through the arbitrary-SQL engine path (LIMIT present so
    * the A10 guard does not fire). */
  private val a03: Q = query("a03_projection", oracle =
      "SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders ORDER BY o_orderkey LIMIT 500") { (spark, sfDir) =>
    Engine.executeSql(spark, Tables(spark, sfDir, "orders"),
      "SELECT o_orderkey, o_totalprice, o_orderpriority FROM df " +
        "ORDER BY o_orderkey LIMIT 500").result
  }

  /** A4 — "which X" → GROUP BY + COUNT(*) through the full rule-based NL
    * pipeline (generate → validate → execute → collapse). */
  private val a04: Q = query("a04_rule_groupby_count", oracle =
      ("SELECT o_orderpriority, COUNT(*) as count FROM orders " +
        "GROUP BY o_orderpriority ORDER BY count DESC, o_orderpriority")) { (spark, sfDir) =>
    val orders = Tables(spark, sfDir, "orders")
    val res = Engine.answer(spark, orders, "Which o_orderpriority is most common?",
      Profiler.profile(orders), FixedNow).result
    res.orderBy(desc("count"), col("o_orderpriority"))
  }

  /** A5+A6+A7 — city equality filter AND last-month date range, conjunctive,
    * via the full NL pipeline over the incidents view. */
  private val a05: Q = query("a05_rule_city_lastmonth", oracle =
      (s"SELECT service_type, COUNT(*) as count FROM $IncidentsSql " +
        s"WHERE city = 'Mumbai' AND $lastMonth GROUP BY service_type ORDER BY service_type")) { (spark, sfDir) =>
    val inc = incidents(spark, sfDir)
    val res = Engine.answer(spark, inc,
      "Which service_type incidents happened in mumbai last month?",
      Profiler.profile(inc), FixedNow).result
    res.orderBy("service_type")
  }

  /** A6 — last-month range filter alone (`SELECT *` template) on a sparse
    * slice so the injected LIMIT 200 never truncates. */
  private val a06: Q = query("a06_rule_lastmonth_filter", oracle =
      (s"SELECT * FROM $IncidentsSql WHERE item_id % 97 = 0 AND $lastMonth ORDER BY item_id")) { (spark, sfDir) =>
    val inc = incidents(spark, sfDir).filter(col("item_id") % 97 === 0)
    val res = Engine.answer(spark, inc, "show all incidents from last month",
      Profiler.profile(inc), FixedNow).result
    res.orderBy("item_id")
  }

  /** A10 — LIMIT injection: no LIMIT in the submitted SQL, validator appends
    * `LIMIT 200`; with ORDER BY this plans as a real top-k
    * (TakeOrderedAndProject), not a full sort. */
  private val a07: Q = query("a07_limit_injection_topk", oracle =
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 200") { (spark, sfDir) =>
    Engine.executeSql(spark, Tables(spark, sfDir, "orders"),
      "SELECT o_orderkey, o_totalprice FROM df ORDER BY o_totalprice DESC, o_orderkey").result
  }

  /** A12 — duplicate-row collapse: the projection yields duplicate rows, so
    * the engine groups by all columns + count, sorted desc. The alias
    * `status_limit` contains "limit", demonstrating the reference's substring
    * LIMIT check (injection suppressed — `sql_generator.py:124`). */
  private val a08: Q = query("a08_dedup_collapse", oracle =
      ("SELECT o_orderstatus AS status_limit, o_orderpriority, COUNT(*) AS count " +
        "FROM orders GROUP BY 1, 2 ORDER BY count DESC, status_limit, o_orderpriority")) { (spark, sfDir) =>
    val res = Engine.executeSql(spark, Tables(spark, sfDir, "orders"),
      "SELECT o_orderstatus AS status_limit, o_orderpriority FROM df").result
    res.orderBy(desc("count"), col("status_limit"), col("o_orderpriority"))
  }

  private val lastMonth =
    "occurred_date >= '1998-07-01T00:00:00' AND occurred_date <= '1998-07-31T23:59:59'"
}
