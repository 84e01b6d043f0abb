package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables
import QueryUtil._

/**
 * Tier B — the reachable query surface (SURVEY.md §2.2): the reference's AI
 * path executes arbitrary DuckDB SELECTs over the registered table, so the
 * engine must cover general single/multi-table SQL. One oracle-checked query
 * per category, written DataFrame-first so Catalyst plans pushdown, broadcast
 * vs shuffle joins, partial aggregation and top-k without hand-holding.
 *
 * Determinism rules (SURVEY.md §7.5): decimal-cast sums ([[QueryUtil.dsum]]),
 * full-key ORDER BY everywhere, no wall-clock, UTC session.
 */
object BTier extends QueryRegistry {

  private val dec = DecimalType(18, 2)

  /** Aggregation: TPC-H Q1 shape — partial+final hash agg behind one shuffle. */
  private val b01: Q = query("b01_agg_tpch_q1", oracle =
      (s"""SELECT l_returnflag, l_linestatus, ${dsumSql("l_quantity")} AS sum_qty,
         | ${dsumSql("l_extendedprice")} AS sum_base_price,
         | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
         | ${dsumSql("l_quantity")}/COUNT(*) AS avg_qty,
         | ${dsumSql("l_extendedprice")}/COUNT(*) AS avg_price,
         | COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= '1998-09-01'
         |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""
        .stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    Tables(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-01"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        // inputs cast to decimal BEFORE multiplying: casting the computed
        // double product instead hits rounding-tie differences between
        // Spark (HALF_UP) and DuckDB (half-even) on exact .xx5 values
        sum(col("l_extendedprice").cast(dec) * (lit(1) - col("l_discount").cast(dec)))
          .cast("double").as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Join (broadcast): fact×two dims — dims are broadcast, no shuffle of the
    * fact side beyond the final aggregation exchange. */
  private val b02: Q = query("b02_join_broadcast_dims", oracle =
      (s"""SELECT n_name, COUNT(*) AS n_orders, ${dsumSql("o_totalprice")} AS revenue
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    val o = Tables(spark, sfDir, "orders")
    val c = Tables(spark, sfDir, "customer")
    val n = Tables(spark, sfDir, "nation")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("n_name")
  }

  /** Join (large-large): lineitem⨝orders shuffles on the join key; AQE picks
    * sort-merge vs shuffled-hash at runtime. */
  private val b03: Q = query("b03_join_large_shuffle", oracle =
      (s"""SELECT o_orderpriority, COUNT(*) AS n_lines, ${dsumSql("l_extendedprice")} AS sum_price
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    val li = Tables(spark, sfDir, "lineitem")
    val o = Tables(spark, sfDir, "orders")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"), dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** Self-join (+HAVING): order pairs per customer — the only join shape the
    * reference can reach (one table joined with itself). */
  private val b04: Q = query("b04_self_join_having", oracle =
      ("""SELECT a.o_custkey AS custkey, COUNT(*) AS n_pairs
         |FROM orders a JOIN orders b ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
         |GROUP BY a.o_custkey HAVING COUNT(*) >= 45 ORDER BY custkey""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    val a = Tables(spark, sfDir, "orders").as("a")
    val b = Tables(spark, sfDir, "orders").as("b")
    a.join(b, col("a.o_custkey") === col("b.o_custkey") &&
        col("a.o_orderkey") < col("b.o_orderkey"))
      .groupBy(col("a.o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n_pairs"))
      .filter(col("n_pairs") >= 45)
      .orderBy("custkey")
  }

  /** Semi join (EXISTS). */
  private val b05: Q = query("b05_semi_join", oracle =
      ("""SELECT c_custkey FROM customer WHERE EXISTS (
         |SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         |ORDER BY c_custkey""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    val c = Tables(spark, sfDir, "customer")
    val urgent = Tables(spark, sfDir, "orders").filter(col("o_orderpriority") === "1-URGENT")
    c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_semi")
      .select("c_custkey").orderBy("c_custkey")
  }

  /** Anti join (NOT EXISTS) — against a FILTERED right side (customers
    * with no 1-URGENT order, the complement of b05's semi) so the result
    * is non-empty at every SF: every generated customer has *some* order,
    * so the unfiltered form returned 0 rows and a broken anti-join that
    * always returned empty would have passed. */
  private val b06: Q = query("b06_anti_join", oracle =
      ("""SELECT c_custkey FROM customer WHERE NOT EXISTS (
         |SELECT 1 FROM orders WHERE o_custkey = c_custkey
         | AND o_orderpriority = '1-URGENT') ORDER BY c_custkey"""
        .stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    val c = Tables(spark, sfDir, "customer")
    val urgent = Tables(spark, sfDir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_anti")
      .select("c_custkey").orderBy("c_custkey")
  }

  /** Window: per-partition top-n via row_number with a full tiebreak. */
  private val b07: Q = query("b07_window_topn", oracle =
      ("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
         |SELECT o_custkey, o_orderkey, o_totalprice,
         | ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
         |FROM orders) t WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), col("o_orderkey"))
    Tables(spark, sfDir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
      .orderBy("o_custkey", "rn")
  }

  /** Window: running sum + lag over an ordered frame (decimal-cast inputs so
    * the running sum is exact in both engines). */
  private val b08: Q = query("b08_window_running_lag", oracle =
      ("""SELECT o_custkey, o_orderkey,
         | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running,
         | LAG(o_totalprice, 1) OVER (
         |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price
         |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables(spark, sfDir, "orders")
      .withColumn("running",
        sum(col("o_totalprice").cast(dec)).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double"))
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .select("o_custkey", "o_orderkey", "running", "prev_price")
      .orderBy("o_custkey", "o_orderkey")
  }

  /** ROLLUP — subtotal grouping sets; null keys sentineled for the compare. */
  private val b09: Q = query("b09_rollup", oracle =
      (s"""SELECT COALESCE(l_returnflag,'ALL') AS flag, COALESCE(l_linestatus,'ALL') AS status,
         | COUNT(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY flag, status""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    Tables(spark, sfDir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"), col("n"), col("sum_qty"))
      .orderBy("flag", "status")
  }

  /** CUBE — all grouping combinations. */
  private val b10: Q = query("b10_cube", oracle =
      (s"""SELECT COALESCE(o_orderstatus,'ALL') AS status, COALESCE(o_orderpriority,'ALL') AS priority,
         | COUNT(*) AS n, ${dsumSql("o_totalprice")} AS total
         |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         |ORDER BY status, priority""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    Tables(spark, sfDir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"), col("n"), col("total"))
      .orderBy("status", "priority")
  }

  /** Set ops: EXCEPT + INTERSECT (+UNION ALL of the two branches). */
  private val b11: Q = query("b11_set_ops", oracle =
      ("""SELECT 'no_orders' AS tag, k FROM (
         |  SELECT c_custkey AS k FROM customer EXCEPT SELECT o_custkey FROM orders) t1
         |UNION ALL
         |SELECT 'has_orders' AS tag, k FROM (
         |  SELECT c_custkey AS k FROM customer INTERSECT SELECT o_custkey FROM orders) t2
         |ORDER BY tag, k""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    val custKeys = Tables(spark, sfDir, "customer").select(col("c_custkey").as("k"))
    val orderKeys = Tables(spark, sfDir, "orders").select(col("o_custkey").as("k"))
    val noOrders = custKeys.except(orderKeys).withColumn("tag", lit("no_orders"))
    val hasOrders = custKeys.intersect(orderKeys).withColumn("tag", lit("has_orders"))
    noOrders.unionAll(hasOrders).select("tag", "k").orderBy("tag", "k")
  }

  /** DISTINCT. */
  private val b12: Q = query("b12_distinct", oracle =
      ("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem " +
        "ORDER BY l_returnflag, l_linestatus")) { (spark, sfDir) =>
    Tables(spark, sfDir, "lineitem")
      .select("l_returnflag", "l_linestatus").distinct()
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** COUNT(DISTINCT) — two distinct aggregates in one pass (Spark expands). */
  private val b13: Q = query("b13_count_distinct", oracle =
      ("SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_orders, " +
        "COUNT(DISTINCT l_suppkey) AS n_supps FROM lineitem " +
        "GROUP BY l_returnflag ORDER BY l_returnflag")) { (spark, sfDir) =>
    Tables(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_suppkey")).as("n_supps"))
      .orderBy("l_returnflag")
  }

  /** approx_count_distinct (HLL++) — the 100TB-scale path for distinct
    * counting. The sketch value itself is engine-specific (DuckDB's HLL is
    * not bit-comparable), so the query emits the exact count as the
    * oracle-checked column and asserts the sketch INSIDE the query: a
    * boolean "within 15% relative error" flag — 3× the HLL++ default rsd of
    * 0.05 (observed per-SF errors reach 1.7σ; the sketch is deterministic
    * for fixed data, so the flag is reproducible). The oracle states the
    * exact counts and expects every flag to be 1. */
  private val b14: Q = query("b14_approx_count_distinct", oracle =
      ("SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS exact_orders, " +
        "1 AS approx_ok FROM lineitem " +
        "GROUP BY l_returnflag ORDER BY l_returnflag")) { (spark, sfDir) =>
    Tables(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"),
        approx_count_distinct(col("l_orderkey")).as("approx"))
      .select(col("l_returnflag"), col("exact_orders"),
        (abs(col("approx") - col("exact_orders")).cast("double") /
          col("exact_orders").cast("double") <= 0.15).cast("int").as("approx_ok"))
      .orderBy("l_returnflag")
  }

  /** Scalar string/math functions (codegen'd builtins, no UDFs). */
  private val b15: Q = query("b15_scalar_funcs", oracle =
      ("""SELECT p_partkey, UPPER(p_brand) AS ub, LENGTH(p_name) AS name_len,
         | SUBSTR(p_type, 1, 5) AS type5, ROUND(p_retailprice/7.0, 2) AS price7,
         | ABS(p_size - 25) AS size_dev, p_brand || '#' || p_type AS brand_type
         |FROM part ORDER BY p_partkey""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    Tables(spark, sfDir, "part")
      .select(col("p_partkey"),
        upper(col("p_brand")).as("ub"),
        length(col("p_name")).as("name_len"),
        substring(col("p_type"), 1, 5).as("type5"),
        round(col("p_retailprice") / 7.0, 2).as("price7"),
        abs(col("p_size") - 25).as("size_dev"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"))
      .orderBy("p_partkey")
  }

  /** Date/time functions. */
  private val b16: Q = query("b16_date_funcs", oracle =
      ("""SELECT o_orderkey, CAST(YEAR(o_orderdate) AS INT) AS y, CAST(MONTH(o_orderdate) AS INT) AS m,
         | CAST(QUARTER(o_orderdate) AS INT) AS q,
         | CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
         | CAST(DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS INT) AS days_to_98
         |FROM orders ORDER BY o_orderkey""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        quarter(col("o_orderdate")).as("q"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        datediff(lit("1998-01-01").cast("date"), col("o_orderdate").cast("date")).as("days_to_98"))
      .orderBy("o_orderkey")
  }

  /** CASE WHEN bucketing + aggregation. */
  private val b17: Q = query("b17_case_when", oracle =
      (s"""SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
         | WHEN o_totalprice < 150000 THEN 'mid' ELSE 'high' END AS bucket,
         | COUNT(*) AS n, ${dsumSql("o_totalprice")} AS total
         |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    Tables(spark, sfDir, "orders")
      .withColumn("bucket",
        when(col("o_totalprice") < 50000, "low")
          .when(col("o_totalprice") < 150000, "mid")
          .otherwise("high"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("bucket")
  }

  /** Scalar subquery — threshold computed exactly (decimal sum / count) so
    * both engines filter on the identical double. */
  private val b18: Q = sqlQuery("b18_subquery_scalar", oracle =
      (s"""SELECT o_orderpriority, COUNT(*) AS n, ${dsumSql("o_totalprice")} AS total
         |FROM orders WHERE o_totalprice > (
         | SELECT ${dsumSql("o_totalprice")}/COUNT(*) FROM orders)
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin.replace("\n", " ")))

  /** IN subquery (plans as a semi join). */
  private val b19: Q = sqlQuery("b19_subquery_in", oracle =
      ("""SELECT o_orderstatus, COUNT(*) AS n FROM orders
         |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin.replace("\n", " ")))

  /** CTE + multi-table join — same ANSI text runs on Spark and DuckDB. */
  private val b20: Q = sqlQuery("b20_cte_multitable", oracle =
      """WITH cust_orders AS (
        |  SELECT o_custkey, COUNT(*) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM orders GROUP BY o_custkey)
        |SELECT c_mktsegment, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(total AS DECIMAL(18,2))) AS DOUBLE) AS seg_total
        |FROM customer JOIN cust_orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin.replace("\n", " "))

  /** Correlated scalar subqueries (Catalyst decorrelates them into
    * aggregate + left outer join — no per-row re-execution; COUNT over the
    * empty correlation group correctly yields 0, the classic "COUNT bug"). */
  private val b34: Q = sqlQuery("b34_correlated_scalar", oracle =
      (s"""SELECT c_custkey,
         | CAST((SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS BIGINT) AS n_orders,
         | (SELECT COALESCE(${dsumSql("o_totalprice")}, 0.0)
         |  FROM orders WHERE o_custkey = c_custkey) AS spend
         |FROM customer ORDER BY c_custkey""".stripMargin.replace("\n", " ")),
    sparkSql =
      """SELECT c_custkey,
        |  (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders,
        |  (SELECT COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0)
        |   FROM orders WHERE o_custkey = c_custkey) AS spend
        |FROM customer ORDER BY c_custkey""".stripMargin)

  /** LATERAL correlated subquery: top order per customer — plans as a
    * window-style per-key top-1, not a per-row subquery loop. */
  private val b35: Q = sqlQuery("b35_lateral_topk", oracle =
      ("""SELECT c_custkey, t.o_orderkey, t.o_totalprice
         |FROM customer, LATERAL (
         | SELECT o_orderkey, o_totalprice FROM orders
         | WHERE o_custkey = c_custkey
         | ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
         |ORDER BY c_custkey""".stripMargin.replace("\n", " ")))

  /** Recursive CTE (Spark 4 surface): a generated 1995–1996 month spine
    * LEFT-joined to orders — the calendar-spine analytics pattern, with
    * empty months surviving as zero rows. Identical ANSI text runs in
    * DuckDB; `make_date` keys both sides (Spark's DATE_TRUNC returns
    * TIMESTAMP while DuckDB's returns DATE, so it can't be the join key). */
  private val b36: Q = sqlQuery("b36_recursive_cte", oracle =
      """WITH RECURSIVE n(i) AS (
        |  SELECT 0 UNION ALL SELECT i + 1 FROM n WHERE i < 23),
        |months AS (
        |  SELECT make_date(1995 + CAST(FLOOR(i / 12) AS INT), 1 + i % 12, 1) AS month FROM n)
        |SELECT month, COUNT(o_orderkey) AS n_orders,
        |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS spend
        |FROM months LEFT JOIN orders
        |  ON make_date(CAST(YEAR(o_orderdate) AS INT), CAST(MONTH(o_orderdate) AS INT), 1) = month
        |GROUP BY month ORDER BY month""".stripMargin.replace("\n", " "))

  /** ORC source/sink round-trip (columnar format beyond parquet/CSV/JSON):
    * parquet → ORC write → ORC scan → aggregate. ORC round-trips the exact
    * binary doubles, so the oracle aggregates the parquet directly. */
  private val b37: Q = query("b37_orc_roundtrip_agg", oracle =
      (s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         | ${dsumSql("o_totalprice")} AS total
         |FROM orders GROUP BY o_orderstatus, o_orderpriority
         |ORDER BY o_orderstatus, o_orderpriority""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    val path = s"$scratchDir/orders_orc"
    Tables(spark, sfDir, "orders")
      .select("o_orderstatus", "o_orderpriority", "o_totalprice")
      .write.mode("overwrite").orc(path)
    spark.read.orc(path)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  /** Window frame zoo: ntile, percent_rank, cume_dist, first/last_value with
    * explicit ROWS frames, and a bounded ROWS running sum — one pass over a
    * single (partition, order) pair so all functions share one sort. The
    * in-partition order is unique (totalprice DESC, orderkey) so every
    * rank-family output is deterministic. */
  private val b38: Q = query("b38_window_frames", oracle =
      ("""SELECT o_custkey, o_orderkey,
         | CAST(NTILE(4) OVER w AS INT) AS quartile,
         | PERCENT_RANK() OVER w AS pr,
         | CUME_DIST() OVER w AS cd,
         | FIRST_VALUE(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS best_key,
         | LAST_VALUE(o_orderkey) OVER (w ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS worst_key,
         | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
         |   OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum3
         |FROM orders
         |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
         |ORDER BY o_custkey, o_orderkey""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), col("o_orderkey"))
    Tables(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        first_value(col("o_orderkey"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("best_key"),
        last_value(col("o_orderkey"))
          .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing)).as("worst_key"),
        sum(col("o_totalprice").cast(dec))
          .over(w.rowsBetween(-2, Window.currentRow)).cast("double").as("sum3"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Collection aggregation: per-group sorted distinct list rendered to a
    * string (engine-portable form of collect_set/string_agg) plus list
    * cardinality. */
  private val b39: Q = query("b39_collect_agg", oracle =
      ("""SELECT o_orderstatus,
         | array_to_string(list_sort(list(DISTINCT o_orderpriority)), '|') AS priorities,
         | CAST(COUNT(DISTINCT o_orderpriority) AS INT) AS n_pri,
         | array_to_string(list_sort(list(DISTINCT CAST(CAST(YEAR(o_orderdate) AS INT) AS VARCHAR))), '|') AS years
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    Tables(spark, sfDir, "orders")
      .groupBy("o_orderstatus")
      .agg(array_join(sort_array(collect_set(col("o_orderpriority"))), "|").as("priorities"),
        size(collect_set(col("o_orderpriority"))).as("n_pri"),
        array_join(sort_array(collect_set(year(col("o_orderdate")).cast("string"))), "|").as("years"))
      .orderBy("o_orderstatus")
  }

  /** UNPIVOT: wide per-status counts folded back to (key, value) rows with
    * `stack` — the inverse of b23's pivot, pure map-side (the stack itself
    * adds no shuffle; only the preceding agg exchanges). */
  private val b40: Q = query("b40_unpivot_stack", oracle =
      ("""WITH wide AS (SELECT o_orderpriority,
         |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
         |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
         |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_partial
         | FROM orders GROUP BY o_orderpriority)
         |SELECT o_orderpriority, status, n FROM (
         | SELECT o_orderpriority, 'O' AS status, n_open AS n FROM wide
         | UNION ALL SELECT o_orderpriority, 'F', n_filled FROM wide
         | UNION ALL SELECT o_orderpriority, 'P', n_partial FROM wide) u
         |ORDER BY o_orderpriority, status""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    Tables(spark, sfDir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_open"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_filled"),
        sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L)).as("n_partial"))
      .selectExpr("o_orderpriority",
        "stack(3, 'O', n_open, 'F', n_filled, 'P', n_partial) AS (status, n)")
      .orderBy("o_orderpriority", "status")
  }

  /** Schema-projected JSON parsing: `from_json` with an explicit struct
    * schema (vs b21's path-expression `get_json_object`) — the shape that
    * lets Catalyst prune unused JSON fields and type the result once. */
  private val b41: Q = query("b41_from_json_struct", oracle =
      ("""WITH t AS (SELECT event_type,
         |  CAST(REGEXP_EXTRACT(props, '"k":\s*(-?\d+)', 1) AS INT) AS k FROM events)
         |SELECT event_type, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k
         |FROM t WHERE k >= 50
         |GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    Tables(spark, sfDir, "events")
      .withColumn("j", from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k INT")))
      .select(col("event_type"), col("j.k").as("k"))
      .filter(col("k") >= 50)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("k").cast("long")).as("sum_k"))
      .orderBy("event_type")
  }

  /** JSON extraction from the events.props string column. */
  private val b21: Q = query("b21_json_extract", oracle =
      ("""SELECT event_type, COUNT(*) AS n,
         | CAST(SUM(CAST(REGEXP_EXTRACT(props, '"k":\s*(-?\d+)', 1) AS INT)) AS BIGINT) AS sum_k
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    Tables(spark, sfDir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(get_json_object(col("props"), "$.k").cast("int")).as("sum_k"))
      .orderBy("event_type")
  }

  /** Tumbling time window (batch analog of the streaming agg) — window start
    * emitted as a string so ns-vs-µs parquet encodings can't skew the compare. */
  private val b22: Q = query("b22_time_window", oracle =
      (s"""SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
         | COUNT(*) AS n, ${dsumSql("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    Tables(spark, sfDir, "events")
      .groupBy(window(col("ts"), "1 hour").getField("start").as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(date_format(col("hour_start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("hour", "event_type")
  }

  /** Pivot (conditional aggregation in the oracle). */
  private val b23: Q = query("b23_pivot", oracle =
      ("""SELECT l_returnflag,
         | CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
         | CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    Tables(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .count()
      .na.fill(0, Seq("F", "O"))
      .orderBy("l_returnflag")
  }

  /** Descriptive statistics with deterministic arithmetic: variance/stddev
    * from exact decimal sums ((Σx² − (Σx)²/n)/(n−1)) instead of the engines'
    * streaming variance (whose merge order differs). */
  private val b24: Q = query("b24_stats_variance", oracle =
      ("""WITH s AS (SELECT o_orderstatus, COUNT(*) AS n,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sq
         | FROM orders GROUP BY o_orderstatus)
         |SELECT o_orderstatus, n, ROUND((sq - s*s/n)/(n-1), 2) AS variance,
         | ROUND(SQRT((sq - s*s/n)/(n-1)), 4) AS stddev
         |FROM s ORDER BY o_orderstatus""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    Tables(spark, sfDir, "orders")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(dec)).cast("double").as("s"),
        sum(col("o_totalprice").cast(dec) * col("o_totalprice").cast(dec)).cast("double").as("sq"))
      // round: the decimal→double CAST is correctly-rounded on the JVM but
      // double-divided in DuckDB — a 1-ulp seed difference that the
      // catastrophic cancellation in (sq − s²/n) amplifies at larger SFs
      .select(col("o_orderstatus"), col("n"),
        round((col("sq") - col("s") * col("s") / col("n")) / (col("n") - 1), 2).as("variance"),
        round(sqrt((col("sq") - col("s") * col("s") / col("n")) / (col("n") - 1)), 4).as("stddev"))
      .orderBy("o_orderstatus")
  }

  /** LIKE / pattern filters. */
  private val b25: Q = query("b25_like_patterns", oracle =
      ("""SELECT p_brand, COUNT(*) AS n FROM part
         |WHERE p_name LIKE '%green%' OR p_type LIKE 'SMALL%'
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    Tables(spark, sfDir, "part")
      .filter(col("p_name").like("%green%") || col("p_type").like("SMALL%"))
      .groupBy("p_brand").agg(count(lit(1)).as("n"))
      .orderBy("p_brand")
  }

  /** GROUPING SETS (via SQL — the general grouping-set surface). */
  private val b26: Q = sqlQuery("b26_grouping_sets", oracle =
      ("""SELECT COALESCE(l_returnflag, 'ALL') AS flag, COALESCE(l_linestatus, 'ALL') AS status,
         | COUNT(*) AS n
         |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         |ORDER BY flag, status""".stripMargin.replace("\n", " ")))

  /** UNION (distinct) — vs the UNION ALL in b11. */
  private val b27: Q = query("b27_union_distinct", oracle =
      ("""SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
         |UNION
         |SELECT o_custkey AS k FROM orders WHERE o_totalprice > 400000
         |ORDER BY k""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    val o = Tables(spark, sfDir, "orders")
    o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey").as("k"))
      .union(o.filter(col("o_totalprice") > 400000).select(col("o_custkey").as("k")))
      .distinct()
      .orderBy("k")
  }

  /** String functions: trim/pad/replace/reverse/split_part-style access. */
  private val b28: Q = query("b28_string_funcs", oracle =
      ("""SELECT p_partkey, TRIM(p_name) AS t, LPAD(p_brand, 12, '*') AS lp,
         | REGEXP_REPLACE(p_type, '[aeiou]', '_', 'g') AS novowel,
         | REVERSE(p_brand) AS rev,
         | STRING_SPLIT(p_type, ' ')[1] AS first_word
         |FROM part ORDER BY p_partkey""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    Tables(spark, sfDir, "part")
      .select(col("p_partkey"),
        trim(col("p_name")).as("t"),
        lpad(col("p_brand"), 12, "*").as("lp"),
        regexp_replace(col("p_type"), "[aeiou]", "_").as("novowel"),
        reverse(col("p_brand")).as("rev"),
        element_at(split(col("p_type"), " "), 1).as("first_word"))
      .orderBy("p_partkey")
  }

  /** NULL handling: NULLIF / COALESCE / null-aware aggregation. */
  private val b29: Q = query("b29_null_funcs", oracle =
      ("""SELECT COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS st2,
         | COUNT(*) AS n_rows, COUNT(NULLIF(o_orderstatus, 'O')) AS n_nonnull
         |FROM orders GROUP BY 1 ORDER BY st2""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"),
        nullif(col("o_orderstatus"), lit("O")).as("st"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("st2"))
      .groupBy("st2")
      .agg(count(lit(1)).as("n_rows"), count(col("st")).as("n_nonnull"))
      .orderBy("st2")
  }

  /** JSON source + sink roundtrip: events subset → JSON lines → schema
    * inference → aggregate (values roundtrip exactly: shortest-repr doubles). */
  private val b30: Q = query("b30_json_roundtrip_agg", oracle =
      (s"""SELECT event_type, COUNT(*) AS n, ${dsumSql("value")} AS sum_value,
         | MAX(event_id) AS max_id
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    val ev = Tables(spark, sfDir, "events").select("event_id", "event_type", "value")
    ev.write.mode("overwrite").json(s"${QueryUtil.scratchDir}/events_json")
    spark.read.json(s"${QueryUtil.scratchDir}/events_json")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
        max(col("event_id")).as("max_id"))
      .orderBy("event_type")
  }

  /** LEFT OUTER join with null-safe aggregation. The aggregate is pushed
    * BELOW the join (Catalyst doesn't do this rewrite itself): aggregating
    * the fact side first means the shuffle carries one row per customer
    * instead of one per order, and the left join runs dim-vs-dim — at 100 TB
    * the difference between shuffling the fact table and shuffling its
    * partial-agg output. Identical result: o_orderkey is never null, so
    * per-key COUNT(*) before the join == COUNT(o_orderkey) after it, and
    * match-less customers surface as nulls → COALESCE 0 either way. */
  private val b31: Q = query("b31_left_outer_join", oracle =
      (s"""SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
         | COALESCE(${dsumSql("o_totalprice")}, 0.0) AS total
         |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    val c = Tables(spark, sfDir, "customer")
    val o = Tables(spark, sfDir, "orders")
    val oAgg = o.groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("t"))
    c.select("c_custkey").join(oAgg, Seq("c_custkey"), "left")
      .select(col("c_custkey"),
        coalesce(col("n"), lit(0L)).as("n_orders"),
        coalesce(col("t"), lit(0.0)).as("total"))
      .orderBy("c_custkey")
  }

  /** FULL OUTER join over partially-overlapping key sets. */
  private val b32: Q = query("b32_full_outer_join", oracle =
      ("""SELECT COALESCE(k1, k2) AS k,
         | CASE WHEN k1 IS NULL THEN 'right_only'
         |  WHEN k2 IS NULL THEN 'left_only' ELSE 'both' END AS side
         |FROM (SELECT c_custkey AS k1 FROM customer WHERE c_custkey % 2 = 0) a
         |FULL OUTER JOIN (SELECT DISTINCT o_custkey AS k2 FROM orders
         |  WHERE o_orderpriority = '1-URGENT') b ON k1 = k2
         |ORDER BY k, side""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    val a = Tables(spark, sfDir, "customer")
      .filter(col("c_custkey") % 2 === 0).select(col("c_custkey").as("k1"))
    val b = Tables(spark, sfDir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("k2")).distinct()
    a.join(b, col("k1") === col("k2"), "full")
      .select(coalesce(col("k1"), col("k2")).as("k"),
        when(col("k1").isNull, "right_only")
          .when(col("k2").isNull, "left_only").otherwise("both").as("side"))
      .orderBy("k", "side")
  }

  /** Exact interpolated percentiles (both engines: sort + linear interp). */
  private val b33: Q = query("b33_percentiles", oracle =
      ("""SELECT o_orderstatus, QUANTILE_CONT(o_totalprice, 0.5) AS med,
         | QUANTILE_CONT(o_totalprice, 0.9) AS p90
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""
        .stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    Tables(spark, sfDir, "orders")
      .groupBy("o_orderstatus")
      .agg(expr("percentile(o_totalprice, 0.5)").as("med"),
        expr("percentile(o_totalprice, 0.9)").as("p90"))
      .orderBy("o_orderstatus")
  }

  /** Bag-semantics set operations: INTERSECT ALL keeps min(multiplicity),
    * EXCEPT ALL subtracts multiplicities — the two set ops b11/b27 don't
    * cover. Emitted as per-key multiplicities with an op tag (deterministic
    * regardless of row order inside the bags). */
  private val b42: Q = query("b42_intersect_except_all", oracle =
      ("""WITH ia AS (SELECT nk, COUNT(*) AS n FROM
         |  (SELECT c_nationkey AS nk FROM customer
         |   INTERSECT ALL SELECT s_nationkey AS nk FROM supplier) t GROUP BY nk),
         |ea AS (SELECT nk, COUNT(*) AS n FROM
         |  (SELECT c_nationkey AS nk FROM customer
         |   EXCEPT ALL SELECT s_nationkey AS nk FROM supplier) t GROUP BY nk)
         |SELECT 'intersect_all' AS op, nk, n FROM ia
         |UNION ALL SELECT 'except_all' AS op, nk, n FROM ea
         |ORDER BY op, nk""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    val c = Tables(spark, sfDir, "customer").select(col("c_nationkey").as("nk"))
    val s = Tables(spark, sfDir, "supplier").select(col("s_nationkey").as("nk"))
    val ia = c.intersectAll(s).groupBy("nk").agg(count(lit(1)).as("n"))
      .withColumn("op", lit("intersect_all"))
    val ea = c.exceptAll(s).groupBy("nk").agg(count(lit(1)).as("n"))
      .withColumn("op", lit("except_all"))
    ia.unionByName(ea).select("op", "nk", "n").orderBy("op", "nk")
  }

  /** Ordered string aggregation (LISTAGG): per nation, the market segments
    * of its customers as a sorted comma list — deterministic because the
    * aggregation ORDERS its input (sort_array ↔ ORDER BY inside
    * string_agg), never relying on arrival order. */
  private val b43: Q = query("b43_listagg_ordered", oracle =
      ("""SELECT c_nationkey, string_agg(c_mktsegment, ',' ORDER BY c_mktsegment) AS segs,
         | COUNT(*) AS n
         |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey"""
        .stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    Tables(spark, sfDir, "customer")
      .groupBy("c_nationkey")
      .agg(concat_ws(",", sort_array(collect_list(col("c_mktsegment")))).as("segs"),
        count(lit(1)).as("n"))
      .orderBy("c_nationkey")
  }

  /** regexp_extract_all + explode: every digit run in the JSON-ish props
    * string, counted and summed per event type (the multi-match regex
    * shape a single regexp_extract can't express). */
  private val b44: Q = query("b44_regexp_extract_all", oracle =
      ("""WITH m AS (SELECT event_type,
         |  unnest(regexp_extract_all(props, '[0-9]+')) AS m FROM events)
         |SELECT event_type, COUNT(*) AS n_matches, CAST(SUM(CAST(m AS BIGINT)) AS BIGINT) AS sum_m
         |FROM m GROUP BY event_type ORDER BY event_type"""
        .stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    Tables(spark, sfDir, "events")
      .select(col("event_type"),
        explode(regexp_extract_all(col("props"), lit("[0-9]+"), lit(0))).as("m"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_matches"), sum(col("m").cast("long")).as("sum_m"))
      .orderBy("event_type")
  }

  /** Calendar-spine generation: `sequence` explodes a month series spanning
    * the full order-date range, left-joined to per-month aggregates so
    * empty months surface as zero rows — the gap-free reporting spine a
    * BI layer needs (generate_series in DuckDB). The spine derives from a
    * 1-row bounds aggregate, so the explode is driver-free and the join is
    * a broadcast. */
  private val b45: Q = query("b45_calendar_spine", oracle =
      (s"""WITH b AS (SELECT DATE_TRUNC('month', MIN(o_orderdate)) AS lo,
         |  DATE_TRUNC('month', MAX(o_orderdate)) AS hi FROM orders),
         |spine AS (SELECT STRFTIME(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)), '%Y-%m')
         |  AS month FROM b),
         |per AS (SELECT STRFTIME(o_orderdate, '%Y-%m') AS month, COUNT(*) AS n,
         |  ${dsumSql("o_totalprice")} AS total FROM orders GROUP BY 1)
         |SELECT spine.month AS month, COALESCE(n, 0) AS n, COALESCE(total, 0.0) AS total
         |FROM spine LEFT JOIN per ON per.month = spine.month
         |ORDER BY spine.month""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    val o = Tables(spark, sfDir, "orders")
    val spine = o
      .agg(min(col("o_orderdate")).as("lo"), max(col("o_orderdate")).as("hi"))
      .select(explode(sequence(
        date_trunc("MONTH", col("lo")), date_trunc("MONTH", col("hi")),
        expr("INTERVAL 1 MONTH"))).as("m"))
      .select(date_format(col("m"), "yyyy-MM").as("month"))
    val per = o
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n"), QueryUtil.dsum(col("o_totalprice")).as("total"))
    spine.join(per, Seq("month"), "left")
      .select(col("month"), coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("total"), lit(0.0)).as("total"))
      .orderBy("month")
  }

  /** Value-RANGE window frame (vs b38's ROWS frames): for every order, the
    * count and exact-decimal sum of same-status orders priced within 100
    * below it — frame membership depends on VALUES, so peers with equal
    * prices share a frame and the result is order-independent. */
  private val b46: Q = query("b46_window_range_frame", oracle =
      ("""SELECT o_orderkey, o_orderstatus, o_totalprice,
         | COUNT(*) OVER w AS n_near,
         | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS near_total
         |FROM orders
         |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice
         |  RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)
         |ORDER BY o_orderkey""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderstatus").orderBy(col("o_totalprice"))
      .rangeBetween(-100, 0)
    Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        count(lit(1)).over(w).as("n_near"),
        sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .over(w).cast("double").as("near_total"))
      .orderBy("o_orderkey")
  }

  /** Aggregate FILTER clause (per-aggregate predicates without CASE
    * scaffolding) — ANSI surface shared by Spark and DuckDB. */
  private val b47: Q = sqlQuery("b47_agg_filter_clause", oracle =
      ("""SELECT o_orderpriority, COUNT(*) AS n,
         | COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
         | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
         |   FILTER (WHERE o_totalprice > 100000) AS DOUBLE) AS big_total
         |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""
        .stripMargin.replace("\n", " ")))

  /** GROUPING() disambiguation over ROLLUP (vs b09, where a NULL group key
    * is indistinguishable from a NULL data value): the grouping flags tag
    * subtotal rows explicitly — the ANSI mechanism BI tools rely on. */
  private val b48: Q = sqlQuery("b48_grouping_function", oracle =
      ("""SELECT o_orderstatus, o_orderpriority,
         | CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
         | CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
         | COUNT(*) AS n
         |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
         |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority"""
        .stripMargin.replace("\n", " ")))

  /** b49 — correlated EXISTS / NOT EXISTS: both rewrite to one semi and
    * one anti hash join on the customer key (no per-row subquery
    * execution — the plan is two joins, each broadcast or shuffle as
    * stats dictate). */
  private val b49: Q = sqlQuery("b49_exists_not_exists", oracle =
      ("""SELECT c_custkey, c_mktsegment FROM customer c
         |WHERE EXISTS (SELECT 1 FROM orders o
         |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
         |  AND NOT EXISTS (SELECT 1 FROM orders o2
         |  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F'
         |    AND o2.o_totalprice < 10000)
         |ORDER BY c_custkey""".stripMargin.replace("\n", " ")))

  /** b50 — positional explode (LATERAL VIEW posexplode): token + 0-based
    * position, the ordinality-preserving flatten (map-side, no shuffle). */
  private val b50: Q = sqlQuery("b50_posexplode_ordinal", oracle =
      ("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
         |  FROM documents WHERE doc_id < 5),
         |ix AS (SELECT doc_id, ws, unnest(range(len(ws))) AS i FROM w)
         |SELECT doc_id, CAST(i AS INT) AS pos, ws[i+1] AS word FROM ix
         |ORDER BY doc_id, pos""".stripMargin.replace("\n", " ")),
    sparkSql =
      """SELECT doc_id, pos, word FROM documents
        |LATERAL VIEW posexplode(split(text, ' ')) t AS pos, word
        |WHERE doc_id < 5 ORDER BY doc_id, pos""".stripMargin)

  /** b51 — GROUP BY ALL / ORDER BY ALL: the modern analyst shorthand
    * (every non-aggregate select item groups; every output column orders)
    * — same plan as the explicit form. */
  private val b51: Q = sqlQuery("b51_group_by_all", oracle =
      ("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
         |FROM lineitem GROUP BY ALL ORDER BY ALL"""
        .stripMargin.replace("\n", " ")))

  /** b52 — SLIDING time windows (2-day window, 1-day slide): each event
    * lands in exactly window/slide = 2 overlapping windows — the rolling
    * "last-48h" report shape b22's tumbling windows can't express. Spark
    * expands the window set map-side (no self-join); the oracle mirrors
    * the expansion with a 2-element unnest. */
  private val b52: Q = query("b52_sliding_window", oracle =
      ("""WITH e AS (SELECT ts, event_type, user_id, unnest([0, 1]) AS i
         | FROM events),
         |w AS (SELECT CAST(date_trunc('day', ts) - i * INTERVAL 1 DAY AS DATE)
         |  AS win_start, event_type, user_id FROM e)
         |SELECT win_start, event_type, COUNT(*) AS n,
         | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
         |FROM w GROUP BY 1, 2 ORDER BY win_start, event_type"""
        .stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    Tables(spark, sfDir, "events")
      .groupBy(window(col("ts"), "2 days", "1 day").getField("start")
          .cast("date").as("win_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .orderBy("win_start", "event_type")
  }

  /** b53 — fault-tolerant parsing with try_cast: dirty numeric extraction
    * (a deterministic doc_id-modulo mix of parseable and junk strings)
    * yields NULL instead of a job-killing cast error — COUNT/SUM of the
    * parses give the ingest health report. At 100 TB one malformed row
    * must never fail the batch. */
  private val b53: Q = sqlQuery("b53_try_cast_parse", oracle =
      ("""SELECT lang, COUNT(*) AS n_total,
         | COUNT(TRY_CAST(CASE WHEN doc_id % 3 = 0 THEN CAST(n_chars AS VARCHAR)
         |   ELSE lang END AS INTEGER)) AS n_parsed,
         | CAST(SUM(TRY_CAST(CASE WHEN doc_id % 3 = 0 THEN CAST(n_chars AS VARCHAR)
         |   ELSE lang END AS INTEGER)) AS BIGINT) AS sum_parsed
         |FROM documents GROUP BY lang ORDER BY lang"""
        .stripMargin.replace("\n", " ")),
    sparkSql =
      """SELECT lang, COUNT(*) AS n_total,
        | COUNT(try_cast(CASE WHEN doc_id % 3 = 0 THEN CAST(n_chars AS STRING)
        |   ELSE lang END AS INT)) AS n_parsed,
        | SUM(try_cast(CASE WHEN doc_id % 3 = 0 THEN CAST(n_chars AS STRING)
        |   ELSE lang END AS INT)) AS sum_parsed
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)

  /** b54 — IGNORE NULLS window navigation: carried-forward and whole-frame
    * first/last over a sparse column (purchase value among non-purchase
    * events) — the SQL surface behind forward-fill and "value as of";
    * running last counts the pre-first-purchase prefix, whole-frame
    * first/last pin both ends. Decimal cents keep it engine-exact. */
  private val b54: Q = sqlQuery("b54_ignore_nulls_window", oracle =
      ("""WITH o AS (SELECT user_id, ts, event_id,
         |  CASE WHEN event_type = 'purchase'
         |   THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END AS pc
         | FROM events),
         |w AS (SELECT user_id,
         |  LAST_VALUE(pc IGNORE NULLS) OVER
         |   (PARTITION BY user_id ORDER BY ts, event_id) AS run_last,
         |  FIRST_VALUE(pc IGNORE NULLS) OVER (PARTITION BY user_id
         |   ORDER BY ts, event_id
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_p,
         |  LAST_VALUE(pc IGNORE NULLS) OVER (PARTITION BY user_id
         |   ORDER BY ts, event_id
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_p
         | FROM o)
         |SELECT user_id,
         | CAST(SUM(CASE WHEN run_last IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_before_first,
         | MIN(first_p) AS first_purchase_cents, MIN(last_p) AS last_purchase_cents
         |FROM w GROUP BY user_id ORDER BY user_id"""
        .stripMargin.replace("\n", " ")),
    sparkSql =
      """WITH o AS (SELECT user_id, ts, event_id,
        |  CASE WHEN event_type = 'purchase'
        |   THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END AS pc
        | FROM events),
        |w AS (SELECT user_id,
        |  LAST_VALUE(pc) IGNORE NULLS OVER
        |   (PARTITION BY user_id ORDER BY ts, event_id) AS run_last,
        |  FIRST_VALUE(pc) IGNORE NULLS OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_p,
        |  LAST_VALUE(pc) IGNORE NULLS OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_p
        | FROM o)
        |SELECT user_id,
        | CAST(SUM(CASE WHEN run_last IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_before_first,
        | MIN(first_p) AS first_purchase_cents, MIN(last_p) AS last_purchase_cents
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin)

  /** b55 — ranking-function zoo: NTILE / PERCENT_RANK / CUME_DIST over the
    * same deterministic (partition, order) — the SQL surface behind
    * quantile bucketing (curriculum deciles, equal-size shards). The two
    * float functions are single divisions of small integers, so they are
    * bit-identical across engines (no summation order involved). */
  private val b55: Q = sqlQuery("b55_ranking_zoo", oracle =
      ("""SELECT l_returnflag, l_orderkey, l_linenumber,
         | NTILE(4) OVER w AS quartile,
         | PERCENT_RANK() OVER w AS pct_rank,
         | CUME_DIST() OVER w AS cume
         |FROM lineitem
         |WINDOW w AS (PARTITION BY l_returnflag
         |  ORDER BY l_quantity, l_orderkey, l_linenumber)
         |ORDER BY l_returnflag, l_orderkey, l_linenumber"""
        .stripMargin.replace("\n", " ")))

  /** b56 — VARIANT ingestion (Spark 4 semi-structured type): JSON props
    * parsed ONCE into a Variant column, then typed `variant_get` paths —
    * the shred-at-read pattern replacing per-access string re-parsing
    * (b21's get_json_object re-parses the string per extraction; a Variant
    * parses once and serves every path from its binary encoding). */
  private val b56: Q = sqlQuery("b56_variant_json", oracle =
      ("""WITH t AS (SELECT event_type,
         |  CAST(REGEXP_EXTRACT(props, '"k":\s*(-?\d+)', 1) AS INT) AS k
         | FROM events)
         |SELECT event_type, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
         | MAX(k) AS max_k,
         | CAST(SUM(CASE WHEN k >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
         |FROM t GROUP BY event_type ORDER BY event_type"""
        .stripMargin.replace("\n", " ")),
    sparkSql =
      """WITH v AS (SELECT event_type, parse_json(props) AS pv FROM events),
        |t AS (SELECT event_type, variant_get(pv, '$.k', 'int') AS k FROM v)
        |SELECT event_type, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
        | MAX(k) AS max_k,
        | CAST(SUM(CASE WHEN k >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** b57 — RANK() group limit with TIES KEPT: top-3 suppliers per nation
    * by exact-decimal revenue where equal revenues share a rank and ALL
    * tied rows survive — the semantic row_number top-n silently breaks
    * (it drops an arbitrary tied row). Spark pushes the rk<=3 filter
    * below the window exchange as a rank-mode WindowGroupLimit, so each
    * partition ships only its top rows — same pruning as b07's
    * row_number form, different (and sometimes required) semantics. */
  private val b57: Q = sqlQuery("b57_rank_ties_topk", oracle =
      ("""WITH rev AS (SELECT n_name, s_name,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         | FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         | GROUP BY n_name, s_name),
         |r AS (SELECT n_name, s_name, revenue,
         |  RANK() OVER (PARTITION BY n_name ORDER BY revenue DESC) AS rk
         | FROM rev)
         |SELECT n_name, s_name, revenue, rk FROM r WHERE rk <= 3
         |ORDER BY n_name, rk, s_name""".stripMargin.replace("\n", " ")))

  /** b58 — named WINDOW clause: one window definition shared by a running
    * sum, a navigation lag, and a rank — the de-duplicated-spec SQL
    * surface (repeating the OVER(...) body invites drift between the
    * copies); Spark resolves all three against the single `w`. */
  private val b58: Q = sqlQuery("b58_named_window_clause", oracle =
      ("""SELECT l_orderkey, l_linenumber,
         | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER w AS DOUBLE)
         |  AS running_qty,
         | CAST(LAG(CAST(l_quantity AS DECIMAL(18,2))) OVER w AS DOUBLE)
         |  AS prev_qty,
         | CAST(ROW_NUMBER() OVER w AS BIGINT) AS line_seq
         |FROM lineitem WHERE l_orderkey % 997 = 0
         |WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin.replace("\n", " ")))

  /** b59 — union BY NAME with missing-column fill: branches with
    * differently-ORDERED select lists align by column name, and a column
    * present on one side only back-fills NULL (`unionByName(allowMissing
    * Columns = true)`; DuckDB's `UNION ALL BY NAME` has identical
    * semantics, which is the oracle). Positional UNION would silently
    * cross-wire k and name here — BY NAME is the refactoring-safe
    * spelling of schema-drift-tolerant ingestion. */
  private val b59: Q = query("b59_union_by_name", oracle =
      ("""SELECT r_regionkey AS k, r_name AS name FROM region
         |UNION ALL BY NAME
         |SELECT n_name AS name, n_regionkey AS k, n_nationkey AS member_key
         |FROM nation ORDER BY k, name""".stripMargin.replace("\n", " "))) { (spark, sfDir) =>
    import org.apache.spark.sql.functions.col
    val r = Tables(spark, sfDir, "region")
      .select(col("r_regionkey").as("k"), col("r_name").as("name"))
    val n = Tables(spark, sfDir, "nation")
      .select(col("n_name").as("name"), col("n_regionkey").as("k"),
        col("n_nationkey").as("member_key"))
    r.unionByName(n, allowMissingColumns = true).orderBy("k", "name")
  }

  /** b60 — lateral column aliases: a SELECT item referencing an alias
    * DEFINED EARLIER IN THE SAME LIST (Spark 3.4+ surface; DuckDB agrees)
    * — derived-metric chains without a wrapping subquery, and each step
    * of the chain stays visible in the output for auditing. */
  private val b60: Q = sqlQuery("b60_lateral_column_alias", oracle =
      ("""SELECT o_orderpriority,
         | CAST(COUNT(*) AS BIGINT) AS n,
         | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
         | total / n AS avg_price,
         | avg_price * 2 AS double_avg
         |FROM orders GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin.replace("\n", " ")))

  /** b61 — null-safe equality join (`<=>` in Spark, IS NOT DISTINCT FROM
    * in the oracle): the dimension carries an explicit unknown row keyed
    * by NULL; strict equality silently drops every NULL-key fact,
    * null-safe equality routes them to the unknown bucket. The
    * three-valued-logic corner that loses rows in naive pipelines —
    * NULLs planted deterministically (event_id % 211, the x93 pattern)
    * so the divergence is non-vacuous at every SF. */
  private val b61: Q = sqlQuery("b61_null_safe_join", oracle =
      ("""WITH ev AS (SELECT CASE WHEN event_id % 211 = 0 THEN NULL
         |   ELSE user_id % 10 END AS k FROM events
         |  WHERE user_id IS NOT NULL),
         |dim AS (SELECT DISTINCT user_id % 10 AS k FROM events
         |   WHERE user_id IS NOT NULL
         |  UNION ALL SELECT NULL),
         |lab AS (SELECT k, COALESCE(CAST(k AS VARCHAR), 'unknown') AS seg
         |  FROM dim),
         |ns AS (SELECT seg, COUNT(*) AS n FROM ev JOIN lab
         |  ON ev.k IS NOT DISTINCT FROM lab.k GROUP BY seg),
         |st AS (SELECT seg, COUNT(*) AS n FROM ev JOIN lab
         |  ON ev.k = lab.k GROUP BY seg)
         |SELECT ns.seg AS seg, CAST(ns.n AS BIGINT) AS n_null_safe,
         | CAST(COALESCE(st.n, 0) AS BIGINT) AS n_strict
         |FROM ns LEFT JOIN st ON ns.seg = st.seg
         |ORDER BY seg""".stripMargin.replace("\n", " ")),
    sparkSql =
      """WITH ev AS (SELECT CASE WHEN event_id % 211 = 0 THEN NULL
        |   ELSE user_id % 10 END AS k FROM events
        |  WHERE user_id IS NOT NULL),
        |dim AS (SELECT DISTINCT user_id % 10 AS k FROM events
        |   WHERE user_id IS NOT NULL
        |  UNION ALL SELECT NULL),
        |lab AS (SELECT k, COALESCE(CAST(k AS STRING), 'unknown') AS seg
        |  FROM dim),
        |ns AS (SELECT seg, COUNT(*) AS n FROM ev JOIN lab
        |  ON ev.k <=> lab.k GROUP BY seg),
        |st AS (SELECT seg, COUNT(*) AS n FROM ev JOIN lab
        |  ON ev.k = lab.k GROUP BY seg)
        |SELECT ns.seg AS seg, CAST(ns.n AS BIGINT) AS n_null_safe,
        |  CAST(COALESCE(st.n, 0) AS BIGINT) AS n_strict
        |FROM ns LEFT JOIN st ON ns.seg = st.seg
        |ORDER BY seg""".stripMargin)

  /** b62 — calendar month-arithmetic clamping: `add_months` lands
    * month-end dates on the SHORTER month's last day (Jan 31 + 1 →
    * Feb 28/29) — the end-of-month billing-cycle corner every
    * subscription pipeline hits. Census by day-of-month of how many
    * +1-month and +3-month rolls clamp; both engines must agree on the
    * clamp rule AND the leap-year cells. */
  private val b62: Q = sqlQuery("b62_month_arithmetic_clamp", oracle =
      ("""WITH d AS (SELECT CAST(o_orderdate AS DATE) AS d FROM orders
         |  WHERE o_orderdate IS NOT NULL),
         |r AS (SELECT day(d) AS dom,
         |  CASE WHEN day(d + INTERVAL 1 MONTH) < day(d) THEN 1 ELSE 0
         |   END AS c1,
         |  CASE WHEN day(d + INTERVAL 3 MONTH) < day(d) THEN 1 ELSE 0
         |   END AS c3 FROM d)
         |SELECT CAST(dom AS INT) AS day_of_month,
         | CAST(COUNT(*) AS BIGINT) AS n_orders,
         | CAST(SUM(c1) AS BIGINT) AS n_clamped_1m,
         | CAST(SUM(c3) AS BIGINT) AS n_clamped_3m
         |FROM r GROUP BY dom ORDER BY day_of_month"""
        .stripMargin.replace("\n", " ")),
    sparkSql =
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS d FROM orders
        |  WHERE o_orderdate IS NOT NULL),
        |r AS (SELECT day(d) AS dom,
        |  CASE WHEN day(add_months(d, 1)) < day(d) THEN 1 ELSE 0 END
        |   AS c1,
        |  CASE WHEN day(add_months(d, 3)) < day(d) THEN 1 ELSE 0 END
        |   AS c3 FROM d)
        |SELECT CAST(dom AS INT) AS day_of_month,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(c1) AS BIGINT) AS n_clamped_1m,
        |  CAST(SUM(c3) AS BIGINT) AS n_clamped_3m
        |FROM r GROUP BY dom ORDER BY day_of_month""".stripMargin)

  /** b63 — explicit NULL ordering in window sorts: Spark's default is
    * NULLS FIRST ascending, DuckDB's is NULLS LAST — the silent
    * cross-engine divergence every ranking query over nullable keys
    * hits. Explicit `DESC NULLS LAST` / `ASC NULLS FIRST` pins the
    * semantics in both engines; NULL keys planted (event_id % 211) so
    * the corner is non-vacuous: the asc_nulls_first block's head rows
    * ARE the null-key rows. */
  private val b63: Q = sqlQuery("b63_explicit_null_ordering", oracle =
      ("""WITH e AS (SELECT event_type, event_id,
         |  CASE WHEN event_id % 211 = 0 THEN NULL
         |   ELSE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
         |   END AS cents
         | FROM events WHERE event_type IS NOT NULL),
         |t AS (SELECT event_type, 'desc_nulls_last' AS ordering, rn, cents
         | FROM (SELECT event_type, cents, ROW_NUMBER() OVER
         |   (PARTITION BY event_type
         |    ORDER BY cents DESC NULLS LAST, event_id) AS rn FROM e)
         | WHERE rn <= 3),
         |b AS (SELECT event_type, 'asc_nulls_first' AS ordering, rn, cents
         | FROM (SELECT event_type, cents, ROW_NUMBER() OVER
         |   (PARTITION BY event_type
         |    ORDER BY cents ASC NULLS FIRST, event_id) AS rn FROM e)
         | WHERE rn <= 3)
         |SELECT event_type, ordering, CAST(rn AS INT) AS rn, cents FROM t
         |UNION ALL
         |SELECT event_type, ordering, CAST(rn AS INT) AS rn, cents FROM b
         |ORDER BY event_type, ordering, rn"""
        .stripMargin.replace("\n", " ")))

  private def dsumSql(x: String) = s"CAST(SUM(CAST($x AS DECIMAL(18,2))) AS DOUBLE)"
}
