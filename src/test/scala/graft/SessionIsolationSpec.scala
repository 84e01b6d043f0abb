package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * A builder never changes the session it is given. Each query that needs
 * views or its own conf — the SQL queries (`sqlQuery`: the table views),
 * x46 (five skew confs), x113 (dynamic partition overwrite) and x66 (the
 * AQE-off `Graph.partitionedCheckpoint`), and the a-tier queries that
 * answer through `Engine` (each answer's `df` view) — is built and counted
 * on a new session of its own, whose temp views and conf are read before and
 * after. Runs at sf0.001.
 */
class SessionIsolationSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  private val inScope = Seq(
    "b18_subquery_scalar", "b19_subquery_in", "b20_cte_multitable",
    "b26_grouping_sets", "b34_correlated_scalar", "b35_lateral_topk",
    "b36_recursive_cte", "b47_agg_filter_clause", "b48_grouping_function",
    "b49_exists_not_exists", "b50_posexplode_ordinal", "b51_group_by_all",
    "b53_try_cast_parse", "b54_ignore_nulls_window", "b55_ranking_zoo",
    "b56_variant_json", "b57_rank_ties_topk", "b58_named_window_clause",
    "b60_lateral_column_alias", "b61_null_safe_join",
    "b62_month_arithmetic_clamp", "b63_explicit_null_ordering",
    "x83_hll_sketch_merge", "x95_bitmap_distinct_merge",
    "x362_catalog_hierarchy_rollup",
    "x46_aqe_skew_join", "x113_dynamic_partition_overwrite",
    "x66_pagerank_integer",
    "a03_projection", "a04_rule_groupby_count", "a05_rule_city_lastmonth",
    "a06_rule_lastmonth_filter", "a07_limit_injection_topk", "a08_dedup_collapse")

  inScope.foreach { name =>
    test(s"$name leaves the caller's temp views and conf unchanged") {
      val caller = SparkTestSession.spark.newSession()
      val conf = caller.conf.getAll
      SparkEntry.queries(name)(caller, sf).count()
      val views = caller.catalog.listTables().collect().filter(_.isTemporary).map(_.name)
      assert(views.isEmpty, s"$name registered views on its caller: ${views.mkString(", ")}")
      val after = caller.conf.getAll
      assert(after == conf, s"$name changed its caller's conf: " +
        (after.toSet diff conf.toSet).mkString(", ") + " / was " +
        (conf.toSet diff after.toSet).mkString(", "))
    }
  }
}
