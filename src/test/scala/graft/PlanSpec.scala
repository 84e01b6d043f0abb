package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Physical-plan assertions: the properties that decide whether a query
 * survives a 100× scale-up — filter/column pushdown into the parquet scan,
 * broadcast vs shuffle join selection, real top-k instead of global sort.
 */
class PlanSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("b01: filter pushed to parquet scan; scan prunes to referenced columns") {
    val p = plan("b01_agg_tpch_q1")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"missing pushed filter in:\n$p")
    assert(!p.contains("l_orderkey"), "scan should prune unused columns")
    assert(p.contains("HashAggregate"), "partial+final hash aggregation expected")
  }

  test("b02: dimension joins are broadcast, fact side not shuffled for the join") {
    val p = plan("b02_join_broadcast_dims")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins in:\n$p")
    assert(!p.contains("SortMergeJoin"), "dims must not sort-merge")
  }

  test("b03: large-large join falls back to a shuffle join when broadcast is impossible") {
    // at sf0.001 orders fits under the broadcast threshold (broadcasting it
    // is the RIGHT plan there); disable auto-broadcast to pin the at-scale
    // shape, where neither side fits in memory
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("b03_join_large_shuffle")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("a07/x05: ORDER BY + LIMIT plans as top-k (TakeOrderedAndProject), no global sort") {
    // a07's answer is LIMIT-bounded: Engine runs its plan once and returns a
    // local snapshot, so the top-k shape is asserted on the SQL's own plan
    val orders = sources.Tables(spark, sf, "orders")
    val a07 = Engine.executeSql(spark, orders,
      "SELECT o_orderkey, o_totalprice FROM df ORDER BY o_totalprice DESC, o_orderkey")
    assert(a07.result.queryExecution.executedPlan
      .isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec])
    assert(Engine.resolve(spark, orders, a07.sql).queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
    assert(plan("x05_cosine_topk_brute").contains("TakeOrderedAndProject"))
  }

  test("b05/b06: EXISTS/NOT EXISTS plan as semi/anti joins") {
    assert(plan("b05_semi_join").contains("LeftSemi"))
    assert(plan("b06_anti_join").contains("LeftAnti"))
    // non-vacuity: the anti-join must EXCLUDE something and KEEP something
    // (every customer has an order, so the unfiltered form was always empty
    // and a broken anti-join would have passed)
    val nCustomers = sources.Tables(spark, sf, "customer").count()
    val nAnti = SparkEntry.queries("b06_anti_join")(spark, sf).count()
    assert(nAnti > 0, "anti-join result is vacuously empty")
    assert(nAnti < nCustomers, "anti-join excluded nothing")
  }

  test("a03: projection prunes the parquet scan to selected columns") {
    val p = plan("a03_projection")
    assert(p.contains("o_orderkey") && !p.contains("o_custkey"),
      s"unused columns must not be read:\n$p")
  }

  test("bucketed tables join without a shuffle exchange") {
    // the co-located-join path for repeated large-large joins at scale:
    // bucket both sides on the join key at write time → zero exchanges
    import org.apache.spark.sql.functions.col
    val li = sources.Tables(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    val o = sources.Tables(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    // external tables at a fresh temp path: the default warehouse dir outlives
    // the in-memory catalog across JVM runs and saveAsTable would hit
    // LOCATION_ALREADY_EXISTS on the second run
    val tmp = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    li.write.option("path", s"$tmp/b_lineitem")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")
    o.write.option("path", s"$tmp/b_orders")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"))
      assert(!p.contains("Exchange"), s"bucketed join must not shuffle:\n$p")
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("partitioned write + read prunes partitions at the scan") {
    import org.apache.spark.sql.functions.{col, year}
    val tmp = java.nio.file.Files.createTempDirectory("graft_part").toString
    sources.Tables(spark, sf, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .write.partitionBy("o_year").parquet(s"$tmp/orders_by_year")
    val pruned = spark.read.parquet(s"$tmp/orders_by_year").filter(col("o_year") === 1997)
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(o_year"), s"expected partition filters:\n$p")
    assert(pruned.count() > 0)
  }

  test("x32: the partition-pruned query reads only the filtered partition") {
    val p = plan("x32_partition_pruned_read")
    assert(p.contains("PartitionFilters: [isnotnull(o_year"),
      s"expected partition filters at the scan:\n$p")
    assert("""\(o_year#\d+ = 1997\)""".r.findFirstIn(p).isDefined,
      s"expected the 1997 pruning predicate:\n$p")
  }

  test("x30: IVF probes via broadcast semi-join and plans top-k, no cartesian blowup") {
    val p = plan("x30_ivf_ann_topk")
    assert(!p.contains("CartesianProduct"), s"no cartesian allowed:\n$p")
    assert(p.contains("LeftSemi"), s"cell probe should be a semi-join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
  }

  test("x33: decontamination joins on the 8-byte shingle hash, no pairwise doc work") {
    val p = plan("x33_decontaminate_ngram")
    assert(p.contains("shingle_hashes"), s"expected map-side shingling in:\n$p")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      s"contamination check must be an equi-join:\n$p")
  }

  test("x529: shingle exchange carries 8-byte hash keys (fused map-side md5), never strings") {
    val p = plan("x529_kmv_sketch_audit")
    assert(p.contains("portable_shingle_hashes"),
      s"expected fused map-side portable shingling in:\n$p")
    assert(!p.contains("concat_ws") && !p.contains("array_distinct"),
      s"interpreted HOF shingle strings must not reach the plan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"KMV bottom-k must plan as top-k, not a global sort:\n$p")
  }

  test("x21: bucketized range join avoids BroadcastNestedLoopJoin") {
    val p = plan("x21_range_join_bucketized")
    assert(!p.contains("BroadcastNestedLoop"), s"range join must be equi-bucketized:\n$p")
  }

  test("driver t1 smoke: SparkEntry.entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("x14: embedding near-dup is a banded equi-join — no nested-loop, no cartesian") {
    val p = plan("x14_embedding_neardup")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      s"candidate generation must be an equi-join on (band, key):\n$p")
    assert(p.contains("hyperplane_band_keys"), s"expected the LSH sketch expression in:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"expected a hash/sort equi-join in:\n$p")
  }

  test("x18: per-round label caching keeps the iterative plan depth constant") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("d1", "d2").select(col("d1"), col("d2"))
    def planLen(iters: Int): Int =
      operators.Dedup.dupClusters(pairs, iters).queryExecution.executedPlan.toString.length
    val p3 = planLen(3)
    val p6 = planLen(6)
    // pre-fix the unevaluated plan doubled per round (2^n growth); with the
    // per-round materialization the final plan reads one cached relation and
    // its size is independent of the round count
    assert(p6 <= p3 * 3 / 2, s"plan grew with iterations: $p3 -> $p6")
  }

  test("x23: repetition stats are computed with zero shuffles (pure map-side)") {
    val docs = sources.Tables(spark, sf, "documents")
    val p = operators.Dedup.repetitionStats(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"repetition stats must not shuffle:\n$p")
  }

  test("x02: signature aggregation is partial (map-side combine before exchange)") {
    val p = plan("x02_dedup_minhash_lsh")
    // TypedImperativeAggregate appears as ObjectHashAggregate with partial_
    assert(p.contains("ObjectHashAggregate"), s"expected object hash agg in:\n$p")
    assert(p.contains("partial_minhash_signature"), "map-side partial aggregation expected")
  }

  test("x36: token packing is one group exchange + one window, no join") {
    val docs = sources.Tables(spark, sf, "documents")
    val p = operators.TextAnalysis.packTokenShards(docs, "doc_id", "text", "source")
      .queryExecution.executedPlan.toString
    assert(p.contains("hashpartitioning(source"), s"expected a source-key exchange in:\n$p")
    assert(!p.contains("Join"), "packing must not join")
    assert(!p.contains("rangepartitioning"), "packing must not globally sort")
  }

  test("x38: SCD2 version + lead share a single window pass over one exchange") {
    val ev = sources.Tables(spark, sf, "events")
      .select("user_id", "ts", "event_id", "value")
    val p = operators.Scd2.buildHistory(ev, "user_id", "ts", "event_id", Seq("value"))
      .queryExecution.executedPlan.toString
    // row_number and lead use the same partition+order ⇒ one Window operator
    assert(p.sliding("Window [".length).count(_ == "Window [") == 1,
      s"expected exactly one Window operator in:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange")) == 1,
      s"expected exactly one exchange in:\n$p")
  }

  test("x48: CDC merge is one key exchange + one window pass, no join back to the snapshot") {
    val snap = sources.Tables(spark, sf, "customer")
      .select("c_custkey", "c_acctbal", "c_mktsegment")
    val chg = sources.Tables(spark, sf, "orders").select(
      org.apache.spark.sql.functions.col("o_custkey").as("c_custkey"),
      org.apache.spark.sql.functions.col("o_orderdate").as("ts"),
      org.apache.spark.sql.functions.col("o_orderkey").as("seq"),
      org.apache.spark.sql.functions.lit("U").as("op"),
      org.apache.spark.sql.functions.col("o_totalprice").as("c_acctbal"),
      org.apache.spark.sql.functions.col("o_orderpriority").as("c_mktsegment"))
    val p = operators.CdcMerge.applyChanges(snap, chg, "c_custkey", "ts", "seq", "op",
      Seq("c_acctbal", "c_mktsegment")).queryExecution.executedPlan.toString
    assert(p.sliding("Window [".length).count(_ == "Window [") == 1,
      s"expected exactly one Window operator in:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange")) == 1,
      s"expected exactly one exchange (union shuffles once on the key) in:\n$p")
    assert(!p.contains("Join"), "merge must not join back to the snapshot")
  }

  test("x52: inverted index caps postings before the collect and reuses the term exchange") {
    val docs = sources.Tables(spark, sf, "documents")
    val p = operators.TextAnalysis.invertedIndex(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // distinct shuffles (term, doc) once; the window's term exchange is the
    // second; the groupBy must REUSE the term partitioning — 3 exchanges
    // would mean the cap costs an extra shuffle
    assert(p.linesIterator.count(_.contains("Exchange")) == 2,
      s"expected exactly two exchanges in:\n$p")
    assert(!p.contains("Join"), "index build must not join")
  }

  test("x55: global rank never sorts the corpus — only the distinct-value offsets go single-partition") {
    val docs = sources.Tables(spark, sf, "documents")
    val p = operators.Sampling.globalRankByValue(docs, "doc_id", "n_chars")
      .queryExecution.executedPlan.toString
    assert(!p.contains("rangepartitioning"),
      s"corpus must not be globally sorted:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange SinglePartition")) == 1,
      s"exactly the aggregated offsets frame may be single-partition:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"offsets must broadcast back, not shuffle the corpus:\n$p")
  }

  test("x51: context-window packing is one group exchange + agg, no join, no global sort") {
    val docs = sources.Tables(spark, sf, "documents")
    val p = operators.TextAnalysis.packContextWindows(docs, "doc_id", "text", "source")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"layout must not join:\n$p")
    assert(!p.contains("rangepartitioning"), s"layout must not globally sort:\n$p")
    assert(p.contains("Window"), "cumsum window expected")
    assert(p.contains("HashAggregate"), "per-window agg expected")
  }

  test("x54: line dedup joins only on the chunk hash — no pairwise doc work") {
    val docs = sources.Tables(spark, sf, "documents")
    val p = operators.Dedup.lineDedup(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("Join")) == 1,
      s"exactly the docfreq join-back expected:\n$p")
    assert(!p.contains("NestedLoop"), s"no nested-loop anywhere:\n$p")
  }

  test("x37: stratified sampling is one stratum exchange, no join, no global sort") {
    val docs = sources.Tables(spark, sf, "documents")
    val p = operators.Sampling.stratifiedSample(docs, "doc_id", "lang", 1, 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("hashpartitioning(lang"), s"expected a stratum-key exchange in:\n$p")
    assert(!p.contains("Join"), "per-stratum count must come from a window, not a join")
    assert(!p.contains("rangepartitioning"), "sampling must not globally sort")
  }

  test("x42: z-order read prunes to the filtered cells at the scan") {
    val p = plan("x42_zorder_pruned_read")
    assert(p.contains("PartitionFilters: [zcell"),
      s"expected zcell partition pruning in:\n$p")
    assert(p.contains("PushedFilters: [") && p.contains("GreaterThanOrEqual(o_custkey"),
      s"expected the residual custkey range pushed to parquet in:\n$p")
  }

  test("x46: AQE detects and splits the skewed join partition at runtime") {
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512b",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val hot = (c: org.apache.spark.sql.Column) =>
        when(pmod(c, lit(10)) < 7, lit(0L)).otherwise(c)
      // carry a payload: a lone all-zeros hot-key column compresses to
      // ~nothing in the shuffle and never crosses the size threshold.
      // repartition(8): the skew split divides a reduce partition by MAP
      // ranges — a single-file scan is one mapper, unsplittable (real
      // deployments have thousands of mappers)
      val ev = sources.Tables(spark, "/root/testdata/sf0.01", "events")
        .select(hot(col("user_id")).as("k"), col("props"))
        .repartition(8)
      // materialize the deduped dim first: OptimizeSkewedJoin only matches
      // SMJ(Sort(Shuffle), Sort(Shuffle)) — an aggregate between the dim's
      // shuffle and the join would block the rewrite
      val cust = sources.Tables(spark, sf, "customer")
        .select(hot(col("c_custkey")).as("k")).distinct().localCheckpoint()
      val joined = ev.join(cust, "k")
      // collect() executes THIS queryExecution (count() would plan a new
      // one and leave this plan isFinalPlan=false, hiding the AQE result)
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), s"expected a runtime skew-split join in:\n$p")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("x40: incremental refresh scans events once (delta) — history comes from the state table") {
    val p = plan("x40_incremental_agg")
    // building the plan ran the setup write; the returned merge plan reads
    // events.parquet exactly twice — the delta rows and the column-pruned
    // max(ts) cutoff derivation — and takes HISTORY from the materialized
    // state parquet (a full recompute would need a third, full scan and no
    // mv_state read)
    val eventsScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("events.parquet"))
    assert(eventsScans == 2, s"expected delta + cutoff scans only ($eventsScans):\n$p")
    assert(p.contains("mv_state"), s"expected the materialized state scan in:\n$p")
    // the cutoff scan reads only ts (pruned), not the full row — physical ts
    // form varies by testdata generation (int64 nanos vs native µs timestamp)
    assert(p.contains("ReadSchema: struct<ts:bigint>") ||
           p.contains("ReadSchema: struct<ts:timestamp>"),
      s"expected a ts-only pruned scan for the cutoff in:\n$p")
  }

  test("x39: bloom probe reaches the fact side before the exact semi join") {
    val p = plan("x39_bloom_semi_join")
    assert(p.contains("might_contain"), s"expected a bloom probe in:\n$p")
    assert(p.contains("LeftSemi"), s"expected an exact semi join in:\n$p")
    // the bloom filter itself must be a reused subquery result, not rebuilt
    // per row: it appears as a scalar subquery over the dim aggregate
    assert(p.contains("Subquery") || p.contains("scalar-subquery"),
      s"expected the bloom build as a scalar subquery in:\n$p")
  }

  test("x64: funnel reads events once — one data exchange feeds both windows and the user agg") {
    val p = plan("x64_funnel_conversion")
    // exactly one scan of the events table
    assert("Scan parquet".r.findAllIn(p).length == 1, s"events must be scanned once:\n$p")
    assert(!p.contains("Join"), s"no join-back per stage:\n$p")
    // one hashpartitioning exchange on user_id + the final single-partition
    // rollup; a naive per-stage shape would show 3+ hashpartitioning exchanges
    assert("hashpartitioning".r.findAllIn(p).length <= 1,
      s"windows and user agg must share one user_id exchange:\n$p")
  }

  test("x69: bigram top-k is TakeOrdered over a vocabulary-bounded aggregate, no corpus sort") {
    val p = plan("x69_bigram_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
    assert(!p.contains("Join"), s"bigrams come from transform(), not a positional self-join:\n$p")
  }

  test("x71: weighted sampling filter is map-side — no exchange below the reporting agg") {
    val p = plan("x71_weighted_sample")
    // filter happens before the single source->agg exchange; no window, no join
    assert("hashpartitioning".r.findAllIn(p).length <= 1, s"filter must not shuffle:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"), s"pure map-side filter expected:\n$p")
  }

  test("x78: bucketed tables join with no exchange and no sort below the join") {
    // at sf0.001 the dim broadcasts (the right call there); disable
    // auto-broadcast to pin the at-scale shape — co-located sort-merge
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("x78_bucketed_join")
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      assert(p.contains("SelectedBucketsCount"), s"scans must be bucketed:\n$p")
      // the ONLY exchanges are the post-join aggregate + final order-by;
      // an unbucketed SMJ would add one hashpartitioning exchange per side.
      // (A cheap in-partition Sort remains: Spark 3+ deliberately does not
      // expose bucket sort order at scan time — the shuffle is the win.)
      val joinPart = p.substring(p.indexOf("SortMergeJoin"))
      assert(!joinPart.contains("Exchange"), s"no exchange below the join:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("x81: sessionization shares one user exchange across lag, counter, and session agg") {
    val p = plan("x81_sessionized_conversion")
    assert("Scan parquet".r.findAllIn(p).length == 1, s"events scanned once:\n$p")
    // one hashpartitioning (user_id) feeds both windows AND the
    // (user, session) aggregate — session_id is a narrowing of the user key
    assert("hashpartitioning".r.findAllIn(p).length <= 1,
      s"windows and session agg must share the user exchange:\n$p")
    assert(!p.contains("Join"), s"no join-back:\n$p")
  }

  test("x84: filter funnel is one corpus scan — rules never fan out to per-rule scans") {
    val p = plan("x84_filter_funnel")
    assert("Scan parquet".r.findAllIn(p).length == 1, s"documents scanned once:\n$p")
    // only the dup-rank rule's text exchange; survivor counting is one
    // global aggregate with map-side partials
    assert("hashpartitioning".r.findAllIn(p).length <= 1,
      s"one window exchange at most:\n$p")
    assert(!p.contains("Join"), s"no self-join per rule:\n$p")
  }

  test("x86: time-weighted avg shares one user exchange between lead() and the aggregate") {
    val p = plan("x86_time_weighted_avg")
    assert("Scan parquet".r.findAllIn(p).length == 1, s"events scanned once:\n$p")
    assert("hashpartitioning".r.findAllIn(p).length <= 1,
      s"window and aggregate must share the user exchange:\n$p")
    assert(!p.contains("Join"), s"no join-back:\n$p")
  }

  test("x92: attribution is join-free — one events scan, carried-forward window") {
    val p = plan("x92_last_touch_attribution")
    assert("Scan parquet".r.findAllIn(p).length == 1, s"events scanned once:\n$p")
    assert(!p.contains("Join"), s"no touches-to-conversions range join:\n$p")
  }

  test("x93: FK conformance is one outer hash join per child — no BNLJ, no cartesian") {
    val p = plan("x93_fk_conformance")
    val outers = p.linesIterator.filter(_.contains("LeftOuter")).toSeq
    assert(outers.nonEmpty, s"orphan checks must plan as left outer joins:\n$p")
    assert(outers.forall(l => l.contains("HashJoin") || l.contains("SortMergeJoin")),
      s"outer joins must be hash/merge, got:\n${outers.mkString("\n")}\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"single-pass child scan needs no nested-loop report assembly:\n$p")
  }

  test("x94: wide profile is one scan through a single Expand (no per-column scans)") {
    val p = plan("x94_column_profile_wide")
    assert("Scan parquet".r.findAllIn(p).length == 1, s"events scanned once:\n$p")
    assert(p.contains("Expand"), s"multi-distinct must plan as Expand:\n$p")
  }

  test("x99: z-score stats come back as a broadcast join, never a shuffle of the corpus") {
    val p = plan("x99_zscore_by_group")
    assert(p.contains("BroadcastHashJoin"), s"stats join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no corpus-wide merge join:\n$p")
  }

  test("b49: EXISTS/NOT EXISTS rewrite to semi + anti hash joins, no per-row subqueries") {
    val p = plan("b49_exists_not_exists")
    assert(p.contains("LeftSemi"), s"EXISTS must plan as a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must plan as an anti join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"no nested-loop:\n$p")
  }

  test("x109: skew-safe distinct partitions by the PAIR, then partial-aggs on the key") {
    val p = plan("x109_skew_safe_distinct")
    assert(p.contains("hashpartitioning(user_id"), s"key exchange expected:\n$p")
    // the hot-key killer: the dedup exchange must hash BOTH columns
    assert("hashpartitioning\\(user_id[^)]*event_type".r.findFirstIn(p).isDefined,
      s"dedup must partition on (user_id, event_type), not user_id alone:\n$p")
    assert(!p.contains("Expand"), s"no countDistinct Expand (that is the skewed shape):\n$p")
  }

  test("x108: repair diff prunes both sides with broadcast semi joins on drifted buckets") {
    val p = plan("x108_sync_repair_diff")
    val semis = p.linesIterator.filter(_.contains("LeftSemi")).toSeq
    assert(semis.size >= 2, s"both sides must semi-prune to drifted buckets:\n$p")
    assert(semis.forall(_.contains("Broadcast")),
      s"bucket set is O(buckets) — must broadcast:\n${semis.mkString("\n")}")
  }

  test("x120: heavy-hitter exact pass semi-joins candidates by BROADCAST, no vocab shuffle") {
    val p = plan("x120_heavy_hitters_mg")
    val semis = p.linesIterator.filter(_.contains("LeftSemi")).toSeq
    assert(semis.nonEmpty && semis.forall(_.contains("Broadcast")),
      s"candidate set is partitions·k rows — must broadcast-semi, got:\n$p")
    // the MG summaries are localCheckpoint'd (one corpus scan serves both
    // the candidate set and the total), so the plan reads the materialized
    // frame instead of re-running the mapPartitions pass
    assert(p.contains("ExistingRDD") || p.contains("MapPartitions"),
      s"candidate side must come from the materialized MG summaries:\n$p")
  }

  test("x122: interleave ranks per source; the only unpartitioned window is the S-row dim") {
    val p = plan("x122_round_robin_interleave")
    assert(p.contains("hashpartitioning(source"),
      s"per-source rank needs the source exchange:\n$p")
    // the corpus-side join of the S-row source index must be broadcast
    assert(p.contains("BroadcastHashJoin"),
      s"S-row source index must broadcast, not shuffle the corpus:\n$p")
    // exactly one SinglePartition exchange (the S-row dim), never the data
    val singles = p.linesIterator.filter(_.contains("SinglePartition")).size
    assert(singles <= 1, s"only the S-row dim may gather to one partition:\n$p")
  }

  test("x129: fact scan carries a runtime dynamic-pruning expression from the dim filter") {
    val p = plan("x129_dynamic_partition_pruning")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"fact partitions must be pruned at runtime by the dim subquery:\n$p")
  }

  test("x124: sharded sketch aggregates partials per (shard, bin) before the bin merge") {
    val p = plan("x124_mergeable_histogram")
    assert("hashpartitioning\\(l_returnflag[^)]*b".r.findFirstIn(p).isDefined,
      s"partial sketches must partition on (shard, bin):\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row stats frame must broadcast:\n$p")
  }

  test("x141: the |types|^2 totals frame broadcasts back, never reshuffles bigrams") {
    val p = plan("x141_transition_matrix")
    assert(p.contains("BroadcastHashJoin"),
      s"row-total join must broadcast the tiny totals frame:\n$p")
    assert(p.contains("hashpartitioning(user_id"),
      s"the lag window needs exactly the user exchange:\n$p")
  }

  test("x142: trigram candidates filter map-side; verify is a semi join on candidates") {
    val p = plan("x142_trigram_search")
    assert(p.contains("LeftSemi"),
      s"exact verify must semi-join the candidate set:\n$p")
    // the pattern-trigram filter runs in the same stage as the explode —
    // BEFORE the aggregate exchange — so the shuffle carries only candidate
    // postings, not the corpus-wide trigram stream
    val filterThenAgg = p.linesIterator.zipWithIndex.toSeq
    val fi = filterThenAgg.collectFirst {
      case (l, i) if l.contains("trig#") && l.contains("Filter") => i }
    val ei = filterThenAgg.collectFirst {
      case (l, i) if l.contains("Exchange hashpartitioning(doc_id") => i }
    assert(fi.isDefined && ei.isDefined && fi.get > ei.get,
      s"trigram filter must sit BELOW (after, in tree order) the doc_id exchange:\n$p")
  }

  test("x145: winsor bounds broadcast back onto the ranked rows") {
    val p = plan("x145_winsorized_mean")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-group bounds frame must broadcast:\n$p")
    // one exchange partitions the corpus by group for the rank window; the
    // bounds derivation and the final aggregate REUSE it — more exchanges
    // would mean the corpus reshuffles for a 20-row bounds table
    val corpusExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(source"))
    assert(corpusExchanges <= 2,
      s"rank + reuse should need at most 2 source exchanges, got $corpusExchanges:\n$p")
  }

  test("x146: streaks are one user exchange — islands never leave their partition") {
    val p = plan("x146_daily_streaks")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"distinct + window + both aggregates must share ONE user exchange, got $exchanges:\n$p")
  }

  test("x148: both ring lookups ride broadcasts — keys never shuffle for the rings") {
    val p = plan("x148_consistent_hash_migration")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the vnode range probe must be a broadcast nested-loop:\n$p")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      s"both shard resolutions must be broadcast equality joins:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-sized sort-merge join belongs in a ring lookup:\n$p")
  }

  test("x151: the day spine broadcasts onto the pair frame — no pair-side sort-merge") {
    val p = plan("x151_rolling_distinct_users")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the trailing-window range join must broadcast the |days| spine:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"day-grain pairs must never sort-merge against a tiny spine:\n$p")
  }

  test("x158: golden record is a max_by AGGREGATE with map-side partials, no window") {
    val p = plan("x158_golden_record")
    assert(p.contains("partial_max_by"),
      s"the longest-text pick must partial-aggregate map-side:\n$p")
    assert(!p.linesIterator.exists(l => l.trim.startsWith("Window ")),
      s"survivorship must not sort clusters through a window:\n$p")
  }

  test("x153/x164: global medians run over the VALUE-COLLAPSED frame — no row-ranked window anywhere") {
    for (q <- Seq("x153_federated_median_audit", "x164_quantile_parity")) {
      val p = plan(q)
      assert(!p.contains("row_number()"),
        s"$q must rank collapsed (value, count) rows via cumulative sums, not row_number:\n$p")
      assert(p.contains("partial_count"),
        s"$q's value collapse must partial-aggregate map-side:\n$p")
    }
  }

  test("x163/x152: entity-frame ranks are two-phase — every row_number window is pid-partitioned") {
    for (q <- Seq("x163_degree_concentration", "x152_skew_partition_plan")) {
      val p = plan(q)
      val rn = p.linesIterator.filter(_.contains("row_number() windowspecdefinition")).toSeq
      assert(rn.nonEmpty, s"$q lost its local rank window:\n$p")
      assert(rn.forall(_.contains("windowspecdefinition(__pid")),
        s"$q has an unpartitioned row_number over an entity frame:\n${rn.mkString("\n")}")
    }
  }

  test("x175: burst scan is join-free — one user exchange, top-k via TakeOrdered") {
    val p = plan("x175_burst_detection")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k users must be a per-partition heap merge, not a global sort:\n$p")
    assert(!p.contains("Join"), s"burst detection must never join:\n$p")
  }

  test("x176: cardinality estimate touches only KEY frames — no nested loop, no fact-row join") {
    val p = plan("x176_join_cardinality_estimate")
    assert(!p.contains("CartesianProduct"), s"no cartesian product:\n$p")
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 2,
      s"only the two 1-row totals cross joins may nest-loop:\n$p")
    assert(p.contains("partial_count"),
      s"both key histograms must partial-aggregate map-side:\n$p")
  }

  test("x179: the user rank is two-phase — every row_number window is pid-partitioned") {
    val p = plan("x179_decile_lift")
    val rn = p.linesIterator.filter(_.contains("row_number() windowspecdefinition")).toSeq
    assert(rn.nonEmpty && rn.forall(_.contains("windowspecdefinition(pid")),
      s"decile rank must ride the range-partitioned prefix sum:\n${rn.mkString("\n")}")
  }

  test("b57: rank-ties top-k pushes a RANK-mode WindowGroupLimit below the exchange") {
    val p = plan("b57_rank_ties_topk")
    assert(p.contains("WindowGroupLimit") && p.contains("rank(revenue"),
      s"rk<=3 must prune via a rank-mode group limit, ties preserved:\n$p")
  }

  test("x182: timed funnel is join-free — deadlines ride the same single user exchange") {
    val p = plan("x182_timed_funnel")
    assert(!p.contains("Join"), s"the per-step deadline must not add a join:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning(user_id")) <= 1,
      s"both windows and the user aggregate must share one exchange:\n$p")
  }

  test("x183: IVF balance audit is broadcast-only — no sort-merge join anywhere") {
    val p = plan("x183_ivf_cell_balance")
    assert(!p.contains("SortMergeJoin"),
      s"centroid spine + totals must broadcast:\n$p")
  }

  test("x187: bidirectional nearest match is join-free — both directions ride one user exchange") {
    val p = plan("x187_nearest_event_match")
    assert(!p.contains("Join"),
      s"nearest-event match must be window navigation, never an as-of join pair:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning(user_id")) <= 1,
      s"backward and forward navigation must share one exchange:\n$p")
  }

  test("x167: LSH-candidate equi-joins only — no all-pairs nested loop; top-k prunes below the exchange") {
    val p = plan("x167_label_noise_audit")
    assert(p.contains("WindowGroupLimit"),
      s"row_number<=k must push a group limit below the window exchange:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the pair stream must be LSH-candidate equi-joins, never an n² nested loop:\n$p")
  }

  test("x188: triangle census joins are all equi-joins; only 1-row stat frames may nest-loop") {
    val p = plan("x188_triangle_count")
    assert(!p.contains("CartesianProduct"), s"no cartesian product:\n$p")
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 2,
      s"only the two 1-row stat cross joins may nest-loop — wedge/closure joins must hash:\n$p")
  }

  test("x190: the corpus collapses to the day spine BEFORE any join; the lag frame broadcasts") {
    val p = plan("x190_autocorrelation")
    assert(p.contains("partial_count"),
      s"daily counts must partial-aggregate map-side before alignment:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the 7-row lag frame must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian product:\n$p")
  }

  test("x191: BPE pair scan is join-free — row-local generation, aggregate, TakeOrdered") {
    val p = plan("x191_bpe_merge_candidates")
    assert(!p.contains("Join"), s"pair generation must be row-local, never a join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be a per-partition heap merge, not a global sort:\n$p")
    assert(p.contains("partial_count"),
      s"the pair aggregate must partial-aggregate map-side:\n$p")
  }

  test("x192: the business-day dimension broadcasts onto the fact rows") {
    val p = plan("x192_business_day_lag")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      s"both date-index lookups must be broadcast joins of the calendar dim:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian product:\n$p")
  }

  test("x193: revenue collapses to the brand vocabulary before the pair frame") {
    val p = plan("x193_rank_agreement")
    assert(p.contains("partial_sum"),
      s"per-half revenue must partial-aggregate map-side before ranking:\n$p")
    // the C(n,2) pair join over the bounded brand vocabulary is the
    // DEFINITION of Kendall's tau (stated precondition) — but it must be
    // the only nested loop beyond the 1-row stat cross join
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 2,
      s"only the vocabulary pair join and the 1-row stat join may nest-loop:\n$p")
  }

  test("x195: every table probe is a BROADCAST semi join of the forget set") {
    val p = plan("x195_forget_impact")
    assert(p.linesIterator.count(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi")) >= 3,
      s"forget-set probes must broadcast-semi-join, never shuffle the tables:\n$p")
    assert(!p.contains("SortMergeJoin") ||
      p.linesIterator.count(_.contains("SortMergeJoin")) <= 1,
      s"only the lineitem→orders path join may shuffle:\n$p")
  }

  test("x196: the keyword rank window is DOC-partitioned — no single-task frame") {
    val p = plan("x196_doc_keywords")
    val rn = p.linesIterator.filter(_.contains("row_number() windowspecdefinition")).toSeq
    assert(rn.nonEmpty && rn.forall(_.contains("windowspecdefinition(doc_id")),
      s"per-doc argmax must partition by the doc key:\n${rn.mkString("\n")}")
    assert(p.contains("WindowGroupLimit"),
      s"rk=1 must push a group limit below the window exchange:\n$p")
  }

  test("x199: the sweep-line running sum is pid-partitioned (two-phase prefix sum)") {
    val p = plan("x199_peak_concurrency")
    val sums = p.linesIterator
      .filter(l => l.contains("sum(delta") && l.contains("windowspecdefinition")).toSeq
    assert(sums.nonEmpty && sums.forall(_.contains("windowspecdefinition(pid")),
      s"the boundary cumsum must ride the range-partitioned prefix sum:\n${sums.mkString("\n")}")
  }

  test("x201: the anchor set SEMI-FILTERS the pair join before fan-out") {
    val p = plan("x201_also_bought")
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi")),
      s"anchors must broadcast-semi-filter one pair side before the basket join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian product:\n$p")
  }

  test("x203: the log2 histogram is join-free — one scan, one bounded aggregate") {
    val p = plan("x203_log2_histogram")
    assert(!p.contains("Join"), s"bucketing must be row-local, never a join:\n$p")
    assert(p.contains("partial_count"),
      s"the bucket aggregate must partial-aggregate map-side:\n$p")
  }

  test("x206: the arrival-order running max is pid-partitioned (two-phase prefix max)") {
    val p = plan("x206_lateness_audit")
    val mx = p.linesIterator
      .filter(l => l.contains("max(__s") && l.contains("windowspecdefinition")).toSeq
    assert(mx.nonEmpty && mx.forall(_.contains("windowspecdefinition(pid")),
      s"the high-water mark must ride the range-partitioned prefix max:\n${mx.mkString("\n")}")
  }

  test("x207: decay attribution shares x134's single interval-join shape — windows per conversion") {
    val p = plan("x207_time_decay_attribution")
    val rn = p.linesIterator.filter(_.contains("row_number() windowspecdefinition")).toSeq
    assert(rn.nonEmpty && rn.forall(_.contains("windowspecdefinition(conv_id")),
      s"the recency rank must partition by conversion:\n${rn.mkString("\n")}")
    assert(!p.contains("CartesianProduct"), s"no cartesian product:\n$p")
  }

  test("x210: the bridge is customer-month collapse first, then ONE hash join pair") {
    val p = plan("x210_revenue_bridge")
    assert(p.contains("partial_sum"),
      s"customer-month revenue must partial-aggregate map-side:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian product:\n$p")
    assert(p.linesIterator.count(_.contains("SortMergeJoin FullOuter")) <= 1,
      s"exactly one full-outer bridge join on (customer, month):\n$p")
  }

  test("x189: the DL comparison runs on the VOCABULARY frame — aggregates precede the self-join") {
    val p = plan("x189_blocked_name_match")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the blocked self-join must be an equi-join on the block key:\n$p")
    assert(p.contains("partial_count"),
      s"the corpus must collapse to (name, count) with map-side partials BEFORE pairing:\n$p")
  }

  test("x252: the corpus pipeline runs once — windows ride the range exchange, pid-partitioned, then leave the plan") {
    // r12: runCounts collapses to ONE pid-grained aggregate, checkpointed
    // at |partitions| rows, so the returned plan must read the tiny
    // checkpointed frame and contain NO corpus scan at all. The corpus
    // adjacency pipeline itself (range exchange + pid-local windows) is
    // rebuilt verbatim here — the x558 staging-assert pattern, since the
    // executed query hides it behind the eager localCheckpoint.
    val p = plan("x252_layout_run_advisor")
    assert(!p.contains("FileScan parquet"),
      s"the boundary/total readers must consume the checkpointed per-pid " +
        s"frame, not re-scan the corpus:\n$p")
    assert(p.contains("Scan ExistingRDD"), s"expected checkpointed scans:\n$p")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val li = sources.Tables(spark, sf, "lineitem")
    val keys = Seq("l_shipdate", "l_orderkey", "l_linenumber").map(col)
    val parted = li.select("l_shipdate", "l_orderkey", "l_linenumber", "l_returnflag")
      .repartitionByRange(keys: _*)
      .withColumn("__pid", spark_partition_id())
    val w = Window.partitionBy("__pid").orderBy(keys: _*)
    val staged = parted.withColumn("__rn", row_number().over(w))
      .withColumn("__chg",
        when(col("__rn") > 1 && !(col("l_returnflag") <=> lag(col("l_returnflag"), 1).over(w)), 1L)
          .otherwise(0L))
      .groupBy("__pid").agg(count(lit(1)).as("__cnt"), sum(col("__chg")).as("__w"))
    val sp = staged.queryExecution.executedPlan.toString
    assert(sp.contains("Exchange rangepartitioning"),
      s"runCounts' staging must range-exchange on the candidate sort key:\n$sp")
    val wins = sp.linesIterator
      .filter(l => l.contains("windowspecdefinition") &&
        (l.contains("lag(") || l.contains("row_number()"))).toSeq
    assert(wins.nonEmpty && wins.forall(_.contains("windowspecdefinition(__pid")),
      s"corpus-sized lag/row_number must be pid-partitioned:\n${wins.mkString("\n")}")
  }

  test("x250: first-touch mix resolves the first event with ZERO window operators") {
    val p = plan("x250_first_touch_mix")
    assert(!p.contains("Window"),
      s"min(struct(ts,id,type)) must replace the row_number window:\n$p")
    assert(p.contains("partial_min"),
      s"the first-event min must partial-aggregate map-side:\n$p")
  }

  test("x244: the gap lag partitions by user; threshold sweep adds no second scan") {
    val p = plan("x244_session_gap_sweep")
    val lags = p.linesIterator
      .filter(l => l.contains("lag(") && l.contains("windowspecdefinition")).toSeq
    assert(lags.nonEmpty && lags.forall(_.contains("windowspecdefinition(user_id")),
      s"the gap lag must be user-partitioned:\n${lags.mkString("\n")}")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1,
      s"one scan must feed every threshold:\n$p")
  }

  test("x249: PQ encode/ADC are broadcast equi-joins; both top-ks are TakeOrderedAndProject") {
    val p = plan("x249_pq_recall_audit")
    assert(p.contains("TakeOrderedAndProject"),
      s"PQ and brute top-k must plan as per-partition top-k:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"codebook/ADC-table joins must broadcast-hash, not nested-loop:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian product:\n$p")
  }

  test("x247: dimension drift is explode-collapse — no windows, broadcast global means") {
    val p = plan("x247_dimension_drift_audit")
    assert(!p.contains("Window"), s"no window operators expected:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the dim-bounded global means must broadcast back:\n$p")
  }

  test("x261/x284: cumulative shares/CDFs ride the range-partitioned two-phase prefix sum") {
    for (name <- Seq("x261_abc_classification", "x284_ks_distance")) {
      val p = plan(name)
      assert(p.contains("Exchange rangepartitioning"),
        s"$name must range-exchange before the local cumulative:\n$p")
      val cum = p.linesIterator
        .filter(l => l.contains("windowspecdefinition") && l.contains("sum("))
        .toSeq
      assert(cum.exists(_.contains("windowspecdefinition(__pid")),
        s"$name's corpus-sized cumulative must be pid-local:\n${cum.mkString("\n")}")
    }
  }

  test("x319: nation dims broadcast onto the fact flow") {
    val p = plan("x319_nation_trade_balance")
    assert(p.contains("BroadcastHashJoin"),
      s"nation dim joins must broadcast:\n$p")
  }

  test("x380: whale leaderboard plans as TakeOrdered over the rollup, no global sort") {
    assert(plan("x380_whale_leaderboard").contains("TakeOrderedAndProject"))
  }

  test("x332: backtest windows are customer-partitioned, never global") {
    val p = plan("x332_trailing_mean_backtest")
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("o_custkey")),
      s"every window frame must partition by customer:\n${specs.mkString("\n")}")
  }

  test("x526: blocking-audit candidates come from an equi-join on the prefix shingle, never all-pairs") {
    val p = plan("x526_blocking_quality_audit")
    // the only nested-loop joins allowed are the final scalar (1-row
    // aggregate) cross-joins; the corpus-sized candidate join must be a
    // hash/sort EQUI-join on the shingle hash
    assert(!p.contains("CartesianProduct"), s"no cartesian product:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"candidate generation must be an equi-join:\n$p")
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 3, s"only the scalar-rollup cross-joins may nest-loop ($bnlj):\n$p")
  }

  test("x528: heavy-hitter histogram top-10 plans as TakeOrdered, not a global sort") {
    val p = plan("x528_join_cardinality_estimate")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
  }

  test("x535: admission rank windows are (user, window)-partitioned, never global") {
    val p = plan("x535_admission_control_census")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(s => s.contains("user_id") && s.contains("__win")),
      s"rank must partition by (user, window):\n${specs.mkString("\n")}")
  }

  test("x538: SNM rank is the two-phase range rank (range exchange + pid-local window)") {
    val p = plan("x538_sorted_neighborhood_audit")
    assert(p.contains("Exchange rangepartitioning"),
      s"SNM must range-exchange before local ranking:\n$p")
    val rn = p.linesIterator
      .filter(l => l.contains("windowspecdefinition") && l.contains("row_number"))
      .toSeq
    assert(rn.exists(_.contains("pid")),
      s"the corpus-sized row_number must be pid-local:\n${rn.mkString("\n")}")
  }

  test("x539: MMR pool is a checkpointed constant-k frame (scans, not corpus re-reads, feed the rounds)") {
    val p = plan("x539_mmr_rerank")
    // the pool and pairwise frames are localCheckpoint'd after the top-k,
    // so the executed plan reads them as in-memory scans — the embeddings
    // parquet must appear in NO selection round (zero parquet scans here)
    assert(!p.contains("FileScan parquet"),
      s"selection rounds must read the checkpointed pool, not the corpus:\n$p")
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"),
      s"expected checkpointed-pool scans:\n$p")
  }

  test("x583: every truncation width is a TakeOrdered top-k, query broadcast, no cartesian") {
    val p = plan("x583_matryoshka_recall")
    val topk = p.linesIterator.count(_.contains("TakeOrderedAndProject"))
    assert(topk >= 5, s"expected 5 top-k scans (truth + 4 widths), got $topk:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian product:\n$p")
  }

  test("x587: QTE rank windows partition by arm, never global") {
    val p = plan("x587_quantile_treatment_effect")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("__a")),
      s"cumulative ranks must partition by arm:\n${specs.mkString("\n")}")
  }

  test("x574: rolling median self-joins the DAY-collapsed frame — no window function at all") {
    val p = plan("x574_rolling_median_7d")
    assert(!p.contains("windowspecdefinition"),
      s"the rolling median must use the range self-join, not a row window:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian product:\n$p")
  }

  test("x585: CMH is pure aggregation — no window, no cartesian, one stratum exchange") {
    val p = plan("x585_cmh_stratified_ratio")
    assert(!p.contains("windowspecdefinition"), s"no window expected:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian product:\n$p")
    assert(p.contains("HashAggregate"), s"hash aggregation expected:\n$p")
  }

  test("x582: attribution scenarios iterate the checkpointed matrix, not the corpus") {
    val p = plan("x582_markov_attribution")
    // the transition matrix is localCheckpoint'd once; the 5 absorption
    // scenarios (base + 4 removals) must read it as in-memory scans —
    // the events parquet appears in NO scenario plan
    assert(!p.contains("FileScan parquet"),
      s"absorption rounds must read the checkpointed matrix:\n$p")
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"),
      s"expected checkpointed-matrix scans:\n$p")
  }

  test("x593: rank machinery is two-phase — range repartition, bounded single-partition work only") {
    val p = plan("x593_mann_whitney_u")
    assert(p.contains("rangepartitioning"),
      s"two-phase prefix sum needs the range repartition:\n$p")
    // exactly two SinglePartition exchanges: the partition-count-bounded
    // offsets window and the final 1-row aggregate — never the corpus
    assert(p.linesIterator.count(_.contains("Exchange SinglePartition")) == 2,
      s"only the bounded offsets + 1-row agg may single-partition:\n$p")
    assert(!p.contains("SortMergeJoin"), s"offsets join must broadcast:\n$p")
  }

  test("x602/x605: gate decisions ride bounded frames; page windows partition by block") {
    val p = plan("x602_quality_gated_curation")
    assert(!p.contains("SortMergeJoin"),
      s"every decision frame is <= |bins| rows and must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian product:\n$p")
    val q = plan("x605_page_trend_test")
    assert(!q.contains("SortMergeJoin"),
      s"complete-block and moment joins must broadcast:\n$q")
    assert(q.contains("windowspecdefinition(__b"),
      s"rank windows must partition by block:\n$q")
  }

  test("x606: class separability is pure aggregation — no join, no window, no shuffle beyond the collapses") {
    val p = plan("x606_class_separability")
    assert(!p.contains("Join"), s"eta2 needs no join at any scale:\n$p")
    assert(!p.contains("windowspecdefinition"), s"no window function:\n$p")
  }

  test("x612: shard rebalance is join-free — hash ladders are map-side, one 1-row aggregate") {
    val p = plan("x612_shard_rebalance_audit")
    assert(!p.contains("Join"), s"mod/range/ring are all expressions:\n$p")
    assert(!p.contains("windowspecdefinition"), s"no window function:\n$p")
  }

  test("x613/x614: two-phase ranks and grid windows — never a sort-merge or cartesian") {
    val p = plan("x613_batch_padding_strategies")
    assert(p.linesIterator.count(_.contains("rangepartitioning")) >= 2,
      s"each batching order needs its two-phase global rank:\n$p")
    assert(!p.contains("SortMergeJoin"), s"rank-offset joins broadcast:\n$p")
    val q = plan("x614_jonckheere_terpstra")
    assert(!q.contains("SortMergeJoin") && !q.contains("CartesianProduct"),
      s"the k-row spine broadcasts; nothing sort-merges:\n$q")
    assert(q.contains("windowspecdefinition(__j")
      && q.contains("windowspecdefinition(__v"),
      s"both prefix windows must be partitioned:\n$q")
  }

  test("x619: Krippendorff alpha is aggregation only — no join, no window") {
    val p = plan("x619_krippendorff_alpha")
    assert(!p.contains("Join"), s"the pair sum collapses algebraically — no join:\n$p")
    assert(!p.contains("windowspecdefinition"), s"no window function:\n$p")
  }

  test("x617/x618/x621: preference audits ride item-bounded frames — nothing sort-merges, nothing cartesians") {
    for (name <- Seq("x617_preference_transitivity",
        "x618_annotator_position_bias", "x621_annotator_majority_agreement")) {
      val p = plan(name)
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"$name: every join is on a ≤|items|² frame and must broadcast:\n$p")
    }
  }

  test("x616: the Bradley-Terry corpus collapse is one aggregation — no join, no window") {
    // x616's declared query returns a driver-built LocalRelation (the MM
    // rounds run on the driver after the guarded collect), so its executed
    // plan can never contain a join — asserting on it is vacuous. The
    // distributed part IS Preference.pairWinCounts: pin ITS shape on a
    // prefComparisons-shaped corpus staging.
    import org.apache.spark.sql.functions._
    val comps = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("user_id").isNotNull)
      .select(pmod(col("event_id"), lit(13L)).as("fi"),
        pmod(expr("event_id DIV 13"), lit(13L)).as("si"))
      .filter(col("fi") =!= col("si"))
      .select(least(col("fi"), col("si")).as("item_a"),
        greatest(col("fi"), col("si")).as("item_b"))
      .withColumn("winner", col("item_a"))
    val p = graft.operators.Preference
      .pairWinCounts(comps, col("item_a"), col("item_b"), col("winner"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"the collapse is join-free:\n$p")
    assert(!p.contains("windowspecdefinition"), s"no window function:\n$p")
    assert(p.contains("HashAggregate"), s"partial+final hash agg expected:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"exactly the |items|²-key exchange, nothing else:\n$p")
  }

  test("x603/x604/x611: privacy grid, rank staging, and stratum joins all broadcast") {
    for (name <- Seq("x603_t_closeness_audit", "x604_ansari_bradley_scale",
        "x611_importance_weight_ess")) {
      val p = plan(name)
      assert(!p.contains("SortMergeJoin"),
        s"$name: bounded frames must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name: no cartesian:\n$p")
    }
  }

  test("x599: friedman joins broadcast; ranks ride block-partitioned windows") {
    val p = plan("x599_friedman_kendall_w")
    assert(!p.contains("SortMergeJoin"),
      s"block-size and fact joins must broadcast at this SF:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian product:\n$p")
    // both rank windows are partitioned by block (never a bare global)
    assert(p.contains("windowspecdefinition(__b"),
      s"windows must partition by block:\n$p")
  }

  test("x600: dunn pair join is a broadcast NLJ over k rows; staging never sort-merges") {
    val p = plan("x600_dunn_posthoc_bh")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the g<g2 pair join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sort-merge anywhere:\n$p")
    // r13: the pooled-rank staging (the range-exchange two-phase prefix
    // sum) is eagerly checkpointed at k rows, so the returned plan must
    // read the tiny staged frame and contain NO corpus scan at all —
    // the x252 pin pattern (the staging shape itself stays pinned by
    // AnalyticsSpec's rank-sum tests).
    assert(!p.contains("FileScan parquet"),
      s"every branch must consume the checkpointed k-row staging, not " +
        s"re-run the pooled-rank pipeline:\n$p")
    assert(p.contains("Scan ExistingRDD"), s"expected checkpointed scans:\n$p")
  }

  test("x622: structure report shares ONE conversation exchange between the lag window and the collapse — no join") {
    val p = plan("x622_conversation_structure")
    assert(!p.contains("Join"), s"the report is window + aggregation only:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"the per-conversation collapse must reuse the window's exchange:\n$p")
    assert(p.contains("windowspecdefinition(__c"),
      s"the alternation lag must be conversation-partitioned:\n$p")
  }

  test("x623: turn packing is fold-after-group — no join, no window, two keyed exchanges") {
    val p = plan("x623_pack_turns_census")
    assert(!p.contains("Join"), s"packing never joins:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"the greedy fold replaces any running-sum window:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"exactly the conversation exchange and the census exchange:\n$p")
  }

  test("x624: dialog dedup is three shrinking collapses — no join, no window, conv exchange first") {
    val p = plan("x624_dialog_dedup_siblings")
    assert(!p.contains("Join"), s"fingerprint dedup never joins:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"fingerprints fold inside the conversation collapse, no window:\n$p")
    // conv collapse (the only corpus-sized one), the countDistinct's
    // (prefix, full) dedup, and the prefix-group collapse — each frame
    // |conversations|-bounded after the first
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 3,
      s"exactly the conv / (prefix,full) / prefix exchanges:\n$p")
    assert("Exchange hashpartitioning\\(__c".r.findAllIn(p).nonEmpty,
      s"the corpus collapse keys on the conversation:\n$p")
  }

  test("x625: truncation audit shares ONE conversation exchange between the suffix window and the collapse — no join") {
    val p = plan("x625_truncation_audit")
    assert(!p.contains("Join"), s"the audit is window + aggregation only:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"the per-conversation collapse must reuse the window's exchange:\n$p")
    assert(p.contains("windowspecdefinition(__c"),
      s"the suffix sum must be conversation-partitioned:\n$p")
    assert(p.contains("DESC"),
      s"the running sum walks the suffix (descending turn order):\n$p")
  }

  test("x558: covariance product stream is row-local — no join and one exchange below the cell aggregate") {
    // rebuilds the x558 covariance staging verbatim (the query's own frame
    // is behind an eager localCheckpoint, whose executed plan is just an
    // RDD scan): the r11 version reassembled row-local data through a
    // corpus×64 vec_id self-join; the product stream must now reach the
    // dim²-keyed aggregate through generators only.
    import org.apache.spark.sql.functions._
    val sums = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(expr("""transform(embedding, e ->
          CAST(ROUND(CAST(e AS DOUBLE) * 1000000, 0) AS BIGINT) + 1000000)""")
        .as("__xs"))
      .select(col("__xs"), posexplode(col("__xs")))
      .withColumnRenamed("pos", "i").withColumnRenamed("col", "xi")
      .select(col("i"), col("xi"),
        posexplode(expr("slice(__xs, i + 1, size(__xs) - i)")))
      .select(col("i").as("__i"), (col("i") + col("pos")).as("__j"),
        (col("xi") * col("col")).as("__p"))
      .groupBy("__i", "__j")
      .agg(sum(col("__p").cast("decimal(38,0)")).as("__s"))
    val p = sums.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"no join below the cell aggregate:\n$p")
    assert(!p.contains("vec_id"), s"the vec_id self-join staging is gone:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"exactly the dim²-key exchange, nothing corpus-sized:\n$p")
    assert("Generate posexplode".r.findAllIn(p).size == 2,
      s"both explodes are codegen generators:\n$p")
  }
}
