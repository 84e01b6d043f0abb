package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FreshSession

/**
 * Graph ranking operators over edge lists. Complements
 * [[Dedup.connectedComponents]] (reachability) with importance scoring.
 */
object Graph {

  /**
   * Materialize `df` hash-partitioned (+ sorted) on `key` with the
   * partitioning PLAN-VISIBLE to downstream queries — the §2.4 "bucketed
   * staging" pattern for the iterative operators' probe side, in-session.
   *
   * Under AQE (Spark 4.1) a cached or checkpointed frame reports
   * UnknownPartitioning (`AdaptiveSparkPlanExec` does not override
   * `outputPartitioning` — measured r12, OPTIMIZATION_r12.md "Tried #3"),
   * so every iteration re-exchanged (and re-sorted) the full edge frame.
   * `Dataset.localCheckpoint` records the PHYSICAL plan's partitioning and
   * ordering into its `LogicalRDD` leaf; executing the checkpoint with AQE
   * off (in a [[FreshSession]], so the caller's conf never changes) makes
   * that physical plan the plain repartition+sort, whose partitioning the
   * leaf then carries into every AQE-planned consumer: each iteration's
   * join exchanges only the node-bounded side. At cluster scale the same
   * contract is a bucketed staging table (disk-persisted, bucketed+sorted
   * by the probe key); this is the in-memory session analog. EAGER (one
   * staging job), like the staging memos it feeds.
   */
  private[graft] def partitionedCheckpoint(df: DataFrame, key: String): DataFrame =
    FreshSession(df.sparkSession, "spark.sql.adaptive.enabled" -> "false") { s =>
      FreshSession.bind(s, df).repartition(col(key)).sortWithinPartitions(key)
        .localCheckpoint()
    }

  /**
   * Fixed-iteration PageRank in PURE INTEGER ARITHMETIC — every rank is a
   * BIGINT, contributions are `rank DIV out_degree` and damping is
   * `(num * sum) DIV den`, so the result is bit-identical on any engine
   * and any partitioning (float PageRank differs in final ulps between
   * engines because partial-sum order differs; integer division truncates
   * identically everywhere). The classic float formulation is recovered by
   * dividing ranks by `r0`.
   *
   * Semantics: `rank_{i+1}(v) = r0*(den-num) DIV den
   *                              + num * (Σ_{u→v} rank_i(u) DIV deg(u)) DIV den`
   * (the teleport base is the exact floor for any `r0`, computed in split
   * form so the product never overflows).
   * Dangling mass (sinks have no out-edges) is dropped, not redistributed —
   * ranks are a relative ordering, not a probability distribution
   * (documented standard simplification; conservation costs an extra global
   * aggregate per iteration and changes no ordering on this graph family).
   *
   * Scale shape: degree-annotated edges are staged ONCE, partitioned and
   * sorted on the probe key with plan-visible partitioning
   * ([[partitionedCheckpoint]] — at cluster scale: a bucketed staging
   * table) — each of the `iterations` rounds is one join reusing that
   * layout (only the node-bounded rank side exchanges and sorts) + one
   * hash aggregate on the dst key; partial aggregation (map-side combine)
   * bounds the shuffle by the node count, not the edge count. The node
   * frame is cached because the fixed-depth loop references it every
   * round; lifecycle is caller-managed — once the returned ranks are
   * materialized and dropped, Spark's ContextCleaner reclaims the
   * unreferenced cache and checkpoint blocks (deterministic release:
   * `spark.catalog.clearCache()`). `iterations` is small and fixed, so plan depth is
   * bounded and no per-round checkpoint is needed (contrast
   * [[Dedup.connectedComponents]], whose data-dependent round count
   * requires lineage truncation).
   *
   * Overflow bound: `num * Σ contrib ≤ num * nodes * r0` must stay under
   * 2^63 — with the defaults, safe to ~10^8 nodes; at larger node counts
   * pass a proportionally smaller `r0` (rank resolution degrades gracefully:
   * relative error ~ deg/r0).
   *
   * @param edges (src, dst) directed edge frame; duplicates collapsed.
   * @param r0    initial rank per node (fixed-point scale).
   * @param assumeDistinct skip the dedup exchange when the caller already
   *   materialized a distinct edge frame (e.g. a checkpointed staging
   *   table Catalyst cannot see through) — semantics are the caller's
   *   contract, the plan saves one full shuffle of the edge set.
   * @param precomputedNodes optional (v)-column node frame (e.g. shared
   *   staging, see Extensions.purchaseNodes) — skips the union+distinct
   *   derivation; must equal the edges' endpoint set (caller's contract,
   *   like `assumeDistinct`).
   */
  def pageRank(edges: DataFrame, iterations: Int, r0: Long = 1000000000000L,
      dampNum: Int = 85, dampDen: Int = 100,
      assumeDistinct: Boolean = false,
      precomputedNodes: Option[DataFrame] = None): DataFrame = {
    require(iterations >= 1 && iterations <= 20, s"iterations $iterations not in [1,20]")
    require(dampNum > 0 && dampNum < dampDen, s"damping $dampNum/$dampDen not in (0,1)")
    val raw = edges.select(col("src"), col("dst"))
    val e = if (assumeDistinct) raw else raw.distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
    // r13 (guide §2.4): the degree-annotated edge frame is staged
    // partitioned+sorted on the probe key with PLAN-VISIBLE partitioning
    // ([[partitionedCheckpoint]]), so each round's join exchanges and
    // sorts only the node-bounded rank side — the former `.cache()`
    // reported UnknownPartitioning under AQE and every round re-exchanged
    // the full edge frame.
    val ed = partitionedCheckpoint(e.join(deg, "src"), "src")
    val nodes = precomputedNodes.map(_.select(col("v")))
      .getOrElse(e.select(col("src").as("v")).union(e.select(col("dst").as("v")))
        .distinct())
      .cache()
    // exact floor(r0·(den−num)/den) for ANY r0 without overflowing the
    // intermediate product: split r0 = q·den + rem and divide the remainder
    // term separately — a plain r0/den*(den−num) silently diverges from the
    // documented formula whenever den does not divide r0
    val keep = dampDen - dampNum
    val base = r0 / dampDen * keep + r0 % dampDen * keep / dampDen
    var ranks = nodes.withColumn("r", lit(r0))
    for (_ <- 1 to iterations) {
      val in = ed.join(ranks, ed("src") === ranks("v"))
        .select(col("dst"), expr("r DIV d").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
      ranks = nodes.join(in, nodes("v") === in("dst"), "left")
        .select(col("v"),
          (lit(base) + expr(s"$dampNum * coalesce(s, 0L) DIV $dampDen")).as("r"))
    }
    ranks
  }

  /**
   * Fixed-iteration HITS (hubs & authorities) in PURE INTEGER ARITHMETIC —
   * [[pageRank]]'s bit-reproducibility argument applied to the two-score
   * mutual-reinforcement ranking: `auth_k(v) = Σ_{u→v} hub_{k-1}(u)`,
   * `hub_k(u) = Σ_{u→v} auth_k(v)`. No per-round normalization: HITS
   * rankings are scale-invariant, and dropping the (float, sum-order-
   * dependent) L2 normalization is exactly what makes the result
   * engine-identical; `h0` only sets the fixed-point resolution.
   *
   * Scale shape: the distinct edge frame is staged dst-partitioned
   * ([[partitionedCheckpoint]]; a second src-keyed copy only when
   * iterations ≥ 3 amortize it — see the in-code note); score frames are
   * SPARSE during iteration (only nodes with a nonzero sum — an absent
   * node contributes exactly 0 to every edge sum, so sparse joins are
   * bit-identical to the dense zero-filled form while skipping the
   * per-round |nodes| left joins), and the zero-fill against the node
   * frame happens ONCE at the end. Round 1's authority pass needs no join
   * at all: hub_0 is the h0 constant, so `auth_1(v) = h0 · indeg(v)` is
   * one map-side-combined count over the edges. Total: 2·iterations − 1
   * edge join+agg passes + 2 final node left joins (was 2·iterations edge
   * joins + 2·iterations node joins). Fixed small `iterations` ⇒ bounded
   * plan depth, no checkpoint (same contract as [[pageRank]]).
   *
   * Overflow bound: scores grow by a factor ≤ max_in_deg·max_out_deg per
   * full round, so `h0 · (d_in·d_out)^iterations < 2^63` must hold — with
   * the defaults (h0 = 10^6, 2 iterations) safe to degree products of
   * ~3·10^6 per round; shrink `h0` for denser graphs (resolution degrades
   * gracefully, the ordering is preserved).
   */
  def hits(edges: DataFrame, iterations: Int = 2, h0: Long = 1000000L,
      assumeDistinct: Boolean = false,
      precomputedNodes: Option[DataFrame] = None): DataFrame = {
    require(iterations >= 1 && iterations <= 10, s"iterations $iterations not in [1,10]")
    require(h0 >= 1L, s"h0 $h0 must be positive")
    val raw = edges.select(col("src"), col("dst"))
    val e = if (assumeDistinct) raw else raw.distinct()
    // r13 (guide §2.4): HITS probes the edge frame on BOTH keys
    // alternately (auth passes join on src, hub passes on dst). The dst
    // copy is staged partitioned+sorted with plan-visible partitioning
    // ([[partitionedCheckpoint]]) — it serves the first-round indegree
    // count AND every hub pass (≥2 uses at any iteration count). A second
    // src-keyed copy (re-shuffled from the materialized dst copy, never
    // the upstream pipeline) only amortizes when ≥2 auth passes probe it,
    // i.e. iterations ≥ 3 — measured at sf0.1/iterations=2, staging both
    // copies unconditionally was a 0.8 s REGRESSION (the second
    // materialization outweighed the single src-join exchange it saved).
    // The former single `.cache()` reported UnknownPartitioning under AQE
    // and re-exchanged the edges 2·iterations−1 times.
    val eDst = partitionedCheckpoint(e, "dst")
    val eSrc =
      if (iterations >= 3) partitionedCheckpoint(eDst, "src") else eDst
    val nodes = precomputedNodes.map(_.select(col("v")))
      .getOrElse(eDst.select(col("src").as("v"))
        .union(eDst.select(col("dst").as("v")))
        .distinct())
    var auth = eDst.groupBy(col("dst"))
      .agg((count(lit(1)) * h0).as("a"))
      .select(col("dst").as("av"), col("a"))
    var hub = eDst.join(auth, eDst("dst") === auth("av"))
      .groupBy(col("src")).agg(sum(col("a")).as("h"))
      .select(col("src").as("hv"), col("h"))
    for (_ <- 2 to iterations) {
      auth = eSrc.join(hub, eSrc("src") === hub("hv"))
        .groupBy(col("dst")).agg(sum(col("h")).as("a"))
        .select(col("dst").as("av"), col("a"))
      hub = eDst.join(auth, eDst("dst") === auth("av"))
        .groupBy(col("src")).agg(sum(col("a")).as("h"))
        .select(col("src").as("hv"), col("h"))
    }
    nodes.join(hub, nodes("v") === hub("hv"), "left")
      .join(auth, nodes("v") === auth("av"), "left")
      .select(col("v"), coalesce(col("h"), lit(0L)).as("h"),
        coalesce(col("a"), lit(0L)).as("a"))
  }

  /**
   * DEGREE-CONCENTRATION audit: how much of the edge mass sits on the
   * top `topPct`% highest-degree nodes — the heavy-tail health check run
   * before any graph computation (a purchase graph where 1% of suppliers
   * carry half the edges needs the skew treatments; one where they
   * don't, doesn't). Reports per side (src/dst): node count, edge count,
   * the top-ceil(`topPct`%·nodes) cohort's edge share in exact ppm, and
   * its max single-node degree.
   *
   * Scale shape: degrees are one map-side-combined count per endpoint;
   * the rank is the TWO-PHASE range-partitioned prefix sum
   * ([[graft.operators.Sampling.globalRankRange]]'s shape): range-exchange
   * the |nodes| degree frame on (degree desc, node), rank locally per
   * partition, and add the exclusive prefix of per-partition counts — the
   * only single-partition hop is the one-row-per-partition offsets frame,
   * so the node frame itself (which grows with the corpus for a purchase
   * graph) is never funneled through one task. Report is 2 rows; edges
   * never join anything — the offsets branch re-reads the degree
   * lineage (node-frame-sized, distributed), the price of carrying the
   * grand total without a cache.
   */
  /**
   * Bounded-round K-CORE pruning: repeatedly drop nodes with total degree
   * < `k` (and their edges) for exactly `rounds` rounds — the standard
   * graph-cleaning pass run before expensive graph computations (a
   * purchase graph's 2-core is where the collaborative signal lives; the
   * pruned fringe is one-off noise). Reports the surviving edge count,
   * per-side node counts, and whether the LAST round still pruned
   * anything (converged = the fixed point was reached within the budget —
   * stated, not assumed, the CC vote-to-halt honesty convention at fixed
   * depth).
   *
   * Scale shape: each round is one endpoint-union degree aggregate
   * (map-side combined, node-bounded) plus two LEFT-SEMI joins filtering
   * the edge frame; intermediate rounds are `localCheckpoint`'d to
   * truncate lineage (the [[Dedup.connectedComponents]] discipline —
   * plan depth stays O(1) per round, not O(rounds)). Nothing is
   * collected; the report is one row.
   *
   * r12 optimization (guide §1.2 "don't compute things you throw away"):
   * the old loop ran TWO count() jobs per round to track the pruned
   * delta, but only the LAST round's delta is reported (`converged`).
   * The final round now fuses prune + count + report into ONE aggregate:
   * the keep-set membership tests become two left joins against the
   * (per-v unique) keep frame carrying a flag column, so surviving-edge
   * stats are conditional aggregates over the pre-prune frame and the
   * pre-prune edge count rides the same pass — 2·rounds count jobs and
   * the final round's checkpoint disappear (x181: 10 jobs → 3), while
   * every intermediate round keeps the semi-join prune shape.
   */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be positive")
    var e = edges.select("src", "dst")
    def keepSet(ef: DataFrame): DataFrame =
      ef.select(col("src").as("v"))
        .unionAll(ef.select(col("dst").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("v")
    for (_ <- 1 until rounds) {
      val keep = keepSet(e)
      e = e.join(keep.withColumnRenamed("v", "src"), Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("v", "dst"), Seq("dst"), "left_semi")
        .localCheckpoint()
    }
    // Final round, fused: keep is unique per v, so the left joins cannot
    // fan out and `__ok` flags membership exactly like the semi joins.
    val keep = keepSet(e)
    val ok = col("__oksrc").isNotNull && col("__okdst").isNotNull
    e.join(keep.select(col("v").as("src"), lit(1).as("__oksrc")), Seq("src"), "left")
      .join(keep.select(col("v").as("dst"), lit(1).as("__okdst")), Seq("dst"), "left")
      .agg(count(when(ok, lit(1))).as("n_edges"),
        countDistinct(when(ok, col("src"))).as("n_src"),
        countDistinct(when(ok, col("dst"))).as("n_dst"),
        count(lit(1)).as("__before"))
      .select(col("n_edges"), col("n_src"), col("n_dst"),
        when(col("__before") === col("n_edges"), lit(1)).otherwise(lit(0))
          .as("converged"))
  }

  def degreeConcentration(edges: DataFrame, topPct: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topPct >= 1 && topPct <= 100, s"topPct $topPct not in [1,100]")
    def side(c: String): DataFrame = {
      val deg = edges.groupBy(col(c).as("node")).agg(count(lit(1)).as("d"))
      val keys = Seq(col("d").desc, col("node").asc)
      val parted = deg.repartitionByRange(keys: _*)
        .withColumn("__pid", spark_partition_id())
      val local = parted.withColumn("__lr",
        row_number().over(Window.partitionBy("__pid").orderBy(keys: _*)).cast("long"))
      // offsets: one row per range partition — cumulative window over a
      // #partitions-sized frame, plus the grand total carried alongside
      val offsets = local.groupBy("__pid").agg(count(lit(1)).as("__cnt"))
        .withColumn("__off", sum(col("__cnt")).over(BoundedGlobalWindow.orderBy("__pid")) - col("__cnt"))
        .withColumn("__n", sum(col("__cnt")).over(Window.partitionBy(lit(1))))
        .select(col("__pid").as("__opid"), col("__off"), col("__n"))
      local.join(broadcast(offsets), col("__pid") === col("__opid"))
        .withColumn("__rk", col("__off") + col("__lr"))
        .withColumn("__top", expr(s"(__n * $topPct + 99) DIV 100"))
        .agg(max(col("__n")).as("n_nodes"),
          sum(col("d")).as("n_edges"),
          sum(when(col("__rk") <= col("__top"), col("d")).otherwise(0L))
            .as("__topdeg"),
          max(when(col("__rk") === 1, col("d"))).as("max_degree"))
        .select(lit(c).as("side"), col("n_nodes"), col("n_edges"),
          expr("__topdeg * 1000000 DIV n_edges").as("top_share_ppm"),
          col("max_degree"))
    }
    side("src").unionByName(side("dst"))
  }

  /**
   * Exact TRIANGLE COUNT via degree-ordered orientation — the standard
   * scale trick (node-iterator++ / Cohen's MapReduce formulation): each
   * undirected edge is oriented from its lower-(degree, id) endpoint to the
   * higher one, turning the graph into a DAG in which every triangle
   * {a,b,c} appears EXACTLY once as the wedge a→b, a→c (b before c in the
   * total order) closed by the edge b→c. Orientation bounds each node's
   * out-degree by O(√m) on any graph (a node of degree d only points at
   * neighbors of degree ≥ d, and there are at most 2m/d of those), so the
   * wedge join fans out O(m^1.5) worst-case instead of Σd² — the hub that
   * explodes a naive neighbor join contributes almost no wedges because
   * nearly all its edges point INTO it.
   *
   * Semantics: self-loops dropped, parallel edges collapsed, direction of
   * the input ignored (undirected closure count). Output is one row:
   * node/edge/wedge/triangle counts plus the global clustering coefficient
   * `3·triangles·1e6 DIV wedges` in exact integer ppm (0 when wedge-free),
   * where wedges is the textbook denominator Σ d(d−1)/2 — a degree-frame
   * aggregate, NOT the oriented pair count (orientation is an execution
   * strategy; the reported statistic stays the standard one).
   *
   * Scale shape: one dedup exchange for the canonical edge set, one
   * node-bounded degree aggregate joined back (broadcast-eligible only if
   * nodes are few — left as a hash join for generality), then the wedge
   * self-join and closure join both hash-partition on node keys. Nothing
   * is ever quadratic in the corpus; the O(√m) orientation bound is the
   * whole point. Orientation keys pack (degree, id) into one BIGINT
   * (`deg·10¹² + id`) so the DAG comparison is a scalar `<`; requires
   * ids < 10¹² and degrees < 9.2·10⁶ — both documented, both far above
   * this corpus and checked nowhere hot.
   */
  def triangleCount(edges: DataFrame, idsBelow: Long = 1000000000000L): DataFrame = {
    val canon = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct()
    val deg = canon.select(col("u").as("node"))
      .unionAll(canon.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    // orientation key: (degree, id) as one scalar; ties break on id so the
    // order is total and the oriented graph is a DAG
    val key = col("d") * lit(idsBelow) + col("node")
    val keyed = deg.select(col("node"), key.as("k"))
    val oriented = canon
      .join(keyed.withColumnRenamed("node", "u").withColumnRenamed("k", "ku"), "u")
      .join(keyed.withColumnRenamed("node", "v").withColumnRenamed("k", "kv"), "v")
      .select(when(col("ku") < col("kv"), col("u")).otherwise(col("v")).as("src"),
        when(col("ku") < col("kv"), col("kv")).otherwise(col("ku")).as("kdst"),
        when(col("ku") < col("kv"), col("v")).otherwise(col("u")).as("dst"))
      // cached: consumed three times (both wedge sides + the closure
      // probe). Caller-managed lifecycle — see pageRank's contract.
      .cache()
    // oriented out-pairs a→b, a→c with kb < kc (each triangle's apex wedge
    // exactly once), closed by a semi join on the b→c edge
    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.kdst") < col("e2.kdst"))
      .select(col("e1.dst").as("b"), col("e2.dst").as("c"))
      .join(oriented.select(col("src").as("b"), col("dst").as("c")),
        Seq("b", "c"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val sizes = deg
      .agg(count(lit(1)).as("n_nodes"),
        sum(expr("d * (d - 1) DIV 2")).as("n_wedges"))
      .crossJoin(canon.agg(count(lit(1)).as("n_edges")))
    // both frames are 1 row — the cross join broadcasts
    sizes.crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"),
        coalesce(col("n_wedges"), lit(0L)).as("n_wedges"),
        col("n_triangles"),
        when(coalesce(col("n_wedges"), lit(0L)) > 0,
          // staged: triangle counts grow superlinearly with the graph, and
          // 3·triangles·1e6 wraps BIGINT from ~3·10^12 triangles (the
          // oracle's BIGINT errors loudly there; Spark would wrap silently)
          expr("CAST(CAST(3 AS DECIMAL(38,0)) * n_triangles * 1000000" +
            " DIV n_wedges AS BIGINT)"))
          .otherwise(lit(0L)).as("clustering_ppm"))
  }

  /**
   * K-HOP FRONTIER census — breadth-first reach from a seed set over the
   * UNDIRECTED closure of an edge list: how many NEW nodes become
   * reachable at each hop ≤ `hops`. The blast-radius question every
   * graph investigation opens with ("how far does this account's
   * influence extend?"), and the cheap preflight before committing to a
   * full traversal — frontier growth rate tells you whether hop k+1 is
   * affordable.
   *
   * Scale shape: per hop, ONE hash join (symmetrized edges × current
   * frontier on the node key) + distinct + an anti join against the
   * visited set — all exchanges keyed on node ids, nothing ever
   * quadratic. The symmetrized edge frame is staged via
   * [[partitionedCheckpoint]] on `src` (the probe key): the LEAF-recorded
   * partitioning satisfies the join's distribution requirement even under
   * AQE, so each hop exchanges only the frontier side (the r10 fusion,
   * made plan-effective in r13 — a plain `.repartition.cache()` reports
   * UnknownPartitioning under AQE). Frontiers are `localCheckpoint`ed (each is
   * consumed by three branches); the visited set is a UNION of those
   * checkpointed frontiers, so its lineage is `hops` shallow unions of
   * materialized RDDs — no per-hop visited materialization needed (the
   * [[Dedup.connectedComponents]] contract applies to unbounded
   * iteration; `hops` ≤ 10 is fixed). Frontier SIZES leave each round
   * as 1-row aggregates; the node frames themselves never reach the
   * driver.
   *
   * Semantics: hop 0 = the seed set (deduplicated); a node is counted at
   * its FIRST reachable hop only (BFS level = shortest-path distance).
   */
  def khopFrontier(edges: DataFrame, seed: DataFrame, hops: Int,
      symmetrizedDistinct: Boolean = false): DataFrame = {
    require(hops >= 1 && hops <= 10, s"hops $hops not in [1,10]")
    val e = edges.select(col("src"), col("dst"))
    val sym = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    // r12 (guide §2.4 "a distinct on data that is already unique"): when
    // the caller guarantees the symmetrized closure is duplicate-free —
    // e.g. a DISTINCT BIPARTITE edge set, where src/dst live in disjoint
    // id spaces so an edge and its mirror can never collide — the dedup
    // exchange of the full 2·|edges| frame is pure overhead. Unlike
    // pageRank's `assumeDistinct` (where duplicate edges change the
    // ranks), a violated guarantee here degrades PERFORMANCE only: every
    // hop's frontier is distinct()'d, so duplicate symmetrized edges can
    // only inflate the pre-distinct join output, never the result.
    // r13 (guide §2.4): staged partitioned+sorted on the probe key with
    // PLAN-VISIBLE partitioning ([[partitionedCheckpoint]]) — the former
    // `.repartition(src).cache()` reported UnknownPartitioning under AQE
    // (the r12 finding), so every hop re-exchanged the 2·|edges| frame;
    // now each hop exchanges only the frontier side.
    val und = partitionedCheckpoint(
      if (symmetrizedDistinct) sym else sym.distinct(), "src")
    var frontier = seed.select(col("v")).distinct().localCheckpoint()
    var visited = frontier
    var out = frontier.agg(count(lit(1)).as("frontier_size"))
      .select(lit(0).as("hop"), col("frontier_size"))
    for (h <- 1 to hops) {
      frontier = und.join(frontier, und("src") === frontier("v"))
        .select(col("dst").as("v")).distinct()
        .join(visited, Seq("v"), "left_anti")
        .localCheckpoint()
      visited = visited.unionAll(frontier)
      out = out.unionAll(frontier.agg(count(lit(1)).as("frontier_size"))
        .select(lit(h).as("hop"), col("frontier_size")))
    }
    out
  }

  /**
   * LOCAL CLUSTERING COEFFICIENT census — [[triangleCount]]'s global
   * closure ratio, distributed per node and banded: for every node of
   * degree ≥ 2, `ppm = 2·t(v)·1e6 DIV (d·(d−1))` (triangles through v
   * over wedges at v), bucketed into 0.1-wide bands. Band 10 is perfect
   * closure (cliques); mass at band 0 is hub-and-spoke structure. The
   * distribution catches what the global ratio hides — a few dense
   * cliques plus a sparse core average to a meaningless middle.
   *
   * Scale shape: the SAME degree-ordered orientation as [[triangleCount]]
   * (out-degree bounded by O(√m), so the wedge join never explodes on
   * hubs); the only additions are keeping the apex id through the closure
   * semi-join, a 3-corner explode (3 rows per triangle), and a
   * node-keyed collapse. The census is 11 bands.
   */
  def localClusteringCensus(edges: DataFrame,
      idsBelow: Long = 1000000000000L): DataFrame = {
    val canon = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct()
    val deg = canon.select(col("u").as("node"))
      .unionAll(canon.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val key = col("d") * lit(idsBelow) + col("node")
    val keyed = deg.select(col("node"), key.as("k"))
    val oriented = canon
      .join(keyed.withColumnRenamed("node", "u").withColumnRenamed("k", "ku"), "u")
      .join(keyed.withColumnRenamed("node", "v").withColumnRenamed("k", "kv"), "v")
      .select(when(col("ku") < col("kv"), col("u")).otherwise(col("v")).as("src"),
        when(col("ku") < col("kv"), col("kv")).otherwise(col("ku")).as("kdst"),
        when(col("ku") < col("kv"), col("v")).otherwise(col("u")).as("dst"))
      // cached: consumed three times (both wedge sides + the closure
      // probe). Caller-managed lifecycle — see pageRank's contract.
      .cache()
    val triCorners = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.kdst") < col("e2.kdst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
      .join(oriented.select(col("src").as("b"), col("dst").as("c")),
        Seq("b", "c"), "left_semi")
    val perNode = triCorners
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("t"))
    deg.filter(col("d") >= 2)
      .join(perNode, Seq("node"), "left")
      .select(col("d"), coalesce(col("t"), lit(0L)).as("t"))
      .select(expr("2000000 * t DIV (d * (d - 1))").as("__ppm"))
      .select(expr("__ppm DIV 100000").as("coeff_band"), col("__ppm"))
      .groupBy("coeff_band")
      .agg(count(lit(1)).as("n_nodes"),
        expr("CAST(SUM(__ppm) DIV COUNT(*) AS BIGINT)").as("mean_coeff_ppm"))
      .orderBy("coeff_band")
  }

  /**
   * RICH-CLUB profile — do the hubs wire to EACH OTHER? For the degree
   * thresholds at the p50/p75/p90 cut of the degree distribution (exact
   * distinct-value cumulative rank, never a row sort), report the club's
   * size, its internal edge count, and its density in ppm. A rising
   * density profile is the rich-club effect (hubs form a core — one hot
   * cluster at scale); flat is hub-and-spoke. Complements
   * [[degreeAssortativity]] (edge-grain correlation) with the subgraph
   * view.
   *
   * Scale shape: degree collapse → value-collapsed threshold frame
   * (3 rows) → two membership hash joins of the edge list; club sizes
   * and edge counts are tier-bounded aggregates.
   */
  def richClubProfile(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = edges.sparkSession
    import spark.implicits._
    val canon = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct()
    val deg = canon.select(col("u").as("node"))
      .unionAll(canon.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val tot = deg.agg(count(lit(1)).as("__t"))
    val pcts = Seq(50L, 75L, 90L).toDF("pct")
    val th = deg.groupBy("d").agg(count(lit(1)).as("__cnt"))
      .withColumn("__cum", sum(col("__cnt")).over(BoundedGlobalWindow.orderBy("d")))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(pcts))
      .groupBy("pct")
      .agg(min(when(col("__cum") * 100 >= col("pct") * col("__t"), col("d")))
        .as("degree_threshold"))
    val member = deg.join(broadcast(th), col("d") >= col("degree_threshold"))
      .select(col("pct"), col("degree_threshold"), col("node"))
    val sizes = member.groupBy("pct")
      .agg(max(col("degree_threshold")).as("degree_threshold"),
        count(lit(1)).as("n_club_nodes"))
    val within = canon
      .join(member.select(col("pct").as("__pu"), col("node").as("u")), "u")
      .join(member.select(col("pct").as("__pv"), col("node").as("v")), "v")
      .filter(col("__pu") === col("__pv"))
      .groupBy(col("__pu").as("pct")).agg(count(lit(1)).as("n_club_edges"))
    sizes.join(within, Seq("pct"), "left")
      .select(col("pct"), col("degree_threshold"), col("n_club_nodes"),
        coalesce(col("n_club_edges"), lit(0L)).as("n_club_edges"))
      .withColumn("density_ppm",
        expr("""CASE WHEN n_club_nodes >= 2
              THEN 2000000 * n_club_edges DIV (n_club_nodes * (n_club_nodes - 1))
              ELSE 0 END"""))
      .orderBy("pct")
  }

  /**
   * DEGREE ASSORTATIVITY — the Pearson correlation between the degrees at
   * the two ends of every edge (Newman, "Assortative mixing in networks",
   * 2002): positive = hubs wire to hubs (social-network shape), negative =
   * hubs serve leaves (the typical commerce/bipartite shape). One scalar
   * that says whether load concentrates edge-on-edge — the wiring-pattern
   * complement of [[Analytics.degreeConcentration]]'s per-node view.
   *
   * Computed over the SYMMETRIZED edge list (each edge contributes both
   * orientations — the standard undirected convention, which also makes
   * Σx = Σy exactly, so the coefficient is symmetric by construction).
   *
   * Scale shape: one node-bounded degree collapse, two hash joins of the
   * edge list against the degree map, one global moment aggregate. Moments
   * ride exact DECIMAL(38,0) sums and drop to DOUBLE only for the final
   * ratio (the x115 correlation pattern) — no window, no collect, nothing
   * quadratic.
   */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src").as("a"), col("dst").as("b"))
      .unionAll(edges.select(col("dst").as("a"), col("src").as("b")))
    val deg = sym.groupBy("a").agg(count(lit(1)).as("d"))
    val xy = sym
      .join(deg.select(col("a").as("__u"), col("d").as("__dx")),
        col("a") === col("__u"))
      .join(deg.select(col("a").as("__v"), col("d").as("__dy")),
        col("b") === col("__v"))
      .select(col("__dx").cast("decimal(38,0)").as("x"),
        col("__dy").cast("decimal(38,0)").as("y"))
    val m = xy.agg(count(lit(1)).as("__n"),
      sum(col("x")).as("__sx"), sum(col("y")).as("__sy"),
      sum(col("x") * col("x")).as("__qx"), sum(col("y") * col("y")).as("__qy"),
      sum(col("x") * col("y")).as("__pxy"))
    val n = col("__n").cast("double")
    val (sx, sy) = (col("__sx").cast("double"), col("__sy").cast("double"))
    val (qx, qy) = (col("__qx").cast("double"), col("__qy").cast("double"))
    val vx = n * qx - sx * sx
    val vy = n * qy - sy * sy
    val cov = n * col("__pxy").cast("double") - sx * sy
    m.select(expr("__n DIV 2").as("n_edges"),
      when(vx > 0 && vy > 0, round(cov / sqrt(vx * vy), 6))
        .as("assortativity"))
  }
}
