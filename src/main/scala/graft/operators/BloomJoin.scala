package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Bloom-pruned semi join: build a bloom filter over the (small) build side's
 * join keys, pre-filter the (huge) probe side with `might_contain` at the
 * scan, then run the exact semi join on the survivors. The bloom probe is a
 * map-side predicate — at 100 TB it discards the overwhelming majority of
 * probe rows BEFORE the shuffle the semi join needs, which is the whole
 * cost of a large-fact join. False positives pass the bloom but are removed
 * by the exact semi join, so the result is identical to the plain semi join
 * (the oracle).
 *
 * This is exactly the shape of Spark's own runtime row-level filtering
 * (`spark.sql.optimizer.runtime.bloomFilter.enabled`), which injects
 * might_contain(scalar-subquery(bloom_filter_agg(xxhash64(k))), xxhash64(k))
 * — but only above creation/application size thresholds that test-scale
 * data never meets. Stating it explicitly makes the plan deterministic at
 * every scale and the technique available to library users as an operator.
 */
object BloomJoin {

  /**
   * `fact` rows whose `factKey` appears in `dim.dimKey` (exact), with the
   * bloom pre-filter applied first. `BloomFilterMightContain` requires a
   * constant or scalar-subquery bloom (it is evaluated once, broadcast with
   * the plan), so the bloom is built as a scalar subquery over `dim`
   * (`Dataset.scalar`) and the exact check is an `IN` subquery that the
   * optimizer rewrites to a left semi join. No view is registered, so a
   * call leaves the session catalog as it found it.
   */
  def bloomSemiJoin(spark: SparkSession, fact: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String,
      estNumItems: Long = 1000000L, numBits: Long = 8388608L): DataFrame = {
    graft.GraftExtensions.register(spark)
    val bloom = dim.select(call_function("bloom_filter_build",
      xxhash64(col(dimKey)), lit(estNumItems), lit(numBits))).scalar()
    fact.where(call_function("bloom_might_contain", bloom, xxhash64(col(factKey))) &&
      col(factKey).isin(dim.select(col(dimKey))))
  }

  /**
   * BLOOM-FILTER false-positive-rate audit — the measured companion to
   * [[bloomSemiJoin]]'s "false positives are removed later" claim: build
   * a PORTABLE bloom (k hash functions = portable 60-bit md5 of
   * "j|key", m bits) over a member key set, probe it with a DISJOINT
   * key set, and report the empirical FPR next to the filter's fill
   * ratio — the number that tells an operator whether a planned bloom
   * is sized right BEFORE shipping it to a 1000-executor scan. All
   * counts are integers; no theoretical-FPR float leaves the engine
   * (the (1−e^{−kn/m})^k approximation is not engine-portable — the
   * empirical rate is the deliverable).
   *
   * Scale shape: the bit set collapses to ≤ m rows (broadcast to the
   * probe side); probes fan out k map-side rows each and collapse to a
   * per-probe match count — one exchange on probe key, never a
   * member×probe join.
   */
  def bloomFprAudit(members: DataFrame, memberKey: Column,
      probes: DataFrame, probeKey: Column,
      numBits: Int = 8192, numHashes: Int = 3): DataFrame = {
    require(numBits >= 2 && numHashes >= 1, "bad bloom geometry")
    def positions(key: Column): Column = array((0 until numHashes).map { j =>
      pmod(PortableHash.hash60(concat(lit(s"$j|"), key.cast("string"))),
        lit(numBits.toLong))
    }: _*)
    val m = members.select(memberKey.cast("long").as("__k"))
      .filter(col("__k").isNotNull).distinct()
    val bits = m.select(explode(positions(col("__k"))).as("pos")).distinct()
    val nMembers = m.agg(count(lit(1)).as("n_members"))
    val nBits = bits.agg(count(lit(1)).as("n_bits_set"))
    val p = probes.select(probeKey.cast("long").as("__k"))
      .filter(col("__k").isNotNull).distinct()
    val hits = p.select(col("__k"), explode(positions(col("__k"))).as("pos"))
      .join(bits.withColumn("__set", lit(1L)), Seq("pos"), "left")
      .groupBy("__k").agg(sum(coalesce(col("__set"), lit(0L))).as("__nset"))
      .agg(count(lit(1)).as("n_probes"),
        sum(when(col("__nset") === numHashes, 1L).otherwise(0L))
          .as("n_false_positives"))
    nMembers.crossJoin(broadcast(nBits)).crossJoin(broadcast(hits))
      .select(lit(numBits).as("m_bits"), lit(numHashes).as("k_hashes"),
        col("n_members"), col("n_bits_set"),
        expr("n_bits_set * 1000000 DIV m_bits").as("fill_ppm"),
        col("n_probes"), col("n_false_positives"),
        expr("n_false_positives * 1000000 DIV n_probes").as("fpr_ppm"))
  }
}
