package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Bucketed-table layout — the storage-side answer to join shuffles: two
 * tables bucketed on their join keys with the same bucket count join with
 * NO exchange at query time; the shuffle is paid ONCE at write time and
 * amortized over every subsequent join. (An in-partition sort remains in
 * the merge join — Spark 3+ no longer exposes bucket sort order at scan
 * time; the eliminated EXCHANGE is the at-scale win.) At 100 TB this is
 * the difference between re-shuffling the fact table per query and never
 * shuffling it at all — the lake-table analog of co-partitioned storage
 * ([[ZOrder]] covers pruning; this covers placement).
 */
object Bucketing {

  /**
   * Idempotently materialize `df` as a parquet table bucketed AND sorted
   * on `key` at `path`, registered in the session catalog as `table`;
   * returns the catalog-backed frame. Memoized via the catalog: repeated
   * calls (bench warm-up passes, multiple queries sharing a layout) reuse
   * the files instead of rewriting them.
   */
  def ensureBucketed(spark: SparkSession, table: String, df: DataFrame,
      key: String, buckets: Int, path: String): DataFrame = {
    require(buckets > 0, s"buckets $buckets must be positive")
    if (spark.catalog.tableExists(table)) {
      // memoization is by name only — a second caller asking for a DIFFERENT
      // layout under the same name must fail loudly, not silently get the
      // first table's data and bucketing
      val spec = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
        .bucketSpec
      require(spec.exists(s =>
          s.numBuckets == buckets && s.bucketColumnNames == Seq(key)),
        s"table $table exists with bucket layout $spec, not ($buckets, $key)")
    }
    if (!spark.catalog.tableExists(table)) {
      // one file per bucket: Spark honors the per-bucket sort order at read
      // time only when a bucket is a single file (multi-file buckets force a
      // Sort back into every downstream merge join)
      df.repartition(buckets, df(key))
        .write.bucketBy(buckets, key).sortBy(key)
        .option("path", path).mode("overwrite")
        .saveAsTable(table) // session-mutation: Spark reads a bucket spec only from a catalog table
    }
    spark.table(table)
  }
}
