package graft

/** Local iteration tool: time specific queries (comma-separated in args(0))
  * for `args(1)` repetitions (default 3) at SPARK_GRAFT_SF_DIR, clearing the
  * Spark cache and the Extensions staging memo between runs — the per-query
  * magnifier for [[Bench]]'s budget findings, so a flagged query can be
  * re-measured in isolation (min across runs) without paying a full fleet
  * pass. Same session config as [[Bench]].
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchOne <name1,name2,...> [reps]")
    val names = args(0).split(",").toSet
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = EngineConf.localSession("WARN")
    val qs = SparkEntry.queries.filter { case (n, _) => names.contains(n) }
    require(qs.nonEmpty, s"no declared query matches ${args(0)}")
    // one untimed warm-up pass (JIT + parquet footer / page cache), as Bench
    qs.foreach { case (name, fn) =>
      try fn(spark, sfDir).count() catch { case e: Throwable => Bench.reportFailure(name, e) }
    }
    for (r <- 1 to reps) {
      spark.catalog.clearCache()
      graft.queries.Extensions.clearStagingMemo()
      qs.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable => Bench.reportFailure(name, e); false }
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[bench-one] run $r $name $sec%.2f s${if (ok) "" else " FAILED"}")
      }
    }
    spark.stop()
  }
}
