package graft

/**
 * Benchmark main — the driver's per-round throughput artifact.
 *
 * Timeout-proofing (round-9): BENCH_r08 was rc=124 with nothing parseable
 * because the old flow printed NO JSON until after a full second timed
 * pass over all queries (~75 min wall for warm-up + 2×659 at sf0.1).
 * Three changes, all honest measurement:
 *   (a) PROVISIONAL JSON lines (same format, `"provisional":1`) print
 *       to stdout immediately after the timed warm-up AND after pass 1 —
 *       if the process is killed mid-run the newest provisional line
 *       survives in the log tail and parses; on a completed run the
 *       final min line prints LAST and wins.
 *   (b) pass 2 is SELECTIVE: only queries whose pass-1 time ≥ 2 s (the
 *       noise-sensitive tail, ~10% of the fleet but most of the pass
 *       cost) are re-timed; sub-2 s queries report their pass-1 time
 *       (recorded in the JSON as `"retime_sec"`). Failures in pass 1 are
 *       retried too. This cuts a full pass (~25 min) to minutes.
 *   (c) `[bench-pass]` stderr markers with timestamps bracket each pass
 *       so any future timeout is attributable from the log tail.
 * Log level is ERROR during the run: benign WARN spam (e.g. WindowExec
 * on bounded global windows) otherwise floods the 2000-char log tail and
 * can bury the provisional line.
 */
object Bench {
  /** A failed run names its query and cause on stderr (stdout stays the
    * JSON line); the caller still scores it as a failure. */
  def reportFailure(name: String, e: Throwable): Unit =
    System.err.println(s"[bench-fail] $name ${e.getClass.getName}: ${e.getMessage}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // EngineConf: engine-level tuning (r12) — the codegen compiled-class
    // cache must hold the whole fleet or the warm-up pass's stated purpose
    // (pre-compiling the generated code paths) is defeated; measured
    // 12,084 Janino compilations per timed pass at the 100-entry default
    // vs 672 at the tuned size, −28% wall on the full fleet (see
    // OPTIMIZATION_r12.md "Global").
    val spark = EngineConf.localSession("ERROR")
    def mark(msg: String): Unit =
      System.err.println(s"[bench-pass] $msg ${java.time.Instant.now()}")
    def clearBetweenPasses(): Unit = {
      // Drop DataFrames cached during the previous pass (operators cache
      // small reused intermediates): Spark keys cached plans by
      // canonicalized form, so the next pass would otherwise read the
      // previous pass's InMemoryRelations and skip the work being
      // measured. The staging memo (localCheckpoint'd frames, NOT covered
      // by clearCache) is dropped too, so every timed pass pays the
      // shared staging build exactly once.
      spark.catalog.clearCache()
      graft.queries.Extensions.clearStagingMemo()
    }
    // Warm-up pass: JIT-compiles the generated code paths and warms the
    // parquet footer/OS page caches so the timed passes measure
    // steady-state query throughput rather than first-call JVM
    // compilation. It is TIMED and emitted as a provisional line anyway
    // (timing changes nothing about execution): on a host slow enough
    // that even warm-up + pass 1 exceeds the driver's limit, the
    // warm-up line is the honest cold-JIT artifact that still parses.
    // Warm-up times never enter the final min.
    mark("warmup start")
    // Timed passes report the per-query MIN: single runs on this shared VM
    // jitter by 2-4x under noisy neighbors (measured: the same query
    // 2.1s-8.0s across back-to-back runs); min-after-warm-up is the
    // standard noise-resistant throughput estimate and stays honest — the
    // cache is cleared between passes, every timed run does the full work.
    // A failed run must not contribute a (fast) time-to-failure to the
    // min: it scores +Inf, and a query that failed every run reports -1.
    def timeOne(name: String): Double = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable => reportFailure(name, e); false }
      if (ok) (System.nanoTime() - t0) / 1e9 else Double.PositiveInfinity
    }
    val budgetSec = sys.env.get("SPARK_GRAFT_MAX_QUERY_SEC").map(_.toDouble).getOrElse(8.0)
    val retimeSec = sys.env.get("SPARK_GRAFT_RETIME_SEC").map(_.toDouble).getOrElse(2.0)

    def fmtAt(scale: Int)(v: Double): String =
      BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toString
    // Emit one artifact snapshot: bench_out.json gets the full-name map at
    // full precision; stdout gets the short line sized to survive the
    // harness's 2000-char log tail WHOLE — a front-truncated JSON parses
    // as null (r01/r02; r05 lost the total when 238 short-keyed entries
    // outgrew the precision ladder). Degrading precision is unbounded in
    // the query count, so the guaranteed-fit path is: total + only the N
    // SLOWEST queries, shrinking N until the line is ≤1900 chars. The
    // total (the driver's graded number) always leads the line.
    def emit(results: Map[String, Double], provisional: Boolean): Unit = {
      val total = if (results.nonEmpty) results.values.sum else 0.0
      val provTag = if (provisional) ""","provisional":1""" else ""
      def jsonLine(entries: Iterable[(String, Double)], keyOf: String => String,
                   scale: Int): String = {
        val fmt = fmtAt(scale) _
        val qs = entries.map { case (k, v) => "\"" + keyOf(k) + "\":" + fmt(v) }
          .mkString("{", ",", "}")
        s"""{"metric":"total","value":${fmtAt(3)(total)},"unit":"sec"$provTag,"queries":$qs,"sf":"$sfDir"}"""
      }
      // Per-query time-budget guard: creep is caught locally before the
      // driver sees it. Budget applies at the full bench SF (sf0.1); at
      // smaller SFs the same ceiling is just slack. Violations go to
      // stderr (stdout tail must stay clean) and into bench_out.json;
      // they never fail the run — the driver still needs the bench line —
      // but the local workflow treats any [bench-budget] line as a
      // stop-and-fix.
      val over = results.filter { case (_, v) => v > budgetSec || v < 0 }.toSeq.sortBy(-_._2)
      over.foreach { case (k, v) =>
        System.err.println(f"[bench-budget] VIOLATION $k ${v}%.2f s > $budgetSec%.1f s budget" +
          (if (provisional) " (provisional)" else ""))
      }
      val fullLine = {
        val base = jsonLine(results, identity, 3)
        val viol = over.map { case (k, _) => "\"" + k + "\"" }.mkString("[", ",", "]")
        base.dropRight(1) +
          s""","budget_sec":$budgetSec,"retime_sec":$retimeSec,"budget_violations":$viol}"""
      }
      val byTimeDesc = results.toSeq.sortBy { case (_, v) => -v }
      val shortLine = Iterator
        .iterate(results.size)(n => math.max(0, (n * 3) / 4 - 1))
        .map(n => jsonLine(byTimeDesc.take(n), _.takeWhile(_ != '_'), 2))
        .find(_.length <= 1900)
        .getOrElse(jsonLine(Nil, identity, 2))
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
          (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch { case _: Throwable => () }
      println(shortLine)
    }

    val warm: Map[String, Double] =
      SparkEntry.queries.keys.map(n => n -> timeOne(n)).toMap
    mark("warmup done")
    emit(warm.map { case (k, v) => k -> (if (v.isInfinite) -1.0 else v) },
      provisional = true)
    clearBetweenPasses()
    mark(s"pass1 start (${SparkEntry.queries.size} queries)")
    val pass1: Map[String, Double] =
      SparkEntry.queries.keys.map(n => n -> timeOne(n)).toMap
    mark("pass1 done")
    emit(pass1.map { case (k, v) => k -> (if (v.isInfinite) -1.0 else v) },
      provisional = true)
    clearBetweenPasses()
    val retime = pass1.filter { case (_, v) => v >= retimeSec }.keys.toSeq.sorted
    mark(s"pass2 start (${retime.size} queries >= $retimeSec s)")
    val pass2: Map[String, Double] = retime.map(n => n -> timeOne(n)).toMap
    mark("pass2 done")
    val results = pass1.map { case (k, v) =>
      val m = math.min(v, pass2.getOrElse(k, Double.PositiveInfinity))
      k -> (if (m.isInfinite) -1.0 else m)
    }
    // Printed AFTER spark.stop() so no shutdown logging can follow it.
    spark.stop()
    emit(results, provisional = false)
  }
}
