package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Benchmark main — the driver's per-round throughput artifact, and the one
 * measurement harness for local work.
 *
 * Usage: `runMain graft.Bench [name1,name2,...]`. With no argument every
 * declared query runs (the driver's call); a comma-separated list runs only
 * those queries, under the same protocol. `SPARK_GRAFT_RETIME_SEC=0` re-times
 * every query, so a filtered run then reports each query's min of two
 * cleared runs after the warm-up.
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
 *
 * Every run, in every pass, also appends one JSON line to [[RecordFile]]
 * ([[Record]]): where that run's wall time went, layer by layer.
 */
object Bench {
  /** The per-(pass, query) record, one JSON line each, rewritten per run. */
  val RecordFile = "bench_record.jsonl"

  /** SparkContext local property naming the half of a run a job belongs
    * to: "build" while the builder runs, "action" during its `count()`. */
  private val PhaseKey = "graft.bench.phase"

  /** One run of one query: its wall time split into the builder call
    * (which includes any staging build it triggers) and the `count()`, and
    * the counters the run moved. Jobs not tagged "build" count as action
    * jobs; stages, task time, shuffle and spill are the run's completed
    * stages; `planMs` sums the analysis, optimisation and planning phases
    * of every query execution the run finished; `gcMs` and
    * `codegenCompiles` are JVM-wide deltas (driver and executors share the
    * JVM in local mode). */
  final case class Record(pass: String, query: String, error: Option[Throwable],
      wallMs: Double, buildMs: Double, actionMs: Double,
      buildJobs: Long, actionJobs: Long, stages: Long, taskMs: Long,
      shuffleWriteBytes: Long, shuffleReadRecords: Long, spillBytes: Long,
      planMs: Long, codegenCompiles: Long, gcMs: Long) {
    def ok: Boolean = error.isEmpty

    def json: String = {
      def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      def ms(v: Double): String = fmtAt(3)(v)
      val failure = error.fold("")(e => s""","error_class":${str(e.getClass.getName)}""")
      s"""{"pass":${str(pass)},"query":${str(query)},"outcome":"${if (ok) "ok" else "failed"}"""" +
        failure +
        s""","wall_ms":${ms(wallMs)},"build_ms":${ms(buildMs)},"action_ms":${ms(actionMs)}""" +
        s""","build_jobs":$buildJobs,"action_jobs":$actionJobs,"stages":$stages,"task_ms":$taskMs""" +
        s""","shuffle_write_bytes":$shuffleWriteBytes,"shuffle_read_records":$shuffleReadRecords""" +
        s""","spill_bytes":$spillBytes,"plan_ms":$planMs,"codegen_compiles":$codegenCompiles""" +
        s""","gc_ms":$gcMs}"""
    }
  }

  /** Times query runs on `spark` and counts what each one does. Creating it
    * registers a job/stage listener and a query-execution listener on the
    * session; [[close]] removes both. */
  final class Meter(spark: SparkSession) extends AutoCloseable {
    private val buildJobs, actionJobs, stages, taskMs = new LongAdder
    private val shuffleWriteBytes, shuffleReadRecords, spillBytes, planMs = new LongAdder
    private val counters = Seq(buildJobs, actionJobs, stages, taskMs,
      shuffleWriteBytes, shuffleReadRecords, spillBytes, planMs)

    private val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val inBuild = Option(e.properties).exists(_.getProperty(PhaseKey) == "build")
        (if (inBuild) buildJobs else actionJobs).increment()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.increment()
        Option(e.stageInfo.taskMetrics).foreach { m =>
          taskMs.add(m.executorRunTime)
          shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
          shuffleReadRecords.add(m.shuffleReadMetrics.recordsRead)
          spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    }
    private val plans = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        planMs.add(qe.tracker.phases.valuesIterator.map(_.durationMs).sum)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)

    def close(): Unit = {
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(plans)
    }

    private def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum
    }
    private def compiles: Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    /** Runs `fn(spark, sfDir).count()` once. Only the builder call and the
      * `count()` are timed; the listener bus is drained after the clock
      * stops, so the counters hold this run's events and no earlier ones. */
    def run(pass: String, name: String, fn: (SparkSession, String) => DataFrame,
        sfDir: String): Record = {
      val sc = spark.sparkContext
      org.apache.spark.sql.graft.ListenerBus.drain(sc)
      counters.foreach(_.reset())
      val (gc0, compiles0) = (gcMs, compiles)
      var built = -1L
      val t0 = System.nanoTime()
      val error = try {
        sc.setLocalProperty(PhaseKey, "build")
        val df = fn(spark, sfDir)
        built = System.nanoTime()
        sc.setLocalProperty(PhaseKey, "action")
        df.count()
        None
      } catch { case e: Throwable => Some(e) }
      val t1 = System.nanoTime()
      sc.setLocalProperty(PhaseKey, null)
      if (built < 0) built = t1
      error.foreach(EngineConf.reportFailure("bench-fail", name, _))
      org.apache.spark.sql.graft.ListenerBus.drain(sc)
      Record(pass, name, error, (t1 - t0) / 1e6, (built - t0) / 1e6, (t1 - built) / 1e6,
        buildJobs.sum, actionJobs.sum, stages.sum, taskMs.sum,
        shuffleWriteBytes.sum, shuffleReadRecords.sum, spillBytes.sum,
        planMs.sum, compiles - compiles0, gcMs - gc0)
    }
  }

  private def fmtAt(scale: Int)(v: Double): String =
    BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toString

  /** The lines one artifact snapshot prints, as (stdout line,
    * `bench_out.json` line, `[bench-budget]` stderr lines).
    *
    * `bench_out.json` gets the full-name map at full precision; stdout gets
    * the short line sized to survive the harness's 2000-char log tail
    * WHOLE — a front-truncated JSON parses as null (r01/r02; r05 lost the
    * total when 238 short-keyed entries outgrew the precision ladder).
    * Degrading precision is unbounded in the query count, so the
    * guaranteed-fit path is: total + only the N SLOWEST queries, shrinking
    * N until the line is ≤1900 chars. The total (the driver's graded
    * number) always leads the line.
    *
    * Per-query time-budget guard: creep is caught locally before the
    * driver sees it. Budget applies at the full bench SF (sf0.1); at
    * smaller SFs the same ceiling is just slack. Violations go to stderr
    * (stdout tail must stay clean) and into bench_out.json; they never fail
    * the run — the driver still needs the bench line — but the local
    * workflow treats any [bench-budget] line as a stop-and-fix. */
  def artifactLines(results: Map[String, Double], provisional: Boolean, sfDir: String,
      budgetSec: Double, retimeSec: Double): (String, String, Seq[String]) = {
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val provTag = if (provisional) ""","provisional":1""" else ""
    def jsonLine(entries: Iterable[(String, Double)], keyOf: String => String,
                 scale: Int): String = {
      val fmt = fmtAt(scale) _
      val qs = entries.map { case (k, v) => "\"" + keyOf(k) + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmtAt(3)(total)},"unit":"sec"$provTag,"queries":$qs,"sf":"$sfDir"}"""
    }
    val over = results.filter { case (_, v) => v > budgetSec || v < 0 }.toSeq.sortBy(-_._2)
    val budgetLines = over.map { case (k, v) =>
      f"[bench-budget] VIOLATION $k ${v}%.2f s > $budgetSec%.1f s budget" +
        (if (provisional) " (provisional)" else "")
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
    (shortLine, fullLine, budgetLines)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val budgetSec = sys.env.get("SPARK_GRAFT_MAX_QUERY_SEC").map(_.toDouble).getOrElse(8.0)
    val retimeSec = sys.env.get("SPARK_GRAFT_RETIME_SEC").map(_.toDouble).getOrElse(2.0)
    val queries = SparkEntry.queries
    val names: Iterable[String] = args.headOption.fold(queries.keys) { list =>
      val picked = list.split(",").toSeq
      picked.foreach(n => require(queries.contains(n), s"no declared query named $n"))
      picked
    }
    // EngineConf sizes the codegen class cache to hold the whole fleet, so
    // the warm-up pass's compilations carry into the timed passes.
    val spark = EngineConf.localSession("ERROR")
    val meter = new Meter(spark)
    val records = Files.newBufferedWriter(Paths.get(RecordFile), StandardCharsets.UTF_8)
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
    //
    // Timed passes report the per-query MIN: single runs on this shared VM
    // jitter by 2-4x under noisy neighbors (measured: the same query
    // 2.1s-8.0s across back-to-back runs); min-after-warm-up is the
    // standard noise-resistant throughput estimate and stays honest — the
    // cache is cleared between passes, every timed run does the full work.
    // A failed run must not contribute a (fast) time-to-failure to the
    // min: it scores +Inf, and a query that failed every run reports -1.
    def timePass(pass: String, names: Iterable[String]): Map[String, Double] =
      names.map { n =>
        val r = meter.run(pass, n, queries(n), sfDir)
        records.write(r.json)
        records.newLine()
        records.flush()
        n -> (if (r.ok) r.wallMs / 1e3 else Double.PositiveInfinity)
      }.toMap
    def reported(times: Map[String, Double]): Map[String, Double] =
      times.map { case (k, v) => k -> (if (v.isInfinite) -1.0 else v) }
    def emit(results: Map[String, Double], provisional: Boolean): Unit = {
      val (shortLine, fullLine, budgetLines) =
        artifactLines(results, provisional, sfDir, budgetSec, retimeSec)
      budgetLines.foreach(System.err.println)
      try {
        Files.write(Paths.get("bench_out.json"), (fullLine + "\n").getBytes(StandardCharsets.UTF_8))
      } catch { case _: Throwable => () }
      println(shortLine)
    }

    mark("warmup start")
    val warm = timePass("warmup", names)
    mark("warmup done")
    emit(reported(warm), provisional = true)
    clearBetweenPasses()
    mark(s"pass1 start (${names.size} queries)")
    val pass1 = timePass("pass1", names)
    mark("pass1 done")
    emit(reported(pass1), provisional = true)
    clearBetweenPasses()
    val retime = pass1.filter { case (_, v) => v >= retimeSec }.keys.toSeq.sorted
    mark(s"pass2 start (${retime.size} queries >= $retimeSec s)")
    val pass2 = timePass("pass2", retime)
    mark("pass2 done")
    val results = reported(pass1.map { case (k, v) =>
      k -> math.min(v, pass2.getOrElse(k, Double.PositiveInfinity))
    })
    records.close()
    meter.close()
    // Printed AFTER spark.stop() so no shutdown logging can follow it.
    spark.stop()
    emit(results, provisional = false)
  }
}
