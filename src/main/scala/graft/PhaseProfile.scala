package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

/** Round-12 optimization tool — the guide §1 "measure first" decomposition:
  * for each declared query (after one untimed warm-up, like [[Bench]]),
  * report where the wall time actually goes:
  *
  *   wall      total seconds for `fn(spark, sfDir).count()` (Bench's action)
  *   plan_ms   driver-side analysis+optimization+physical-planning summed
  *             over every QueryExecution the query triggers
  *             (QueryExecutionListener tracker phases)
  *   task_ms   sum of executorRunTime over all completed stages (parallel
  *             work — divide by cores for the wall-clock floor)
  *   gc_ms     JVM GC time delta (driver == executor in local mode)
  *   compiles  janino codegen compilations triggered (CodegenMetrics delta;
  *             cache misses — the 100-entry default cache thrashes at 696
  *             distinct queries/pass)
  *   jobs/stages  scheduling rounds — each is a fixed-latency floor
  *
  * Usage: runMain graft.PhaseProfile [names|all] (default all)
  */
object PhaseProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = EngineConf.localSession("ERROR")
    val names =
      if (args.isEmpty || args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").toSeq

    val planMs = new LongAdder
    val taskMs = new LongAdder
    val jobs = new AtomicLong
    val stages = new AtomicLong
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val phases = qe.tracker.phases
        planMs.add(phases.valuesIterator.map(p => p.endTimeMs - p.startTimeMs).sum)
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        taskMs.add(s.stageInfo.taskMetrics.executorRunTime)
      }
    })
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum
    }
    def compiles: Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    // untimed warm-up (JIT + page cache), as Bench
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir).count()
      catch { case e: Throwable => Bench.reportFailure(n, e) }
    }
    spark.catalog.clearCache()
    graft.queries.Extensions.clearStagingMemo()

    println(f"${"query"}%-36s ${"wall_s"}%7s ${"plan_ms"}%8s ${"task_ms"}%8s ${"gc_ms"}%6s ${"cmpl"}%5s ${"jobs"}%5s ${"stg"}%4s")
    var (tw, tp, tt, tg, tc, tj, ts) = (0.0, 0L, 0L, 0L, 0L, 0L, 0L)
    names.foreach { n =>
      planMs.reset(); taskMs.reset(); jobs.set(0); stages.set(0)
      val (g0, c0) = (gcMs, compiles)
      val t0 = System.nanoTime()
      try SparkEntry.queries(n)(spark, sfDir).count()
      catch { case e: Throwable => System.err.println(s"[phase] $n FAILED: $e") }
      val wall = (System.nanoTime() - t0) / 1e9
      // listener bus is async; poll until the counters are quiescent for
      // two consecutive 25 ms windows (cap 1 s) instead of a fixed sleep,
      // so late-arriving stage events on a loaded host don't bleed into
      // the next query's attribution (r13, ADVICE item)
      var settle = 0
      var last = (planMs.sum, taskMs.sum, jobs.get, stages.get)
      var waited = 0
      while (settle < 2 && waited < 1000) {
        Thread.sleep(25); waited += 25
        val now = (planMs.sum, taskMs.sum, jobs.get, stages.get)
        if (now == last) settle += 1 else { settle = 0; last = now }
      }
      val (p, t, g, c, j, s) =
        (planMs.sum, taskMs.sum, gcMs - g0, compiles - c0, jobs.get, stages.get)
      println(f"$n%-36s $wall%7.2f $p%8d $t%8d $g%6d $c%5d $j%5d $s%4d")
      tw += wall; tp += p; tt += t; tg += g; tc += c; tj += j; ts += s
    }
    println(f"${"TOTAL"}%-36s $tw%7.2f $tp%8d $tt%8d $tg%6d $tc%5d $tj%5d $ts%4d")
    spark.stop()
  }
}
