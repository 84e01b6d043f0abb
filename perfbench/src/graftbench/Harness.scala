package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Engine, EngineConf, Profiler, RuleSqlGenerator, SparkEntry, SqlValidator}

/**
 * One benchmark run in one JVM: set-up, a fixed warm-up, then whole rounds
 * of the workload's operations for the requested seconds, timed by the only
 * client thread through the program's public entry points. Writes a JSON
 * record (timings, counters, and the outputs the Python side checks).
 *
 * Usage: Harness <run.properties>   (written by perfbench/run.py)
 */
object Harness {
  val MainStartNs: Long = System.nanoTime()

  final class Conf(p: java.util.Properties) {
    def apply(k: String): String =
      Option(p.getProperty(k)).getOrElse(sys.error(s"missing setting $k"))
    def int(k: String): Int = apply(k).toInt
  }

  def main(args: Array[String]): Unit = {
    val props = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)), UTF_8)
    try props.load(in) finally in.close()
    val c = new Conf(props)
    val run = new Run(c)
    val out = c("workload") match {
      case "qa_session"   => run.qaSession()
      case "upload_churn" => run.uploadChurn()
      case "fleet_slice"  => run.fleetSlice()
      case w              => sys.error(s"unknown workload $w")
    }
    Files.writeString(Paths.get(c("out")), out, UTF_8)
    run.stop()
  }

  // ---------------------------------------------------------------- tracing

  /** Per (phase, module) totals from the Spark listener. `phase` is the
    * `perfbench.phase` local property the harness sets around each call;
    * `module` is the source file of the job's call site. */
  final class Bucket {
    val v: Array[Double] = new Array[Double](Bucket.Fields.size)
    def add(i: Int, x: Double): Unit = v(i) += x
  }
  object Bucket {
    val Fields: Seq[String] = Seq("jobs", "stages", "tasks", "job_ms", "task_ms", "task_cpu_ms",
      "shuffle_write_mb", "shuffle_read_records", "spill_mb", "input_mb")
    val idx: Map[String, Int] = Fields.zipWithIndex.toMap
  }

  object Trace {
    val buckets = mutable.Map.empty[(String, String), Bucket]
    val jobKey = mutable.Map.empty[Int, (String, String)]
    val jobStart = mutable.Map.empty[Int, Long]
    val stageKey = mutable.Map.empty[Int, (String, String)]
    var planMs = 0.0

    def bucket(k: (String, String)): Bucket = buckets.getOrElseUpdate(k, new Bucket)

    def moduleOf(site: String): String = {
      val file = site.split(" at ").lastOption.getOrElse("").takeWhile(_ != ':')
      file.stripSuffix(".scala") match {
        case "CsvSource" => "sources"
        case "Profiler"  => "profiler"
        case "Engine"    => "engine"
        case ""          => "unknown"
        case other       => other
      }
    }

    def snapshot(): Map[(String, String), Array[Double]] = synchronized {
      buckets.map { case (k, b) => k -> b.v.clone() }.toMap
    }
  }

  final class JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.synchronized {
      val phase = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.phase")))
        .getOrElse("other")
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      val key = (phase, Trace.moduleOf(site))
      Trace.jobKey(e.jobId) = key
      Trace.jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => Trace.stageKey(s) = key)
      Trace.bucket(key).add(Bucket.idx("jobs"), 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.synchronized {
      for (k <- Trace.jobKey.remove(e.jobId); t0 <- Trace.jobStart.remove(e.jobId))
        Trace.bucket(k).add(Bucket.idx("job_ms"), (e.time - t0).toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.synchronized {
      val info = e.stageInfo
      val b = Trace.bucket(Trace.stageKey.getOrElse(info.stageId, ("other", "unknown")))
      def add(f: String, x: Double): Unit = b.add(Bucket.idx(f), x)
      add("stages", 1)
      add("tasks", info.numTasks)
      val m = info.taskMetrics
      if (m != null) {
        add("task_ms", m.executorRunTime.toDouble)
        add("task_cpu_ms", m.executorCpuTime / 1e6)
        add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("shuffle_read_records", m.shuffleReadMetrics.recordsRead.toDouble)
        add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
        add("input_mb", m.inputMetrics.bytesRead / 1048576.0)
      }
    }
  }

  final class PlanListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Trace.synchronized {
        Trace.planMs += qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** JVM-wide counters read at the edges of a section. */
  final case class Counters(wallNs: Long, cpuNs: Long, gcMs: Long, jitMs: Long,
                            codegenCount: Long, codegenMean: Double, planMs: Double,
                            buckets: Map[(String, String), Array[Double]])

  /** The machine's aggregate CPU line of /proc/stat (user ... steal), so a
    * round can tell how much CPU the host withheld (steal) while it ran;
    * empty where /proc/stat is unreadable. */
  def machineTicks(): Array[Long] =
    try {
      val line = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      line.trim.split("\\s+").drop(1).map(_.toLong)
    } catch { case NonFatal(_) => Array.empty[Long] }

  // ------------------------------------------------------------ formatting

  private val IsoSecond = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch           => ch.toString
  } + "\""

  def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) jstr(d.toString) else java.lang.Double.toString(d)

  /** A collected cell as JSON: timestamps as ISO seconds in UTC (the
    * generated CSVs carry ISO-T seconds), numbers as numbers. */
  def cell(v: Any): String = v match {
    case null                    => "null"
    case t: java.sql.Timestamp   =>
      val ldt = LocalDateTime.ofInstant(t.toInstant, ZoneOffset.UTC)
      jstr(if (ldt.getNano == 0) IsoSecond.format(ldt) else ldt.toString)
    case i: java.time.Instant    => cell(java.sql.Timestamp.from(i))
    case d: java.sql.Date        => jstr(d.toString)
    case d: java.time.LocalDate  => jstr(d.toString)
    case d: Double               => jnum(d)
    case f: Float                => jnum(f.toDouble)
    case n: java.math.BigDecimal => n.toPlainString
    case n: BigDecimal           => n.bigDecimal.toPlainString
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case b: Boolean              => b.toString
    case other                   => jstr(other.toString)
  }

  def jarr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def jobj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
}

final class Run(c: Harness.Conf) {
  import Harness._

  private val cores = c.int("cores")
  private val traced = c("trace") == "1"
  private val seconds = c("seconds").toDouble
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var spark: SparkSession = _

  private var attempted = 0L
  private val failed = mutable.Map.empty[String, Long]
  /** Harness-side timers (traced mode): name -> (calls, total ns). */
  private val timers = mutable.Map.empty[String, (Long, Long)]
  private var setupTimers = Map.empty[String, (Long, Long)]
  private val setupS = mutable.ArrayBuffer.empty[Double]

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  private def startSession(): Unit = {
    stop()
    spark = EngineConf.tuned(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", c("local_dir")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) {
      spark.sparkContext.addSparkListener(new JobListener)
      spark.listenerManager.register(new PlanListener)
    }
  }

  /** `repeats` set-ups, each from a fresh session; the first is timed from
    * the main's start. The last one's session serves the run. */
  private def setup[T](initial: => T): T = {
    var last: Option[T] = None
    for (i <- 1 to c.int("setup_repeats")) {
      val t0 = if (i == 1) MainStartNs else System.nanoTime()
      startSession()
      last = Some(initial)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    last.get
  }

  private def phase(p: String): Unit = spark.sparkContext.setLocalProperty("perfbench.phase", p)

  private def timed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    if (traced) {
      val (n, ns) = timers.getOrElse(name, (0L, 0L))
      timers(name) = (n + 1, ns + System.nanoTime() - t0)
    }
    r
  }

  /** Runs `op`; its wall time in ms, or None (counted, never timed) if it threw. */
  private def attempt(op: => Unit): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    try { op; Some((System.nanoTime() - t0) / 1e6) }
    catch {
      case NonFatal(e) =>
        val k = e.getClass.getName
        failed(k) = failed.getOrElse(k, 0L) + 1
        System.err.println(s"[perfbench] failed: $k: ${e.getMessage}")
        None
    }
  }

  private def counters(): Counters = {
    if (traced) Bus.drain(spark.sparkContext)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val (cg, cgMean) = Bus.codegen()
    val (plan, snap) = Trace.synchronized((Trace.planMs, Trace.snapshot()))
    Counters(System.nanoTime(), osBean.getProcessCpuTime, gc, jit, cg, cgMean, plan, snap)
  }

  /** Heap used after full GCs, repeated until it stops falling: Spark's
    * ContextCleaner frees broadcast and shuffle blocks asynchronously after
    * a GC finds them unreachable, so one GC alone reads a timing-dependent
    * value. */
  private def liveHeapMb(): Double = {
    def gcUsed(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = gcUsed()
    var i = 0
    var falling = true
    while (falling && i < 10) {
      Thread.sleep(200)
      val now = gcUsed()
      falling = now < last * 0.99
      last = math.min(last, now)
      i += 1
    }
    last
  }

  /** One timed round: operations, wall and process-CPU ms, the machine's
    * steal share while it ran, and its slice of `samples`. */
  final case class RoundStat(ops: Int, wallMs: Double, cpuMs: Double, steal: Double,
                             from: Int, until: Int)
  private val rounds = mutable.ArrayBuffer.empty[RoundStat]

  private def steal(a: Array[Long], b: Array[Long]): Double = {
    val d = b.zip(a).map { case (x, y) => x - y }
    if (d.length > 7 && d.sum > 0) d(7).toDouble / d.sum else 0.0
  }

  /** Runs whole rounds until `seconds` have passed and at least `minRounds`
    * ran. Returns the window's counters at both edges; per-round figures
    * go to `rounds` (the host's steal share is recorded for the run's log,
    * not used to pick rounds). */
  private def window(minRounds: Int)(round: Int => Unit): (Counters, Counters) = {
    setupTimers = timers.toMap
    timers.clear()
    val start = counters()
    def elapsed = (System.nanoTime() - start.wallNs) / 1e9
    while (rounds.size < minRounds || elapsed < seconds) {
      val (t0, cpu0, m0, n0) = (System.nanoTime(), osBean.getProcessCpuTime, machineTicks(), samples.size)
      round(rounds.size)
      rounds += RoundStat(samples.size - n0, (System.nanoTime() - t0) / 1e6,
        (osBean.getProcessCpuTime - cpu0) / 1e6, steal(m0, machineTicks()), n0, samples.size)
    }
    (start, counters())
  }

  // ------------------------------------------------------------- Q&A side

  private def readTsv(path: String): IndexedSeq[Array[String]] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.filter(_.nonEmpty)
      .map(_.split("\t", -1)).toIndexedSeq

  private val now = LocalDateTime.parse(c("now"))

  /** Timed window samples: (operation key, ms). The key is the question
    * template, "upload"/"answer", or the fleet member. */
  private val samples = mutable.ArrayBuffer.empty[(String, Double)]

  /** Distinct (csv, sql) -> first result as JSON; every later result of the
    * same pair must be identical. */
  private val answers = mutable.LinkedHashMap.empty[(String, String), (String, String)]
  private val inconsistent = mutable.ArrayBuffer.empty[String]

  /** One question (`ask`) or validated SELECT (`sql`) over `df`, collected.
    * Records its time under `key` when `key` is given. */
  private def answer(csv: String, df: DataFrame, cols: Seq[Profiler.ColumnInfo],
                     kind: String, text: String, key: Option[String]): Unit = {
    if (traced && kind == "ask") {
      val sql = timed("rulegen")(RuleSqlGenerator.generate(text, cols, now))
      timed("validate")(SqlValidator.validate(sql, cols.map(_.name)))
    }
    var sql = ""
    var rows: Array[Row] = null
    var columns: Array[String] = null
    val ms = attempt {
      phase("execute")
      val qr = timed("execute") {
        if (kind == "ask") Engine.answer(spark, df, text, cols, now)
        else Engine.executeSql(spark, df, text)
      }
      phase("collect")
      rows = timed("collect")(qr.result.collect())
      sql = qr.sql
      columns = qr.result.columns
    }
    ms.foreach { t =>
      key.foreach(k => samples += k -> t)
      val canon = rows.map(r => r.toSeq.map(cell).mkString("\u0001")).sorted.mkString("\u0002")
      answers.get((csv, sql)) match {
        case Some((_, first)) => if (first != canon) inconsistent += sql
        case None =>
          answers((csv, sql)) = (jobj(Seq("csv" -> jstr(csv), "kind" -> jstr(kind),
            "text" -> jstr(text), "sql" -> jstr(sql), "columns" -> jarr(columns.map(jstr)),
            "rows" -> jarr(rows.map(r => jarr(r.toSeq.map(cell)))))), canon)
      }
    }
  }

  private def profileJson(csv: String, cols: Seq[Profiler.ColumnInfo]): String =
    jobj(Seq("csv" -> jstr(csv), "profile" ->
      jarr(cols.map(ci => jarr(Seq(jstr(ci.name), jstr(ci.tpe), jstr(ci.semanticType)))))))

  /** One upload, then a long stream of questions over it (ops file lines:
    * kind, text, template id; one round = every template once). */
  def qaSession(): String = {
    val csv = c("csv")
    val ops = readTsv(c("ops"))
    val (df, cols) = setup {
      phase("load")
      timed("load")(Engine.load(spark, csv))
    }
    val afterSetup = counters()
    val warm = c.int("warmup_ops")
    val perRound = c.int("round_ops")
    (0 until warm).foreach { i => answer(csv, df, cols, ops(i)(0), ops(i)(1), None) }
    val (s, e) = window(c.int("min_rounds")) { r =>
      for (i <- warm + r * perRound until warm + (r + 1) * perRound) {
        val op = ops(i % ops.size)
        answer(csv, df, cols, op(0), op(1), Some(op(2)))
      }
    }
    result(s, e, Some(afterSetup), Seq(profileJson(csv, cols)))
  }

  /** Distinct files, each uploaded and then asked one question (files file
    * lines: csv path, kind, text). */
  def uploadChurn(): String = {
    val files = readTsv(c("files"))
    setup(())
    val afterSetup = counters()
    val warm = c.int("warmup_files")
    val profiles = mutable.ArrayBuffer.empty[String]
    def one(i: Int, record: Boolean): Unit = {
      if (i >= files.size) sys.error(s"ran out of generated files (${files.size})")
      val Array(csv, kind, text) = files(i)
      var loaded: (DataFrame, Seq[Profiler.ColumnInfo]) = null
      val ms = attempt {
        phase("load")
        loaded = timed("load")(Engine.load(spark, csv))
      }
      ms.foreach { t =>
        if (record) samples += "upload" -> t
        profiles += profileJson(csv, loaded._2)
        answer(csv, loaded._1, loaded._2, kind, text, if (record) Some("answer") else None)
      }
    }
    (0 until warm).foreach(one(_, record = false))
    val (s, e) = window(1)(r => one(warm + r, record = true))
    result(s, e, Some(afterSetup), profiles.toSeq)
  }

  // ------------------------------------------------------------ fleet side

  /** Whole passes over the slice, each member built and counted; cache and
    * staging memo cleared between passes. The first (cold) warm-up pass
    * writes each member's output for the oracle compare instead of
    * counting it; every later count must equal that output's row count. */
  def fleetSlice(): String = {
    val sf = c("sf_dir")
    val outDir = c("check_dir")
    val members = c("members").split(",").toSeq
    val fns = members.map(m => m -> SparkEntry.queries(m))
    setup {
      phase("load")
      graft.sources.Tables.registerAll(spark, sf)
    }
    val afterSetup = counters()
    val rowCount = mutable.Map.empty[String, Long]
    def pass(write: Boolean, record: Boolean): Unit = {
      for ((name, fn) <- fns) {
        var n = -1L
        val ms = attempt {
          phase("build")
          val df = timed("build")(fn(spark, sf))
          phase("action")
          if (write) df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          else n = timed("action")(df.count())
        }
        if (ms.isDefined && write) rowCount(name) = spark.read.parquet(s"$outDir/$name").count()
        if (ms.isDefined && !write && !rowCount.get(name).contains(n))
          inconsistent += s"$name: count $n vs written ${rowCount.get(name)} rows"
        if (record) ms.foreach(t => samples += name -> t)
      }
      // as graft.Bench does between passes: no pass reads the previous
      // pass's cached frames or staging memo
      spark.catalog.clearCache()
      graft.queries.Extensions.clearStagingMemo()
    }
    pass(write = true, record = false)
    (2 to c.int("warmup_passes")).foreach(_ => pass(write = false, record = false))
    val (s, e) = window(c.int("min_passes"))(_ => pass(write = false, record = true))
    val oracles = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      jobj(members.flatMap(m => oracles.get(m).map(q => m -> jstr(q)))), UTF_8)
    result(s, e, Some(afterSetup), Nil)
  }

  // ---------------------------------------------------------------- output

  private def timerJson(t: Map[String, (Long, Long)]): String =
    jobj(t.map { case (k, (n, ns)) => k -> jarr(Seq(n.toString, jnum(ns / 1e6))) })

  /** The run's record; live heap is read after a full GC, before any check. */
  private def result(s: Counters, e: Counters, afterSetup: Option[Counters],
                     profiles: Seq[String]): String = {
    val windowS = (e.wallNs - s.wallNs) / 1e9
    val heapMb = liveHeapMb()
    val base = Seq(
      "setup_s" -> jarr(setupS.map(jnum)),
      "samples" -> jarr(samples.map { case (k, t) => jarr(Seq(jstr(k), jnum(t))) }),
      "window_s" -> jnum(windowS),
      "window_start_s" -> jnum((s.wallNs - MainStartNs) / 1e9),
      "window_ops" -> rounds.map(_.ops).sum.toString,
      "window_cpu_ms" -> jnum((e.cpuNs - s.cpuNs) / 1e6),
      "rounds" -> jarr(rounds.map(r => jarr(Seq(r.ops.toString, jnum(r.wallMs), jnum(r.cpuMs),
        jnum(r.steal), r.from.toString, r.until.toString)))),
      "heap_live_mb" -> jnum(heapMb),
      "temp_views" -> spark.catalog.listTables().collect().count(_.isTemporary).toString,
      "attempted" -> attempted.toString,
      "failed" -> jobj(failed.map { case (k, v) => k -> v.toString }),
      "inconsistent" -> jarr(inconsistent.distinct.map(jstr)),
      "answers" -> jarr(answers.values.map(_._1)),
      "profiles" -> jarr(profiles))
    val layers =
      if (!traced) Nil
      else {
        def delta(a: Counters, b: Counters) = {
          val keys = b.buckets.keySet ++ a.buckets.keySet
          val zero = new Array[Double](Bucket.Fields.size)
          keys.toSeq.map { k =>
            val x = b.buckets.getOrElse(k, zero); val y = a.buckets.getOrElse(k, zero)
            jstr(k._1 + "|" + k._2) -> jarr(Bucket.Fields.indices.map(i => jnum(x(i) - y(i))))
          }.map { case (k, v) => k + ":" + v }.mkString("{", ",", "}")
        }
        val zeroC = Counters(0, 0, 0, 0, 0, 0.0, 0.0, Map.empty)
        Seq("trace" -> jobj(Seq(
          "fields" -> jarr(Bucket.Fields.map(jstr)),
          "window" -> delta(s, e),
          "setup" -> afterSetup.map(a => delta(zeroC, a)).getOrElse("{}"),
          "timers" -> timerJson(timers.toMap),
          "setup_timers" -> timerJson(setupTimers),
          "gc_ms" -> (e.gcMs - s.gcMs).toString,
          "jit_ms" -> (e.jitMs - s.jitMs).toString,
          "codegen_compiles" -> (e.codegenCount - s.codegenCount).toString,
          "codegen_ms" -> jnum((e.codegenCount - s.codegenCount) * e.codegenMean),
          "plan_ms" -> jnum(e.planMs - s.planMs),
          "setup_loads" -> afterSetup.map(_ => c("setup_repeats")).getOrElse("0"))))
      }
    jobj(base ++ layers)
  }
}
