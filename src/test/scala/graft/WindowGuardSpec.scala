package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/**
 * Source-level guard: an UNPARTITIONED `Window.orderBy` concentrates every
 * input row on one task, and the library's benign ones (value-collapsed
 * frames, calendar spines, per-partition offset rows) would bury a new
 * accidental row-sized one in identical WindowExec log warnings. So the
 * bare spelling is banned from src/main: every global window must go
 * through [[graft.operators.BoundedGlobalWindow]], whose call is the
 * caller's greppable assertion that the input frame is bounded by a domain
 * constant. This spec turns a new bare site into a test failure instead of
 * one more warning in the wall.
 */
class WindowGuardSpec extends AnyFunSuite {

  private def mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"expected to run from the repo root, missing $root")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toSeq
  }

  test("no bare unpartitioned Window.orderBy outside BoundedGlobalWindow") {
    val offenders = mainSources
      .filterNot(_.getFileName.toString == "BoundedGlobalWindow.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          // Window.partitionBy(...).orderBy(...) is fine; the banned form is
          // the receiver being the Window OBJECT itself.
          case (line, i) if line.contains("Window.orderBy") &&
            !line.contains("BoundedGlobalWindow.orderBy") => s"$p:${i + 1}: ${line.trim}"
        }
      }
    assert(offenders.isEmpty,
      "bare global windows found — route through BoundedGlobalWindow.orderBy " +
        "(and document the bounded-frame contract at the call site):\n" +
        offenders.mkString("\n"))
  }

  test("BoundedGlobalWindow is behaviorally identical to Window.orderBy") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("k", "v")
    val viaHelper = df.withColumn("rn",
      row_number().over(graft.operators.BoundedGlobalWindow.orderBy("k")))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getInt(2)))
    assert(viaHelper.toSeq == Seq((1L, 1), (2L, 2), (3L, 3)))
  }

  // ---- runtime enforcement of the BoundedGlobalWindow contract ------------
  // The source ban above makes call sites greppable but cannot see the frame
  // a call site actually routes through the helper. This walks the OPTIMIZED
  // plan of every declared query: an unpartitioned Window is legal only if
  // every path from it to a leaf passes a row-collapsing node (Aggregate —
  // value collapses, per-partition offset rows, calendar-spine seeds — or a
  // GlobalLimit / literal relation). A corpus-sized frame routed through the
  // helper reaches a file scan with no collapse in between and fails here.

  private def ridesCollapsedFrame(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    p match {
      case _: Aggregate => true
      case _: GlobalLimit => true
      case _: LocalRelation => true // bounded literal spine
      case _: OneRowRelation => true
      case r: Range => r.numElements.isValidInt // a literal-bounded spine
      // a cached frame substituted by plan-match hides its collapse behind
      // a leaf — walk the cached PHYSICAL plan's nodes for one (this is
      // what clears x204/x506/x600 when an earlier query in the walk has
      // warmed the shared staging cache). Node-walk, not string-match: a
      // cached plan whose TEXT contains "Aggregate" on one branch (e.g. a
      // union of a raw scan with an aggregated frame) must still fail.
      case imr: InMemoryRelation => physicallyCollapsed(imr.cachedPlan)
      case l if l.children.isEmpty => false // file scan / checkpointed RDD
      case other => other.children.forall(ridesCollapsedFrame)
    }
  }

  /** Physical-plan analog of [[ridesCollapsedFrame]] for cached fragments:
    * every path from the root to a leaf must pass a row-collapsing exec. */
  private def physicallyCollapsed(
      p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    p match {
      case _: BaseAggregateExec => true
      case _: GlobalLimitExec => true
      case _: CollectLimitExec => true
      case _: TakeOrderedAndProjectExec => true
      case _: LocalTableScanExec => true
      case r: RangeExec => r.range.numElements.isValidInt
      // leaf wrappers that hide a real plan behind them — look through
      case a: AdaptiveSparkPlanExec => physicallyCollapsed(a.inputPlan)
      case s: InMemoryTableScanExec => physicallyCollapsed(s.relation.cachedPlan)
      case r: ReusedExchangeExec => physicallyCollapsed(r.child)
      case l if l.children.isEmpty => false // file scan / RDD scan
      case other => other.children.forall(physicallyCollapsed)
    }
  }

  /** Queries whose global-window input IS collapsed but not provably so
    * from the plan — each with the reason the bound holds anyway. */
  private val exemptQueries: Map[String, String] = Map(
    "x128_streaming_histogram" ->
      ("re-reads its own foreachBatch sink parquet, which holds one row " +
        "per histogram BUCKET (|buckets|-bounded by construction)"))

  private def rowSizedGlobalWindows(
      df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.Window
    df.queryExecution.optimizedPlan.collect {
      case w: Window if w.partitionSpec.isEmpty
          && !ridesCollapsedFrame(w.child) =>
        w.simpleString(2)
    }
  }

  // ---- driver-materialization guard ----------------------------------------
  // The library's standing claim (README "Scale design") is that the only
  // driver materializations are bounded, documented sites. Each site is
  // ANCHORED: the `.collect()` call line (or one of the 3 lines above it)
  // must carry a `bounded-collect: <key>` marker comment, and the allowlist
  // maps each key to its file and its bound. A new collect fails (no
  // marker); REPLACING a documented collect with a different one in the
  // same file fails too (the marker travels with the call site, and each
  // key is single-use) — a per-file COUNT could not see that swap.

  private val collectAllowlist: Map[String, (String, String)] = Map(
    "profiler-head-sample" -> ("Profiler.scala",
      "limit(5) head sample — reference semantics"),
    "bt-win-matrix" -> ("Preference.scala",
      "Bradley-Terry win matrix — |items|² catalogue-bounded, LIMIT-guarded at 2e6"),
    "event-type-vocab" -> ("Analytics.scala",
      "channel vocabulary (distinct event types) — bounded domain, never rows"),
    "skipping-file-manifest" -> ("SkippingIndex.scala",
      "file manifest paths — bounded by file count, the operator's output"),
    "qa-answer-snapshot" -> ("Engine.scala",
      "LIMIT-bounded Q&A answer — optimizedPlan.maxRows ≤ MAX_ROWS_LIMIT, like the reference's fetchdf()"))

  private val markerRe = """bounded-collect:\s*([A-Za-z0-9-]+)""".r.unanchored

  /** Pure scan (unit-testable): every collect site in `files` (name →
    * lines) must carry a line-adjacent single-use allowlisted marker. */
  private[graft] def collectOffenders(
      files: Seq[(String, IndexedSeq[String])]): Seq[String] = {
    val sites = files.flatMap { case (name, lines) =>
      lines.zipWithIndex.collect {
        case (line, i) if {
          val t = line.trim
          t.contains(".collect()") && !t.startsWith("*") && !t.startsWith("//")
        } =>
          val window = lines.slice(math.max(0, i - 3), i + 1).reverse
          val key = window.collectFirst {
            case markerRe(k) => k
          }
          (s"$name:${i + 1}", name, key)
      }
    }
    val unmarked = sites.collect { case (site, _, None) =>
      s"$site: .collect() with no line-adjacent 'bounded-collect: <key>' marker"
    }
    val badKey = sites.collect {
      case (site, file, Some(k)) if !collectAllowlist.get(k).exists(_._1 == file) =>
        s"$site: marker key '$k' not allowlisted for $file"
    }
    val dupKey = sites.flatMap { case (site, _, k) => k.map(_ -> site) }
      .groupBy(_._1).collect { case (k, ss) if ss.size > 1 =>
        s"marker key '$k' used at ${ss.size} sites (${ss.map(_._2).mkString(", ")}) — keys are single-use"
      }
    val stale = collectAllowlist.keys.filterNot(k =>
      sites.exists(_._3.contains(k))).map(k =>
      s"allowlist key '$k' has no live call site — remove the stale entry")
    unmarked ++ badKey ++ dupKey ++ stale
  }

  test("every .collect() in src/main is an allowlisted documented bounded site") {
    val offenders = collectOffenders(mainSources.map(p =>
      p.getFileName.toString -> Files.readAllLines(p).asScala.toIndexedSeq))
    assert(offenders.isEmpty,
      "undocumented driver materialization — document the bound at the call " +
        "site and extend the allowlist:\n  " + offenders.mkString("\n  "))
    // the corpus-risk spellings with no bounded variant are banned outright
    val banned = mainSources.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("collectAsList")
            || line.contains("toLocalIterator") => s"$p:${i + 1}"
      }
    }
    assert(banned.isEmpty, s"banned driver-materialization spellings: $banned")
  }

  test("the collect guard flags a swapped or unmarked collect, not just a new one") {
    // per-file counts could not see a documented bounded collect REPLACED
    // by a different, unbounded one — the marker scan must
    def lines(s: String*): IndexedSeq[String] = s.toIndexedSeq
    // (a) a brand-new collect with no marker
    assert(collectOffenders(Seq("Rogue.scala" ->
      lines("val all = corpus.collect()"))).exists(_.contains("no line-adjacent")))
    // (b) a collect whose marker key is not allowlisted for that file
    assert(collectOffenders(Seq("Rogue.scala" ->
      lines("// bounded-collect: bt-win-matrix", "val all = corpus.collect()")))
      .exists(_.contains("not allowlisted")))
    // (c) the swap: the documented site keeps its marker, a second collect
    // rides the same file — single-use keys catch the reuse, the missing
    // marker catches the bare addition
    assert(collectOffenders(Seq("Preference.scala" -> lines(
      "// bounded-collect: bt-win-matrix", "val ok = pairs.collect()",
      "val smuggled = corpus.collect()"))).nonEmpty)
    // (d) the real tree, as scanned by the main test, is clean
    assert(collectOffenders(mainSources.map(p =>
      p.getFileName.toString -> Files.readAllLines(p).asScala.toIndexedSeq)).isEmpty)
  }

  test("the cached-plan probe walks nodes, not strings: an aggregate on ONE union branch does not excuse a raw-scan branch") {
    val spark = SparkTestSession.spark
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // corpus-sized branch unioned with a collapsed branch: the cached plan's
    // STRING contains "Aggregate" (the old probe false-passed), but one
    // root-to-leaf path reaches the file scan uncollapsed
    val cached = docs.select(col("doc_id"))
      .unionAll(docs.groupBy("source").agg(count(lit(1)).as("doc_id"))
        .select(col("doc_id")))
      .cache()
    try {
      val bad = cached.withColumn("rn", row_number().over(
        graft.operators.BoundedGlobalWindow.orderBy("doc_id")))
      assert(rowSizedGlobalWindows(bad).nonEmpty,
        "a cached union with a raw-scan branch must be flagged")
      // and a genuinely collapsed cached frame still passes through the walk
      val okCached = docs.groupBy("source").agg(count(lit(1)).as("n")).cache()
      try {
        val ok = okCached.withColumn("rn", row_number().over(
          graft.operators.BoundedGlobalWindow.orderBy("source")))
        assert(rowSizedGlobalWindows(ok).isEmpty)
      } finally okCached.unpersist()
    } finally cached.unpersist()
  }

  test("the checker itself flags a row-sized frame routed through BoundedGlobalWindow") {
    val spark = SparkTestSession.spark
    import org.apache.spark.sql.functions._
    // a raw parquet scan through the helper = exactly the misuse the
    // convention exists to prevent — the walker must refuse it
    val bad = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("rn", row_number().over(
        graft.operators.BoundedGlobalWindow.orderBy("doc_id")))
    assert(rowSizedGlobalWindows(bad).nonEmpty,
      "the negative control must be detected, or this guard is vacuous")
    // and a post-aggregation frame through the helper must pass
    val ok = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .groupBy("source").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(
        graft.operators.BoundedGlobalWindow.orderBy("source")))
    assert(rowSizedGlobalWindows(ok).isEmpty)
  }

  test("every unpartitioned window rides a collapsed frame; no query plans a CartesianProduct") {
    val spark = SparkTestSession.spark
    val sf = "/root/testdata/sf0.001"
    val windowOffenders = collection.mutable.ArrayBuffer.empty[String]
    val cartesianOffenders = collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, q) =>
      val df = q(spark, sf)
      if (!exemptQueries.contains(name))
        windowOffenders ++= rowSizedGlobalWindows(df).map(w => s"$name: $w")
      // A CartesianProduct exec is an UNBROADCAST all-pairs join — the one
      // join shape with no scale story. Every intentional small-frame cross
      // in this library broadcasts (BroadcastNestedLoopJoin), which this
      // rule permits; a size misestimate or a lost broadcast hint that
      // degrades a cross to CartesianProduct fails the fleet here.
      if (df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
        cartesianOffenders += name
    }
    assert(windowOffenders.isEmpty,
      "global windows over frames not provably collapsed (add the missing " +
        "aggregate/limit, or partition the window):\n  " +
        windowOffenders.mkString("\n  "))
    assert(cartesianOffenders.isEmpty,
      s"queries planning a CartesianProduct: $cartesianOffenders")
  }
}
