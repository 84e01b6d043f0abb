package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class StreamingSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("append+watermark emits exactly the finalized subset of the complete-mode windows") {
    val complete = streaming.EventStream.windowedCounts(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val append = streaming.EventStream.windowedCountsAppend(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // every emitted window matches the batch-equivalent count, emitted once
    append.foreach { case (k, n) => assert(complete(k) == n, s"window $k") }
    // held-back windows are exactly those still open at the final watermark
    val maxTs = sources.Tables(spark, sf, "events").agg(max("ts")).head.getTimestamp(0)
    val held = complete.keySet -- append.keySet
    held.foreach { case (hour, _) =>
      val end = java.sql.Timestamp.valueOf(hour).toInstant.plusSeconds(3600)
      assert(end.isAfter(maxTs.toInstant), s"window $hour should have been emitted")
    }
    assert(held.nonEmpty) // the in-progress last hour exists and was held
  }

  test("closed-session emission reconciles with the update-mode session totals") {
    val totals = streaming.EventStream.userSessions(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    val closedRows = streaming.EventStream.closedSessions(spark, sf).collect()
    val closed = closedRows.groupBy(_.getLong(0))
      .view.mapValues(rs => (rs.length, rs.map(_.getInt(3)).sum)).toMap
    totals.foreach { case (uid, (nSessions, nEvents)) =>
      val (nClosed, closedEvents) = closed.getOrElse(uid, (0, 0))
      // at most the final session per user stays open (held in state)
      assert(nClosed == nSessions || nClosed == nSessions - 1, s"user $uid")
      assert(closedEvents <= nEvents, s"user $uid")
    }
    // sessions for unknown users cannot appear
    assert(closed.keySet.subsetOf(totals.keySet))
  }

  test("foreachBatch lake sink: repeat invocations reuse one base dir and give identical results") {
    // the r6/r7 scratch-dir drift guard: the bench runs every sink 3x
    // (warm-up + 2 timed passes); a per-invocation temp dir accumulates a
    // full lake copy per pass, and an append-mode lake that ISN'T cleared
    // doubles its content. Zero new base dirs + bit-equal results.
    def lakeBaseDirs() = new java.io.File(System.getProperty("java.io.tmpdir"))
      .listFiles((_, n) => n.startsWith("graft_fb_lake_")).length
    val r1 = streaming.EventStream.foreachBatchLakeSink(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val after1 = lakeBaseDirs()
    val r2 = streaming.EventStream.foreachBatchLakeSink(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(lakeBaseDirs() == after1, "second invocation must create zero new base dirs")
    assert(r1 == r2, "cleared-and-reused lake must reproduce the first run exactly")
    assert(r1.nonEmpty)
  }

  test("streaming incremental histogram == the batch single-pass sketch") {
    import org.apache.spark.sql.functions.expr
    val streamed = streaming.EventStream
      .streamingHistogramQuantiles(spark, sf, nBins = 256, probsPct = Seq(50, 90, 99))
      .collect().map(_.toSeq).toSet
    val batch = operators.Analytics.histogramQuantiles(
        sources.Tables(spark, sf, "events"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"),
        nBins = 256, probsPct = Seq(50, 90, 99))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.size == 3)
  }

  test("left-outer stream-stream join: matched pairs equal the inner join; NULLs only for expired windows") {
    val out = streaming.EventStream.streamStreamLeftOuterPurchases(spark, sf)
      .collect()
    val matched = out.filter(!_.isNullAt(1))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inner = streaming.EventStream.streamStreamErrorPurchases(spark, sf)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet
    assert(matched == inner, "matched pairs must equal the inner interval join")
    // NULL rows exist (some purchases provably have no following-hour error)
    val nulls = out.filter(_.isNullAt(1)).map(_.getLong(0)).toSet
    assert(nulls.nonEmpty)
    // and no purchase appears both matched and as a NULL row
    assert(nulls.intersect(matched.map(_._1)).isEmpty)
  }

  test("semi stream-stream join: emitted set equals the distinct-left of the inner join") {
    val semi = streaming.EventStream.streamStreamSemiPurchases(spark, sf)
      .collect().map(_.getLong(0))
    // exactly once per matched purchase, no duplicates
    assert(semi.toSet.size == semi.length, "semi must emit each purchase once")
    val innerLeft = streaming.EventStream.streamStreamErrorPurchases(spark, sf)
      .collect().map(_.getLong(1)).toSet
    assert(semi.toSet == innerLeft,
      "semi set must equal the inner join's distinct purchase side")
  }

  test("checkpoint restart: the resumed query lands each event exactly once") {
    val out = streaming.EventStream.checkpointRestartLakeSink(spark, sf).collect()
    assert(out.nonEmpty)
    // no duplicates: per type, row count equals distinct event ids
    out.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"type ${r.getString(0)}: ${r.getLong(1)} rows vs ${r.getLong(2)} distinct"))
    // no loss: totals equal the batch table
    val batch = sources.Tables(spark, sf, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach(r => assert(r.getLong(1) == batch(r.getString(0))))
  }

  test("streaming trending ranks only finalized day windows (in-progress day stays in state)") {
    val out = streaming.EventStream.trendingTopK(spark, sf, k = 3).collect()
    assert(out.nonEmpty)
    val lastEmitted = out.map(_.getDate(0).toLocalDate).max
    val maxEventDay = sources.Tables(spark, sf, "events")
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.to_date(org.apache.spark.sql.functions.col("ts"))))
      .head.getDate(0).toLocalDate
    assert(lastEmitted.isBefore(maxEventDay),
      "the day containing the max event time must not have emitted")
    // per finalized window: ranks are 1..k dense and counts non-increasing
    out.groupBy(_.getDate(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == (1 to sorted.length))
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a.getLong(2) >= b.getLong(2); case _ => true })
    }
  }

  test("x75 trending: a repeat run gives the same rows and leaves no memory-sink view") {
    // each run drains into a memory sink registered as a temp view; the
    // drain must drop it, or a long-lived session gains a view (and keeps
    // the sink's rows) per execution
    def tempViews() = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name)
    val x75 = SparkEntry.queries("x75_streaming_trending")
    val r1 = x75(spark, sf).collect().toSeq
    val after1 = tempViews()
    val r2 = x75(spark, sf).collect().toSeq
    assert(r1.nonEmpty && r1 == r2)
    assert(tempViews().length == after1.length, "the second run must add no temp view")
    assert(!after1.exists(_.startsWith("graft_append_")), s"memory-sink views left: ${after1.toSeq}")
  }
}
