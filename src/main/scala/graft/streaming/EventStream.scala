package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.graft.ScratchDir

/**
 * Structured Streaming over the `events` table — SURVEY.md §7.4's streaming
 * demo. The batch parquet is replayed through a real streaming source
 * (`readStream`), aggregated with a tumbling event-time window, and drained
 * synchronously into a memory sink, so the streaming pipeline is verifiable
 * against a plain batch SQL oracle (complete output mode ⇒ final state ==
 * batch aggregation).
 *
 * At scale this same plan runs against a live source (Kafka/file stream) with
 * `withWatermark` bounding state: the aggregation state is hash-partitioned
 * by (window, event_type) across executors, and append mode + watermark emit
 * finalized windows incrementally.
 */
object EventStream {

  /**
   * Stateful streaming operators hash-partition their state by
   * `spark.sql.shuffle.partitions`, and every micro-batch commits every
   * partition's state store — at harness scale (tiny batches, 32-thread
   * session conf) that is pure commit overhead: 32 store commits × N
   * batches × sides for a few thousand rows. Drain streaming queries with
   * the conf lowered to [[StreamStatePartitions]] and restore the caller's
   * value after. The operator SHAPE is unchanged — state is still
   * hash-distributed, a production deployment sizes the same knob to its
   * executor count.
   *
   * Why this flip (and the RocksDB one in [[purchaseMilestones]]) stays on
   * the caller's session instead of going through
   * [[org.apache.spark.sql.graft.FreshSession]] like the batch builders:
   * the first use of a session's `.streams` registers a SparkContext bus
   * listener that is never removed, so a fresh session per drain would leak
   * one listener per call (measured on Spark 4.1.2: +1 bus listener per
   * session whose `.streams` is touched). The caller's session has its
   * listener already. The drain is synchronous, and the value is restored
   * before it returns.
   *
   * Fixed at 4: measured at sf0.1 over the full 8-query streaming set,
   * 4 beats 8 (27.9 s vs 29.7 s cold; the gap is per-partition store-commit
   * overhead) and 2 loses it again (30.5 s — too little drain parallelism),
   * so 4 is the harness sweet spot.
   */
  private val StreamStatePartitions = 4

  /** PER-BATCH CODEGEN / PLANNING — adjudicated BY-DESIGN (r13, measured):
    * each stream-stream query spends ~0.85 s in incremental planning and
    * compiles ~30–36 generated classes per drain (PhaseProfile), because
    * `IncrementalExecution` re-plans every micro-batch and bakes the
    * advancing WATERMARK VALUE into the generated source as a literal —
    * so even the fleet-sized codegen cache (EngineConf) cannot carry
    * compiled classes across batches: they are genuinely different
    * sources. Parameterizing the watermark as a bound reference is a
    * Spark-engine change (state-eviction predicates live inside
    * WatermarkSupport), not an operator-level one; disabling whole-stage
    * codegen for the tiny harness batches was considered and REJECTED as
    * scale-dishonest — production batch sizes want codegen. The remaining
    * per-query cost here is volume-invariant replay overhead: batches ×
    * state partitions × (4 state stores per stream-stream join side pair)
    * commits, which shrinks RELATIVE to data at production batch sizes. */

  private def withStatePartitions[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, StreamStatePartitions.toString) // session-mutation: streams stay on the caller (see above)
    try body finally spark.conf.set(key, prev) // session-mutation: restores the caller's value
  }

  /** Runs `stream` to the end of the replay into a memory sink (under
    * [[withStatePartitions]]) and returns the sink's rows. The frame is
    * analyzed before the sink's temp view is dropped, so it still reads the
    * sink, while the catalog does not gain one view per execution. */
  private def drainToMemory(spark: SparkSession, stream: DataFrame,
      outputMode: String, namePrefix: String): DataFrame = {
    val qname = namePrefix + java.util.UUID.randomUUID().toString.replace("-", "")
    withStatePartitions(spark) {
      val query = stream.writeStream
        .outputMode(outputMode)
        .format("memory")
        .queryName(qname)
        .start()
      try query.processAllAvailable() finally query.stop()
    }
    try spark.table(qname) finally spark.catalog.dropTempView(qname)
  }

  def windowedCounts(spark: SparkSession, sfDir: String): DataFrame = {
    graft.sources.Tables.ensureNanosAsLong(spark)
    val path = s"$sfDir/events.parquet"
    // physical ts form varies by testdata generation (long nanos,
    // TIMESTAMP_NTZ, or TimestampType); normalizeEventTs canonicalizes
    val schema = spark.read.parquet(path).schema

    // The streaming file source wants a directory; glob-filter to the one table.
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(sfDir)
      .transform(graft.sources.Tables.normalizeEventTs)

    val agg = stream
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .count()

    drainToMemory(spark, agg, "complete", "graft_stream_")
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"),
        col("count").as("n"))
      .orderBy("hour", "event_type")
  }

  /**
   * PRODUCTION-shape streaming: multi-batch replay + event-time watermark +
   * APPEND output. [[windowedCounts]] drains in complete mode (final state ==
   * batch aggregation — the harness-simple check); this variant runs the
   * configuration a deployment actually uses: the watermark advances between
   * micro-batches, finalized windows are emitted incrementally, and their
   * state is evicted.
   *
   * Replay: the batch parquet is sliced at fixed weekly boundaries into one
   * file per slice, staged into a watch directory with strictly increasing
   * modification times; `maxFilesPerTrigger=1` then feeds them to the query
   * as ordered micro-batches, so the watermark (max event time − 0s delay)
   * ratchets forward exactly as on a live source.
   *
   * Emission is data-driven and deterministic: a window emits once the
   * watermark passes its end (Spark runs a no-data flush batch after the
   * last file, so every hour window whose end ≤ the global max event time
   * emits; the in-progress last hour stays in state). That rule is plain
   * SQL for the oracle.
   */
  /** Replay slices are immutable once written — memoized per source dir so
    * the two append-mode queries (and repeated bench passes) share one set
    * instead of rewriting ~4 parquet files each. Harness setup only; the
    * streaming queries themselves always run in full. */
  private val sliceCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, org.apache.spark.sql.types.StructType)]()

  private def sliceReplayDir(spark: SparkSession, sfDir: String)
      : (String, org.apache.spark.sql.types.StructType) =
    sliceCache.computeIfAbsent(sfDir, _ => buildSliceReplayDir(spark, sfDir))

  /** Slice the batch events parquet into ~quartile slices of its event-time
    * range, one file per slice under a fresh watch directory, with strictly
    * increasing modification times so the streaming file source
    * (maxFilesPerTrigger=1) replays them as ordered micro-batches.
    *
    * Boundaries are the exact 25/50/75 percentiles of `ts`, derived from the
    * data rather than hard-coded dates, so any events dataset replays as
    * genuinely multiple micro-batches (the watermark-ratcheting behavior
    * being demonstrated). Degenerate distributions that collapse every
    * percentile (< 2 non-empty slices) fail loudly instead of silently
    * degrading to a single batch. Returns (watchDir, schema). */
  private def buildSliceReplayDir(spark: SparkSession, sfDir: String)
      : (String, org.apache.spark.sql.types.StructType) = {
    graft.sources.Tables.ensureNanosAsLong(spark)
    // Normalize BEFORE slicing: the watch-dir files then carry one canonical
    // ts schema (TimestampType µs) regardless of the source parquet's
    // physical timestamp form, and every downstream readStream consumer's
    // normalize pass is a no-op.
    val raw = graft.sources.Tables.normalizeEventTs(
      spark.read.parquet(s"$sfDir/events.parquet"))
    val base = ScratchDir.create("graft_append_")
    val watch = base.resolve("watch")
    java.nio.file.Files.createDirectories(watch)
    // One tiny driver action at setup time (harness plumbing, not the
    // measured query). Slice key = µs since epoch; values (~1.7e15) are below
    // 2^53, so the percentile's double is exact.
    val pctRow = raw
      .select(expr("percentile(unix_micros(ts), array(0.25, 0.5, 0.75))"))
      .head()
    if (pctRow.isNullAt(0)) {
      // EMPTY corpus (percentile over zero rows is NULL): there is nothing
      // to replay, which is not the degenerate-distribution case the >= 2
      // slice check guards against — write one zero-row slice so the file
      // source sees a schema'd file and every consumer drains to an empty
      // frame instead of the harness throwing.
      val staging = base.resolve("staging_empty")
      raw.coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val part = staging.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = watch.resolve("slice00.parquet").toFile
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(60000L)
      return (watch.toString, raw.schema)
    }
    val bounds = pctRow.getSeq[Double](0).map(_.toLong).distinct.sorted
    val edges = (Long.MinValue +: bounds) :+ Long.MaxValue
    val ranges = edges.sliding(2).toSeq.collect {
      case Seq(lo, hi) => unix_micros(col("ts")) >= lo && unix_micros(col("ts")) < hi
    }
    val written = ranges.zipWithIndex.count { case (cond, i) =>
      val staging = base.resolve(s"staging$i")
      raw.filter(cond).coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val part = staging.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      // An empty slice writes a parquet file with zero rows; skip it so
      // every replayed micro-batch carries data (keeps `written` honest).
      val hasRows = spark.read.parquet(staging.toString).limit(1).count() > 0
      if (hasRows) {
        val dst = watch.resolve(f"slice$i%02d.parquet").toFile
        java.nio.file.Files.move(part.toPath, dst.toPath)
        // strictly increasing mtimes pin the replay order (file source
        // batches by modification time); minute spacing dodges coarse FS
        // timestamps
        dst.setLastModified((i + 1) * 60000L)
      }
      hasRows
    }
    require(written >= 2,
      s"events ts distribution yielded $written non-empty slices; " +
        "multi-batch replay needs >= 2 (is the ts column constant?)")
    (watch.toString, raw.schema)
  }

  /** Shared drain: watermarked APPEND-mode (window × event_type) counts over
    * the ordered slice replay, drained to a memory sink — the finalized
    * windows only. One definition so the replay/watermark/drain protocol
    * cannot diverge between the queries built on it. */
  private def drainAppendWindowCounts(spark: SparkSession, sfDir: String,
      windowDuration: String, slide: Option[String] = None): DataFrame = {
    val (watch, schema) = sliceReplayDir(spark, sfDir)
    val win = slide.map(s => window(col("ts"), windowDuration, s))
      .getOrElse(window(col("ts"), windowDuration))
    val agg = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(watch)
      .transform(graft.sources.Tables.normalizeEventTs)
      .withWatermark("ts", "0 seconds")
      .groupBy(win, col("event_type"))
      .count()

    drainToMemory(spark, agg, "append", "graft_append_")
  }

  /**
   * STREAMING SLIDING windows (2-day window, 1-day slide) in watermarked
   * APPEND mode over the ordered replay — the streaming twin of batch
   * b52 and the last window shape in the zoo: every event lives in TWO
   * overlapping windows simultaneously, so the state store holds ~2×
   * the tumbling window count (still bounded by windows × types and
   * evicted as the watermark passes each window's END — a window stays
   * in state one slide longer than its tumbling cousin). Only finalized
   * windows emit, so the oracle keeps windows with end ≤ max event time.
   */
  def slidingWindowCountsAppend(spark: SparkSession, sfDir: String): DataFrame =
    drainAppendWindowCounts(spark, sfDir, "2 days", slide = Some("1 day"))
      .select(col("window.start").cast("date").as("win_start"),
        col("event_type"), col("count").as("n"))
      .orderBy("win_start", "event_type")

  def windowedCountsAppend(spark: SparkSession, sfDir: String): DataFrame =
    drainAppendWindowCounts(spark, sfDir, "1 hour")
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"),
        col("count").as("n"))
      .orderBy("hour", "event_type")

  /**
   * STREAMING TRENDING TOP-K: watermarked APPEND-mode day-window counts over
   * the ordered multi-batch replay, then a rank over the FINALIZED windows —
   * the serving pattern for a live "trending now" board: the state store
   * maintains only per-(window, type) counts (bounded by windows × types,
   * evicted at the watermark); the top-k rank is a cheap batch query over
   * the emitted finalized windows, NOT streaming state (ranking inside the
   * stream would need complete-mode output — unbounded re-emission).
   * A window emits once the watermark passes its end, so the oracle is the
   * same rank over day windows whose end ≤ the global max event time.
   */
  def trendingTopK(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("win_start").orderBy(desc("n"), col("event_type"))
    drainAppendWindowCounts(spark, sfDir, "1 day")
      .select(col("window.start").cast("date").as("win_start"),
        col("event_type"), col("count").as("n"))
      .withColumn("rnk", row_number().over(rankW))
      .filter(col("rnk") <= k)
      .orderBy("win_start", "rnk")
  }

  /**
   * STREAMING DEDUPLICATION: `dropDuplicates` over the ordered multi-batch
   * replay — the first (user_id, event_type) occurrence passes, every later
   * duplicate (including across micro-batches, which is what the keyed state
   * store exists for) is dropped. Append mode; the emitted SET is the
   * distinct pairs regardless of arrival order, so the oracle is a plain
   * batch DISTINCT.
   *
   * State note: the exact-dedup state here grows with the distinct-key count
   * (the correct semantics for a bounded key domain like user×type). For an
   * unbounded domain a deployment trades exactness for bounded state with
   * `dropDuplicatesWithinWatermark`, which this operator deliberately does
   * not use: re-emission after state eviction would break set-equality with
   * the batch oracle.
   */
  def streamingDistinctPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val (watch, schema) = sliceReplayDir(spark, sfDir)
    val dedup = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(watch)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")

    drainToMemory(spark, dedup, "append", "graft_dedup_").orderBy("user_id", "event_type")
  }

  /** Output row of [[purchaseMilestones]]. */
  case class Milestone(user_id: Long, milestone: Long)

  /**
   * `transformWithState` processor: a per-user running purchase counter in
   * a `ValueState[Long]`, emitting a row each time the count crosses a
   * multiple of `step`. The emitted SET is a pure function of final counts
   * (batching only changes how many milestones one invocation emits), so
   * the streaming result is oracle-checkable against batch arithmetic.
   */
  private class MilestoneProcessor(step: Int)
      extends StatefulProcessor[Long, Long, Milestone] {
    @transient private var count: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[Long]("cnt", Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Long],
        timerValues: TimerValues): Iterator[Milestone] = {
      val before = if (count.exists()) count.get() else 0L
      val after = before + rows.size
      count.update(after)
      Iterator.range(before / step + 1, after / step + 1)
        .map(m => Milestone(key, m * step))
    }
  }

  /**
   * ARBITRARY STATE, NEW API: the Spark 4 `transformWithState` operator
   * (the typed-state successor to mapGroupsWithState — named states, TTL,
   * timers, RocksDB-backed) driving a per-user milestone emitter: one
   * output row per `step` purchases crossed. State is one Long per user;
   * milestones emit exactly once because the counter never replays under
   * the ordered drain.
   *
   * Requires the RocksDB state store provider — set on the caller's session
   * for the drain and restored after, for the reason given at
   * [[withStatePartitions]].
   */
  def purchaseMilestones(spark: SparkSession, sfDir: String,
      step: Int = 5): DataFrame = {
    import spark.implicits._
    val (watch, schema) = sliceReplayDir(spark, sfDir)
    val purchases = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(watch)
      .filter(col("event_type") === "purchase")
      .select(col("user_id")).as[Long]
    val milestones = purchases.groupByKey(identity)
      .transformWithState(new MilestoneProcessor(step),
        TimeMode.None(), OutputMode.Append(), Encoders.product[Milestone])

    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.get(provKey)
    spark.conf.set(provKey, // session-mutation: streams stay on the caller (see withStatePartitions)
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val drained =
      try drainToMemory(spark, milestones.toDF(), "append", "graft_tws_")
      finally spark.conf.set(provKey, prevProv) // session-mutation: restores the caller's value
    drained.orderBy("user_id", "milestone")
  }

  /**
   * BOUNDED-STATE STREAMING DEDUPLICATION: `dropDuplicatesWithinWatermark`
   * keyed on (user, type, event-day) with a 1-day watermark delay — the
   * production semantics [[streamingDistinctPairs]] deliberately avoids:
   * state for a day's keys is EVICTED once the watermark passes, so state
   * size is bounded by keys-per-delay-window, not all-time distinct keys
   * (the difference between a stream that runs for years and one that
   * OOMs).
   *
   * Equality with the batch `DISTINCT (user, type, day)` oracle holds
   * because the replay is event-time-ordered (quartile slices ⇒ no late
   * drops) and every duplicate of a day-scoped key arrives within one day
   * of its first occurrence — inside the within-watermark guarantee — so
   * no key is ever re-emitted after eviction.
   */
  def boundedDedupDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val (watch, schema) = sliceReplayDir(spark, sfDir)
    val dedup = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(watch)
      .transform(graft.sources.Tables.normalizeEventTs)
      .withWatermark("ts", "1 day")
      .withColumn("day", to_date(col("ts")))
      .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
      .select(col("user_id"), col("event_type"), col("day"))

    drainToMemory(spark, dedup, "append", "graft_wmdedup_").orderBy("user_id", "event_type", "day")
  }

  /**
   * STREAM-STATIC JOIN: the event stream enriched against the static
   * `customer` dimension (user_id ↔ c_custkey), then a windowless streaming
   * aggregation by (market segment, event type). The static side is read
   * per micro-batch and hash-broadcast — the join itself is STATELESS (no
   * watermark, no join state), which is exactly why stream-static is the
   * preferred enrichment shape at scale; the only stateful operator is the
   * final aggregation (complete mode ⇒ final state equals the batch join).
   */
  def streamStaticSegmentCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val (watch, schema) = sliceReplayDir(spark, sfDir)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(watch)
      .select(col("user_id"), col("event_type"))
    val dim = graft.sources.Tables(spark, sfDir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))

    val agg = stream.join(dim, Seq("user_id"))
      .groupBy("c_mktsegment", "event_type")
      .count()

    drainToMemory(spark, agg, "complete", "graft_enrich_")
      .select(col("c_mktsegment"), col("event_type"), col("count").as("n"))
      .orderBy("c_mktsegment", "event_type")
  }

  /**
   * STREAM-STREAM JOIN: error events joined to the same user's purchase
   * events within the preceding hour — two watermarked streams, an equi-key
   * plus event-time range condition. This is the interval-join shape Spark
   * requires for state cleanup: the watermark + range bound lets each side
   * evict buffered rows once no future match is possible, so state is
   * bounded by (users active within the hour), not the stream length.
   *
   * INNER join ⇒ every match is emitted exactly once regardless of
   * micro-batch boundaries, so the full emitted set equals the batch
   * interval join — plain SQL for the oracle. The replay slices are
   * ts-range partitions, so later batches never carry earlier timestamps
   * and nothing is late-dropped.
   */
  def streamStreamErrorPurchases(spark: SparkSession, sfDir: String): DataFrame = {
    val (watch, schema) = sliceReplayDir(spark, sfDir)
    // ONE source instance self-joined (Spark supports stream-stream
    // self-joins): each file is read once per trigger and the two sides
    // advance in lockstep, vs. two independent sources each re-scanning
    // the watch directory with their own offset state.
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(watch)
      .transform(graft.sources.Tables.normalizeEventTs)
    val errors = src.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"), col("ts").as("err_ts"))
      .withWatermark("err_ts", "0 seconds")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pur_id"), col("user_id").as("p_user"),
        col("ts").as("pur_ts"), col("value"))
      .withWatermark("pur_ts", "0 seconds")

    val joined = errors.join(purchases,
      col("user_id") === col("p_user") &&
        col("err_ts") >= col("pur_ts") &&
        col("err_ts") <= col("pur_ts") + expr("INTERVAL 1 HOUR"))

    drainToMemory(spark, joined, "append", "graft_ssjoin_")
      .select(col("err_id"), col("pur_id"), col("user_id"), col("value"))
      .orderBy("err_id", "pur_id")
  }

  /**
   * STREAM-STREAM LEFT OUTER interval join — purchases joined to the
   * errors of the FOLLOWING hour, with unmatched purchases emitted
   * (NULL error) once the watermark proves no match can still arrive:
   * the "did this purchase trigger an error, or provably not?" feed.
   * This exercises the outer-join state machine x34's inner join never
   * touches — eviction-driven NULL emission, including the end-of-stream
   * no-data batch that flushes the final expirations.
   *
   * Determinism contract (and the oracle's WHERE clause): matched pairs
   * equal the batch interval join (time-ordered replay slices keep the
   * left state alive past every possible match — the x34 argument);
   * an unmatched purchase appears iff its match window closed under the
   * final watermark, `pur_ts + 1h < min(max pur_ts, max err_ts)` —
   * purchases still inside the window correctly DON'T emit, exactly as
   * a production run would hold them for the next batch.
   *
   * Scale: both sides watermarked ⇒ bounded state; the join is
   * key-partitioned on user; NULL rows stream out of state eviction,
   * never from a rescan.
   */
  def streamStreamLeftOuterPurchases(spark: SparkSession, sfDir: String): DataFrame = {
    val (watch, schema) = sliceReplayDir(spark, sfDir)
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(watch)
      .transform(graft.sources.Tables.normalizeEventTs)
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pur_id"), col("user_id").as("p_user"),
        col("ts").as("pur_ts"), col("value"))
      .withWatermark("pur_ts", "0 seconds")
    val errors = src.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"), col("ts").as("err_ts"))
      .withWatermark("err_ts", "0 seconds")

    val joined = purchases.join(errors,
      col("p_user") === col("user_id") &&
        col("err_ts") >= col("pur_ts") &&
        col("err_ts") <= col("pur_ts") + expr("INTERVAL 1 HOUR"),
      "leftOuter")

    drainToMemory(spark, joined, "append", "graft_ssoj_")
      .select(col("pur_id"), col("err_id"), col("p_user").as("user_id"),
        col("value"))
      .orderBy("pur_id", "err_id")
  }

  /**
   * STREAM-STREAM LEFT SEMI interval join — the existence form of the
   * x34/x258/x541 family: emit each purchase ONCE as soon as any error
   * lands in its following hour, and never emit the payload of the
   * matching side. Semi is the cheapest stream-stream shape (no right
   * rows buffered past the match, no NULL eviction machinery) and the
   * one a filter-by-correlated-stream pipeline actually wants; it also
   * exercises the semi-specific state branch none of the other three
   * joins touch.
   *
   * Determinism contract: a left row emits iff a match EXISTS in the
   * batch interval join — matched-set equality is watermark-independent
   * (the x34 argument: ts-ordered replay slices keep the purchase in
   * state until its window provably closes), so the oracle is a plain
   * EXISTS.
   *
   * Scale: both sides watermarked ⇒ bounded state, keyed on user.
   */
  def streamStreamSemiPurchases(spark: SparkSession, sfDir: String): DataFrame = {
    val (watch, schema) = sliceReplayDir(spark, sfDir)
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(watch)
      .transform(graft.sources.Tables.normalizeEventTs)
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pur_id"), col("user_id").as("p_user"),
        col("ts").as("pur_ts"), col("value"))
      .withWatermark("pur_ts", "0 seconds")
    val errors = src.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"), col("ts").as("err_ts"))
      .withWatermark("err_ts", "0 seconds")

    val joined = purchases.join(errors,
      col("p_user") === col("user_id") &&
        col("err_ts") >= col("pur_ts") &&
        col("err_ts") <= col("pur_ts") + expr("INTERVAL 1 HOUR"),
      "left_semi")

    drainToMemory(spark, joined, "append", "graft_sssemi_")
      .select(col("pur_id"), col("p_user").as("user_id"), col("value"))
      .orderBy("pur_id")
  }

  /**
   * STREAM-STREAM FULL OUTER interval join — [[streamStreamLeftOuterPurchases]]
   * with BOTH unmatched sides emitted from state eviction: purchases that
   * provably triggered no error in their following hour (NULL err_id) and
   * errors with provably no purchase in their preceding hour (NULL
   * pur_id), one feed. This drives the two-sided eviction machinery the
   * inner (x34) and left-outer (x258) joins never touch.
   *
   * Determinism contract (the oracle's WHERE clauses, W = the final
   * global watermark = least(max pur_ts, max err_ts) at 0s delay):
   * matched pairs equal the batch interval join; an unmatched purchase
   * emits iff `pur_ts + 1h < W` (its match window closed — the x258
   * argument); an unmatched error emits iff `err_ts < W` (any future
   * purchase has pur_ts ≥ W > err_ts and cannot satisfy pur_ts ≤ err_ts).
   * Rows still open at end-of-stream correctly DON'T emit, exactly as a
   * production run would hold them.
   *
   * Scale: both sides watermarked ⇒ bounded state; the join is
   * key-partitioned on user; NULL rows stream from eviction, not rescans.
   */
  def streamStreamFullOuterPurchases(spark: SparkSession, sfDir: String): DataFrame = {
    val (watch, schema) = sliceReplayDir(spark, sfDir)
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(watch)
      .transform(graft.sources.Tables.normalizeEventTs)
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pur_id"), col("user_id").as("p_user"),
        col("ts").as("pur_ts"), col("value"))
      .withWatermark("pur_ts", "0 seconds")
    val errors = src.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"), col("ts").as("err_ts"))
      .withWatermark("err_ts", "0 seconds")

    val joined = purchases.join(errors,
      col("p_user") === col("user_id") &&
        col("err_ts") >= col("pur_ts") &&
        col("err_ts") <= col("pur_ts") + expr("INTERVAL 1 HOUR"),
      "fullOuter")

    drainToMemory(spark, joined, "append", "graft_ssfoj_")
      .select(col("pur_id"), col("err_id"),
        coalesce(col("p_user"), col("user_id")).as("user_id"), col("value"))
      .orderBy("pur_id", "err_id")
  }

  /**
   * CHECKPOINT-RESTART exactly-once — the fault-tolerance contract the
   * other streaming queries take on faith, exercised end to end: a
   * foreachBatch lake sink processes HALF the replay files, the query
   * STOPS (a deploy/crash boundary), the rest of the files arrive, and a
   * brand-new query object resumes from the SAME `checkpointLocation`.
   * The checkpoint's offset log makes the restart skip every
   * already-committed file, so the landed lake holds each event EXACTLY
   * once and the final rollup equals plain batch SQL over the source
   * table — which is precisely what the oracle checks. Drop the
   * checkpoint dir and the same code double-counts: the green row IS the
   * exactly-once property.
   *
   * Scale: the lake rollup is the x45 shape (decimal-cast sums); state
   * here is the file-source offset log, O(files processed).
   */
  /** One restart base dir per source dir (same lifecycle discipline as
    * [[cdcBaseCache]]): repeated invocations clear and reuse the same
    * watch/lake/ckpt trio instead of leaking a fresh full copy per call. */
  private val ckptBaseCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  def checkpointRestartLakeSink(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.{Dataset, Row}
    val (watchAll, schema) = sliceReplayDir(spark, sfDir)
    val slices = new java.io.File(watchAll).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    // An EMPTY corpus replays as one zero-row slice (sliceReplayDir's empty
    // contract): no restart boundary is observable, so run the two-phase
    // protocol degenerately (splitAt(0)) and return the empty aggregate
    // instead of throwing. Non-empty data still demands a real boundary.
    require(slices.length >= 2
        || spark.read.schema(schema).parquet(watchAll).isEmpty,
      "need >= 2 replay slices for a restart boundary")
    val base = ckptBaseCache.computeIfAbsent(sfDir,
      _ => ScratchDir.create("graft_ckpt_")).toString
    val watch = s"$base/watch"; val lake = s"$base/lake"; val ckpt = s"$base/ckpt"
    // The exactly-once proof needs a FRESH checkpoint+lake per invocation
    // (a stale offset log would skip every file); clear all three sides.
    Seq(watch, lake, ckpt).foreach { d =>
      val f = new java.io.File(d)
      if (f.exists()) {
        f.listFiles match {
          case null => ()
          case fs => fs.foreach(deleteRecursively)
        }
      }
    }
    new java.io.File(watch).mkdirs()
    def arrive(fs: Array[java.io.File]): Unit = fs.foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(watch, f.getName)): Unit
    }
    def runOnce(): Unit = withStatePartitions(spark) {
      val query = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(watch)
        .transform(graft.sources.Tables.normalizeEventTs)
        .select(col("event_id"), col("event_type"), col("value"))
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(lake)
        }
        .start()
      try query.processAllAvailable() finally query.stop()
    }
    val (first, rest) = slices.splitAt(slices.length / 2)
    arrive(first); runOnce()   // half the data, then a clean shutdown
    arrive(rest); runOnce()    // new query object, same checkpoint
    spark.read.parquet(lake)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("event_id")).as("n_distinct"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy("event_type")
  }

  /**
   * STREAMING SINK pattern: `foreachBatch` appending each micro-batch to a
   * parquet lake directory — the escape hatch for destinations without a
   * native streaming sink (JDBC, MERGE upserts, multi-table fan-out), and
   * the shape every "stream into the lakehouse" deployment uses. The batch
   * id is recorded per row: on retry after a failure a deployment uses it
   * to make the write idempotent (delete-then-write or MERGE by batch id).
   * Every replayed file feeds exactly one micro-batch and each batch
   * appends once, so the landed lake content equals the source table — the
   * batch aggregation over the landed files is plain SQL for the oracle.
   */
  private val fbLakeBaseCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  def foreachBatchLakeSink(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.{Dataset, Row}
    val (watch, schema) = sliceReplayDir(spark, sfDir)
    // Memoized per sfDir like the ckpt/cdc/hist sinks: repeated invocations
    // (bench warm-up + 2 timed passes) clear and reuse ONE base dir instead
    // of accumulating a fresh temp dir each run. The append-mode lake must
    // start empty every invocation or the landed content would double.
    val base = fbLakeBaseCache.computeIfAbsent(sfDir,
      _ => ScratchDir.create("graft_fb_lake_"))
    val lake = base.resolve("lake").toString
    val lakeFile = new java.io.File(lake)
    if (lakeFile.exists()) deleteRecursively(lakeFile)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(watch)
      .transform(graft.sources.Tables.normalizeEventTs)
    withStatePartitions(spark) {
      val query = stream.writeStream
        .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(lake)
        }
        .start()
      try query.processAllAvailable() finally query.stop()
    }
    spark.read.parquet(lake)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy("event_type")
  }

  /**
   * STREAMING CDC SNAPSHOT SINK — the incremental-lake capstone tying
   * [[foreachBatchLakeSink]] to [[graft.operators.CdcMerge]]: the ordered
   * event replay is interpreted as a change stream (an `error` event
   * deletes the user's row, anything else upserts `value`), and each
   * micro-batch is MERGED into a persistent snapshot table inside
   * `foreachBatch` — the Delta/Iceberg `MERGE INTO` loop every
   * stream-into-lakehouse deployment runs, expressed on plain parquet
   * with ping-pong paths (write target alternates so a batch never reads
   * the file it is overwriting; the batch id picks the side, which also
   * makes a retried batch idempotent — it rewrites the same target from
   * the same source side).
   *
   * Because replay slices are time-ordered and [[CdcMerge.applyChanges]]
   * is latest-(ts, seq)-wins within a batch, the final snapshot equals
   * the batch rule "each user's latest event decides" — plain SQL for
   * the oracle.
   */
  /** One snapshot base dir per source dir (like [[sliceCache]]): repeated
    * invocations (bench passes, verify) OVERWRITE the same two ping-pong
    * sides instead of leaking a fresh pair of full-snapshot copies into
    * /tmp per call. Only the paths are memoized — every invocation still
    * runs the full streaming merge. */
  private val cdcBaseCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  def cdcSnapshotSink(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.{Dataset, Row}
    val (watch, schema) = sliceReplayDir(spark, sfDir)
    val base = cdcBaseCache.computeIfAbsent(sfDir,
      _ => ScratchDir.create("graft_cdc_"))
    val sides = Array(base.resolve("a").toString, base.resolve("b").toString)
    @volatile var current = -1 // no snapshot yet
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(watch)
      .transform(graft.sources.Tables.normalizeEventTs)
    withStatePartitions(spark) {
      val query = stream.writeStream
        .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
          val changes = batch.select(
            col("user_id").as("k"), col("ts"), col("event_id").as("seq"),
            when(col("event_type") === "error",
              graft.operators.CdcMerge.DeleteOp).otherwise("U").as("op"),
            col("value"))
          // read side from batchId (not the mutable progress var): a
          // re-run of batch B reads the side B never wrote — idempotent
          // retry, and never overwrite-while-reading
          val snap =
            if (batchId == 0) changes.select(col("k"), col("value")).limit(0)
            else spark.read.parquet(sides(((batchId + 1) % 2).toInt))
          val side = (batchId % 2).toInt
          graft.operators.CdcMerge
            .applyChanges(snap, changes, "k", "ts", "seq", "op", Seq("value"))
            .write.mode("overwrite").parquet(sides(side))
          current = side
        }
        .start()
      try query.processAllAvailable() finally query.stop()
    }
    require(current >= 0, "no micro-batch arrived")
    spark.read.parquet(sides(current))
      .select(col("k").as("user_id"), col("value"))
      .orderBy("user_id")
  }

  /** One bin-table base dir per source dir (same lifecycle discipline as
    * [[cdcBaseCache]]): repeated invocations overwrite the two ping-pong
    * sides instead of leaking fresh state dirs per call. */
  private val histBaseCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /**
   * STREAMING INCREMENTAL QUANTILE SKETCH — the streaming leg of the
   * histogram family ([[graft.operators.Analytics.histogramQuantiles]] is
   * the batch single-pass, `histogramQuantilesSharded` the partial-merge):
   * the bin DOMAIN is registered up front from the reference table (one
   * O(1) min/max aggregate — the fixed-domain precondition that makes
   * partial sketches mergeable at all), then each micro-batch's bin counts
   * are MERGED into a persisted ≤nBins-row bin table inside `foreachBatch`
   * (ping-pong paths with the batch-id side pick, the same idempotent
   * retry discipline as [[cdcSnapshotSink]]), and the final CERTIFIED
   * quantiles run the shared arithmetic over the accumulated bins.
   * Maintained state is ≤nBins rows no matter how long the stream runs —
   * the property that lets a live deployment serve percentile dashboards
   * without ever rescanning history.
   */
  def streamingHistogramQuantiles(spark: SparkSession, sfDir: String,
      nBins: Int = 256, probsPct: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    import org.apache.spark.sql.{Dataset, Row}
    val (watch, schema) = sliceReplayDir(spark, sfDir)
    val cents = expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
    val dom = graft.sources.Tables(spark, sfDir, "events")
      .agg(min(cents).as("vmin"), max(cents).as("vmax")).head()
    val (vmin, vmax) = (dom.getLong(0), dom.getLong(1))
    val base = histBaseCache.computeIfAbsent(sfDir,
      _ => ScratchDir.create("graft_hist_"))
    val sides = Array(base.resolve("a").toString, base.resolve("b").toString)
    @volatile var current = -1 // no bins yet
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(watch)
    withStatePartitions(spark) {
      val query = stream.writeStream
        .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
          val batchBins = batch.select(cents.as("v"))
            .select(expr(s"CAST(CAST(v - $vmin AS DECIMAL(38,0)) * $nBins" +
              s" DIV (${vmax}L - ${vmin}L + 1) AS BIGINT)").as("b"))
            .groupBy("b").agg(count(lit(1)).as("cnt"))
          // read side derived from batchId, NOT from mutable progress: a
          // re-run of batch B (failed epoch commit) reads the side B never
          // wrote and rewrites its own side from the same input — true
          // idempotent retry, and never overwrite-while-reading
          val prev =
            if (batchId == 0) batchBins.limit(0)
            else spark.read.parquet(sides(((batchId + 1) % 2).toInt))
          val side = (batchId % 2).toInt
          prev.unionByName(batchBins)
            .groupBy("b").agg(sum(col("cnt")).as("cnt"))
            .write.mode("overwrite").parquet(sides(side))
          current = side
        }
        .start()
      try query.processAllAvailable() finally query.stop()
    }
    require(current >= 0, "no micro-batch arrived")
    val bins = spark.read.parquet(sides(current))
    val stats = bins.agg(sum(col("cnt")).as("n"))
      .select(lit(vmin).as("vmin"), lit(vmax).as("vmax"), col("n"))
    graft.operators.Analytics.quantilesFromBins(stats, bins, nBins, probsPct)
      .orderBy("p_pct")
  }

  /** Open-session state for [[closedSessions]]. */
  case class OpenSession(startMs: Long, lastMs: Long, nEvents: Int)

  /**
   * PRODUCTION-shape stateful streaming: per-user sessionization emitting
   * each CLOSED session exactly once — `flatMapGroupsWithState` in Append
   * mode with `EventTimeTimeout`, over the same ordered multi-batch replay
   * as [[windowedCountsAppend]]. A session closes either when a later event
   * of the same user arrives past the gap (emitted in that batch) or when
   * the event-time watermark passes `lastTs + gap` (emitted by the timeout
   * path, including the post-stream flush batch). State for idle users is
   * dropped at timeout — bounded by the active-user set, the property that
   * makes this run forever on a live source.
   *
   * Deterministic output: every session with `end + gap < max event time`
   * over the whole stream (the final open session per user stays in state)
   * — plain SQL for the oracle.
   */
  def closedSessions(spark: SparkSession, sfDir: String, gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val (watch, schema) = sliceReplayDir(spark, sfDir)
    val gapMs = gapMinutes * 60L * 1000L

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(watch)
      .transform(graft.sources.Tables.normalizeEventTs)
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]

    val closed = stream
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, (Long, String, String, Int)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, events, state) =>
          def fmt(ms: Long) = java.time.Instant.ofEpochMilli(ms)
            .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
            .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Int)]
          var cur = state.getOption
          if (state.hasTimedOut) {
            // watermark passed lastTs + gap: the open session is closed
            cur.foreach(s => out += ((uid, fmt(s.startMs), fmt(s.lastMs), s.nEvents)))
            state.remove()
          } else {
            events.map(_._2.getTime).toArray.sorted.foreach { t =>
              cur match {
                case Some(s) if t - s.lastMs > gapMs =>
                  out += ((uid, fmt(s.startMs), fmt(s.lastMs), s.nEvents))
                  cur = Some(OpenSession(t, t, 1))
                case Some(s) =>
                  cur = Some(OpenSession(s.startMs, t, s.nEvents + 1))
                case None =>
                  cur = Some(OpenSession(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            }
          }
          out.iterator
      }

    drainToMemory(spark, closed.toDF("user_id", "session_start", "session_end", "n_events"),
      "append", "graft_sessions_append_").orderBy("user_id", "session_start")
  }

  /** Per-user session state carried across micro-batches. */
  case class SessionState(lastTsMs: Long, nSessions: Int, nEvents: Int)

  /**
   * Custom stateful streaming: per-user sessionization with
   * `mapGroupsWithState` — a new session starts when the gap since the
   * user's previous event exceeds `gapMinutes`. State (last event time +
   * running counts) is hash-partitioned by user across executors and carried
   * between micro-batches; in this batch-replay harness all events arrive in
   * one batch, so the final update equals the batch window/lag oracle. A
   * production deployment adds `GroupStateTimeout.EventTimeTimeout` +
   * watermark to expire idle users' state.
   */
  def userSessions(spark: SparkSession, sfDir: String, gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    graft.sources.Tables.ensureNanosAsLong(spark)
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema

    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(sfDir)
      .transform(graft.sources.Tables.normalizeEventTs)
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]

    val gapMs = gapMinutes * 60L * 1000L
    val sessions = stream
      .groupByKey(_._1)
      .mapGroupsWithState[SessionState, (Long, Int, Int)](GroupStateTimeout.NoTimeout) {
        case (uid, events, state) =>
          val prev = state.getOption.getOrElse(SessionState(Long.MinValue, 0, 0))
          var lastTs = prev.lastTsMs
          var nSessions = prev.nSessions
          var nEvents = prev.nEvents
          events.map(_._2.getTime).toArray.sorted.foreach { t =>
            nEvents += 1
            if (lastTs == Long.MinValue || t - lastTs > gapMs) nSessions += 1
            lastTs = t
          }
          state.update(SessionState(lastTs, nSessions, nEvents))
          (uid, nSessions, nEvents)
      }

    drainToMemory(spark, sessions.toDF("user_id", "n_sessions", "n_events"),
      "update", "graft_sessions_").orderBy("user_id")
  }
}
