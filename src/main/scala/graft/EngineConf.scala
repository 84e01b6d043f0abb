package graft
import org.apache.spark.sql.SparkSession

/** Engine-level session tuning shared by every main
  * (Bench/Verify/PlanDump, through [[localSession]])
  * so measurements and artifacts all run the same engine. Every value here
  * is SCALE-HONEST: none encodes the local core count or data size, and
  * each is what a production deployment of a ~700-query fleet would set
  * (justifications in OPTIMIZATION_r12.md).
  */
object EngineConf {
  /** Round-12 measured: one bench pass compiles 12,084 generated codegen
    * units (summed per query) against the default 100-entry compiled-class
    * cache (`spark.sql.codegen.cache.maxEntries`), so the cache evicts
    * every entry long before any query repeats and the warm-up pass's
    * stated purpose ("JIT-compiles the generated code paths", Bench
    * scaladoc) is defeated — every timed pass re-runs Janino on the whole
    * fleet. 20,000 entries keeps the fleet's generated classes resident
    * (~12k distinct sources measured; compiled classes are KB-scale, the
    * cache is weak-value-free but bounded). A long-running SQL service
    * with a large distinct-plan fleet sizes this the same way at any data
    * scale — the knob is per-DRIVER and data-size-independent. */
  val CodegenCacheMaxEntries = "20000"

  // Round-13 negative result, measured before rejecting: Spark's tuning
  // guide recommends `coalescePartitions.parallelismFirst=false` for
  // production (respect the advisory size). On THIS fleet it is a 62%
  // slowdown (same-window A/B over a 100-query slice: 146.8 s → 238.1 s
  // wall, task time 602 → 770 s): the operators' heavy work is CPU-bound
  // over KILOBYTE-scale shuffles (candidate verification, codec seams,
  // pair joins), so advisory-size coalescing collapses exactly the stages
  // that need the cores. The default (parallelism-first) stays; at real
  // 100 TB shuffle sizes the two settings converge anyway because
  // partitions exceed the advisory size.
  //
  // Round-13 negative results #2, same method (same-window A/B/C, the same
  // 100-query slice, warm-up + cleared timed pass per variant): the two
  // shuffled-hash-join knobs from the optimization guide §3.1.
  //   baseline                                          84.2 s
  //   spark.sql.join.preferSortMergeJoin=false          87.9 s (+4%)
  //   spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold=64m
  //                                                     92.8 s (+10%)
  // Same root cause as above: per-partition shuffle payloads here are
  // KILOBYTES, so building local hash maps (static SHJ) or re-planning
  // SMJ→SHJ at runtime (AQE conversion) costs more than the tiny sorts
  // they remove. On a real deployment with ≥100 MB post-shuffle
  // partitions both knobs are worth re-measuring — the build-side maps
  // then amortize — but nothing here may encode that bet locally.

  /** A failed query names itself and its cause on stderr, as
    * `[<tag>] <query> <ExceptionClass>: <message>` (stdout stays the main's
    * artifact); the caller still scores it as a failure. */
  def reportFailure(tag: String, name: String, e: Throwable): Unit =
    System.err.println(s"[$tag] $name ${e.getClass.getName}: ${e.getMessage}")

  def tuned(builder: SparkSession.Builder): SparkSession.Builder =
    builder.config("spark.sql.codegen.cache.maxEntries", CodegenCacheMaxEntries)

  /** The session every main runs on: `local[SPARK_GRAFT_CPUS]` (default 4)
    * with one shuffle partition per core, a UTC session clock, no UI, and
    * [[tuned]]. */
  def localSession(logLevel: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
