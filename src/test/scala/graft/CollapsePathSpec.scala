package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.types._
import graft.sources.CsvSource
import scala.jdk.CollectionConverters._
import scala.util.Try

/** The duplicate collapse has two paths: a LIMIT-bounded result is collected
  * once and collapsed on the driver, anything else keeps the distributed
  * group-by probe. The distributed path is the reference for the driver one;
  * every frame here is built in memory (no sf data). */
class CollapsePathSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  /** Column name → (SQL type of the generated value, value domain). `hex`
    * becomes the binary column `bin` through SQL `unhex`, so equal byte
    * strings arrive as distinct arrays. */
  private val domains: Seq[(String, DataType, Seq[Any])] = Seq(
    ("s", StringType, Seq(null, "a", "b", "", "A")),
    ("i", IntegerType, Seq(null, 0, 1, -1, Int.MaxValue)),
    ("d", DoubleType, Seq(null, Double.NaN, -0.0, 0.0, 1.5)),
    ("ts", TimestampType, Seq(null, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00.000001"))),
    ("dec", DecimalType(10, 2), Seq(null, new java.math.BigDecimal("1.10"),
      new java.math.BigDecimal("-0.00"), new java.math.BigDecimal("2.50"))),
    ("hex", StringType, Seq(null, "", "00", "0A0B", "ff")),
    ("count", LongType, Seq(null, 1L, 2L)))

  /** A frame of 0..30 rows drawn from a small pool (so duplicates are
    * common) over a non-empty subset of the columns; `count` is included in
    * a quarter of the cases to exercise the pandas column clash. */
  private val frames: Gen[(Seq[(String, DataType, Seq[Any])], Seq[Seq[Any]])] = for {
    picked <- Gen.atLeastOne(domains.init)
    clash <- Gen.oneOf(false, false, false, true)
    cols = picked.toSeq ++ (if (clash) Seq(domains.last) else Nil)
    pool <- Gen.choose(1, 6)
      .flatMap(m => Gen.listOfN(m, Gen.sequence[List[Any], Any](cols.map(c => Gen.oneOf(c._3)))))
    n <- Gen.choose(0, 30)
    rows <- Gen.listOfN(n, Gen.oneOf(pool))
  } yield (cols, rows)

  private def build(cols: Seq[(String, DataType, Seq[Any])], rows: Seq[Seq[Any]]): DataFrame = {
    val schema = StructType(cols.map(c => StructField(c._1, c._2)))
    spark.createDataFrame(rows.map(Row.fromSeq).asJava, schema)
      .selectExpr(cols.map(c => if (c._1 == "hex") "unhex(hex) AS bin" else s"`${c._1}`"): _*)
  }

  /** Cells compared exactly: -0.0 differs from 0.0, binary by content. */
  private def cell(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => "0x" + b.map("%02x".format(_)).mkString
    case d: Double => java.lang.Double.toString(d)
    case other => other.toString
  }

  private case class Outcome(columns: Seq[String], rows: Seq[String], counts: Seq[Long])

  /** `counts` is the appended `count` column in output order (empty on the
    * pass-through branch). */
  private def outcome(in: DataFrame, out: DataFrame): Outcome = {
    val rows = out.collect()
    val added = out.columns.length > in.columns.length
    Outcome(out.columns.toSeq, rows.map(_.toSeq.map(cell).mkString("|")).sorted.toSeq,
      if (added) rows.map(_.getLong(in.columns.length)).toSeq else Nil)
  }

  test("driver collapse matches the distributed collapse on generated frames") {
    var collapsed, clashes = 0
    (0 until 40).foreach { i =>
      val (cols, rows) = frames.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val df = build(cols, rows)
      assert(Engine.boundedByLimit(df), s"case $i should take the driver path")
      val driver = Try(outcome(df, Engine.collapseOnDriver(df)))
      val distributed = Try(outcome(df, Engine.collapseDistributed(df)))
      val ctx = s"case $i: ${cols.map(_._1)} rows=$rows"
      assert(driver.failed.toOption.map(_.getClass) ==
        distributed.failed.toOption.map(_.getClass), ctx)
      if (distributed.isFailure) clashes += 1
      for (a <- driver; b <- distributed) {
        assert(a.columns == b.columns, ctx)
        assert(a.rows == b.rows, ctx)
        assert(a.counts == b.counts.sorted.reverse, ctx)
        assert(b.counts == b.counts.sorted.reverse, ctx)
        if (b.counts.nonEmpty) collapsed += 1
      }
    }
    // the seeds reach both branches and the clash
    assert(collapsed > 10 && clashes > 0, s"collapsed=$collapsed clashes=$clashes")
  }

  private def dupes: DataFrame =
    CsvSource.read(spark, getClass.getResource("/dupes.csv").getPath)

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec]

  private def triples(df: DataFrame): Set[(String, String, Long)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet

  private val collapsedDupes = Set(("open", "a", 3L), ("closed", "b", 2L), ("open", "c", 1L))

  test("path: a LIMIT-bounded answer comes back as a local relation") {
    val injected = Engine.executeSql(spark, dupes, "SELECT status, kind FROM df")
    assert(injected.sql.endsWith(s"LIMIT ${SqlValidator.MaxRowsLimit}"))
    assert(isLocal(injected.result))
    assert(triples(injected.result) == collapsedDupes)
    val asked = Engine.answer(spark, dupes, "show everything",
      Profiler.profile(dupes), java.time.LocalDateTime.of(2024, 1, 1, 0, 0))
    assert(isLocal(asked.result))
    assert(asked.result.collect().head.toSeq == Seq("open", "a", 3L))
  }

  test("path: an alias-only 'limit' and a LIMIT above the cap stay distributed") {
    val aliased = Engine.executeSql(spark, dupes, "SELECT status AS status_limit, kind FROM df")
    assert(!aliased.sql.toUpperCase.endsWith(s"LIMIT ${SqlValidator.MaxRowsLimit}"))
    assert(!Engine.boundedByLimit(Engine.resolve(spark, dupes, aliased.sql)))
    assert(!isLocal(aliased.result))
    assert(aliased.result.columns.toSeq == Seq("status_limit", "kind", "count"))
    assert(triples(aliased.result) == collapsedDupes)

    val above = Engine.executeSql(spark, dupes,
      s"SELECT status, kind FROM df LIMIT ${SqlValidator.MaxRowsLimit + 1}")
    assert(!Engine.boundedByLimit(Engine.resolve(spark, dupes, above.sql)))
    assert(!isLocal(above.result))
    assert(triples(above.result) == collapsedDupes)
    // no duplicates: the distributed path passes the plan through unchanged
    val unique = Engine.executeSql(spark, dupes,
      s"SELECT DISTINCT status, kind FROM df LIMIT ${SqlValidator.MaxRowsLimit + 1}")
    assert(!isLocal(unique.result) && unique.result.columns.toSeq == Seq("status", "kind"))
    assert(unique.result.count() == 3)
  }
}
