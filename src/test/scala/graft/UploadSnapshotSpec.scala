package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.sources.CsvSource
import java.io.{File, PrintWriter}
import java.time.LocalDateTime
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** `Engine.load` returns a lazy local checkpoint of the CSV scan: the upload
  * is parsed once, by the first action, and every later answer reads the
  * snapshot. The fixture is 24 rows with nulls, quoted commas, verbatim
  * duplicate rows, ISO timestamps and a numeric-looking string column. */
class UploadSnapshotSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val now = LocalDateTime.of(2026, 10, 15, 12, 0)

  private val fixture = Seq(
    "city,service,report_date,severity,cost,status,ticket",
    "Mumbai,Water,2026-09-02T08:15:00,3,120.50,open,0042",
    "Mumbai,Water,2026-09-02T08:15:00,3,120.50,open,0042",
    "Delhi,\"Roads, Bridges\",2026-09-05T10:00:00,5,980.00,closed,17",
    "Mumbai,Power,2026-09-10T23:59:59,2,,pending,007",
    "Pune,Health,2026-08-30T12:00:00,1,45.25,,1e3",
    "Mumbai,\"Roads, Bridges\",2026-09-18T06:30:00,4,3100.00,open,N/A",
    "Mumbai,\"Roads, Bridges\",2026-09-18T06:30:00,4,3100.00,open,N/A",
    "Mumbai,\"Roads, Bridges\",2026-09-18T06:30:00,4,3100.00,open,N/A",
    "Chennai,Transit,2026-07-01T00:00:00,2,2500.00,closed,12",
    "Delhi,Water,2026-09-21T14:45:00,3,1999.99,open,0042",
    ",Waste,2026-09-22T09:00:00,1,60.00,closed,",
    "Kolkata,Waste,,5,4400.00,pending,88",
    "Mumbai,Health,2026-10-01T07:00:00,3,310.00,closed,3.5",
    "Delhi,Power,2026-09-29T18:20:00,4,2750.75,open,0042",
    "Delhi,Power,2026-09-29T18:20:00,4,2750.75,open,0042",
    "Bangalore,Transit,2026-09-14T11:11:11,2,150.00,open,-1",
    "Mumbai,Water,2026-09-03T16:40:00,5,5000.00,pending,900",
    "Hyderabad,Water,2026-06-12T13:00:00,1,75.00,closed,0",
    "Pune,\"Roads, Bridges\",2026-09-07T20:00:00,,820.00,open,12",
    "Mumbai,Power,2026-09-25T05:05:05,3,1500.00,closed,007",
    "Ahmedabad,Health,2026-09-26T15:30:00,2,2100.00,open,44",
    "Mumbai,Waste,2026-05-05T05:00:00,4,900.00,open,45",
    "Delhi,Transit,2026-09-11T09:09:09,3,2222.22,pending,46",
    "Chennai,Water,2026-09-12T10:10:10,1,10.00,open,47")

  private def writeFixture(): File = {
    val dir = java.nio.file.Files.createTempDirectory("graft-snapshot").toFile
    dir.deleteOnExit()
    val f = new File(dir, "incidents.csv")
    val w = new PrintWriter(f)
    try fixture.foreach(w.println) finally w.close()
    f.deleteOnExit()
    f
  }

  /** The benchmark's 16 question shapes at fixed parameters: eight rule
    * questions through `answer`, eight SELECTs through `executeSql`. */
  private val shapes: Seq[(String, String)] = Seq(
    "ask" -> "Which city has the most incidents?",
    "ask" -> "Which service is reported most often?",
    "ask" -> "Which status is most common in Mumbai?",
    "ask" -> "Show incidents in Mumbai",
    "ask" -> "What was reported last month?",
    "ask" -> "Which service had incidents in Mumbai last month?",
    "ask" -> "List all incidents",
    "ask" -> "Which severity levels occurred last month?",
    "sql" -> """SELECT "service", "cost", "severity" FROM df WHERE "severity" >= 3""",
    "sql" -> """SELECT "city", "status" FROM df WHERE "severity" = 4""",
    "sql" -> """SELECT "service" FROM df WHERE "cost" > 2000""",
    "sql" -> ("""SELECT "service", COUNT(*) AS n, AVG("cost") AS avg_cost, """ +
      """MAX("severity") AS max_sev FROM df GROUP BY "service""""),
    "sql" -> ("""SELECT "city", "status", COUNT(*) AS n, SUM("cost") AS total_cost """ +
      """FROM df WHERE "severity" >= 3 GROUP BY "city", "status""""),
    "sql" -> ("""SELECT "city", SUM("cost") AS total FROM df GROUP BY "city" """ +
      """ORDER BY total DESC, "city" LIMIT 5"""),
    "sql" -> ("""SELECT "report_date", "city", "service", "cost" FROM df WHERE "status" = 'open' """ +
      """ORDER BY "cost" DESC, "report_date", "city", "service""""),
    "sql" -> """SELECT "city", "service", "severity" FROM df WHERE "cost" < 2000 LIMIT 5""")

  private def ask(df: DataFrame, cols: Seq[Profiler.ColumnInfo], shape: (String, String),
                  session: SparkSession = spark): Engine.QueryResult =
    if (shape._1 == "ask") Engine.answer(session, df, shape._2, cols, now)
    else Engine.executeSql(session, df, shape._2)

  /** The answer as its SQL, columns and sorted row multiset. */
  private def canon(r: Engine.QueryResult): (String, Seq[String], Seq[String]) =
    (r.sql, r.result.columns.toSeq, rows(r.result))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map((r: Row) => r.toSeq.map(String.valueOf).mkString("\u0001")).sorted

  test("snapshot parity: same schema and row multiset as the CSV scan") {
    val f = writeFixture()
    val scan = CsvSource.read(spark, f.getAbsolutePath)
    val (df, _) = Engine.load(spark, f.getAbsolutePath)
    assert(df.schema == scan.schema)
    assert(rows(df) == rows(scan))
    assert(df.count() == fixture.size - 1)
    // the fixture's traps survive the parse
    assert(scan.schema("ticket").dataType == org.apache.spark.sql.types.StringType)
    assert(rows(df.select("service")).contains("Roads, Bridges"))
  }

  test("snapshot parity: every question shape answers as over the CSV scan") {
    val f = writeFixture()
    val scan = CsvSource.read(spark, f.getAbsolutePath)
    val (df, cols) = Engine.load(spark, f.getAbsolutePath)
    shapes.foreach { s =>
      val expected = canon(ask(scan, cols, s))
      assert(canon(ask(df, cols, s)) == expected, s"shape ${s._2}")
    }
  }

  test("parse once: after the first answer the CSV file is not read again") {
    val f = writeFixture()
    val scan = CsvSource.read(spark, f.getAbsolutePath)
    val cols = Profiler.profile(scan)
    val expected = shapes.map(s => canon(ask(scan, cols, s)))
    val (df, _) = Engine.load(spark, f.getAbsolutePath)
    assert(canon(ask(df, cols, shapes.head)) == expected.head)
    assert(f.delete())
    shapes.zip(expected).foreach { case (s, e) =>
      assert(canon(ask(df, cols, s)) == e, s"shape ${s._2}")
    }
  }

  test("concurrent first use: 4 threads racing on a fresh upload get the serial answers") {
    val f = writeFixture()
    val scan = CsvSource.read(spark, f.getAbsolutePath)
    val cols = Profiler.profile(scan)
    val picked = shapes.filter(_._1 == "sql").take(4)
    val expected = picked.map(s => canon(ask(scan, cols, s)))
    val (df, _) = Engine.load(spark, f.getAbsolutePath)
    val pool = Executors.newFixedThreadPool(picked.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val start = new CyclicBarrier(picked.size)
    try {
      val got = picked.map(s => Future { start.await(); canon(ask(df, cols, s)) })
      got.zip(expected).zip(picked).foreach { case ((g, e), s) =>
        assert(Await.result(g, 2.minutes) == e, s"shape ${s._2}")
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  test("bounded lifetime: an unreachable upload's snapshot blocks are freed") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val f = writeFixture()
    // load, answer and drop in a helper so no local keeps the frame alive
    def useAndDrop(): Set[Int] = {
      val session = spark.newSession()
      val (df, cols) = Engine.load(session, f.getAbsolutePath)
      ask(df, cols, shapes.head, session).result.collect()
      sc.getPersistentRDDs.keySet.diff(before).toSet
    }
    val added = useAndDrop()
    assert(added.nonEmpty, "the first answer should have persisted the snapshot")
    val deadline = System.nanoTime() + 30.seconds.toNanos
    while (sc.getPersistentRDDs.keySet.exists(added) && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(!sc.getPersistentRDDs.keySet.exists(added),
      s"snapshot RDDs ${added.mkString(",")} still persisted after 30 s of GC")
  }
}
