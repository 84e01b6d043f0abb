package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class EngineSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("collapse: duplicates → group-by-all + count desc; invariants hold") {
    val df = Seq(("a", 1), ("a", 1), ("a", 1), ("b", 2), ("b", 2), ("c", 3))
      .toDF("s", "n")
    val collapsed = Engine.collapseDuplicates(df)
    val rows = collapsed.collect()
    assert(rows.map(_.getLong(2)).sum == 6) // sum(count) == original rows
    assert(collapsed.count() == collapsed.dropDuplicates().count()) // no dups left
    assert(rows.head.getLong(2) == 3) // sorted by count desc
    assert(collapsed.columns.toSeq == Seq("s", "n", "count"))
  }

  test("collapse: no duplicates → passthrough unchanged") {
    val df = Seq(("a", 1), ("b", 2)).toDF("s", "n")
    val out = Engine.collapseDuplicates(df)
    assert(out.columns.toSeq == Seq("s", "n")) // no count column added
    assert(out.count() == 2)
  }

  test("collapse: pandas parity — rows with null keys are dropped when grouping") {
    val df = Seq(Some("a"), Some("a"), None, None).toDF("s")
    val out = Engine.collapseDuplicates(df).collect()
    assert(out.length == 1) // only the 'a' group survives (pandas dropna=True)
    assert(out.head.getString(0) == "a" && out.head.getLong(1) == 2)
  }

  test("collapse: null-only duplicates still TRIGGER the collapse (pandas duplicated() is null-safe)") {
    // unique non-null rows + duplicated null rows: reference sees
    // duplicated().any()==True on the full frame, then drops nulls in the
    // groupby — output is the non-null groups with count 1
    val df = Seq(Some("a"), Some("b"), None, None).toDF("s")
    val out = Engine.collapseDuplicates(df)
    assert(out.columns.toSeq == Seq("s", "count")) // collapse branch taken
    val rows = out.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows == Set(("a", 1L), ("b", 1L)))
  }

  test("toSparkSql: double quotes inside single-quoted literals are preserved") {
    assert(Engine.toSparkSql("""SELECT "a b" FROM df WHERE note = 'say "hi"'""") ==
      """SELECT `a b` FROM df WHERE note = 'say "hi"'""")
    // doubled-quote escape inside a literal
    assert(Engine.toSparkSql("""SELECT "c" FROM df WHERE x = 'it''s "q"'""") ==
      """SELECT `c` FROM df WHERE x = 'it''s "q"'""")
  }

  test("toSparkSql: doubled-quote escapes inside identifiers") {
    // DuckDB "a""b" is identifier a"b → Spark `a"b` (not a broken `a``b`)
    assert(Engine.toSparkSql("""SELECT "a""b" FROM df""") ==
      "SELECT `a\"b` FROM df")
    // backticks inside a quoted identifier must be doubled for Spark
    assert(Engine.toSparkSql("SELECT \"a`b\" FROM df") ==
      "SELECT `a``b` FROM df")
    // unterminated span copied verbatim (no silent mangling)
    assert(Engine.toSparkSql("""SELECT "oops""") == """SELECT "oops""")
  }

  test("load: composed ingest with extension gate (upload.py parity)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-load").toFile
    val f = new java.io.File(dir, "incidents.csv")
    val w = new java.io.PrintWriter(f)
    w.println("service,city,occurred_date")
    w.println("Checkout,Mumbai,2024-02-10")
    w.println("Search,Delhi,2024-02-12")
    w.close()
    val (df, cols) = Engine.load(spark, f.getAbsolutePath)
    assert(df.count() == 2)
    assert(cols.map(_.name) == Seq("service", "city", "occurred_date"))
    assert(cols.find(_.name == "city").get.semanticType == "city")
    // non-.csv extension → the reference's 400 "Only CSV files allowed"
    val e = intercept[Engine.UploadException](Engine.load(spark, "/tmp/nope.parquet"))
    assert(e.getMessage == "Only CSV files allowed")
    // unreadable .csv → the reference's catch-all 400 "Error reading CSV: …"
    val missing = intercept[Engine.UploadException](
      Engine.load(spark, new java.io.File(dir, "missing.csv").getAbsolutePath))
    assert(missing.getCause != null)
  }

  test("collapse: existing count column + duplicates errors like pandas reset_index") {
    val df = Seq(("a", 1L), ("a", 1L)).toDF("s", "count")
    intercept[IllegalArgumentException](Engine.collapseDuplicates(df).collect())
  }

  test("answer: full pipeline over an in-memory incidents table") {
    val df = Seq(
      ("Checkout", "Mumbai", "2024-02-10"),
      ("Checkout", "Mumbai", "2024-02-11"),
      ("Search", "Delhi", "2024-02-12"),
      ("Search", "Mumbai", "2023-11-01"))
      .toDF("service", "city", "d")
      .withColumn("occurred_date", col("d").cast("timestamp")).drop("d")
    val cols = Profiler.profile(df)
    val res = Engine.answer(spark, df, "Which service failed in mumbai last month?",
      cols, java.time.LocalDateTime.of(2024, 3, 5, 9, 0))
    assert(res.sql ==
      """SELECT "service", COUNT(*) as count FROM df WHERE "city" = 'Mumbai' AND "occurred_date" >= '2024-02-01T00:00:00' AND "occurred_date" <= '2024-02-29T23:59:59' GROUP BY "service" LIMIT 200""")
    val rows = res.result.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rows == Map("Checkout" -> 2L)) // Delhi row and old Mumbai row excluded
  }

  test("executeSql rejects unsafe SQL end to end") {
    val df = Seq((1, "x")).toDF("a", "b")
    intercept[SqlValidator.UnsafeSqlException](
      Engine.executeSql(spark, df, "DROP TABLE df"))
  }
}
