package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.io.{Codec, Source}

/** `Bench`'s two outputs: the driver-facing artifact lines, pinned byte for
  * byte, and the per-run record, measured on the shared test session. */
class BenchSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  test("artifactLines: stdout, bench_out.json and budget lines match the pinned golden") {
    // 320 names, so the stdout line must drop its fastest entries to fit;
    // every 97th query failed (-1), and the slowest few exceed the 8 s budget
    val results: Map[String, Double] = (0 until 320).map { i =>
      val v = if (i % 97 == 5) -1.0 else ((i * 7919L) % 10007) / 1240.0
      f"q$i%03d_family_${i % 7}" -> v
    }.toMap
    val snapshots = Seq(true, false).map(p =>
      Bench.artifactLines(results, provisional = p, "testdata/sf0.1", 8.0, 2.0))
    val got = snapshots.flatMap { case (short, full, _) => Seq(short, full) } ++
      snapshots.flatMap(_._3)
    val src = Source.fromResource("graft/bench_golden.txt", getClass.getClassLoader)(Codec.UTF8)
    val golden = try src.mkString finally src.close()
    assert(snapshots.forall(_._1.length <= 1900))
    assert(got.map(_ + "\n").mkString == golden)
  }

  test("Meter.run: one record per run, build/action split, failures named") {
    val meter = new Bench.Meter(spark)
    val records = try {
      Seq(
        // SparkEntry.entry is a04_rule_groupby_count at sf0.001
        meter.run("pass1", "a04_rule_groupby_count", (s, _) => SparkEntry.entry(s), ""),
        meter.run("pass1", "throws", (_, _) => throw new IllegalStateException("no frame"), ""))
    } finally meter.close()
    val Seq(a04, bad) = records
    assert(a04.ok && a04.error.isEmpty)
    assert(a04.json.contains(""""outcome":"ok"""") && !a04.json.contains("error_class"))
    assert(a04.buildJobs + a04.actionJobs >= 1)
    assert(a04.stages >= 1)
    assert(!bad.ok)
    assert(bad.json.contains(""""outcome":"failed","error_class":"java.lang.IllegalStateException""""))
    assert(bad.actionMs == 0.0)
    records.foreach { r =>
      assert(math.abs(r.buildMs + r.actionMs - r.wallMs) < 1.0, r.json)
      assert(r.json.startsWith(s"""{"pass":"pass1","query":"${r.query}","""))
    }
  }
}
