package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{BloomJoin, CdcMerge, Sampling, Scd2, TextAnalysis}

/** Round-3 pipeline operators: packing, stratified sampling, SCD2, bloom join. */
class PipelineOpsSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("packTokenShards cuts at the budget, independently per group") {
    // 4 docs of 3 tokens each per source; budget 5 → cuts at cum 0,3,6,9
    val docs = (0L to 7L).map(i => (i, "a b c", if (i < 4) "s1" else "s2"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.packTokenShards(docs, "doc_id", "text", "source", budgetTokens = 5)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    // per source: cum-before 0,3,6,9 → shards 0,0,1,1
    assert(out == Map(0L -> 0, 1L -> 0, 2L -> 1, 3L -> 1,
      4L -> 0, 5L -> 0, 6L -> 1, 7L -> 1))
  }

  test("packContextWindows: every window holds exactly contextLen tokens except the last per group") {
    // group g1: docs of 3,4,6 tokens => stream of 13 tokens, C=5 -> windows 5,5,3
    val docs = Seq(
      (1L, "a b c", "g1"), (2L, "a b c d", "g1"), (3L, "a b c d e f", "g1"),
      (4L, "a b", "g2"))
      .toDF("doc_id", "text", "src")
    val out = TextAnalysis.packContextWindows(docs, "doc_id", "text", "src", contextLen = 5)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // window 0: doc1(3) + doc2(first 2); window 1: doc2(2) + doc3(3); window 2: doc3(3)
    assert(out == Map(
      ("g1", 0L) -> (2L, 5L), ("g1", 1L) -> (2L, 5L), ("g1", 2L) -> (1L, 3L),
      ("g2", 0L) -> (1L, 2L)))
  }

  test("packContextWindows conserves tokens: window fills sum to the group total") {
    val docs = (0L until 40L).map(i => (i, ("w " * (i % 7 + 1).toInt).trim, s"s${i % 3}"))
      .toDF("doc_id", "text", "src")
    val packed = TextAnalysis.packContextWindows(docs, "doc_id", "text", "src", contextLen = 8)
    val bySrc = packed.groupBy("src").agg(sum("n_tokens").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = docs.select(col("src"), TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
      .groupBy("src").agg(sum("n").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == expected)
  }

  test("invertedIndex: df counts every doc while postings cap at maxPostings") {
    val docs = Seq(
      (1L, "hot cold"), (2L, "hot"), (3L, "hot cold"), (4L, "hot rare"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.invertedIndex(docs, "doc_id", "text", maxPostings = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
    assert(out("hot") == (4L, Seq(1L, 2L)), "df=4 but postings capped at first 2")
    assert(out("cold") == (2L, Seq(1L, 3L)))
    assert(out("rare") == (1L, Seq(4L)))
  }

  test("rarityScore: rare-word docs outscore stopword soup, integer-exact") {
    val docs = Seq(
      (1L, "the the the the"),        // 4 occurrences of an 8x word
      (2L, "unique the the the"))     // one hapax
      .toDF("doc_id", "text")
    val out = TextAnalysis.rarityScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // total=8, cnt(the)=7, cnt(unique)=1: doc1 = (4*(8 DIV 7)) DIV 4 = 1;
    // doc2 = (8 + 3*1) DIV 4 = 2
    assert(out == Map(1L -> (4L, 1L), 2L -> (4L, 2L)))
  }

  test("globalRankByValue equals the single-window global row_number") {
    val df = Seq((10L, 5L), (11L, 3L), (12L, 5L), (13L, 1L), (14L, 3L))
      .toDF("id", "v")
    val out = Sampling.globalRankByValue(df, "id", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // order by (v, id): 13(1), 11(3), 14(3), 10(5), 12(5)
    assert(out == Map(13L -> 1L, 11L -> 2L, 14L -> 3L, 10L -> 4L, 12L -> 5L))
  }

  test("globalRankRange equals the global row_number regardless of partition count") {
    val df = (1L to 200L).map(i => (i, (i * 37) % 97)).toDF("id", "v")
    for (parts <- Seq(0, 3, 17)) {
      val out = Sampling.globalRankRange(df, "id", "v", partitions = parts)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val expected = df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy { case (id, v) => (v, id) }.zipWithIndex
        .map { case (k, i) => k -> (i + 1L) }.toMap
      assert(out == expected, s"partitions=$parts")
    }
  }

  test("roundRobinInterleave: no same-source run while every source is active") {
    // 3 sources with 3/2/1 docs: positions are closed-form round robin
    val df = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"), (5L, "b"), (6L, "c"))
      .toDF("doc_id", "source")
    val rows = Sampling.roundRobinInterleave(df, "doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._4)
    // schedule: round 1 = a1 b4 c6 (pos 0,1,2), round 2 = a2 b5 hole (3,4),
    // round 3 = a3 (pos 6; 5 is c's exhausted slot)
    assert(rows.map(x => (x._1, x._4)).toSeq ==
      Seq((1L, 0L), (4L, 1L), (6L, 2L), (2L, 3L), (5L, 4L), (3L, 6L)))
    // while all sources are active (positions 0..4), adjacent sources differ
    val active = rows.filter(_._4 <= 4L).map(_._2)
    active.sliding(2).foreach(p => assert(p(0) != p(1)))
    // positions are unique and rank·S+idx-consistent
    assert(rows.map(_._4).distinct.length == rows.length)
  }

  test("budgetedSelection equals the single-window greedy cut at any partition count") {
    val rnd = new scala.util.Random(67)
    val rows = (1L to 300L).map(i => (i, 1L + rnd.nextInt(50).toLong, rnd.nextInt(90).toLong))
    val df = rows.toDF("id", "tok", "density")
    // reference: one global greedy pass
    val expect = rows.sortBy { case (id, _, d) => (-d, id) }
      .scanLeft((0L, 0L, 0L, 0L)) { case ((_, _, _, cum), (id, tok, d)) => (id, tok, d, cum + tok) }
      .drop(1).takeWhile(_._4 <= 3000L).map(x => (x._1, x._4)).toMap
    assert(expect.nonEmpty && expect.size < 300)
    for (parts <- Seq(0, 3, 17)) {
      val got = Sampling.budgetedSelection(df, "id", "tok", "density", budget = 3000L,
          partitions = parts)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(got == expect, s"partitions=$parts")
    }
  }

  test("globalRankByValue ranks null values first instead of dropping them") {
    val df = Seq((1L, Some(5L)), (2L, None), (3L, Some(3L)), (4L, None))
      .toDF("id", "v")
    val out = Sampling.globalRankByValue(df, "id", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // nulls first (Spark asc default), ties by id: 2, 4, then 3(3), 1(5)
    assert(out == Map(2L -> 1L, 4L -> 2L, 3L -> 3L, 1L -> 4L))
  }

  test("stratifiedSample keeps exactly ceil(n*num/den) rows per stratum, deterministically") {
    val df = (1L to 100L).map(i => (i, if (i <= 30) "a" else "b")).toDF("id", "lang")
    val s1 = Sampling.stratifiedSample(df, "id", "lang", 1, 10).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val s2 = Sampling.stratifiedSample(df, "id", "lang", 1, 10).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(s1 == s2, "sample must be deterministic")
    assert(s1.count(_._2 == "a") == 3) // ceil(30/10)
    assert(s1.count(_._2 == "b") == 7) // ceil(70/10)
  }

  test("stratifiedSample ceiling uses integer arithmetic (no float boundary drift)") {
    // n=25, 1/10 → ceil(2.5)=3; a float formulation computing 25*0.1=2.5000..01
    // either way still ceils to 3, but n=500 with 0.1 can yield 51 — pin 50
    val df = (1L to 500L).map(i => (i, "x")).toDF("id", "lang")
    assert(Sampling.stratifiedSample(df, "id", "lang", 1, 10).count() == 50L)
    val df25 = (1L to 25L).map(i => (i, "x")).toDF("id", "lang")
    assert(Sampling.stratifiedSample(df25, "id", "lang", 1, 10).count() == 3L)
  }

  test("weightedBernoulli: weight 0 drops all, weight=den keeps all, deterministic between runs") {
    val df = (1L to 200L).map(i => (i, "t")).toDF("id", "t")
    assert(df.filter(Sampling.weightedBernoulli(col("id"), lit(0))).count() == 0L)
    assert(df.filter(Sampling.weightedBernoulli(col("id"), lit(10))).count() == 200L)
    val k1 = df.filter(Sampling.weightedBernoulli(col("id"), lit(5))).collect().map(_.getLong(0)).toSet
    val k2 = df.filter(Sampling.weightedBernoulli(col("id"), lit(5))).collect().map(_.getLong(0)).toSet
    assert(k1 == k2 && k1.nonEmpty && k1.size < 200)
  }

  test("weightedBernoulli: higher weight keeps a superset (draw is weight-independent)") {
    val df = (1L to 200L).map(i => (i, "t")).toDF("id", "t")
    val lo = df.filter(Sampling.weightedBernoulli(col("id"), lit(3))).collect().map(_.getLong(0)).toSet
    val hi = df.filter(Sampling.weightedBernoulli(col("id"), lit(8))).collect().map(_.getLong(0)).toSet
    assert(lo.subsetOf(hi))
  }

  test("bigramCounts: adjacent pairs only, ordered by count then lexicographically") {
    val df = Seq("a b a b c", "a b").toDF("text")
    val out = operators.TextAnalysis.bigramCounts(df, "text", 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toList
    // "a b": 3 (twice in doc1, once in doc2); "b a": 1; "b c": 1
    assert(out == List(("a b", 3L), ("b a", 1L), ("b c", 1L)))
  }

  test("syncCheck: equal tables all in sync; a one-row drift flags exactly its bucket") {
    val src = (1L to 64L).map(i => (i, s"v$i")).toDF("k", "v")
    val fp = (df: org.apache.spark.sql.DataFrame) => concat_ws("|", col("k"), col("v"))
    val clean = operators.Integrity.syncCheck(src, src, "k", fp, buckets = 8)
      .collect().map(r => r.getInt(0) -> r.getBoolean(3)).toMap
    assert(clean.size == 8 && clean.values.forall(identity))
    // drift key 19 (bucket 3): only that bucket must flag
    val dst = src.withColumn("v", when(col("k") === 19, "DRIFT").otherwise(col("v")))
    val drifted = operators.Integrity.syncCheck(src, dst, "k", fp, buckets = 8)
      .collect().map(r => r.getInt(0) -> r.getBoolean(3)).toMap
    assert(!drifted(3) && drifted.filterNot(_._1 == 3).values.forall(identity))
  }

  test("syncCheck: a missing row changes the bucket count, not just the checksum") {
    val src = (1L to 32L).map(i => (i, "x")).toDF("k", "v")
    val dst = src.filter(col("k") =!= 10) // bucket 10 % 8 = 2 loses a row
    val fp = (df: org.apache.spark.sql.DataFrame) => concat_ws("|", col("k"), col("v"))
    val out = operators.Integrity.syncCheck(src, dst, "k", fp, buckets = 8)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(2) == ((4L, 3L, false)))
    assert(out.filterNot(_._1 == 2).values.forall(_._3))
  }

  test("repairDiff: emits exactly the differing keys, tagged by drift kind") {
    val src = (1L to 64L).map(i => (i, s"v$i")).toDF("k", "v")
    val fp = (df: org.apache.spark.sql.DataFrame) => concat_ws("|", col("k"), col("v"))
    val dst = src.filter(col("k") =!= 10)                            // only_src
      .withColumn("v", when(col("k") === 19, "DRIFT").otherwise(col("v"))) // changed
      .union(Seq((99L, "new")).toDF("k", "v"))                       // only_dst
    val out = operators.Integrity.repairDiff(src, dst, "k", fp, buckets = 8)
      .collect().map(r => (r.getLong(1), r.getString(2))).toSet
    assert(out == Set((10L, "only_src"), (19L, "changed"), (99L, "only_dst")))
    // identical tables → empty repair payload
    assert(operators.Integrity.repairDiff(src, src, "k", fp, buckets = 8)
      .collect().isEmpty)
  }

  test("distinctCountSkewSafe equals countDistinct, including NULL values") {
    // NULL event_type on a third of rows + one all-NULL key (6): COUNT
    // DISTINCT ignores NULLs, and key 6 must still report a 0 row
    val df = (1L to 400L).map { i =>
      val k = if (i % 2 == 0) 0L else i % 7
      val v = if (k == 6L || i % 3 == 0) null else s"t${i % 5}"
      (k, v)
    }.toDF("user_id", "event_type")
    val safe = operators.Skew.distinctCountSkewSafe(df, "user_id", "event_type")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val naive = df.groupBy("user_id").agg(countDistinct(col("event_type")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(safe == naive && safe(0L) == 5L && safe(6L) == 0L)
  }

  test("incrementalJoinDelta: old ∪ delta == full join; delta has no old-old pairs") {
    val l = (1L to 40L).map(i => (i % 8, i)).toDF("k", "lv")
    val r = (1L to 12L).map(i => (i % 8, i * 100)).toDF("k", "rv")
    val (oldL, dL) = (l.filter(col("lv") % 5 =!= 0), l.filter(col("lv") % 5 === 0))
    val (oldR, dR) = (r.filter(col("rv") % 300 =!= 0), r.filter(col("rv") % 300 === 0))
    val delta = operators.CdcMerge.incrementalJoinDelta(oldL, dL, oldR, dR, Seq("k"))
    val setOf = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
    val incremental = setOf(oldL.join(oldR, Seq("k")).unionByName(delta))
    assert(incremental == setOf(l.join(r, Seq("k"))))
    // every delta pair involves at least one delta-side row — the operator
    // must never recompute old-old pairs (that is the whole point)
    setOf(delta).keys.foreach { case (_, lv, rv) =>
      assert(lv % 5 == 0 || rv % 300 == 0, s"old-old pair in delta: ($lv, $rv)")
    }
  }

  test("ensureBucketed: memoized write, catalog-backed reads equal the source") {
    val spark2 = SparkTestSession.spark
    val src = (1L to 100L).map(i => (i, i * 2)).toDF("k", "v")
    val path = graft.queries.QueryUtil.scratchDir + "/bkt_spec_test"
    val t1 = operators.Bucketing.ensureBucketed(spark2, "graft_bkt_spec", src, "k", 4, path)
    assert(t1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      (1L to 100L).map(i => (i, i * 2)).toSet)
    // second call must reuse the table (no rewrite): same file listing
    val files1 = new java.io.File(path).listFiles().map(_.getName).toSet
    operators.Bucketing.ensureBucketed(spark2, "graft_bkt_spec", src, "k", 4, path)
    val files2 = new java.io.File(path).listFiles().map(_.getName).toSet
    assert(files1 == files2, "idempotent: no rewrite on the second call")
    // same name with a DIFFERENT layout must fail loudly, not serve stale data
    val e = intercept[IllegalArgumentException](
      operators.Bucketing.ensureBucketed(spark2, "graft_bkt_spec", src, "v", 8, path))
    assert(e.getMessage.contains("bucket layout"))
  }

  test("Scd2.buildHistory chains validity intervals and marks the current version") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val changes = Seq(
      (1L, ts("2024-01-01 00:00:00"), 10L, 1.0),
      (1L, ts("2024-01-02 00:00:00"), 11L, 2.0),
      (2L, ts("2024-03-01 12:00:00"), 12L, 9.0))
      .toDF("user_id", "ts", "event_id", "value")
    val rows = Scd2.buildHistory(changes, "user_id", "ts", "event_id", Seq("value"))
      .orderBy("user_id", "version").collect()
    assert(rows.length == 3)
    val r0 = rows(0)
    assert(r0.getInt(1) == 1 && r0.getString(2) == "2024-01-01 00:00:00" &&
      r0.getString(3) == "2024-01-02 00:00:00" && r0.getInt(4) == 0)
    val r1 = rows(1)
    assert(r1.getInt(1) == 2 && r1.getString(3) == Scd2.OpenEnd && r1.getInt(4) == 1)
    val r2 = rows(2)
    assert(r2.getInt(1) == 1 && r2.getString(3) == Scd2.OpenEnd && r2.getInt(4) == 1)
  }

  test("Scd2.buildHistory breaks equal-timestamp ties by the tie column") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val changes = Seq((1L, ts, 20L, 1.0), (1L, ts, 19L, 2.0))
      .toDF("user_id", "ts", "event_id", "value")
    val rows = Scd2.buildHistory(changes, "user_id", "ts", "event_id", Seq("value"))
      .orderBy("version").collect()
    // event 19 sorts first on the tie column, so version 1 carries its value
    assert(rows(0).getDouble(5) == 2.0 && rows(1).getDouble(5) == 1.0)
  }

  test("topKPerGroup caps every group at k, best score first, ties by id") {
    val df = Seq(
      (1L, "a", 0.9), (2L, "a", 0.5), (3L, "a", 0.9), (4L, "a", 0.1),
      (5L, "b", 0.3)).toDF("id", "grp", "q")
    val out = Sampling.topKPerGroup(df, "id", "grp", col("q"), k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // group a: scores 0.9/0.9/0.5/0.1 — tie at 0.9 broken by id (1 before 3)
    assert(out == Set((1L, "a"), (3L, "a"), (5L, "b")))
  }

  test("CdcMerge.applyChanges: latest change wins, deletes drop keys, inserts create them") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // key 1: untouched; key 2: updated twice (later ts wins); key 3: deleted;
    // key 4: same-ts updates (higher seq wins); key 5: absent from snapshot (insert);
    // key 6: delete of an absent key (no-op)
    val snapshot = Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "c"), (4L, 40.0, "d"))
      .toDF("k", "bal", "seg")
    val changes = Seq(
      (2L, ts("2024-01-01 00:00:00"), 1L, "U", 21.0, "b1"),
      (2L, ts("2024-01-02 00:00:00"), 2L, "U", 22.0, "b2"),
      (3L, ts("2024-01-01 00:00:00"), 3L, "D", 0.0, ""),
      (4L, ts("2024-01-01 00:00:00"), 4L, "U", 41.0, "d1"),
      (4L, ts("2024-01-01 00:00:00"), 5L, "U", 42.0, "d2"),
      (5L, ts("2024-01-01 00:00:00"), 6L, "U", 50.0, "e"),
      (6L, ts("2024-01-01 00:00:00"), 7L, "D", 0.0, ""))
      .toDF("k", "ts", "seq", "op", "bal", "seg")
    val out = CdcMerge.applyChanges(snapshot, changes, "k", "ts", "seq", "op",
      Seq("bal", "seg")).collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
    assert(out == Map(1L -> (10.0, "a"), 2L -> (22.0, "b2"),
      4L -> (42.0, "d2"), 5L -> (50.0, "e")))
  }

  test("snapshotDiff classifies I/U/D and round-trips through applyChanges") {
    val old = Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "c"))
      .toDF("k", "bal", "seg")
    val next = Seq((1L, 10.0, "a"), (2L, 21.0, "b"), (4L, 40.0, "d"))
      .toDF("k", "bal", "seg")
    val diff = CdcMerge.snapshotDiff(old, next, "k", Seq("bal", "seg"))
    val byKey = diff.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byKey == Map(2L -> "U", 3L -> "D", 4L -> "I"), "unchanged key 1 emits nothing")
    // round-trip: applying the diff (any ts/seq - one change per key)
    // reconstructs the new snapshot exactly
    val changes = diff
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .withColumn("seq", col("k"))
    val rebuilt = CdcMerge.applyChanges(old, changes, "k", "ts", "seq", "op",
      Seq("bal", "seg"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    val expected = next.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(rebuilt == expected, "diff-then-apply must reconstruct the new snapshot")
  }

  test("columnDrift: per-column change counts over the same I/U/D fixture") {
    val old = Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "c"))
      .toDF("k", "bal", "seg")
    val next = Seq((1L, 10.0, "a"), (2L, 21.0, "b"), (4L, 40.0, "d"))
      .toDF("k", "bal", "seg")
    val out = CdcMerge.columnDrift(old, next, "k", Seq("bal", "seg"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // keys 1,2 co-present; only bal changed (on key 2) → 500000 ppm; key 4
    // inserted, key 3 deleted — row counts identical on both column rows
    assert(out("bal") == ((2L, 1L, 500000L, 1L, 1L)))
    assert(out("seg") == ((2L, 0L, 0L, 1L, 1L)))
  }

  test("goldenRecord: per-cluster field rules; singleton survives as itself") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "aaaa", 50L), (2L, "bbbbbb", 30L), (3L, "cc", 90L), // cluster 1
      (9L, "solo", 70L)                                        // unlabeled
    ).toDF("doc_id", "text", "q")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("doc_id", "cluster")
    val out = Dedup.goldenRecord(docs, "doc_id", "text", col("q"), clusters)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
    // cluster 1: 3 members, rep=min id 1, longest text doc 2 (len 6),
    // best quality 90 (doc 3), pooled chars 4+6+2=12
    assert(out(1L) == ((3L, 1L, 2L, 6L, 90L, 12L)))
    assert(out(9L) == ((1L, 9L, 9L, 4L, 70L, 4L)))
  }

  test("goldenRecord: longest-text ties break to the smaller doc id") {
    import graft.operators.Dedup
    val docs = Seq((5L, "xxxx", 1L), (7L, "yyyy", 2L)).toDF("doc_id", "text", "q")
    val clusters = Seq((5L, 5L), (7L, 5L)).toDF("doc_id", "cluster")
    val r = Dedup.goldenRecord(docs, "doc_id", "text", col("q"), clusters)
      .collect().head
    assert(r.getLong(3) == 5L) // equal length 4 → min id wins
  }

  test("ZOrder: column and driver-side interleaves agree; cell list covers range queries") {
    import graft.operators.ZOrder
    val pairs = for (a <- 0 to 7; b <- 0 to 7) yield (a, b)
    val fromCol = pairs.toDF("a", "b")
      .select(ZOrder.zcell(col("a"), col("b"), 3).as("z"))
      .collect().map(_.getInt(0)).toSeq
    assert(fromCol == pairs.map { case (a, b) => ZOrder.zcellOf(a, b, 3) })
    assert(fromCol.distinct.length == 64, "3-bit interleave must be a bijection on 8x8")
    // cells for a sub-rectangle contain the cell of every point inside it
    val cells = ZOrder.cellsForRanges(2, 5, 1, 3, 3).toSet
    for (a <- 2 to 5; b <- 1 to 3)
      assert(cells.contains(ZOrder.zcellOf(a, b, 3)))
  }

  test("Compaction.compact shrinks the file count and preserves content") {
    import graft.operators.Compaction
    val base = java.nio.file.Files.createTempDirectory("graft_compact_").toString
    val rows = (1L to 500L).map(i => (i, i % 7)).toDF("id", "v")
    rows.repartition(32).write.parquet(s"$base/small")
    assert(Compaction.parquetFileCount(s"$base/small") == 32)
    val compacted = Compaction.compact(spark, s"$base/small", s"$base/big", 2)
    assert(Compaction.parquetFileCount(s"$base/big") == 2)
    assert(compacted.count() == 500L)
    assert(compacted.agg(sum(col("id"))).head().getLong(0) == 500L * 501 / 2)
  }

  test("bloomSemiJoin equals the exact semi join (false positives removed)") {
    val fact = (1L to 1000L).map(i => (i, i % 7)).toDF("k", "v")
    val dim = Seq(3L, 500L, 999L, 12345L).toDF("dk")
    val got = BloomJoin.bloomSemiJoin(spark, fact, "k", dim, "dk")
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(3L, 500L, 999L))
    // the operator registers no view, so repeated calls leave the catalog as it was
    val leftViews = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_bloom_"))
    assert(leftViews.isEmpty, s"bloomSemiJoin left views: ${leftViews.mkString(", ")}")
  }

  test("distributionDivergence: hand-computed TVD, identical=0, disjoint=10^6") {
    // A: "a a b" (p = 2/3, 1/3)  B: "a b b b" (q = 1/4, 3/4)
    //   TVD = ½(|2/3−1/4| + |1/3−3/4|) = 5/12 → 416666 ppm (floor)
    // C ≡ A's distribution exactly → 0 ppm; D shares no token with A → 10^6
    val docs = Seq(
      ("A", "a a b"), ("B", "a b b b"), ("C", "a a b"), ("D", "z z")
    ).toDF("src", "text")
    val out = TextAnalysis.distributionDivergence(docs, "src", "text")
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(4))).toMap
    assert(out.size == 6)
    assert(out(("A", "B")) == 416666L)
    assert(out(("A", "C")) == 0L)
    assert(out(("A", "D")) == 1000000L)
    assert(out(("B", "D")) == 1000000L)
  }

  test("largestRemainderAllocation: exact conservation and remainder order") {
    // counts 5/3/2 of k=7: quotas 3.5/2.1/1.4 → bases 3/2/1 (Σ6), one slot
    // left; remainders (5·7)%10=5, (3·7)%10=1, (2·7)%10=4 → 'a' wins it
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(2)("c")).toDF("s")
    val out = Sampling.largestRemainderAllocation(df, "s", k = 7L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out == Map("a" -> 4L, "b" -> 2L, "c" -> 1L))
    assert(out.values.sum == 7L) // Hamilton conservation, never ±1 off
  }

  test("largestRemainderAllocation: k larger than N still conserves") {
    val df = Seq("a", "a", "b").toDF("s")
    val out = Sampling.largestRemainderAllocation(df, "s", k = 10L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out.values.sum == 10L)
    assert(out("a") > out("b")) // proportionality preserved
  }

  test("systematicPpsSample: boundary crossings, heavy rows certain, partition-invariant") {
    // weights: id 1→9, id 2→1, id 3→9, id 4→1; total 20, n=4 → stride 5.
    // cums: 9, 10, 19, 20 → boundaries at 5,10,15,20:
    // id1 (0,9] crosses 5 ✓; id2 (9,10] crosses 10 ✓; id3 (10,19] crosses 15 ✓;
    // id4 (19,20] crosses 20 ✓ — all four here; the heavy rows MUST be in.
    val df = Seq((1L, 9L), (2L, 1L), (3L, 9L), (4L, 1L)).toDF("id", "w")
    val got = Sampling.systematicPpsSample(df, "id", "w", n = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 9L), (2L, 1L), (3L, 9L), (4L, 1L)))
    // a light row between boundaries is skipped: n=2 → stride 10 → picks
    // exactly the rows whose interval crosses 10 and 20
    val two = Sampling.systematicPpsSample(df, "id", "w", n = 2)
      .collect().map(_.getLong(0)).toSet
    assert(two == Set(2L, 4L))
    // the distributed prefix must not depend on partition count
    val big = (1L to 500L).map(i => (i, i % 7 + 1)).toDF("id", "w")
    val p1 = Sampling.systematicPpsSample(big, "id", "w", 40, partitions = 1)
      .collect().map(_.getLong(0)).toSeq.sorted
    val p7 = Sampling.systematicPpsSample(big, "id", "w", 40, partitions = 7)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(p1 == p7 && p1.nonEmpty)
  }

  test("auditHashChain: order-sensitive — swapping two rows changes the chain") {
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16)
    }
    val p = 2147483647L
    import graft.operators.Integrity
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "c"))
    def expected(ordered: Seq[(Long, String)]): Long =
      ordered.zipWithIndex.map { case ((id, t), i) =>
        ((i + 1) % p) * (h60(s"$id|$t") % p) % p }.sum % p
    val df = rows.map { case (id, t) => (1, id, t) }.toDF("d", "id", "t")
    val out = Integrity.auditHashChain(df, col("d"),
      concat_ws("|", col("id"), col("t")), Seq(col("id")))
      .collect().head
    assert((out.getLong(1), out.getLong(2)) == ((3L, expected(rows))))
    // permuting the ledger (same multiset!) must change the checksum —
    // this is exactly what the order-blind bucketChecksums cannot see
    assert(expected(Seq(rows(1), rows(0), rows(2))) != expected(rows))
  }

  test("consistentHashMigration matches a local brute-force ring") {
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16)
    }
    val nOld = 4; val nNew = 5; val v = 8
    def ring(n: Int) = (for { s <- 0 until n; i <- 0 until v }
      yield (h60(s"$s:$i"), s.toLong)).sortBy(_._1)
    def assign(rn: Seq[(Long, Long)], kh: Long): Long =
      rn.find(_._1 >= kh).getOrElse(rn.head)._2
    val keys = (0L until 300L)
    val (ro, rn) = (ring(nOld), ring(nNew))
    val expMod = keys.count(k => h60(k.toString) % nOld != h60(k.toString) % nNew)
    val expRing = keys.count(k =>
      assign(ro, h60(k.toString)) != assign(rn, h60(k.toString)))
    val df = keys.toDF("doc_id")
    val r = Sampling.consistentHashMigration(df, "doc_id", nOld, nNew, v)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((300L, expMod.toLong, expRing.toLong)))
    // the consistent-hash selling point, verified not asserted: the ring
    // moves strictly fewer keys than mod rehashing
    assert(expRing < expMod)
  }

  test("freshnessReport: lag vs the table's own high-water mark, stale flagged") {
    import graft.operators.Integrity
    import java.sql.Timestamp
    val df = Seq(("A", Timestamp.valueOf("2024-03-01 10:00:00")),
      ("B", Timestamp.valueOf("2024-03-01 12:00:00"))).toDF("t", "ts")
    val r = Integrity.freshnessReport(df, "ts", "t", maxLagSeconds = 3600L)
      .collect().map(x => x.getString(0) -> ((x.getLong(2), x.getInt(3)))).toMap
    assert(r == Map("A" -> ((7200L, 1)), "B" -> ((0L, 0))))
  }

  test("reconciliationAudit: header-vs-lines gap bands in exact ppm") {
    import graft.operators.Integrity
    val df = Seq((1L, 10000L, 4000L), (1L, 10000L, 6000L),
      (2L, 10000L, 9000L), (3L, 100L, 300L)).toDF("pk", "h", "lc")
    val r = Integrity.reconciliationAudit(df, "pk", col("h"), col("lc"))
      .collect().map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r == Map("0_exact" -> ((1L, 0L)), "3_under_20pct" -> ((1L, 100000L)),
      "4_over_20pct" -> ((1L, 2000000L))))
  }

  test("forgetImpact: per-table affected counts, zero rows reported not dropped") {
    import graft.operators.Integrity
    val keys = Seq(1L, 2L, 2L).toDF("k")
    val t1 = Seq(1L, 1L, 2L, 3L).toDF("id")
    val t2 = Seq(4L, 5L).toDF("id")
    val r = Integrity.forgetImpact(keys, "k",
      Seq(("t1", t1, "id"), ("t2", t2, "id"))).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == Map("t1" -> 3L, "t2" -> 0L))
  }

  test("rrfFusion: rank reciprocals sum across lists; absent items just contribute less") {
    import graft.operators.Similarity
    val l1 = Seq((10L, 0.9), (20L, 0.8)).toDF("vec_id", "sim")
    val l2 = Seq((20L, 0.99), (30L, 0.5)).toDF("vec_id", "sim")
    val r = Similarity.rrfFusion(Seq(l1, l2), "vec_id", "sim").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    // 1e9/61 = 16393442, 1e9/62 = 16129032
    assert(r.toSeq == Seq(
      (20L, 16393442L + 16129032L, 2L),
      (10L, 16393442L, 1L),
      (30L, 16129032L, 1L)))
  }

  test("alsoBought: anchors filter before fan-out; per-anchor rank with deterministic ties") {
    import graft.operators.Curation
    val df = Seq((1L, "X"), (1L, "Y"), (2L, "X"), (2L, "Y"), (3L, "X"),
      (3L, "Z"), (4L, "Y")).toDF("b", "i")
    val r = Curation.alsoBought(df, "b", "i", nAnchors = 2, nRecs = 2).collect()
      .map(x => (x.getString(0), x.getLong(2), x.getString(3), x.getLong(4)))
    assert(r.toSet == Set(
      ("X", 1L, "Y", 2L), ("X", 2L, "Z", 1L), ("Y", 1L, "X", 2L)))
  }

  test("completenessGrid: silent (slot x dim) cells counted, exact ppm coverage") {
    import graft.operators.Integrity
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val df = Seq(("A", t("2024-03-01 10:15:00")), ("A", t("2024-03-01 12:05:00")),
      ("B", t("2024-03-01 10:30:00"))).toDF("dim0", "ts")
    val r = Integrity.completenessGrid(df, "ts", "dim0").collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    // spine = 10:00, 11:00, 12:00 -> A misses 11:00; B misses 11:00 + 12:00
    assert(r == Map("A" -> ((3L, 1L, 666666L)), "B" -> ((3L, 2L, 333333L))))
  }

  test("filterOverlap: unique kills expose redundant filters; (any) row totals") {
    import graft.operators.Curation
    val df = Seq((1, "x"), (60, "x"), (60, "y"), (200, "y")).toDF("len", "tag")
    val r = Curation.filterOverlap(df, Seq(
      "short" -> (col("len") < 100),
      "xtag" -> (col("tag") === "x")))
      .collect().map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    // short kills rows 1,2,3 (unique: rows 1? no: r1 len=1 tag=x both -> not
    // unique; r3 len=60 tag=y -> unique). xtag kills rows 1,2 (unique: none -
    // both also short). any = 3.
    assert(r("short") == ((3L, 1L)))
    assert(r("xtag") == ((2L, 0L)))
    assert(r("(any)") == ((3L, 3L)))
  }

  test("featureHashAudit: wide table no collisions; width 2 forces them") {
    val docs = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val wide = TextAnalysis.featureHashAudit(docs, "text", 1 << 20).collect().head
    assert((wide.getLong(0), wide.getLong(2), wide.getLong(3), wide.getLong(4))
      == ((3L, 3L, 0L, 1L)))
    val narrow = TextAnalysis.featureHashAudit(docs, "text", 2).collect().head
    assert(narrow.getLong(3) >= 2L && narrow.getLong(4) >= 2L) // pigeonhole
  }

  test("stopwordInduction: df ranking with cumulative token coverage") {
    val docs = Seq((1L, "a b"), (2L, "a c")).toDF("doc_id", "text")
    val r = TextAnalysis.stopwordInduction(docs, "doc_id", "text", 50).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(6)))
    assert(r.toSeq == Seq((1L, "a", 2L, 500000L), (2L, "b", 1L, 750000L),
      (3L, "c", 1L, 1000000L)))
  }

  test("recallEval: intersection with truth in exact ppm; disjoint list scores zero") {
    import graft.operators.Similarity
    val truth = Seq(1L, 2L, 3L).toDF("vec_id")
    val mx = Seq(2L, 3L, 4L).toDF("vec_id")
    val my = Seq(7L, 8L, 9L).toDF("vec_id")
    val r = Similarity.recallEval(Seq("x" -> mx, "y" -> my), truth, "vec_id", 3)
      .collect().map(x => x.getString(0) -> ((x.getLong(2), x.getLong(3)))).toMap
    assert(r == Map("x" -> ((2L, 666666L)), "y" -> ((0L, 0L))))
  }

  test("coordinatedSample: shared hash keeps the join intact; foreign keys flag orphans") {
    val parent = (1L to 200L).toDF("k")
    val child = ((1L to 200L) ++ (1L to 200L)).toDF("k") // 2 lines per order
    val r = Sampling.coordinatedSample(parent, "k", child, "k", 50).collect().head
    assert(r.getLong(6) == 0L, "coordination must leave zero orphans")
    assert(r.getLong(4) == 2 * r.getLong(1), "child keeps exactly its parents' lines")
    // now corrupt: child rows referencing absent parents inherit orphanhood
    val dirty = ((1L to 200L) ++ (9001L to 9040L)).toDF("k")
    val r2 = Sampling.coordinatedSample(parent, "k", dirty, "k", 50).collect().head
    assert(r2.getLong(6) >= 1L, "pre-existing FK violations must surface")
  }

  test("frequentTriples: downward closure prunes, support counts are basket-exact") {
    import graft.operators.Curation
    val df = Seq((1L, "A"), (1L, "B"), (1L, "C"), (2L, "A"), (2L, "B"),
      (2L, "C"), (3L, "A"), (3L, "B"), (3L, "D")).toDF("b", "i")
    val r = Curation.frequentTriples(df, "b", "i", minSupport = 2L).collect()
      .map(x => (x.getString(0), x.getString(1), x.getString(2), x.getLong(3)))
    assert(r.toSeq == Seq(("A", "B", "C", 2L))) // ABD blocked: AD, BD infrequent
  }

  test("basket operators: preCollapsed over a partition-staged collapse equals the default path") {
    // r13: the four basket analyses share a materialized DISTINCT
    // (basket, item) staging frame (partitionedCheckpoint on the basket
    // key) and pass preCollapsed = true to skip the operator-internal
    // filter+distinct. Pin: every operator's output is IDENTICAL to the
    // default path over the raw (duplicate-carrying, null-carrying) frame.
    import graft.operators.{Curation, Graph}
    val raw = Seq((1L, "A"), (1L, "B"), (1L, "C"), (2L, "A"), (2L, "B"),
      (2L, "C"), (3L, "A"), (3L, "B"), (3L, "D"), (4L, "B"), (4L, "D"),
      (1L, "A"), (2L, "B"), // duplicates the collapse must absorb
      (5L, null.asInstanceOf[String])) // null item the collapse drops
      .toDF("b", "i")
    val staged = Graph.partitionedCheckpoint(
      raw.filter(col("b").isNotNull && col("i").isNotNull)
        .select(col("b"), col("i")).distinct(), "b")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    assert(rows(Curation.basketPairs(staged, "b", "i", minSupport = 2L,
        topK = 20, preCollapsed = true)) ==
      rows(Curation.basketPairs(raw, "b", "i", minSupport = 2L, topK = 20)))
    assert(rows(Curation.frequentTriples(staged, "b", "i", minSupport = 2L,
        topK = 20, preCollapsed = true)) ==
      rows(Curation.frequentTriples(raw, "b", "i", minSupport = 2L, topK = 20)))
    assert(rows(Curation.basketConfidence(staged, "b", "i", minSupport = 2L,
        topK = 20, preCollapsed = true)) ==
      rows(Curation.basketConfidence(raw, "b", "i", minSupport = 2L, topK = 20)))
    assert(rows(Curation.alsoBought(staged, "b", "i", nAnchors = 2, nRecs = 2,
        preCollapsed = true).orderBy("anchor", "rank")) ==
      rows(Curation.alsoBought(raw, "b", "i", nAnchors = 2, nRecs = 2)
        .orderBy("anchor", "rank")))
  }

  test("basketPairs: preCollapsed staged input plans no basket exchange or sort") {
    // r13 plan pin (the GraphSpec partitionedCheckpoint convention): over a
    // basket-partitioned staged collapse, the per-basket self-join and the
    // width window reuse the staged layout — the ONLY shuffle left is the
    // final (item1, item2) aggregate exchange.
    import graft.operators.{Curation, Graph}
    val raw = spark.range(0, 500)
      .select((col("id") % 100).as("b"), (col("id") % 7).cast("string").as("i"))
    val staged = Graph.partitionedCheckpoint(raw.distinct(), "b")
    val p = Curation.basketPairs(staged, "b", "i", minSupport = 1L,
      topK = 20, preCollapsed = true).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"only the pair-aggregate exchange may remain:\n$p")
    assert("\\bSort \\[".r.findAllIn(p).size == 0,
      s"the staged ordering must satisfy both self-join sides:\n$p")
  }

  test("domainOverlap: exclusive counts and Jaccard in exact ppm") {
    import graft.operators.Integrity
    val a = Seq(1L, 2L, 3L, 3L).toDF("v")
    val b = Seq(2L, 3L, 4L, 5L).toDF("v")
    val r = Integrity.domainOverlap(a, "v", b, "v").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == ((3L, 4L, 2L, 1L, 2L, 400000L)))
  }

  test("ivfLabelPurity: majority share per cell, ties to the lowest label") {
    import graft.operators.Similarity
    val df = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(0f, 1f), 1),
      (3L, Array(0.9f, 0.1f), 0), (4L, Array(0.1f, 0.9f), 2))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.ivfLabelPurity(df, "label", nCells = 2).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getInt(3),
        x.getLong(4)))).toMap
    assert(r(1L) == ((2L, 1L, 0, 1000000L)))  // vecs 1,3 both label 0
    assert(r(2L) == ((2L, 2L, 1, 500000L)))   // labels 1,2 tie -> lowest
  }

  test("clusterSizeCensus: family sizes histogram from the pair graph") {
    import graft.operators.Dedup
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("d1", "d2")
    val r = Dedup.clusterSizeCensus(pairs).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r.toSeq == Seq((2L, 1L, 2L), (3L, 1L, 3L)))
  }

  test("nearDupExplanations: rarest shared shingles first, readable strings") {
    import graft.operators.Dedup
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d x"), (3L, "a b c z z"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L, 0.5)).toDF("d1", "d2", "jaccard")
    val r = Dedup.nearDupExplanations(docs, pairs, "doc_id", "text").collect()
      .map(x => (x.getLong(3), x.getString(4), x.getLong(5)))
    // shared: "a b c" (df 3, doc 3 has it too), "b c d" (df 2 -> rarer)
    assert(r.toSeq == Seq((1L, "b c d", 2L), (2L, "a b c", 3L)))
  }

  test("thresholdSweep: one pair materialization, monotone counts down the ladder") {
    import graft.operators.Dedup
    val docs = Seq((1L, "w1 w2 w3 w4 w5 w6"), (2L, "w1 w2 w3 w4 w5 w6"),
      (3L, "q1 q2 q3 q4 q5 q6")).toDF("doc_id", "text")
    val r = Dedup.thresholdSweep(docs, "doc_id", "text").collect()
      .map(x => (x.getInt(0), x.getLong(1), x.getLong(2)))
    assert(r.map(_._1).toSeq == Seq(50, 60, 70, 80, 90))
    assert(r.forall { case (_, p, d) => p == 1L && d == 2L }) // identical pair
    assert(r.map(_._2).sliding(2).forall(w => w.head >= w.last)) // monotone
  }

  test("ivfClusterTopics: cells named by their members' most distinctive terms") {
    import graft.operators.Similarity
    val emb = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
      (3L, Array(0.9f, 0.1f)), (4L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val docs = Seq((1L, "apple apple"), (2L, "zebra"), (3L, "apple pie"),
      (4L, "zoo zebra")).toDF("doc_id", "text")
    val r = Similarity.ivfClusterTopics(emb, docs, "doc_id", "text",
      nCells = 2, topTerms = 1).collect()
      .map(x => x.getLong(0) -> ((x.getString(2), x.getLong(5)))).toMap
    assert(r(1L) == (("apple", 1500000L))) // n=3 over df=2
    assert(r(2L) == (("zebra", 1000000L))) // ties with zoo -> lexicographic
  }

  test("vocabExclusivity: terms owned by exactly one source, exact ppm") {
    val docs = Seq((1L, "a b", "s1"), (2L, "b c", "s2"))
      .toDF("doc_id", "text", "source")
    val r = TextAnalysis.vocabExclusivity(docs, "source", "text").collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r == Map("s1" -> ((2L, 1L, 500000L)), "s2" -> ((2L, 1L, 500000L))))
  }

  test("crossSourceDups: unordered source-pair census over verified pairs") {
    import graft.operators.Dedup
    val docs = Seq((1L, "s1"), (2L, "s2"), (3L, "s1")).toDF("doc_id", "source")
    val pairs = Seq((1L, 2L, 0.9), (1L, 3L, 0.8)).toDF("d1", "d2", "jaccard")
    val r = Dedup.crossSourceDups(docs, pairs, "doc_id", "source").collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2)))
    assert(r.toSet == Set(("s1", "s1", 1L), ("s1", "s2", 1L)))
  }

  test("effectiveVocabulary: template spam reads as a tiny effective vocab") {
    val docs = Seq((1L, "spam spam spam spam spam rare", "tpl"),
      (2L, "a b c d e f", "div")).toDF("doc_id", "text", "source")
    val r = TextAnalysis.effectiveVocabulary(docs, "source", "text").collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    // tpl: N=6, sq=25+1=26 -> 36/26 = 1 effective term despite 2 distinct
    assert(r("tpl") == ((6L, 2L, 1L)))
    assert(r("div") == ((6L, 6L, 6L))) // uniform: effective == distinct
  }

  test("dedupTokenSavings: cluster members beyond the representative are the cost") {
    import graft.operators.Dedup
    val docs = Seq((1L, "a b c", "s1"), (2L, "a b c d", "s1"),
      (3L, "x y", "s2")).toDF("doc_id", "text", "source")
    val pairs = Seq((1L, 2L, 0.9)).toDF("d1", "d2", "jaccard")
    val r = Dedup.dedupTokenSavings(docs, pairs, "doc_id", "text", "source")
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    // doc 1 is the representative; doc 2 (4 tokens) drops
    assert(r("s1") == ((2L, 7L, 4L, 571428L)))
    assert(r("s2") == ((1L, 2L, 0L, 0L)))
  }

  test("docKeywords: rarity-weighted argmax per doc, ties break on the term") {
    val docs = Seq((1L, "apple apple banana"), (2L, "banana cherry"),
      (3L, "x y")).toDF("doc_id", "text")
    val r = TextAnalysis.docKeywords(docs, "doc_id", "text").collect()
      .map(x => x.getLong(0) -> ((x.getString(1), x.getLong(4)))).toMap
    assert(r(1L) == (("apple", 2000000L)))  // tf 2 / df 1
    assert(r(2L) == (("cherry", 1000000L))) // beats banana (df 2)
    assert(r(3L) == (("x", 1000000L)))      // x and y tie -> lexicographic
  }

  test("dedupRateBySource: exact families via text partition; near membership from the pair frame") {
    import graft.operators.Dedup
    val docs = Seq((1L, "a", "s1"), (2L, "a", "s1"), (3L, "b", "s2"),
      (4L, "c", "s2")).toDF("doc_id", "text", "source")
    val pairs = Seq((3L, 4L)).toDF("d1", "d2")
    val r = Dedup.dedupRateBySource(docs, pairs, "doc_id", "text", "source")
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5)))).toMap
    assert(r("s1") == ((2L, 2L, 0L, 1000000L, 0L)))
    assert(r("s2") == ((2L, 0L, 2L, 0L, 1000000L)))
  }

  test("bpeMergeCandidates: adjacent pair counts; short and empty tokens contribute nothing") {
    val docs = Seq((1L, "ab ab abc"), (2L, "x  abba")).toDF("doc_id", "text")
    // pairs: ab,ab + ab,bc (from abc) + ab,bb,ba (from abba); "x" and the
    // double-space empty token are skipped
    val r = TextAnalysis.bpeMergeCandidates(docs, "text", topK = 10).collect()
      .map(x => x.getString(0) -> x.getLong(1))
    assert(r.toMap == Map("ab" -> 4L, "ba" -> 1L, "bb" -> 1L, "bc" -> 1L))
    assert(r.head == ("ab" -> 4L)) // count-desc, then lexicographic
  }

  test("functionalDependencyAudit: holding FD scores zero ppm; broken FD counts violators") {
    import graft.operators.Integrity
    val df = Seq(
      ("k1", "a", 1), ("k1", "a", 2),   // k1 -> a holds (dep2 varies)
      ("k2", "b", 3),
      ("k3", "c", 4), ("k3", "d", 4)    // k3 maps to two deps: violation
    ).toDF("det", "dep", "dep2")
    val r = Integrity.functionalDependencyAudit(df,
      Seq(("det", "dep"), ("det", "dep2"))).collect()
      .map(x => x.getString(1) -> ((x.getLong(2), x.getLong(3), x.getLong(4))))
      .toMap
    assert(r("dep") == ((3L, 1L, 333333L)))  // k3 violates
    assert(r("dep2") == ((3L, 1L, 333333L))) // k1 violates
  }

  test("functionalDependencyAudit: NULL determinant and dependent rows excluded") {
    import graft.operators.Integrity
    val df = Seq((Some("k1"), Some("a")), (Some("k1"), None),
      (None, Some("z"))).toDF("det", "dep")
    val r = Integrity.functionalDependencyAudit(df, Seq(("det", "dep")))
      .collect().head
    // only (k1, a) survives: 1 det value, 0 violations
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ((1L, 0L, 0L)))
  }

  test("tokenSetDupCensus: reordered text is a canon dup but not an exact dup") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "the quick fox", "s1"),
      (2L, "fox the quick", "s1"),     // reorder-only dup of 1
      (3L, "the quick fox", "s2"),     // exact dup of 1 (cross-source)
      (4L, "something else", "s2"),
      (5L, "the  quick fox", "s2")     // double space: same token set as 1
    ).toDF("doc_id", "text", "source")
    val r = Dedup.tokenSetDupCensus(docs, "doc_id", "text", "source")
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    // s1: both docs canon-dup; doc1 also exact-dups with doc3
    assert(r("s1") == ((2L, 1L, 2L, 1L)))
    // s2: doc3 exact+canon, doc5 canon-only, doc4 unique
    assert(r("s2") == ((3L, 1L, 2L, 1L)))
  }

  test("effectiveBranchingFactor: railed continuations score 1000; free branching scores higher") {
    val docs = Seq(
      // s1: "a" always followed by "b" -> eff(a)=1000; bigrams a->b x3
      (1L, "a b a b a b", "s1"),
      // s2: "a" followed by b, c (once each) -> eff(a) = 4*1000/2 = 2000
      (2L, "a b a c", "s2")
    ).toDF("doc_id", "text", "source")
    val r = TextAnalysis.effectiveBranchingFactor(docs, "source", "text")
      .collect().map(x => x.getString(0) -> x.getLong(3)).toMap
    // s1: prefixes a(3 bigrams, eff 1000) and b(2 bigrams a, eff 1000) -> 1000
    assert(r("s1") == 1000L)
    // s2: a has 2 bigrams eff 2000; b has 1 bigram (b->a) eff 1000
    // weighted: (2*2000 + 1*1000) / 3 = 1666
    assert(r("s2") == 1666L)
  }

  test("vocabNoveltyCurve: later batches only count first-seen terms as new") {
    val docs = Seq(
      (0L, "a b c"), (1L, "a b"),        // batch 0: all 3 terms new
      (2L, "a d"),                        // batch 1: d new, a reused
      (4L, "a b c")                       // batch 2: nothing new
    ).toDF("doc_id", "text")
    val r = TextAnalysis.vocabNoveltyCurve(docs, "doc_id", "text",
      batchSize = 2L).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3))))
      .toMap
    assert(r == Map(
      0L -> ((3L, 3L, 1000000L)),
      1L -> ((2L, 1L, 500000L)),
      2L -> ((3L, 0L, 0L))))
  }

  test("clusterDensityAudit: a transitive chain scores below a fully-verified triangle") {
    import graft.operators.Dedup
    val pairs = Seq(
      // triangle 1-2-3: all three pairs verified -> density 1e6
      (1L, 2L), (2L, 3L), (1L, 3L),
      // chain 10-11-12: two of three pairs -> density 666666
      (10L, 11L), (11L, 12L)
    ).toDF("d1", "d2")
    val r = Dedup.clusterDensityAudit(pairs).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    assert(r(3L) == ((2L, 666666L, 1000000L, 5L)))
  }

  test("missingnessPatterns: joint null combos counted; complete rows keyed by empty string") {
    import graft.operators.Integrity
    val df = Seq(
      (Some(1L), Some("x")), (Some(2L), Some("y")),
      (None, Some("z")), (None, None)
    ).toDF("a", "b")
    val r = Integrity.missingnessPatterns(df, Seq("a", "b")).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r == Map(
      "" -> ((2L, 500000L)),
      "a" -> ((1L, 250000L)),
      "a,b" -> ((1L, 250000L))))
  }

  test("discriminativeTerms: smoothed odds rank the class-exclusive term first") {
    val docs = Seq(
      (1L, "gold shared", true), (2L, "gold shared", true),
      (3L, "junk shared", false), (4L, "junk shared", false)
    ).toDF("doc_id", "text", "hi")
    val r = TextAnalysis.discriminativeTerms(docs, "doc_id", "text",
      col("hi"), topK = 3).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3))))
    // gold: a=2 b=0 -> (3*3*1000)/(1*3) = 3000; shared: (3*3000)/(3*3)=1000;
    // junk: (1*3000)/(3*3) = 333
    assert(r.toSeq == Seq(
      "gold" -> ((2L, 0L, 3000L)),
      "shared" -> ((2L, 2L, 1000L)),
      "junk" -> ((0L, 2L, 333L))))
  }

  test("boilerplateMass: a chunk repeated across 3 docs counts as boilerplate; pairs don't") {
    import graft.operators.Dedup
    val bp = "shared header line one two three four five six seven"  // 10 tokens
    val docs = Seq(
      (1L, s"$bp unique tail a b c d e f g h", "s1"),
      (2L, s"$bp other tail a b c d e f g h2", "s1"),
      (3L, s"$bp third tail a b c d e f g h3", "s2"),
      (4L, "standalone content x y z q w e r t y u", "s2")
    ).toDF("doc_id", "text", "source")
    val r = Dedup.boilerplateMass(docs, "doc_id", "text", "source",
      lineTokens = 10, minDocs = 3).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    // s1: 4 chunks (2 per doc), 2 are the shared header (df=3)
    assert(r("s1") == ((4L, 2L)))
    // s2: doc3 has the header, doc4 none
    assert(r("s2") == ((4L, 1L)))
  }

  test("timestampCollisionCensus: collision sizes land in log2 bands") {
    import graft.operators.Integrity
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 10:00:01")
    val t2 = java.sql.Timestamp.valueOf("2024-01-01 10:00:02")
    // t0 appears once (band 0), t1 twice (band 1), t2 four times (band 2)
    val df = (Seq(t0) ++ Seq.fill(2)(t1) ++ Seq.fill(4)(t2))
      .map(Tuple1(_)).toDF("ts")
    val r = Integrity.timestampCollisionCensus(df, "ts").collect()
      .map(x => x.getInt(0) -> ((x.getLong(2), x.getLong(3), x.getLong(4))))
      .toMap
    assert(r == Map(
      0 -> ((1L, 1L, 142857L)),
      1 -> ((1L, 2L, 285714L)),
      2 -> ((1L, 4L, 571428L))))
  }

  test("childNumberingAudit: each violation kind classified by its root cause") {
    import graft.operators.Integrity
    val df = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),  // dense
      (2L, 1L), (2L, 1L),            // dup seq
      (3L, 2L), (3L, 3L),            // bad start
      (4L, 1L), (4L, 3L)             // gap
    ).toDF("pk", "seq")
    val r = Integrity.childNumberingAudit(df, "pk", "seq").collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3))))
      .toMap
    assert(r("0_dense") == ((1L, 3L, 250000L)))
    assert(r("1_dup_seq") == ((1L, 2L, 250000L)))
    assert(r("2_bad_start") == ((1L, 2L, 250000L)))
    assert(r("3_gap") == ((1L, 2L, 250000L)))
  }

  test("idContinuityCensus: a dropped range lands its block in a lower fill band") {
    import graft.operators.Integrity
    // block 0: ids 0..9 complete (fill 1e6); block 1: only 2 of span 10
    val ids = ((0L to 9L) ++ Seq(10L, 19L)).map(Tuple1(_)).toDF("k")
    val r = Integrity.idContinuityCensus(ids, "k", blockSize = 10L)
      .collect().map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2))))
      .toMap
    assert(r("5_over_80pct") == ((1L, 10L)))
    assert(r("1_under_20pct") == ((1L, 2L)))  // 2/10 = 200000 ppm
  }

  test("integerHeadroomAudit: exact bit lengths and downcast flags") {
    import graft.operators.Integrity
    val df = Seq((255L, 40000L, 3000000000L), (-256L, 1L, 5L))
      .toDF("small", "mid", "big")
    val r = Integrity.integerHeadroomAudit(df, Seq("small", "mid", "big"))
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getInt(2), x.getInt(3), x.getInt(4)))).toMap
    assert(r("small") == ((256L, 9, 1, 1)))   // |-256| = 256 needs 9 bits
    assert(r("mid") == ((40000L, 16, 0, 1)))  // > 32767 -> no int16
    assert(r("big") == ((3000000000L, 32, 0, 0))) // > int32
  }

  test("frequencySpectrum: bands split at exact powers of two") {
    // source s: term freq 1 -> band 0, freq 2 and 3 -> band 1, freq 4 -> band 2
    val docs = Seq(
      (1L, "a b b c c c d d d d", "s")
    ).toDF("doc_id", "text", "source")
    val r = TextAnalysis.frequencySpectrum(docs, "source", "text").collect()
      .map(x => x.getInt(1) -> ((x.getLong(2), x.getLong(3), x.getLong(4))))
      .toMap
    assert(r(0) == ((1L, 1L, 1L)))  // a
    assert(r(1) == ((2L, 2L, 5L)))  // b(2), c(3)
    assert(r(2) == ((4L, 1L, 4L)))  // d
  }

  test("bloomFprAudit: false positives equal an independent Scala bloom replay") {
    val members = (0L until 40L).toDF("k")
    val probes = (1000L until 1200L).toDF("k") // disjoint from members
    val numBits = 512
    val numHashes = 3
    val r = BloomJoin.bloomFprAudit(members, col("k"), probes, col("k"),
      numBits, numHashes).collect().head
    // replay the identical portable construction host-side
    def pos(j: Int, k: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$j|$k".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16) % numBits
    }
    val bits = (for (k <- 0L until 40L; j <- 0 until numHashes) yield pos(j, k)).toSet
    val fps = (1000L until 1200L).count(k =>
      (0 until numHashes).forall(j => bits.contains(pos(j, k))))
    assert(r.getAs[Long]("n_members") == 40L)
    assert(r.getAs[Long]("n_bits_set") == bits.size.toLong)
    assert(r.getAs[Long]("n_probes") == 200L)
    assert(r.getAs[Long]("n_false_positives") == fps.toLong)
    assert(r.getAs[Long]("fill_ppm") == bits.size.toLong * 1000000L / numBits)
    assert(r.getAs[Long]("fpr_ppm") == fps.toLong * 1000000L / 200L)
  }

  test("bloomFprAudit: a member probed back always passes all k hashes") {
    val members = (0L until 25L).toDF("k")
    val r = BloomJoin.bloomFprAudit(members, col("k"), members, col("k"),
      numBits = 4096, numHashes = 3).collect().head
    // probing the member set itself: every probe's bits are set (the bloom
    // no-false-negative guarantee), so the "false positive" count is total
    assert(r.getAs[Long]("n_false_positives") == 25L)
    assert(r.getAs[Long]("fpr_ppm") == 1000000L)
  }

  test("hashPermutationTest: every field matches an independent bit replay") {
    val df = (1L to 12L).map(i => (i, (i % 2).toInt, i * 100L))
      .toDF("id", "arm", "v")
    val r = Sampling.hashPermutationTest(df, "id", col("arm"), col("v"),
      nPerms = 8).collect().head
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val units = (1L to 12L).map(i => (i, (i % 2).toInt, i * 100L))
    val obs = {
      val g = units.groupBy(_._2)
      g(1).map(_._3).sum / g(1).size - g(0).map(_._3).sum / g(0).size
    }
    val diffs = (0 until 8).flatMap { rI =>
      val g = units.groupBy(u => (h60(u._1.toString) >> rI) & 1L)
      for (a <- g.get(0L); b <- g.get(1L))
        yield b.map(_._3).sum / b.size - a.map(_._3).sum / a.size
    }
    assert((r.getLong(0), r.getLong(1)) == ((6L, 6L)))
    assert(r.getLong(2) == obs)
    assert(r.getLong(3) == diffs.length.toLong)
    assert(r.getLong(4) == diffs.count(d => math.abs(d) >= math.abs(obs)).toLong)
    assert(r.getLong(5) ==
      (1L + diffs.count(d => math.abs(d) >= math.abs(obs))) * 1000000L /
        (diffs.length + 1L))
  }
}
