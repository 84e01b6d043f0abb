package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Dedup, Graph, Sampling, Scd2, TextAnalysis}

/**
 * Invariant tests over seeded-random inputs (fixed seeds — deterministic,
 * no flake): properties that must hold for ANY input, checked on data the
 * hand-written example tests don't reach.
 */
class InvariantSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def randomDocs(seed: Long, n: Int, vocab: Int, len: Int) = {
    val rnd = new scala.util.Random(seed)
    (0L until n.toLong).map { i =>
      (i, Seq.fill(len)(s"w${rnd.nextInt(vocab)}").mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("packTokenShards: shards start at 0, are contiguous, and cut exactly at the budget") {
    val rnd = new scala.util.Random(7)
    val docs = (0L until 60L).map { i =>
      (i, Seq.fill(1 + rnd.nextInt(9))("t").mkString(" "), s"g${i % 3}")
    }.toDF("doc_id", "text", "source")
    val out = TextAnalysis.packTokenShards(docs, "doc_id", "text", "source", budgetTokens = 10)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getInt(3)))
    out.groupBy(_._1).foreach { case (_, rows) =>
      val ordered = rows.sortBy(_._2)
      var cum = 0L
      var prevShard = 0
      ordered.foreach { case (_, _, nTok, shard) =>
        assert(shard == (cum / 10).toInt, "shard must be floor(cumBefore/budget)")
        assert(shard >= prevShard, "shards must be nondecreasing in id order")
        prevShard = shard
        cum += nTok
      }
      assert(ordered.head._4 == 0, "first shard in each group is 0")
    }
  }

  test("stratifiedSample: per-stratum count is exactly ceil(n*num/den) for random sizes") {
    val rnd = new scala.util.Random(11)
    val sizes = Seq.fill(6)(1 + rnd.nextInt(97))
    val df = sizes.zipWithIndex.flatMap { case (n, s) =>
      (0 until n).map(i => (s.toLong * 1000 + i, s"s$s"))
    }.toDF("id", "lang")
    val counts = Sampling.stratifiedSample(df, "id", "lang", 3, 7)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes.zipWithIndex.foreach { case (n, s) =>
      val expected = (n * 3 + 6) / 7 // ceil(n*3/7) in integers
      assert(counts(s"s$s") == expected.toLong, s"stratum s$s size $n")
    }
  }

  test("Scd2: intervals chain per key and exactly one current version") {
    val rnd = new scala.util.Random(13)
    val changes = (0 until 200).map { i =>
      val key = rnd.nextInt(20).toLong
      val ts = new java.sql.Timestamp(1700000000000L + rnd.nextInt(1000000) * 1000L)
      (key, ts, i.toLong, rnd.nextDouble())
    }.toDF("user_id", "ts", "event_id", "value")
    val hist = Scd2.buildHistory(changes, "user_id", "ts", "event_id", Seq("value"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3), r.getInt(4)))
    hist.groupBy(_._1).foreach { case (_, rows) =>
      val byVersion = rows.sortBy(_._2)
      assert(byVersion.map(_._2).toSeq == (1 to rows.length), "versions are 1..n")
      byVersion.sliding(2).foreach {
        case Array(a, b) => assert(a._4 == b._3, "valid_to must chain to next valid_from")
        case _ => ()
      }
      assert(rows.count(_._5 == 1) == 1, "exactly one current version per key")
      assert(byVersion.last._4 == Scd2.OpenEnd, "current version is open-ended")
    }
  }

  test("Scd2.snapshotAsOf: exactly one row per key existing at the cutoff; none after") {
    val rnd = new scala.util.Random(13)
    val changes = (0 until 200).map { i =>
      val key = rnd.nextInt(20).toLong
      val ts = new java.sql.Timestamp(1700000000000L + rnd.nextInt(1000000) * 1000L)
      (key, ts, i.toLong, rnd.nextDouble())
    }.toDF("user_id", "ts", "event_id", "value")
    val hist = Scd2.buildHistory(changes, "user_id", "ts", "event_id", Seq("value"))
    // cutoff inside the change range: each key's snapshot row is the last
    // version that started at-or-before the cutoff
    val cutoff = "2023-11-20 00:00:00" // ~mid-range of base + [0, 1e6) seconds
    val snap = Scd2.snapshotAsOf(hist, cutoff)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3)))
    assert(snap.nonEmpty, "cutoff must fall inside the generated range")
    assert(snap.map(_._1).distinct.length == snap.length, "one row per key")
    snap.foreach { case (_, _, from, to) =>
      assert(from <= cutoff && cutoff < to, "interval must contain the cutoff")
    }
    // agrees with the brute-force per-key computation from raw changes
    val expect = changes.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
      .filter { case (_, ts, _) =>
        new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss").format(ts) <= cutoff }
      .groupBy(_._1).keys.toSet
    assert(snap.map(_._1).toSet == expect)
  }

  test("Scd2.temporalJoin: each probe hits exactly the version containing its ts") {
    val changes = Seq(
      (7L, java.sql.Timestamp.valueOf("2024-01-05 00:00:00"), 1L, 10.0),
      (7L, java.sql.Timestamp.valueOf("2024-01-10 00:00:00"), 2L, 20.0)
    ).toDF("user_id", "ts", "event_id", "value")
    val hist = Scd2.buildHistory(changes, "user_id", "ts", "event_id", Seq("value"))
    val probes = Seq(
      (100L, 7L, java.sql.Timestamp.valueOf("2024-01-03 00:00:00")), // before v1
      (101L, 7L, java.sql.Timestamp.valueOf("2024-01-07 00:00:00")), // in v1
      (102L, 7L, java.sql.Timestamp.valueOf("2024-01-10 00:00:00")), // boundary -> v2
      (103L, 7L, java.sql.Timestamp.valueOf("2024-02-01 00:00:00")), // open end -> v2
      (104L, 8L, java.sql.Timestamp.valueOf("2024-01-07 00:00:00"))  // unknown key
    ).toDF("event_id", "user_id", "ts")
    val out = Scd2.temporalJoin(hist, probes, "user_id", "ts")
      .select(probes("event_id"), hist("version"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(101L -> 1, 102L -> 2, 103L -> 2)) // 100/104 match nothing
  }

  test("SkippingIndex: narrow range reads strictly fewer files; result equals full scan") {
    import graft.operators.SkippingIndex
    val dir = java.nio.file.Files.createTempDirectory("graft_skip_test").toString
    sources.Tables(spark, "/root/testdata/sf0.001", "events")
      .repartitionByRange(8, col("ts"))
      .write.mode("overwrite").parquet(dir)
    val manifest = SkippingIndex.buildManifest(spark, dir, "ts")
    val total = manifest.count()
    assert(total == 8L)
    val (lo, hi) = ("2024-01-10 00:00:00", "2024-01-15 00:00:00")
    val hit = SkippingIndex.overlappingFiles(manifest, lo, hi)
    assert(hit.nonEmpty && hit.length < total,
      s"range layout must let the 5-day query skip files: ${hit.length}/$total")
    val pruned = SkippingIndex.prunedRangeRead(spark, dir, manifest, "ts", lo, hi)
      .agg(count(lit(1))).head.getLong(0)
    val full = spark.read.parquet(dir)
      .filter(col("ts").between(lit(lo).cast("timestamp"), lit(hi).cast("timestamp")))
      .agg(count(lit(1))).head.getLong(0)
    assert(pruned == full && full > 0)
    // a range outside every file's stats reads nothing and returns empty
    assert(SkippingIndex.prunedRangeRead(spark, dir, manifest, "ts",
      "2030-01-01 00:00:00", "2030-01-02 00:00:00").count() == 0)
  }

  test("histogramQuantilesSharded == direct sketch on skewed multi-shard data") {
    val df = ((1L to 500L).map(v => (v, "a")) ++ (1L to 300L).map(_ => (7L, "b")) ++
      (1L to 10L).map(v => (9000L + v, "c"))).toDF("cents", "shard")
    val direct = Analytics.histogramQuantiles(df, col("cents"), nBins = 16,
      probsPct = Seq(10, 50, 99)).collect().map(_.toSeq).toSet
    val merged = Analytics.histogramQuantilesSharded(df, col("cents"), nBins = 16,
      probsPct = Seq(10, 50, 99), shardCol = "shard").collect().map(_.toSeq).toSet
    assert(direct == merged)
    assert(direct.nonEmpty)
  }

  test("percentileBandTrim keeps exactly floor(hi*n/100) - floor(lo*n/100) rows per stratum") {
    val rnd = new scala.util.Random(23)
    val sizes = Seq(1, 7, 50, 83, 100)
    val df = sizes.zipWithIndex.flatMap { case (n, s) =>
      (0 until n).map(i => (s.toLong * 1000 + i, s"s$s", rnd.nextInt(1000).toLong))
    }.toDF("id", "lang", "v")
    val counts = Sampling.percentileBandTrim(df, "id", "lang", "v", 10, 90)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes.zipWithIndex.foreach { case (n, s) =>
      // rn*100 > 10n  ⇔ rn > floor(n/10);  rn*100 <= 90n ⇔ rn <= floor(9n/10)
      val expected = (9 * n / 10) - (n / 10)
      assert(counts.getOrElse(s"s$s", 0L) == expected.toLong, s"stratum s$s size $n")
    }
  }

  test("minhashLsh output equals the exact jaccard pair set on random corpora") {
    // P(band miss at j >= 0.7) ~ 2e-6 per pair: deterministic given the seed
    for (seed <- Seq(3L, 5L)) {
      val docs = randomDocs(seed, n = 40, vocab = 12, len = 30)
        .union(randomDocs(seed, n = 10, vocab = 12, len = 30)
          .withColumn("doc_id", col("doc_id") + 100)) // planted exact dups of 0-9
      val lsh = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.7)
        .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = Dedup.ngramJaccard(docs, "doc_id", "text", minJaccard = 0.7)
        .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(lsh == exact, s"seed $seed: LSH pair set must equal the exact set")
      assert(exact.nonEmpty, "planted duplicates must appear")
    }
  }

  test("minhashLshMultiConfig re-banding equals three independent minhashLsh runs") {
    // x505's contract: the shared 192-hash signature frame re-banded per
    // layout must produce EXACTLY the pair counts of full per-layout runs —
    // banding is a pure regrouping of signature elements, so any divergence
    // is a re-banding indexing bug, not sampling noise.
    val layouts = Seq((96, 2), (64, 3), (48, 4))
    for (seed <- Seq(11L, 17L)) {
      val docs = randomDocs(seed, n = 40, vocab = 12, len = 30)
        .union(randomDocs(seed, n = 10, vocab = 12, len = 30)
          .withColumn("doc_id", col("doc_id") + 100)) // planted exact dups of 0-9
      val multi = Dedup.minhashLshMultiConfig(docs, "doc_id", "text", layouts,
          threshold = 0.7)
        .collect().map(r => ((r.getLong(0).toInt, r.getLong(1).toInt), r.getLong(2))).toMap
      layouts.foreach { case (b, r) =>
        val single = Dedup.minhashLsh(docs, "doc_id", "text",
          numBands = b, rowsPerBand = r, threshold = 0.7).count()
        assert(multi((b, r)) == single,
          s"seed $seed layout ${b}x$r: re-banded count ${multi((b, r))} != full-run $single")
        assert(single > 0, s"seed $seed layout ${b}x$r: planted dups must appear")
      }
    }
  }

  test("crossDocSubstringRuns finds a planted 60-token cross-doc duplication exactly") {
    // All tokens distinct across regions, so the ONLY shared k-windows are
    // the 41 fully inside the planted 60-token run — each doc reports one
    // maximal run of exactly 41 + k - 1 = 60 tokens, at DIFFERENT offsets
    // (10 vs 7), which line-aligned chunk hashing cannot line up.
    val shared = (1 to 60).map(i => s"s$i")
    val docA = ((1 to 10).map(i => s"a$i") ++ shared ++ (1 to 15).map(i => s"e$i")).mkString(" ")
    val docB = ((1 to 7).map(i => s"b$i") ++ shared ++ (1 to 3).map(i => s"c$i")).mkString(" ")
    val docC = (1 to 80).map(i => s"z$i").mkString(" ") // no overlap
    val docs = Seq((1L, docA), (2L, docB), (3L, docC)).toDF("doc_id", "text")
    val census = Dedup.crossDocSubstringRuns(docs, "doc_id", "text", k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(census.toSeq == Seq((60L, 2L, 2L)),
      s"expected one 60-token run in each of 2 docs, got ${census.toSeq}")

    // a run shorter than k stays invisible: 19 shared tokens -> no window
    val short = (1 to 19).map(i => s"s$i")
    val d2 = Seq(
      (1L, ((1 to 30).map(i => s"a$i") ++ short).mkString(" ")),
      (2L, (short ++ (1 to 30).map(i => s"c$i")).mkString(" "))).toDF("doc_id", "text")
    assert(Dedup.crossDocSubstringRuns(d2, "doc_id", "text", k = 20).count() == 0,
      "sub-k shared runs must not appear")
  }

  test("substringDecontaminate reports the planted eval->train leak and nothing else") {
    val leak = (1 to 30).map(i => s"s$i") // 30-token verbatim run
    val evalDoc = ((1 to 5).map(i => s"a$i") ++ leak ++ (1 to 8).map(i => s"e$i")).mkString(" ")
    val trainHit = ((1 to 12).map(i => s"b$i") ++ leak ++ (1 to 4).map(i => s"c$i")).mkString(" ")
    val trainClean = (1 to 60).map(i => s"z$i").mkString(" ")
    val evalClean = (1 to 40).map(i => s"y$i").mkString(" ")
    // eval docs: 0 (leaky) and 7 (clean); train docs: 1 (hit), 2 (clean)
    val docs = Seq((0L, evalDoc), (7L, evalClean), (1L, trainHit), (2L, trainClean))
      .toDF("doc_id", "text")
    val out = Dedup.substringDecontaminate(docs, "doc_id", "text",
        isEval = pmod(col("doc_id"), lit(7)) === 0, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 1L, 30L)),
      s"expected doc 0 leaking a 30-token run to exactly 1 train doc, got ${out.toSeq}")
    // two train docs sharing text with each OTHER is not eval contamination
    val trainOnly = Seq((1L, trainHit), (2L, trainHit), (7L, evalClean))
      .toDF("doc_id", "text")
    assert(Dedup.substringDecontaminate(trainOnly, "doc_id", "text",
      isEval = pmod(col("doc_id"), lit(7)) === 0, k = 20).count() == 0)
  }

  test("prefixFilterJaccard equals the uncapped exact join (zero false negatives)") {
    for (seed <- Seq(7L, 19L)) {
      val docs = randomDocs(seed, n = 40, vocab = 8, len = 25)
        .union(randomDocs(seed, n = 10, vocab = 8, len = 25)
          .withColumn("doc_id", col("doc_id") + 100)) // planted exact dups
      val pf = Dedup.prefixFilterJaccard(docs, "doc_id", "text", threshold = 0.5)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val exact = Dedup.ngramJaccard(docs, "doc_id", "text", minJaccard = 0.5,
          maxDf = Int.MaxValue)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(pf == exact, s"seed $seed: prefix-filter must equal the exact join")
      assert(exact.nonEmpty, "planted duplicates must appear")
    }
  }

  test("ngramJaccard: df-capped output is a subset of the uncapped output") {
    // tiny vocab => hot shingles with df far above the cap, so the cap binds
    for (seed <- Seq(29L, 31L)) {
      val docs = randomDocs(seed, n = 40, vocab = 4, len = 20)
      def pairs(cap: Int) =
        Dedup.ngramJaccard(docs, "doc_id", "text", minJaccard = 0.2, maxDf = cap)
          .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val uncapped = pairs(Int.MaxValue)
      val capped = pairs(5)
      assert(uncapped.nonEmpty, "low threshold + tiny vocab must produce pairs")
      assert(capped.subsetOf(uncapped),
        s"seed $seed: capping drops shared shingles, so jaccard can only fall")
      assert(capped != uncapped, s"seed $seed: cap 5 must actually bind on a df>5 corpus")
    }
  }

  test("dedup pipeline end-to-end: no two retained docs are near-dups") {
    // the x24 composite (pairs -> clusters -> retain best): re-running
    // minhash over the retained subset must find nothing — catches
    // cluster-merge regressions no single-operator oracle sees
    val docs = randomDocs(37L, n = 40, vocab = 12, len = 30)
      .union(randomDocs(37L, n = 15, vocab = 12, len = 30)
        .withColumn("doc_id", col("doc_id") + 100)) // planted dups of 0-14
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.7)
    assert(pairs.count() >= 15, "planted dup pairs must be found")
    val clusters = Dedup.dupClusters(pairs, iterations = 3)
    val retained = Dedup.retainBest(docs, "doc_id", length(col("text")).cast("double"), clusters)
    val docsRetained = docs.join(retained, "doc_id")
    val residual = Dedup.minhashLsh(docsRetained, "doc_id", "text", threshold = 0.7)
    assert(residual.count() == 0, "retained set must contain no near-dup pair")
  }

  test("incrementalDedup: planted corpus dups are counted, novel delta docs score 0") {
    val corpus = randomDocs(43L, n = 30, vocab = 12, len = 30)
    // delta: ids 100-104 duplicate corpus docs 0-4; ids 105-109 are novel
    val dupDelta = randomDocs(43L, n = 5, vocab = 12, len = 30)
      .withColumn("doc_id", col("doc_id") + 100)
    val novelDelta = randomDocs(99L, n = 5, vocab = 12, len = 30)
      .withColumn("doc_id", col("doc_id") + 105)
    val out = Dedup.incrementalDedup(corpus, dupDelta.union(novelDelta), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 10, "one row per delta doc")
    (100L to 104L).foreach(id =>
      assert(out(id) >= 1, s"planted dup $id must match its corpus twin"))
    // novel docs drawn from a different seed may collide by chance in a tiny
    // vocab; require at least that the planted dups dominate
    assert((100L to 104L).map(out).sum > (105L to 109L).map(out).sum,
      "planted dups must out-score novel docs")
  }

  test("connectedComponents merges long chains a fixed round count cannot") {
    import spark.implicits._
    // a 9-node path (diameter 8): dupClusters(3) under-merges it by design,
    // the convergence loop must label every node with the component min
    val pairs = (1L to 8L).map(i => (i, i + 1, 1.0)).toDF("d1", "d2", "jaccard")
    val full = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full == (1L to 9L).map(_ -> 1L).toMap, "one component labeled by its min id")
    val bounded = Dedup.dupClusters(pairs, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bounded.values.toSet.size > 1, "3 rounds must under-merge the 9-path (sanity)")
    // two components stay separate
    val two = Dedup.connectedComponents(
      Seq((1L, 2L, 1.0), (5L, 6L, 1.0)).toDF("d1", "d2", "jaccard"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("lineDedup drops shared chunks everywhere, keeps unique ones, conserves chunk counts") {
    import spark.implicits._
    // docs 1 and 2 share an aligned 3-token chunk ("a b c"); doc 3 is unique
    val docs = Seq(
      (1L, "a b c x y z"), (2L, "a b c p q r"), (3L, "u v w m n o"))
      .toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "doc_id", "text", lineTokens = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == (2L, 1L, 3L), "doc 1: 2 chunks, shared 'a b c' dropped")
    assert(out(2L) == (2L, 1L, 3L))
    assert(out(3L) == (2L, 2L, 6L), "doc 3 keeps everything")
  }

  private def randomEvents(seed: Long, n: Int, users: Int) = {
    val rnd = new scala.util.Random(seed)
    val types = Seq("signup", "click", "purchase", "view")
    (0L until n.toLong).map { i =>
      (i, rnd.nextInt(users).toLong,
        java.sql.Timestamp.valueOf(f"2024-01-${1 + rnd.nextInt(28)}%02d " +
          f"${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d"),
        types(rnd.nextInt(types.length)), 1.0 + rnd.nextInt(100))
    }.toDF("event_id", "user_id", "ts", "event_type", "value")
  }

  test("funnel: stage counts are monotonically non-increasing on random streams") {
    for (seed <- Seq(11L, 12L)) {
      val ev = randomEvents(seed, 400, 25)
      val r = Analytics.funnel(ev, "user_id", "ts", "event_type",
        "signup", "click", "purchase").collect().head
      val (s1, s2, s3) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(s1 >= s2 && s2 >= s3, s"funnel must narrow: $s1 >= $s2 >= $s3")
      assert(s1 <= 25, "stage 1 bounded by user count")
    }
  }

  test("cohortRetention: offset-0 cells cover every user exactly once") {
    val ev = randomEvents(21L, 400, 30)
    val out = Analytics.cohortRetention(ev, "user_id", "ts").collect()
    assert(out.forall(_.getInt(1) >= 0), "no negative week offsets")
    val week0Total = out.filter(_.getInt(1) == 0).map(_.getLong(2)).sum
    val nUsers = ev.select("user_id").distinct().count()
    assert(week0Total == nUsers, "every user is active in their own cohort week")
  }

  test("gapFill: spine is dense per user and filled_value is never null") {
    val ev = randomEvents(31L, 300, 12)
    val out = Analytics.gapFillForwardFill(ev, "user_id", "ts", "event_id", "value")
    val perUser = out.groupBy("user_id")
      .agg(count(lit(1)).as("n"), min("day").as("d0"), max("day").as("d1"),
        sum(col("filled_value").isNull.cast("int")).as("n_null"))
      .collect()
    perUser.foreach { r =>
      val expected = java.time.temporal.ChronoUnit.DAYS.between(
        r.getDate(2).toLocalDate, r.getDate(3).toLocalDate) + 1
      assert(r.getLong(1) == expected, "one row per calendar day in the user's range")
      assert(r.getLong(4) == 0L, "forward fill leaves no nulls (first day has an event)")
    }
  }

  test("coOccurrenceLift: pair support never exceeds either type's user count") {
    val ev = randomEvents(41L, 500, 20)
    val ut = ev.select("user_id", "event_type").distinct()
    val typeCounts = ut.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Analytics.coOccurrenceLift(ev, "user_id", "event_type").collect().foreach { r =>
      val (t1, t2, both) = (r.getString(0), r.getString(1), r.getLong(2))
      assert(t1 < t2, "pairs are canonically ordered")
      assert(both <= math.min(typeCounts(t1), typeCounts(t2)))
    }
  }

  test("pageRank: mass bound holds and sourceless nodes sit exactly at the base rank") {
    val rnd = new scala.util.Random(51)
    val edges = (1 to 60).map(_ => (s"n${rnd.nextInt(12)}", s"n${rnd.nextInt(12)}"))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val r0 = 1000000L
    val ranks = Graph.pageRank(edges, 3, r0 = r0).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = ranks.size
    assert(ranks.values.sum <= n * r0, "damped total never exceeds initial mass")
    val base = r0 / 100 * 15
    assert(ranks.values.forall(_ >= base), "every node keeps at least the teleport base")
    val dsts = edges.select("dst").distinct().collect().map(_.getString(0)).toSet
    ranks.foreach { case (v, r) =>
      if (!dsts.contains(v)) assert(r == base, s"no-inbound node $v must be exactly base")
    }
  }

  test("rebalanceToUniform: the smallest group keeps everything; others shrink toward it") {
    val rnd = new scala.util.Random(61)
    val df = (0L until 600L).map { i =>
      (i, if (i < 40) "small" else if (rnd.nextBoolean()) "big_a" else "big_b")
    }.toDF("doc_id", "grp")
    val out = Sampling.rebalanceToUniform(df, "doc_id", "grp")
      .groupBy("grp").agg(
        count(lit(1)).as("n"),
        sum(col("kept").cast("int")).as("kept"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // draw mod n_min < n_min is always true → the floor group is untouched
    assert(out("small") == ((40L, 40L)))
    for (g <- Seq("big_a", "big_b")) {
      val (n, kept) = out(g)
      assert(kept < n, s"$g must shrink")
      // kept/n concentrates near n_min/n: allow generous hash variance
      assert(math.abs(kept - 40L) < 25, s"$g kept $kept, expected ≈40")
    }
  }

  test("leakageSafeSplit: a group's split never moves when the corpus grows (cross-SF)") {
    import graft.operators.{Curation, PortableHash}
    def assignments(sf: String): Map[String, Long] =
      sources.Tables(spark, s"/root/testdata/sf$sf", "documents")
        .select(col("source"),
          (PortableHash.hash60(col("source")) % 100).as("draw"))
        .distinct().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val small = assignments("0.001"); val big = assignments("0.1")
    assert(small.nonEmpty && small.keySet.subsetOf(big.keySet))
    small.foreach { case (src, draw) =>
      assert(big(src) == draw, s"$src draw moved between corpora")
    }
    // and the manifest itself is consistent with those draws at both SFs
    val manifest = Curation.leakageSafeSplit(
      sources.Tables(spark, "/root/testdata/sf0.1", "documents"),
      "source", "n_chars").collect()
    assert(manifest.map(_.getLong(1)).sum == big.size.toLong)
  }

  test("mergeIndexDelta composes: three-way incremental merge == full rebuild") {
    import graft.operators.TextAnalysis
    val docs = sources.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val cap = 7
    def idx(lo: Long, hi: Long) = TextAnalysis.invertedIndex(
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
      "doc_id", "text", maxPostings = cap)
    val merged = TextAnalysis.mergeIndexDelta(
      TextAnalysis.mergeIndexDelta(idx(0, 150), idx(150, 350), cap),
      idx(350, 1000), cap)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getSeq[Long](2)))).toMap
    val rebuilt = TextAnalysis.invertedIndex(docs, "doc_id", "text", maxPostings = cap)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getSeq[Long](2)))).toMap
    assert(merged == rebuilt, "incremental maintenance must compose across batches")
  }

  test("retainTopM(1) == retainBest, and retainTopM(2) ⊇ retainBest with a binding cap") {
    import graft.operators.{Dedup, TextAnalysis}
    val d = sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val pairs = Dedup.minhashLsh(d, "doc_id", "text", threshold = 0.7)
    val clusters = Dedup.dupClusters(pairs, iterations = 3).cache()
    val score = TextAnalysis.qualityScore(col("text"))
    val best = Dedup.retainBest(d, "doc_id", score, clusters)
      .collect().map(_.getLong(0)).toSet
    val top1 = Dedup.retainTopM(d, "doc_id", score, clusters, m = 1)
      .collect().map(_.getLong(0)).toSet
    val top2 = Dedup.retainTopM(d, "doc_id", score, clusters, m = 2)
      .collect().map(_.getLong(0)).toSet
    assert(top1 == best, "m=1 must reduce to retainBest")
    assert(best.subsetOf(top2), "raising the cap only adds docs")
    assert(top2.size > best.size, "some cluster has a second member to keep")
    assert(top2.size < d.count(), "the cap binds: some cluster loses a member")
  }

  test("prefixNovelty: novelty bounded by shingle count; every shingle novel exactly once") {
    val docs = randomDocs(23L, n = 40, vocab = 6, len = 12)
    val rows = Dedup.prefixNovelty(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.foreach { case (id, nSh, nNov) =>
      assert(nNov >= 0 && nNov <= nSh, s"doc $id: novelty $nNov not in [0, $nSh]")
    }
    // each distinct shingle is owned by exactly its first doc ⇒ the novelty
    // column partitions the global shingle vocabulary
    val globalDistinct = Dedup.shingleHashRows(docs, "doc_id", "text", 3)
      .select("sh").distinct().count()
    assert(rows.map(_._3).sum == globalDistinct,
      "sum of per-doc novelty must equal the corpus-wide distinct shingle count")
    assert(rows.length == 40, "every doc reports, including zero-shingle docs")
  }

  test("simhashPairs finds every pair within the hamming bound (pigeonhole completeness)") {
    val docs = randomDocs(17L, n = 30, vocab = 10, len = 25)
      .union(randomDocs(17L, n = 8, vocab = 10, len = 25)
        .withColumn("doc_id", col("doc_id") + 100))
    val found = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3,
      wordHash = Dedup.portableWordHash, numBits = 60, numBands = 4)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical docs have identical fingerprints → hamming 0: must all be found
    (0L until 8L).foreach { i =>
      assert(found.contains((i, i + 100)), s"identical pair ($i, ${i + 100}) missed")
    }
  }

  test("largestRemainderAllocation: conservation holds for every k (property sweep)") {
    import graft.operators.Sampling
    // deterministic pseudo-random stratum sizes; Σalloc must equal k EXACTLY
    // for every budget — the Hamilton guarantee proportional rounding lacks
    val rows = (1 to 200).map(i => s"s${(i * 7919) % 13}").toDF("s")
    for (k <- Seq(1L, 7L, 13L, 100L, 199L, 200L, 1000L)) {
      val total = Sampling.largestRemainderAllocation(rows, "s", k)
        .agg(org.apache.spark.sql.functions.sum("alloc")).head.getLong(0)
      assert(total == k, s"k=$k allocated $total")
    }
  }

  test("systematicPpsSample: pick count is exactly total DIV stride (property sweep)") {
    import graft.operators.Sampling
    // every stride multiple in (0, total] is crossed exactly once by the
    // strictly-increasing cumulative axis → |picks| = total DIV stride
    val df = (1L to 300L).map(i => (i, (i * 31) % 17 + 1)).toDF("id", "w")
    val total = df.agg(org.apache.spark.sql.functions.sum("w")).head.getLong(0)
    for (n <- Seq(1L, 5L, 37L, 100L)) {
      val stride = total / n
      val picks = Sampling.systematicPpsSample(df, "id", "w", n).count()
      assert(picks == total / stride, s"n=$n: $picks picks, expected ${total / stride}")
    }
  }

  test("kCore: prunes the tail, keeps the clique, and reports convergence") {
    import graft.operators.Graph
    // K4 (every degree 3) with a pendant chain 4-5-6: the 2-core is exactly
    // the clique — the chain unravels over two rounds
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val out = Graph.kCore(edges, k = 2, rounds = 4).head
    assert(out.getLong(0) == 6L, s"the K4's 6 edges must survive: $out")
    assert(out.getInt(3) == 1, s"4 rounds must reach the fixed point: $out")
  }

  test("kCore: a still-pruning final round reports converged=0 (r12 fused last round)") {
    import graft.operators.Graph
    // path 1-2-3-4: round 1 prunes both pendant edges, so a 1-round run's
    // LAST round pruned something — the fused final-round aggregate must
    // report the in-progress state exactly like the old count-delta did
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val one = Graph.kCore(path, k = 2, rounds = 1).head
    assert(one.getLong(0) == 1L && one.getInt(3) == 0,
      s"round 1 keeps only 2-3 and must flag non-convergence: $one")
    // two rounds reach the empty fixed point via a round that still prunes
    val two = Graph.kCore(path, k = 2, rounds = 2).head
    assert(two.getLong(0) == 0L && two.getInt(3) == 0,
      s"round 2 prunes 2-3 (last round still pruned): $two")
    // three rounds: the last round prunes nothing — converged
    val three = Graph.kCore(path, k = 2, rounds = 3).head
    assert(three.getLong(0) == 0L && three.getInt(3) == 1,
      s"round 3 is a no-op on the empty core: $three")
  }

  test("timedFunnel: every stage count is bounded by the untimed funnel's") {
    import graft.operators.Analytics
    val events = sources.Tables(spark, "/root/testdata/sf0.001", "events")
    val untimed = Analytics.funnel(events, "user_id", "ts", "event_type",
      "signup", "click", "purchase").head
    val timed = Analytics.timedFunnel(events, "user_id", "ts", "event_type",
      "signup", "click", "purchase", maxGapSeconds = 86400L).head
    assert(timed.getLong(0) == untimed.getLong(0),
      "stage 1 has no deadline — counts must match")
    assert(timed.getLong(1) <= untimed.getLong(1) &&
      timed.getLong(2) <= untimed.getLong(2),
      s"deadlines can only shrink later stages: $timed vs $untimed")
    assert(timed.getLong(1) >= timed.getLong(2),
      "funnel stages must be monotone non-increasing")
  }

  test("positionalAttribution: credit conserves exactly — Σbps = 10000 · conversions") {
    import graft.operators.Analytics
    val events = sources.Tables(spark, "/root/testdata/sf0.001", "events")
    val out = Analytics.positionalAttribution(events,
      "user_id", "ts", "event_id", "event_type", convType = "purchase")
    val total = out.agg(org.apache.spark.sql.functions.sum("bps_total"))
      .head.getLong(0)
    val nConv = events.filter(col("event_type") === "purchase").count()
    assert(total == 10000L * nConv,
      s"Σbps $total != 10000 * $nConv — positional split leaks credit")
  }

  test("decileLift: deciles are equal-depth ±1 and user/conversion counts conserve") {
    import graft.operators.Analytics
    val events = sources.Tables(spark, "/root/testdata/sf0.001", "events")
    val perUser = events.filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("score"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
    val rows = Analytics.decileLift(perUser, "user_id", "score", "conv")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = perUser.count()
    val c = perUser.agg(sum("conv")).head.getLong(0)
    assert(rows.map(_._2).sum == n, "user counts must conserve")
    assert(rows.map(_._3).sum == c, "conversion counts must conserve")
    val sizes = rows.map(_._2)
    assert(sizes.max - sizes.min <= 1, s"deciles must be equal-depth ±1: ${sizes.toSeq}")
  }

  test("labelNoiseAudit: LSH-candidate vote flags the IDENTICAL set as all-pairs brute force") {
    import graft.operators.Similarity
    // certifies the x167 scale path loses nothing on the real test corpus:
    // the wide-recall band shape (VoteBands×VoteRowsPerBand) captures every
    // probe's exact top-5, so candidate restriction changes the PLAN
    // (bucket-bounded equi-joins, no nested loop) and not the ANSWER
    val emb = sources.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val lsh = Similarity.labelNoiseAudit(emb, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    val brute = Similarity.labelNoiseAuditBrute(emb, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(lsh == brute,
      s"flag sets diverge: lsh-only=${(lsh -- brute).take(5)} brute-only=${(brute -- lsh).take(5)}")
    assert(lsh.nonEmpty, "vote produced no flags — vacuous certification")
  }

  test("lowerMedianByValue: equals the row-ranked lower median for random multisets") {
    import graft.operators.Analytics
    // the value-collapsed cumulative rank must agree with sorting raw rows
    // and indexing at (n+1) DIV 2 — for every group, including heavy ties
    val rnd = new scala.util.Random(29)
    val rows = (0 until 500).map(i => (s"g${i % 7}", rnd.nextInt(12).toLong))
    val df = rows.toDF("grp", "v")
    val got = Analytics.lowerMedianByValue(df, Seq("grp"), "v")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val sorted = rs.map(_._2).sorted
      val expect = sorted((sorted.size + 1) / 2 - 1)
      assert(got(g) == (expect, sorted.size.toLong), s"group $g")
    }
    val (gv, gn) = Analytics.lowerMedianByValue(df, Nil, "v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    val all = rows.map(_._2).sorted
    assert((gv, gn) == (all((all.size + 1) / 2 - 1), all.size.toLong), "global median")
  }

  test("two-phase prefix sums are partitioning-invariant (ABC + KS at 2/5/32 partitions)") {
    // the docstring claim under test: results depend only on the total
    // order, never on where repartitionByRange boundaries land
    val rnd = new scala.util.Random(77)
    val df = (1L to 500L).map(i => (i, 100L + rnd.nextInt(5000).toLong))
      .toDF("k", "cents")
    val armed = df.withColumn("a", pmod(col("k"), lit(2)))
    def run(): (Seq[Row2], Seq[Row2]) = {
      val abc = Analytics.abcClassification(df, "k", col("cents"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val ks = Analytics.ksDistance(armed, col("a"), col("cents"))
        .collect().map(r => (r.getLong(2).toString, r.getLong(3))).toSeq
      (abc, ks)
    }
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val results = try {
      Seq("2", "5", "32").map { p =>
        spark.conf.set("spark.sql.shuffle.partitions", p); run()
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert(results.distinct.size == 1,
      s"partitioning changed the answer: $results")
  }
  private type Row2 = (String, Long)

  test("categoricalMixDrift: L1 distance bounded by 2e6; category count constant") {
    val rnd = new scala.util.Random(23)
    val df = (0 until 400).map { _ =>
      (1 + rnd.nextInt(6), s"c${rnd.nextInt(5)}")
    }.toDF("p", "cat")
    val rows = Analytics.categoricalMixDrift(df, "p", "cat").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val l1 = r.getLong(1)
      assert(l1 >= 0 && l1 <= 2000000L, s"L1 $l1 out of [0, 2e6]")
      assert(r.getLong(2) == 5L, "spine must hold every category every period")
    }
  }

  test("decileMigration: matrix total = customers present in both years; deciles in [1,10]") {
    val rnd = new scala.util.Random(31)
    // 80 customers in year 1, a random ~half also active in year 2
    val y1 = (0 until 80).map(i => (i.toLong, "2021-03-01", (rnd.nextInt(900) + 100).toLong * 100))
    val y2 = (0 until 80).filter(_ => rnd.nextBoolean())
      .map(i => (i.toLong, "2022-03-01", (rnd.nextInt(900) + 100).toLong * 100))
    val df = (y1 ++ y2).toDF("cust", "d", "cents")
    val both = y2.map(_._1).toSet.intersect(y1.map(_._1).toSet).size
    val rows = Analytics.decileMigration(df, "cust", "d", col("cents")).collect()
    assert(rows.map(_.getLong(2)).sum == both.toLong,
      "every both-years customer lands in exactly one matrix cell")
    rows.foreach { r =>
      assert(r.getInt(0) >= 1 && r.getInt(0) <= 10)
      assert(r.getInt(1) >= 1 && r.getInt(1) <= 10)
    }
  }

  test("blockingQualityAudit: verified-candidate count equals the exact uncapped pair count") {
    // zero-false-negative property on random docs: the prefix-filter
    // candidates, verified, must find EVERY pair ngramJaccard (no cap) finds
    val docs = randomDocs(seed = 43, n = 60, vocab = 12, len = 12)
    val exact = Dedup.ngramJaccard(docs, "doc_id", "text",
      minJaccard = 0.7, maxDf = Int.MaxValue).count()
    val r = Dedup.blockingQualityAudit(docs, "doc_id", "text").collect().head
    assert(r.getAs[Long]("n_true_pairs") == exact)
    assert(r.getAs[Long]("n_candidate_pairs") <= r.getAs[Long]("n_possible_pairs"))
    assert(r.getAs[Long]("n_true_pairs") <= r.getAs[Long]("n_candidate_pairs"))
    assert(r.getAs[Long]("completeness_ppm") == 1000000L)
  }

  test("mmrRerank: ranks 1..k over distinct ids; rank 1 is the relevance argmax; scores never rise") {
    val e = sources.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val rows = graft.operators.Similarity.mmrRerank(e, q)
      .orderBy("rank").collect()
    assert(rows.map(_.getAs[Int]("rank")).toSeq == (1 to 5))
    assert(rows.map(_.getAs[Long]("vec_id")).distinct.length == 5)
    val top1 = graft.operators.Similarity.bruteForceTopK(e, q, 1)
      .collect().head.getLong(0)
    assert(rows.head.getAs[Long]("vec_id") == top1,
      "round 1 must pick the pure-relevance argmax")
    // greedy scores are non-increasing: each later pick maximized a set
    // that included everything the earlier pick left behind, minus a
    // penalty that can only grow as the selected set grows
    val scores = rows.map(_.getAs[Long]("mmr_score_micro")).toSeq
    assert(scores == scores.sorted.reverse, s"scores must be non-increasing: $scores")
  }

  test("x523 Mann-Whitney: midrank U equals the brute-force pairwise superiority count") {
    // U = #(a > b) + ties/2, so u_x2 must equal 2·#(a > b) + #(a = b); the
    // rank formulation is the scale path, the pair join is the oracle here.
    val sf = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("x523_mann_whitney_auc")(spark, sf).collect().head
    val v = sources.Tables(spark, sf, "orders")
      .join(sources.Tables(spark, sf, "customer"), col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin("AUTOMOBILE", "BUILDING") &&
        col("o_totalprice").isNotNull)
      .select(col("c_mktsegment").as("seg"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"))
    val a = v.filter(col("seg") === "AUTOMOBILE").select(col("v").as("va"))
    val b = v.filter(col("seg") === "BUILDING").select(col("v").as("vb"))
    val pair = a.crossJoin(b)
      .agg(sum(when(col("va") > col("vb"), 2L)
        .when(col("va") === col("vb"), 1L).otherwise(0L)).as("u2"))
      .collect().head.getLong(0)
    assert(r.getAs[Long]("u_auto_x2") == pair)
    assert(r.getAs[Long]("n_auto") > 0 && r.getAs[Long]("n_build") > 0)
  }

  test("x524 Fano factor: constant daily counts give zero dispersion; a spike is super-Poisson") {
    val ev = ((1 to 10).map(d => ("flat", f"2024-01-$d%02d", 5)) ++
      (1 to 10).map(d => ("spiky", f"2024-01-$d%02d", if (d == 1) 46 else 0)))
      .flatMap { case (t, d, n) => Seq.fill(n)((t, d)) }
      .toDF("event_type", "d")
      .select(col("event_type"), to_timestamp(col("d")).as("ts"))
    // run the same collapse the query does, via a temp sfDir-free inline copy:
    val days = ev.select(to_date(col("ts")).as("__d")).distinct()
    val types = ev.select(col("event_type")).distinct()
    val cell = ev.groupBy(col("event_type"), to_date(col("ts")).as("__d"))
      .agg(count(lit(1)).as("__n"))
    val out = days.crossJoin(broadcast(types))
      .join(cell, Seq("event_type", "__d"), "left")
      .select(col("event_type"), coalesce(col("__n"), lit(0L)).as("__x"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("__x").as("s"),
        sum(col("__x") * col("__x")).as("q"))
      .select(col("event_type"),
        expr("(n * q - s * s) * 1000 DIV ((n - 1) * s)").as("fano_milli"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("flat") == 0L, "deterministic cadence has zero variance")
    // spiky: mean 4.6, var = (10·2116 − 46²)/(9·46) → 46000/414 ≈ 111.11× mean
    assert(out("spiky") == (10L * 2116 - 46L * 46) * 1000 / (9L * 46))
    assert(out("spiky") > 1000L, "a one-day spike is super-Poisson")
  }

  test("kaplanMeier: survival is non-increasing, in [0, 1e6], for random life tables") {
    val rnd = new scala.util.Random(17)
    var remaining = 500L
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var lag = 0L
    while (remaining > 0 && lag < 40) {
      val d = math.min(remaining, rnd.nextInt(30).toLong)
      rows += ((lag, remaining, d))
      remaining -= d + math.min(remaining - d, rnd.nextInt(10).toLong)
      lag += 1 + rnd.nextInt(3)
    }
    val lt = rows.toSeq.toDF("lag_days", "n_at_risk", "n_converted")
    val s = Analytics.kaplanMeier(lt, "lag_days", "n_at_risk", "n_converted")
      .collect().map(_.getLong(3))
    assert(s.forall(v => v >= 0L && v <= 1000000L))
    assert(s.sliding(2).forall(p => p.length < 2 || p.head >= p.last),
      "survival must be non-increasing in lag order")
  }

  test("spearmanRho: bounded by ±1e6 and symmetric under argument swap (random frames)") {
    val rnd = new scala.util.Random(23)
    val a = (0 until 40).map(i => (s"k$i", rnd.nextInt(20).toLong)).toDF("k", "v")
    val b = (0 until 40).map(i => (s"k$i", rnd.nextInt(20).toLong)).toDF("k", "v")
    val r1 = Analytics.spearmanRho(a, b, "k", "v").collect().head.getLong(1)
    val r2 = Analytics.spearmanRho(b, a, "k", "v").collect().head.getLong(1)
    assert(math.abs(r1) <= 1000000L, s"rho $r1 out of range")
    // the floor-divided magnitudes agree; only intermediate rounding could
    // differ, and both sides use the same isqrt and sign-split, so exact
    assert(r1 == r2, s"rho must be symmetric: $r1 vs $r2")
  }

  test("quantileTreatmentEffect: per-arm quantiles are non-decreasing in p") {
    val rnd = new scala.util.Random(29)
    val df = (0 until 400).map(i => (i % 2, rnd.nextInt(100000).toLong))
      .toDF("arm", "v")
    val rows = Analytics.quantileTreatmentEffect(df, col("arm"), col("v"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(rows.map(_._2).sliding(2).forall(p => p.length < 2 || p.head <= p.last))
    assert(rows.map(_._3).sliding(2).forall(p => p.length < 2 || p.head <= p.last))
  }

  test("mannWhitneyU: arm-flip identity 2U_A + 2U_B = 2*nA*nB; z2/verdict flip-invariant; split-invariant") {
    val rnd = new scala.util.Random(31)
    val df = (0 until 500).map(_ =>
      (rnd.nextBoolean(), rnd.nextInt(40).toLong)).toDF("b", "v")
    def run(d: org.apache.spark.sql.DataFrame, flip: Boolean) =
      Analytics.mannWhitneyU(d, if (flip) !col("b") else col("b"), col("v"))
        .collect().head
    val a = run(df, flip = false)
    val b = run(df, flip = true)
    // U_A + U_B = n_A*n_B exactly (midranks partition the rank mass)
    assert(a.getLong(2) + b.getLong(2) == 2L * a.getLong(0) * a.getLong(1),
      s"rank-mass identity broke: $a vs $b")
    // D only flips sign: z2 and the verdict must match exactly
    assert(a.getLong(4) == b.getLong(4) && a.getString(5) == b.getString(5))
    // the two-phase prefix sum must not depend on physical splits
    val c = run(df.repartition(7), flip = false)
    assert(a.toSeq == c.toSeq, s"partitioning changed the answer: $a vs $c")
  }

  test("kruskalWallisH and friedmanTest: invariant under strictly increasing affine value maps") {
    val rnd = new scala.util.Random(37)
    val kw = (0 until 400).map(_ =>
      (s"g${rnd.nextInt(5)}", rnd.nextInt(30).toLong)).toDF("g", "v")
    val k1 = Analytics.kruskalWallisH(kw, col("g"), col("v")).collect().head
    val k2 = Analytics.kruskalWallisH(kw, col("g"), col("v") * 7L + 3L)
      .collect().head
    assert(k1.toSeq == k2.toSeq, "ranks ignore monotone rescaling")
    val fr = (for { b <- 0 until 8; t <- 0 until 4 }
      yield (s"b$b", s"t$t", rnd.nextInt(20).toLong)).toDF("b", "t", "v")
    val f1 = Analytics.friedmanTest(fr, "b", "t", col("v")).collect().head
    val f2 = Analytics.friedmanTest(fr, "b", "t", col("v") * 5L + 11L)
      .collect().head
    assert(f1.toSeq == f2.toSeq, "within-block ranks ignore monotone rescaling")
  }

  test("wilcoxonSignedRank: swap antisymmetry W2+(l,r) + W2+(r,l) = n(n+1); z2 swap-invariant") {
    val rnd = new scala.util.Random(41)
    val df = (0 until 300).map(_ =>
      (rnd.nextInt(100).toLong, rnd.nextInt(100).toLong)).toDF("l", "r")
    val a = Analytics.wilcoxonSignedRank(df, col("l"), col("r")).collect().head
    val b = Analytics.wilcoxonSignedRank(df, col("r"), col("l")).collect().head
    val n = a.getLong(0)
    assert(b.getLong(0) == n && a.getLong(1) == b.getLong(2)
      && a.getLong(2) == b.getLong(1), "swap exchanges the sign counts")
    assert(a.getLong(3) + b.getLong(3) == n * (n + 1),
      "doubled midranks partition the |d| rank mass")
    assert(a.getLong(4) == b.getLong(4) && a.getString(5) == b.getString(5))
  }

  test("dunnPosthoc: k(k-1)/2 pairs, every group in k-1 of them, BH rejection downward-closed") {
    val rnd = new scala.util.Random(43)
    val k = 6
    val df = (0 until 600).map(_ => {
      val g = rnd.nextInt(k)
      (s"g$g", (rnd.nextInt(25) + 10 * g).toLong) // shifted -> some rejections
    }).toDF("g", "v")
    val rows = Analytics.dunnPosthoc(df, col("g"), col("v")).collect()
    assert(rows.length == k * (k - 1) / 2)
    val appearances = rows.flatMap(r => r.getString(0).split('|'))
      .groupBy(identity).map(_._2.length)
    assert(appearances.forall(_ == k - 1), "each group pairs with all others")
    // BH step-up: the rejected set is exactly ranks 1..k*
    val byRank = rows.sortBy(_.getLong(3)).map(_.getInt(6))
    assert(byRank.sameElements(byRank.sorted.reverse),
      "rejections must be a prefix of the p-rank order")
    assert(byRank.sum > 0, "shifted groups must produce at least one rejection")
  }

  test("r10 rank family: partitioning- and monotone-map invariance (AB, Page, JT)") {
    val rnd = new scala.util.Random(53)
    // Ansari–Bradley: scale test ranks ignore physical splits and strictly
    // increasing affine maps (they preserve the pooled order)
    val ab = (0 until 300).map(_ =>
      (rnd.nextBoolean(), rnd.nextInt(40).toLong)).toDF("b", "v")
    val a1 = Analytics.ansariBradleyScale(ab, col("b"), col("v")).collect().head
    val a2 = Analytics.ansariBradleyScale(ab.repartition(11), col("b"), col("v"))
      .collect().head
    val a3 = Analytics.ansariBradleyScale(ab, col("b"), col("v") * 3L + 7L)
      .collect().head
    assert(a1.toSeq == a2.toSeq, "AB: partitioning changed the answer")
    assert(a1.toSeq == a3.toSeq, "AB: monotone affine map changed the ranks")
    // Page: within-block ranks ignore splits and affine maps; dose shifts
    // cancel exactly (pinned in AnalyticsSpec)
    val pg = (for { b <- 0 until 10; j <- 1 to 4 }
      yield (s"b$b", j.toLong, (j * 10 + rnd.nextInt(15)).toLong))
      .toDF("b", "j", "v")
    val p1 = Analytics.pageTrendTest(pg, "b", col("j"), col("v")).collect().head
    val p2 = Analytics.pageTrendTest(pg.repartition(9), "b", col("j"), col("v"))
      .collect().head
    val p3 = Analytics.pageTrendTest(pg, "b", col("j"), col("v") * 9L + 1L)
      .collect().head
    assert(p1.toSeq == p2.toSeq && p1.toSeq == p3.toSeq)
    // Jonckheere–Terpstra: the grid + two prefix windows must not depend
    // on splits; pair counts ignore affine value maps
    val jt = (0 until 300).map(_ => {
      val j = rnd.nextInt(4).toLong
      (j, j * 5 + rnd.nextInt(25).toLong)
    }).toDF("j", "v")
    val j1 = Analytics.jonckheereTerpstra(jt, col("j"), col("v")).collect().head
    val j2 = Analytics.jonckheereTerpstra(jt.repartition(13), col("j"), col("v"))
      .collect().head
    val j3 = Analytics.jonckheereTerpstra(jt, col("j"), col("v") * 2L + 5L)
      .collect().head
    assert(j1.toSeq == j2.toSeq && j1.toSeq == j3.toSeq)
    assert(j1.getString(4) == "rising", "the planted trend must be detected")
  }

  test("r10 audits: t-closeness and batch padding are partitioning-invariant") {
    import graft.operators.Curation
    val rnd = new scala.util.Random(71)
    val df = (0 until 400).map(_ =>
      (s"q${rnd.nextInt(6)}", rnd.nextInt(8).toLong)).toDF("q", "s")
    val t1 = Curation.tClosenessAudit(df, Seq("q"), "s", Seq(100000L, 300000L))
      .collect().map(_.toSeq)
    val t2 = Curation.tClosenessAudit(df.repartition(17), Seq("q"), "s",
      Seq(100000L, 300000L)).collect().map(_.toSeq)
    assert(t1.toSeq == t2.toSeq, "EMD depends only on the distributions")
    val docs = (1 to 300).map(i => (i.toLong, (i * 37) % 90 + 1L))
      .toDF("doc_id", "len")
    val b1 = Curation.batchPaddingStrategies(docs, "doc_id", col("len"), 16)
      .collect().map(_.toSeq)
    val b2 = Curation.batchPaddingStrategies(docs.repartition(13), "doc_id",
      col("len"), 16).collect().map(_.toSeq)
    assert(b1.toSeq == b2.toSeq,
      "batch membership depends only on the total order, never on splits")
  }
}
