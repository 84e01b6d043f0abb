package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Analytics, Preference}

/** Hand-computed fixtures + exactness properties for the preference/RLHF
  * family (x616–x619). Every expected value below is worked by hand in the
  * comments — no test re-runs the production arithmetic. */
class PreferenceSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- Bradley–Terry -------------------------------------------------------

  test("bradleyTerry: two-item closed form — strengths hit the w-ratio fixed point in one round") {
    // items 0 and 1, four comparisons, item 1 wins 3.
    // Round 1 by hand (micro units, s0 = 1e6):
    //   den(0,1) = 4·1e12 DIV (1e6+1e6) = 2_000_000
    //   d_0 = d_1 = 2_000_000
    //   π0' = 1·1e12 DIV 2e6 = 500_000 ; π1' = 3·1e12 DIV 2e6 = 1_500_000
    //   normalize: Σ = 2e6, k = 2 → π0 = 5e5·2e6 DIV 2e6 = 500_000 (fixed)
    // Every later round sees π0+π1 = 2e6 again → fixed point; the 2-item
    // B-T MLE is exactly the win ratio 1:3.
    val comps = Seq((0L, 1L, 1L), (0L, 1L, 1L), (0L, 1L, 1L), (0L, 1L, 0L))
      .toDF("a", "b", "w")
    val r = Preference.bradleyTerry(comps, col("a"), col("b"), col("w"),
        iterations = 5)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toSeq == Seq((0L, 4L, 1L, 500000L), (1L, 4L, 3L, 1500000L)))
  }

  test("bradleyTerry: recovers a planted strength ordering from exact-proportion wins") {
    // five items, wins per ordered pair set to the exact B-T expectation
    // for π_i = i+1: pair (i,j) gets (i+j+2)·10 comparisons, item i wins
    // (i+1)·10 of them. The MLE is exactly π ∝ i+1; 5 MM rounds from
    // uniform must already order the items strictly.
    val comps = (for {
      i <- 0 until 5; j <- (i + 1) until 5
      k <- 0 until (i + j + 2) * 10
    } yield (i.toLong, j.toLong, if (k < (i + 1) * 10) i.toLong else j.toLong))
      .toDF("a", "b", "w")
    val s = Preference.bradleyTerry(comps, col("a"), col("b"), col("w"))
      .orderBy("item").collect().map(_.getLong(3))
    assert(s.length == 5 && s.sliding(2).forall(p => p(0) < p(1)),
      s"strengths must rise with the planted order: ${s.toSeq}")
  }

  test("bradleyTerry: exact equivariance under item relabeling") {
    val comps = Seq((0L, 1L, 0L), (0L, 1L, 0L), (1L, 2L, 2L), (0L, 2L, 2L),
      (1L, 2L, 1L), (0L, 2L, 0L), (0L, 1L, 1L)).toDF("a", "b", "w")
    val base = Preference.bradleyTerry(comps, col("a"), col("b"), col("w"))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    // bijective relabel i → i + 100: identical strengths at shifted ids
    // (the fit never looks at id VALUES, only identities)
    val shifted = Preference.bradleyTerry(
        comps.select((col("a") + 100).as("a"), (col("b") + 100).as("b"),
          (col("w") + 100).as("w")),
        col("a"), col("b"), col("w"))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(base.map { case (i, s) => (i + 100, s) } == shifted)
  }

  test("bradleyTerry: result invariant to input partitioning") {
    val comps = (0 until 200).map { k =>
      (k % 4L, (k % 4L + 1 + k % 3) % 5L, if (k % 7 < 3) k % 4L else (k % 4L + 1 + k % 3) % 5L)
    }.filter(t => t._1 != t._2).toDF("a", "b", "w")
    val one = Preference.bradleyTerry(comps.coalesce(1), col("a"), col("b"), col("w"))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    val many = Preference.bradleyTerry(comps.repartition(7), col("a"), col("b"), col("w"))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(one == many)
  }

  // ---- circular triads -----------------------------------------------------

  test("circularTriads: rock-paper-scissors is one cyclic triad of one complete triad") {
    val comps = Seq((0L, 1L, 0L), (1L, 2L, 1L), (0L, 2L, 2L)).toDF("a", "b", "w")
    val r = Preference.circularTriads(comps, col("a"), col("b"), col("w")).collect().head
    assert((r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      == ((3L, 3L, 1L, 1L, 1000000L)))
  }

  test("circularTriads: a transitive tournament has zero cycles; majority ties drop the edge") {
    // 0 beats 1, 1 beats 2, 0 beats 2 → transitive: 1 complete, 0 cyclic
    val t = Preference.circularTriads(
      Seq((0L, 1L, 0L), (1L, 2L, 1L), (0L, 2L, 0L)).toDF("a", "b", "w"),
      col("a"), col("b"), col("w")).collect().head
    assert((t.getLong(3), t.getLong(4), t.getLong(5)) == ((1L, 0L, 0L)))
    // a 1-1 split on (0,1) leaves no dominance edge → no complete triad
    val tie = Preference.circularTriads(
      Seq((0L, 1L, 0L), (0L, 1L, 1L), (1L, 2L, 1L), (0L, 2L, 0L))
        .toDF("a", "b", "w"),
      col("a"), col("b"), col("w")).collect().head
    assert((t.getLong(0), tie.getLong(2), tie.getLong(3), tie.getLong(4))
      == ((3L, 2L, 0L, 0L)))
  }

  // ---- undecided pairs -----------------------------------------------------

  test("undecidedPairs: the exact 5% decision boundary at n=100 sits between |2w−n| = 18 and 20") {
    // decided ⇔ 10000·(2w−n)² > 38416·n. At n=100 the right side is 3841600;
    // |2w−n|=20 → 10000·400 = 4000000 > 3841600 → decided;
    // |2w−n|=18 → 10000·324 = 3240000 ≤ 3841600 → undecided.
    val comps = (
      (0 until 60).map(_ => (0L, 1L, 0L)) ++ (0 until 40).map(_ => (0L, 1L, 1L)) ++ // w=60, d=20
      (0 until 59).map(_ => (2L, 3L, 2L)) ++ (0 until 41).map(_ => (2L, 3L, 3L))    // w=59, d=18
    ).toDF("a", "b", "w")
    val r = Preference.undecidedPairs(comps, col("a"), col("b"), col("w"))
      .collect().map(x => (x.getLong(0), x.getLong(2), x.getLong(3), x.getString(4)))
    assert(r.toSeq == Seq((0L, 100L, 60L, "decided"), (2L, 100L, 59L, "undecided")))
  }

  test("undecidedPairs: both verdict classes are non-vacuous on the staged corpus") {
    // the staging's near-equal-strength pairs (adjacent items) must stay
    // undecided at sf0.001 volumes while far pairs decide — if either
    // class vanishes the query certifies nothing
    val out = SparkEntry.queries("x620_undecided_pref_pairs")(
      spark, "/root/testdata/sf0.001")
      .collect().map(_.getString(4))
    assert(out.contains("decided") && out.contains("undecided"),
      s"expected both verdict classes, got ${out.distinct.toSeq}")
  }

  // ---- position bias -------------------------------------------------------

  test("positionBias: per-annotator first-position rates and pool gap, by hand") {
    // annotator 1: 2 judgments, first-shown wins 1 → 500000 ppm
    // annotator 2: 1 judgment, first-shown wins 1 → 1000000 ppm
    // pool: 2 of 3 → 666666 ppm; gaps −166666 and +333334
    val comps = Seq((1L, 0L, 0L), (1L, 1L, 0L), (2L, 2L, 2L))
      .toDF("ann", "first", "w")
    val r = Preference.positionBias(comps, col("ann"), col("first"), col("w"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toSeq == Seq((1L, 2L, 500000L, -166666L), (2L, 1L, 1000000L, 333334L)))
  }

  test("majorityAgreement: per-annotator agreement vs strict pair majorities, by hand") {
    // pair {1,2}: votes 1,1,2 → majority 1 (strict)
    // pair {1,3}: votes 3,1   → exact tie, excluded
    // pair {2,3}: votes 2,2,3,2 → majority 2
    // decided judgments: 7 total, 5 agree → pool 5e6 DIV 7 = 714285 ppm
    //   ann 10: (1,2)→1 ✓, (2,3)→2 ✓          → 2/2 = 1000000, gap +285715
    //   ann 11: (2,1)→1 ✓ (canonicalized), (3,2)→3 ✗ → 1/2 = 500000, gap −214285
    //   ann 12: (1,2)→2 ✗, (2,3)→2 ✓, (2,3)→2 ✓ → 2/3 = 666666, gap −47619
    val comps = Seq(
      (1L, 2L, 1L, 10L), (2L, 1L, 1L, 11L), (1L, 2L, 2L, 12L),
      (1L, 3L, 3L, 10L), (3L, 1L, 1L, 11L),
      (2L, 3L, 2L, 10L), (2L, 3L, 2L, 12L), (3L, 2L, 3L, 11L),
      (2L, 3L, 2L, 12L)).toDF("a", "b", "w", "ann")
    val r = Preference.majorityAgreement(comps, col("a"), col("b"), col("w"),
        col("ann"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toSeq == Seq((10L, 2L, 1000000L, 285715L),
      (11L, 2L, 500000L, -214285L), (12L, 3L, 666666L, -47619L)))
  }

  test("majorityAgreement: an all-tied corpus has no decided pairs and yields no rows") {
    val comps = Seq((1L, 2L, 1L, 10L), (2L, 1L, 2L, 11L),
      (1L, 3L, 1L, 10L), (1L, 3L, 3L, 11L)).toDF("a", "b", "w", "ann")
    assert(Preference.majorityAgreement(comps, col("a"), col("b"), col("w"),
      col("ann")).count() == 0L)
  }

  // ---- Krippendorff's alpha ------------------------------------------------

  test("krippendorffAlphaInterval: three-unit fixture by hand (singleton unit excluded)") {
    // u1:[1,2] m=2 P=3 Q=5  → S=2(2·5−9)=2, weight 720720/1
    // u2:[3,3] m=2 P=6 Q=18 → S=0
    // u3:[2]   m=1 → not pairable
    // T = 2·720720 = 1441440 ; n=4, gP=9, gQ=23 → E = 2(4·23−81) = 22
    // α = 1 − 3·1441440/(720720·22) = 11531520/15855840 = 0.727272…
    val df = Seq((1L, 1L), (1L, 2L), (2L, 3L), (2L, 3L), (3L, 2L))
      .toDF("u", "v")
    val r = Analytics.krippendorffAlphaInterval(df, col("u"), col("v"))
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 4L, 727272L)))
  }

  test("krippendorffAlphaInterval: perfect agreement is 1e6; max disagreement is exactly −500000") {
    val perfect = Seq((1L, 2L), (1L, 2L), (2L, 5L), (2L, 5L), (2L, 5L))
      .toDF("u", "v")
    assert(Analytics.krippendorffAlphaInterval(perfect, col("u"), col("v"))
      .collect().head.getLong(2) == 1000000L)
    // u1:[1,5], u2:[5,1]: S_u = 2(2·26−36) = 32 each, T = 2·32·720720
    // n=4, gP=12, gQ=52 → E = 2(4·52−144) = 128
    // α = 1 − 3·46126080/ (720720·128)… = 1 − 138378240/92252160 = −0.5
    // exercises the sign-split floor path (Spark DIV vs DuckDB // differ
    // on negatives unless split)
    val worst = Seq((1L, 1L), (1L, 5L), (2L, 5L), (2L, 1L)).toDF("u", "v")
    assert(Analytics.krippendorffAlphaInterval(worst, col("u"), col("v"))
      .collect().head.getLong(2) == -500000L)
  }

  test("krippendorffAlphaInterval: exact invariance under affine value maps and unit relabeling") {
    val rnd = new scala.util.Random(23)
    val df = (0 until 300).map { _ =>
      (rnd.nextInt(40).toLong, (1 + rnd.nextInt(5)).toLong)
    }.toDF("u", "v")
    val base = Analytics.krippendorffAlphaInterval(df, col("u"), col("v"))
      .collect().head.getLong(2)
    // v → 3v+7: every (c−k)² scales by 9 in both D_o and D_e — α is
    // IDENTICAL (not just close: the 9 cancels before any floor)
    val affine = Analytics.krippendorffAlphaInterval(
      df.select(col("u"), (col("v") * 3 + 7).as("v")), col("u"), col("v"))
      .collect().head.getLong(2)
    assert(affine == base)
    val relabeled = Analytics.krippendorffAlphaInterval(
      df.select((col("u") * 991 + 17).as("u"), col("v")), col("u"), col("v"))
      .collect().head.getLong(2)
    assert(relabeled == base)
  }

  test("krippendorffAlphaInterval: degenerate single-value corpus reports 0, empty reports 0 ratings") {
    val oneValue = Seq((1L, 4L), (1L, 4L), (2L, 4L), (2L, 4L)).toDF("u", "v")
    assert(Analytics.krippendorffAlphaInterval(oneValue, col("u"), col("v"))
      .collect().head.getLong(2) == 0L)
    val empty = Seq.empty[(Long, Long)].toDF("u", "v")
    val r = Analytics.krippendorffAlphaInterval(empty, col("u"), col("v"))
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((0L, 0L, 0L)))
  }
}
