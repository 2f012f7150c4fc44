package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FeaturesSpec extends SparkSpec {
  import spark.implicits._

  test("targetEncodeKFold: a cell's encoding never sees its own fold's labels") {
    // category "a": fold-0 labels {10, 10}, fold-1 labels {40};
    // the fold-0 cell must encode to mean(out-of-fold) = 40, never 20
    // (ids chosen so the Knuth hash lands them in the intended folds)
    val folds = spark.range(201)
      .select(col("id"), Features.foldOf(col("id"), 2).as("f"))
      .as[(Long, Long)].collect().toMap
    val id0 = (0L to 200L).filter(folds(_) == 0L)
    val id1 = (0L to 200L).filter(folds(_) == 1L)
    val df = Seq(
      (id0(0), "a", 10L), (id0(1), "a", 10L), (id1(0), "a", 40L),
      (id0(2), "b", 7L), (id1(1), "b", 9L)
    ).toDF("id", "cat", "t")
    val out = Features.targetEncodeKFold(df, "cat", "t", "id", k = 2)
      .as[(String, Long, Long, Double)].collect().toSet
    assert(out == Set(
      ("a", 0L, 2L, 40.0),  // out-of-fold mean = 40/1
      ("a", 1L, 1L, 10.0),  // out-of-fold mean = 20/2
      ("b", 0L, 1L, 9.0),
      ("b", 1L, 1L, 7.0)))
  }

  test("targetEncodeKFold: single-fold category falls back to global mean; NULLs excluded") {
    val folds = spark.range(100)
      .select(col("id"), Features.foldOf(col("id"), 2).as("f"))
      .as[(Long, Long)].collect().toMap
    val id0 = (0L to 99L).filter(folds(_) == 0L)
    val id1 = (0L to 99L).filter(folds(_) == 1L)
    val df = Seq(
      (id0(0), Some("solo"), Some(100L)),        // entire category in fold 0
      (id0(1), Some("x"), Some(10L)), (id1(0), Some("x"), Some(30L)),
      (id1(1), None, Some(5L)), (id0(2), Some("x"), None)
    ).toDF("id", "cat", "t")
    val out = Features.targetEncodeKFold(df, "cat", "t", "id", k = 2)
      .as[(String, Long, Long, Double)].collect().toSet
    // global mean over labeled, categorized rows = (100+10+30)/3
    assert(out.contains(("solo", 0L, 1L, 46.666667)))
    assert(out.size == 3) // NULL cat and NULL label rows dropped
  }

  test("mutualInformation: 0 for independent columns, ln 2 for a 1-bit copy") {
    // x == y over two equiprobable values: MI = ln 2 nats
    val copy = Seq(("a", "a"), ("b", "b"), ("a", "a"), ("b", "b"))
      .toDF("x", "y")
    val mi = Features.mutualInformation(copy, "x", "y")
      .as[(Double, Long)].collect().head
    assert(math.abs(mi._1 - math.log(2.0)) < 1e-5 && mi._2 == 2L)
    // independent: every (x, y) combination equally likely -> MI = 0
    val indep = (for (x <- Seq("a", "b"); y <- Seq("u", "v")) yield (x, y))
      .toDF("x", "y")
    val mi0 = Features.mutualInformation(indep, "x", "y")
      .as[(Double, Long)].collect().head
    assert(mi0._1 == 0.0 && mi0._2 == 4L)
  }

  test("mutualInfoCells: zero cells omitted, contributions sum to MI, NULLs excluded") {
    val df = Seq(
      (Some("a"), Some("u")), (Some("a"), Some("u")), (Some("b"), Some("v")),
      (None, Some("u")), (Some("b"), None)).toDF("x", "y")
    val cells = Features.mutualInfoCells(df, "x", "y")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(cells.map(c => (c._1, c._2)) == Seq(("a", "u"), ("b", "v")))
    // perfectly dependent 2/1 split: MI = (2/3)ln(3/2) + (1/3)ln(3)
    val want = 2.0 / 3 * math.log(1.5) + 1.0 / 3 * math.log(3.0)
    assert(math.abs(cells.map(_._4).sum - want) < 1e-5)
  }

  test("calibrationBins: perfect calibration gaps 0; score 1.0 clamps into the top bin") {
    // bin 2 (scores .2x): 4 rows, mean .25, one positive -> frac .25, gap 0
    val df = Seq(
      (0.2, false), (0.2, false), (0.3, true), (0.3, false),
      (1.0, true), (0.95, true)).toDF("score", "y")
    val out = Features.calibrationBins(df, "score", "y", bins = 10)
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(out.map(_._1) == Seq(2L, 3L, 9L)) // 1.0 clamped to bin 9
    assert(out.head == ((2L, 2L, 0.2, 0.0, 0.2)))
    assert(out(1) == ((3L, 2L, 0.3, 0.5, 0.2)))
    assert(out(2) == ((9L, 2L, 0.975, 1.0, 0.025)))
  }

  test("calibrationBins: out-of-range scores clamp into the edge bins, never negative ids") {
    // a scorer emitting -0.3 / 1.7 is broken, but the diagram must show
    // it in bins 0/9 (where the gap exposes it) rather than emit bin -3
    // rows that violate the 0..bins-1 contract (r11 ADVICE)
    val df = Seq((-0.3, false), (-0.01, false), (1.7, true)).toDF("score", "y")
    val out = Features.calibrationBins(df, "score", "y", bins = 10)
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(out.map(_._1) == Seq(0L, 9L))
    assert(out.head._2 == 2L && out(1)._2 == 1L)
  }

  test("calibrationBins: NULL score or label rows excluded; empty bins omitted") {
    val df = Seq((Some(0.5), Some(true)), (None, Some(true)),
      (Some(0.5), None)).toDF("score", "y")
    val out = Features.calibrationBins(df, "score", "y")
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(out == Seq((5L, 1L, 0.5, 1.0, 0.5)))
  }

  test("rocAuc: perfect separation 1.0, reversed 0.0, all-ties 0.5, hand-checked ties") {
    val perfect = Seq((0.9, true), (0.8, true), (0.2, false), (0.1, false))
      .toDF("s", "y")
    assert(Features.rocAuc(perfect, "s", "y")
      .as[(Double, Long, Long)].collect().head == ((1.0, 2L, 2L)))
    val reversed = Seq((0.9, false), (0.1, true)).toDF("s", "y")
    assert(Features.rocAuc(reversed, "s", "y")
      .as[(Double, Long, Long)].collect().head == ((0.0, 1L, 1L)))
    val ties = Seq((0.5, true), (0.5, false), (0.5, true), (0.5, false))
      .toDF("s", "y")
    assert(Features.rocAuc(ties, "s", "y")
      .as[(Double, Long, Long)].collect().head == ((0.5, 2L, 2L)))
    // pos at {0.9, 0.5}, neg at {0.5, 0.1}: U = 1 + (0.5+0.5·tie... )
    // pairs: (0.9>0.5)=1, (0.9>0.1)=1, (0.5=0.5)=0.5, (0.5>0.1)=1
    // AUC = 3.5/4 = 0.875
    val mixed = Seq((0.9, true), (0.5, true), (0.5, false), (0.1, false))
      .toDF("s", "y")
    assert(Features.rocAuc(mixed, "s", "y")
      .as[(Double, Long, Long)].collect().head == ((0.875, 2L, 2L)))
  }

  test("cohensKappa: perfect 1, chance-level 0, constant-labels NULL") {
    val perfect = Seq(("a", "a"), ("b", "b"), ("a", "a")).toDF("x", "y")
    val p = Features.cohensKappa(perfect, "x", "y")
      .as[(Option[Double], Double, Double, Long)].collect().head
    assert(p._1.contains(1.0) && p._2 == 1.0 && p._4 == 3L)
    // marginally-independent agreement exactly at chance: kappa = 0
    // (2x2 uniform: po = 1/2, pe = 1/2)
    val chance = Seq(("a", "a"), ("a", "b"), ("b", "a"), ("b", "b"))
      .toDF("x", "y")
    val c = Features.cohensKappa(chance, "x", "y")
      .as[(Option[Double], Double, Double, Long)].collect().head
    assert(c._1.contains(0.0) && c._2 == 0.5 && c._3 == 0.5)
    // both columns constant: pe = 1, denominator 0 -> NULL, not a number
    val const = Seq(("a", "a"), ("a", "a")).toDF("x", "y")
    val k = Features.cohensKappa(const, "x", "y")
      .as[(Option[Double], Double, Double, Long)].collect().head
    assert(k._1.isEmpty && k._2 == 1.0 && k._3 == 1.0)
    // hand-computed asymmetric case: po=.6, pe=.52 ->
    // kappa = (6*10-52)/(100-52) = 8/48 = 0.166667
    val mixed = (Seq.fill(2)(("a", "a")) ++ Seq.fill(2)(("a", "b")) ++
      Seq.fill(2)(("b", "a")) ++ Seq.fill(4)(("b", "b"))).toDF("x", "y")
    val m = Features.cohensKappa(mixed, "x", "y")
      .as[(Option[Double], Double, Double, Long)].collect().head
    assert(m._1.contains(0.166667) && m._2 == 0.6 && m._3 == 0.52)
  }

  test("applyTargetEncoding: rows get their cell's encoding via broadcast; unseen stays NULL") {
    val df = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L),
      (4L, "a", 40L), (5L, "b", 50L), (6L, "b", 60L)).toDF("id", "cat", "t")
    val enc = Features.targetEncodeKFold(df, "cat", "t", "id", k = 3)
    val applied = Features.applyTargetEncoding(df, enc, "cat", "id", k = 3)
    assert(applied.count() == 6)
    assert(applied.filter(col("cat_enc").isNull).count() == 0)
    val plan = applied.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // a category the table never saw -> NULL, not invented
    val fresh = Seq((9L, "zzz", 0L)).toDF("id", "cat", "t")
    assert(Features.applyTargetEncoding(fresh, enc, "cat", "id", k = 3)
      .filter(col("cat_enc").isNull).count() == 1)
  }

  test("isotonicCalibration: violators pool to their mean, monotone " +
       "input passes through") {
    def mk(spec: Seq[(Double, Int)]) = spec.zipWithIndex.flatMap {
      case ((score, pos), _) =>
        (0 until 10).map(i => (score, i < pos))
    }.toDF("score", "label")
    // bin rates 0.1, 0.5, 0.3, 0.9: PAV pools the (0.5, 0.3) violation
    // to their weighted mean 0.4
    val out = Features.isotonicCalibration(
        mk(Seq((0.05, 1), (0.15, 5), (0.25, 3), (0.35, 9))),
        "score", "label")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(out == Seq(
      (0L, 10L, 0.1, 0.1), (1L, 10L, 0.5, 0.4),
      (2L, 10L, 0.3, 0.4), (3L, 10L, 0.9, 0.9)))
    // already-monotone rates: the fit is the identity
    val mono = Features.isotonicCalibration(
        mk(Seq((0.05, 1), (0.15, 3), (0.25, 7))), "score", "label")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(mono.forall(r => r._3 == r._4))
    // fitted is always non-decreasing
    assert(out.map(_._4) == out.map(_._4).sorted)
  }

  test("youdenThreshold: hand argmax of tp*N - fp*P, larger-threshold " +
       "tie-break, single-class hard error") {
    import spark.implicits._
    // P=3, N=4; J-numerators by threshold: .9->4 .8->8 .7->5 .4->9(max)
    // .3->6 .2->3 .1->0
    val df = Seq((0.9, true), (0.8, true), (0.4, true),
      (0.7, false), (0.3, false), (0.2, false), (0.1, false))
      .toDF("score", "label")
    val out = Features.youdenThreshold(df, "score", "label")
      .as[(Double, Long, Long, Double, Long, Long)].collect().head
    assert(out == ((0.4, 3L, 1L, 0.75, 3L, 4L)))
    // tie on the numerator (1.0 and 0.6 both score 2): larger wins
    val tie = Seq((1.0, true), (0.8, false), (0.6, true), (0.4, false))
      .toDF("score", "label")
    val t = Features.youdenThreshold(tie, "score", "label")
      .as[(Double, Long, Long, Double, Long, Long)].collect().head
    assert(t._1 == 1.0 && t._2 == 1L && t._3 == 0L && t._4 == 0.5)
    val e = intercept[IllegalArgumentException] {
      Features.youdenThreshold(
        Seq((0.9, true), (0.1, true)).toDF("score", "label"),
        "score", "label")
    }
    assert(e.getMessage.contains("both classes"))
  }

  test("brierDecomposition: hand-computed Murphy split; residual 0 on " +
      "constant-forecast bins, negative under within-bin ranking") {
    // (0.1,0) (0.1,1) (0.9,1) (0.9,1), bins=2: BS = 0.84/4 = 0.21,
    // rel = 0.08 + 0.005, res = 2·0.03125, unc = 0.75·0.25 — and
    // rel − res + unc = 0.21 exactly (constant forecast per bin)
    val df = Seq((0.1, false), (0.1, true), (0.9, true), (0.9, true))
      .toDF("score", "label")
    val out = Features.brierDecomposition(df, "score", "label", bins = 2)
      .as[(Long, Double, Double, Double, Double, Double)].collect().head
    assert(out == ((4L, 0.21, 0.085, 0.0625, 0.1875, 0.0)))
    // spread scores inside bin 0 (0.05→neg, 0.15→pos): the bin sums are
    // unchanged, BS drops to 0.745/4, and the residual goes NEGATIVE —
    // within-bin ranking the coarse grid cannot credit (WBV − 2·WBC)
    val spread = Seq((0.05, false), (0.15, true), (0.9, true), (0.9, true))
      .toDF("score", "label")
    val r = Features.brierDecomposition(spread, "score", "label", bins = 2)
      .as[(Long, Double, Double, Double, Double, Double)].collect().head
    assert(r == ((4L, 0.18625, 0.085, 0.0625, 0.1875, -0.02375)))
  }

  test("associationRules: hand-computed support/confidence/lift, " +
       "in-basket duplicates dedup, minPairCount prunes, basket-size " +
       "guard excludes the big basket AND shrinks N") {
    // b1{x,y} b2{x,y} b3{x,z} b4{y} b5{x,y,z}; (b1,x) duplicated
    val rows = Seq(("b1", "x"), ("b1", "x"), ("b1", "y"), ("b2", "x"),
      ("b2", "y"), ("b3", "x"), ("b3", "z"), ("b4", "y"),
      ("b5", "x"), ("b5", "y"), ("b5", "z")).toDF("b", "i")
    val out = Features.associationRules(rows, "b", "i",
        minPairCount = 2L, topK = 10)
      .as[(String, String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    // (x,z): c=2, cx=4, cz=2, N=5 -> lift floor(2e6*5/8) = 1250000
    // (x,y): c=3, cx=4, cy=4     -> lift floor(3e6*5/16) = 937500
    assert(out == Seq(
      ("x", "z", 2L, 4L, 2L, 400000L, 500000L, 1000000L, 1250000L),
      ("x", "y", 3L, 4L, 4L, 600000L, 750000L, 750000L, 937500L)))
    // maxBasketSize=2 drops b5 entirely: N=4, x=3, y=3, (x,y)=2
    val g = Features.associationRules(rows, "b", "i",
        minPairCount = 2L, topK = 10, maxBasketSize = 2)
      .as[(String, String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(g == Seq(
      ("x", "y", 2L, 3L, 3L, 500000L, 666666L, 666666L, 888888L)))
  }

  test("spearmanRho: +1/-1 on perfect monotone/reverse groups, exact " +
       "micro value on a one-swap case, id tie-break totalizes ties, " +
       "singleton groups drop") {
    val rows = Seq(
      ("up", 1L, 1.0, 10.0), ("up", 2L, 2.0, 20.0), ("up", 3L, 3.0, 30.0),
      ("dn", 1L, 1.0, 30.0), ("dn", 2L, 2.0, 20.0), ("dn", 3L, 3.0, 10.0),
      ("sw", 1L, 1.0, 1.0), ("sw", 2L, 2.0, 3.0),
      ("sw", 3L, 3.0, 2.0), ("sw", 4L, 4.0, 4.0),
      ("tie", 1L, 5.0, 7.0), ("tie", 2L, 5.0, 9.0),
      ("one", 1L, 1.0, 1.0)
    ).toDF("g", "id", "x", "y")
    val out = Features.spearmanRho(rows, "g", "x", "y", "id")
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out("up") == ((3L, 0L, 1000000L, 1.0)))
    assert(out("dn") == ((3L, 8L, -1000000L, -1.0)))
    // one swap of 4: d2=2, denom=60 -> floor(1e6*48/60) = 800000
    assert(out("sw") == ((4L, 2L, 800000L, 0.8)))
    // equal x ranks by id; y agrees with id order -> perfect
    assert(out("tie") == ((2L, 0L, 1000000L, 1.0)))
    assert(!out.contains("one"))
  }
}
