package graft.operators

import graft.SparkSpec

class DriftSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions.to_timestamp

  test("identical slices: every bucket contributes ~0, counts match the deciles") {
    val ref = (1L to 100L).map(i => (i, i.toDouble)).toDF("id", "v")
    val out = Drift.psiBuckets(ref, ref, "v", "id", k = 10)
      .as[(Int, Long, Long, Double)].collect().toSeq
    assert(out.map(_._1) == (1 to 10))
    assert(out.forall(r => r._2 == 10L && r._3 == 10L))
    assert(out.forall(r => math.abs(r._4) < 1e-9), out)
  }

  test("mass moved to the tail shows up in the moved buckets; PSI crosses the drift bar") {
    val ref = (1L to 100L).map(i => (i, i.toDouble)).toDF("id", "v")
    // current: everything at the top decile's values
    val cur = (1L to 100L).map(i => (i, 95.0)).toDF("id", "v")
    val out = Drift.psiBuckets(ref, cur, "v", "id", k = 10)
      .as[(Int, Long, Long, Double)].collect().toSeq
    assert(out.count(_._3 > 0) == 1)            // all current mass in one bucket
    assert(out.find(_._3 > 0).get._1 == 10)     // ...the top one
    assert(out.map(_._4).sum > 0.25, out)       // PSI over the drift threshold
    assert(out.forall(_._4 >= 0.0))             // contributions never negative
  }

  test("ksStatistic: hand-computed D on disjoint supports and interleaved samples") {
    // ref {1,2}, cur {3,4}: CDFs never overlap -> D = 1.0 at v = 2
    val ref = Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")
    val cur = Seq((3L, 3.0), (4L, 4.0)).toDF("id", "v")
    val out = Drift.ksStatistic(ref, cur, "v")
      .as[(Double, Double, Long, Long)].collect().head
    assert(out == ((2.0, 1.0, 2L, 2L)))
    // ref {1,3}, cur {2,3}: at v=1 |1/2-0|=.5, v=2 |1/2-1/2|=0 ... D=.5 at 1
    val ref2 = Seq((1L, 1.0), (2L, 3.0)).toDF("id", "v")
    val cur2 = Seq((3L, 2.0), (4L, 3.0)).toDF("id", "v")
    val out2 = Drift.ksStatistic(ref2, cur2, "v")
      .as[(Double, Double, Long, Long)].collect().head
    assert(out2 == ((1.0, 0.5, 2L, 2L)))
  }

  test("ksStatistic: identical slices give D = 0; partitioning-invariant") {
    val df = (1L to 100L).map(i => (i, (i % 7).toDouble)).toDF("id", "v")
    val out = Drift.ksStatistic(df, df.repartition(9), "v")
      .as[(Double, Double, Long, Long)].collect().head
    assert(out._2 == 0.0 && out._3 == 100L && out._4 == 100L)
  }

  test("embeddingMeanDrift + mmd2: hand-computed per-dim shift; identical slices 0") {
    val ref = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(3.0f, 0.0f)))
      .toDF("id", "v")
    val cur = Seq((3L, Array(2.0f, 4.0f)), (4L, Array(4.0f, 4.0f)),
      (5L, null.asInstanceOf[Array[Float]])).toDF("id", "v")
    val out = Drift.embeddingMeanDrift(ref, cur, "v")
      .as[(Long, Double, Double, Double)].collect().toSeq
    // dim0: means 2 vs 3, drift 1; dim1: 0 vs 4, drift 4
    assert(out == Seq((0L, 2.0, 3.0, 1.0), (1L, 0.0, 4.0, 4.0)))
    val m = Drift.embeddingMmd2(ref, cur, "v")
      .as[(Double, Long)].collect().head
    assert(m == ((17.0, 2L))) // 1 + 16
    val z = Drift.embeddingMmd2(ref, ref, "v")
      .as[(Double, Long)].collect().head
    assert(z == ((0.0, 2L)))
  }

  test("chiSquareDrift: hand-computed 2x2 contingency; identical mixes give 0") {
    // ref: 30 a, 10 b; cur: 10 a, 30 b -> classic 2x2, chi2 = 20.0
    val ref = (Seq.fill(30)("a") ++ Seq.fill(10)("b")).toDF("c")
    val cur = (Seq.fill(10)("a") ++ Seq.fill(30)("b")).toDF("c")
    val out = Drift.chiSquareDrift(ref, cur, "c")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(out == Seq(("a", 30L, 10L, 10.0), ("b", 10L, 30L, 10.0)))
    val v = Drift.cramersV(ref, cur, "c")
      .as[(Double, Double, Long, Long)].collect().head
    assert(v == ((20.0, 0.5, 80L, 2L))) // sqrt(20/80) = 0.5
    // same mix in both slices -> every contribution exactly 0
    val same = Drift.chiSquareDrift(ref, ref, "c")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(same.forall(_._4 == 0.0))
  }

  test("chiSquareDrift: category absent from one slice contributes; NULLs excluded") {
    val ref = Seq(Some("a"), Some("a"), Some("b"), None).toDF("c")
    val cur = Seq(Some("a"), Some("a"), Some("c"), None).toDF("c")
    val out = Drift.chiSquareDrift(ref, cur, "c")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(out.map(_._1) == Seq("a", "b", "c"))
    assert(out.map(r => (r._2, r._3)) == Seq((2L, 2L), (1L, 0L), (0L, 1L)))
    assert(out.filter(_._1 != "a").forall(_._4 > 0.0))
  }

  test("empty buckets emitted with smoothing-finite contributions; NULLs excluded") {
    val ref = Seq((1L, Some(1.0)), (2L, Some(2.0)), (3L, Some(3.0)),
      (4L, Some(4.0)), (5L, None)).toDF("id", "v")
    val cur = Seq((1L, Some(2.5)), (2L, None)).toDF("id", "v")
    val out = Drift.psiBuckets(ref, cur, "v", "id", k = 4)
      .as[(Int, Long, Long, Double)].collect().toSeq
    assert(out.length == 4 && out.map(_._2).sum == 4L && out.map(_._3).sum == 1L)
    assert(out.forall(r => !r._4.isNaN && !r._4.isInfinite))
  }

  test("cusumDailyCounts: planted shift accumulates, clamps at zero, alarms") {
    def day(d: Int) = f"2024-01-$d%02d 12:00:00"
    // 7 baseline days at 10/day, then 14, 2, 14: deviations in n_ref
    // units are +28, -56 (clamped), +28
    val counts = Seq.fill(7)(10) ++ Seq(14, 2, 14)
    val rows = counts.zipWithIndex.flatMap { case (c, i) =>
      Seq.fill(c)(day(i + 1)) }
    val df = rows.toDF("t").select(to_timestamp($"t").as("ts"))
    val out = Drift.cusumDailyCounts(df, "ts", refBuckets = 7,
        thresholdPerBucket = 3L)
      .as[(java.sql.Date, Long, Long, Long)].collect().toSeq
      .map { case (b, x, s, a) => (b.toString, x, s, a) }
    assert(out == Seq(
      ("2024-01-08", 14L, 28L, 1L),
      ("2024-01-09", 2L, 0L, 0L),
      ("2024-01-10", 14L, 28L, 1L)))
    // slack absorbs a small persistent excess entirely
    val calm = Drift.cusumDailyCounts(df, "ts", refBuckets = 7,
        slackPerBucket = 4L, thresholdPerBucket = 3L)
      .as[(java.sql.Date, Long, Long, Long)].collect().toSeq
    assert(calm.map(_._3) == Seq(0L, 0L, 0L))
  }

  test("theilSenDailyTrend: exact slope on linear data, immune to an outlier") {
    def mk(counts: Seq[Int]) = counts.zipWithIndex.flatMap { case (c, i) =>
      Seq.fill(c)(f"2024-02-${i + 1}%02d 06:00:00")
    }.toDF("t").select(to_timestamp($"t").as("ts"))
    val lin = Drift.theilSenDailyTrend(mk(Seq(10, 12, 14, 16)), "ts")
      .as[(Long, Long, Double)].collect().head
    assert(lin == ((4L, 6L, 2.0)))
    // one spiked day: least squares would move, the slope median doesn't
    val spiked = Drift.theilSenDailyTrend(mk(Seq(10, 12, 50, 16, 18)), "ts")
      .as[(Long, Long, Double)].collect().head
    assert(spiked == ((5L, 10L, 2.0)))
  }

  test("mannKendallDailyTrend: hand S/var/z, tie correction") {
    def mk(counts: Seq[Int]) = counts.zipWithIndex.flatMap { case (c, i) =>
      Seq.fill(c)(f"2024-03-${i + 1}%02d 06:00:00")
    }.toDF("t").select(to_timestamp($"t").as("ts"))
    // strictly increasing 4 days: S = 6, num = 4*3*13 = 156
    val up = Drift.mannKendallDailyTrend(mk(Seq(10, 11, 12, 13)), "ts")
      .as[(Long, Long, Double, Double)].collect().head
    assert(up == ((4L, 6L, 8.666667, 1.698416)))
    // tie pair: S = 2, num = 3*2*11 - 2*1*9 = 48
    val tied = Drift.mannKendallDailyTrend(mk(Seq(5, 5, 7)), "ts")
      .as[(Long, Long, Double, Double)].collect().head
    assert(tied == ((3L, 2L, 2.666667, 0.612372)))
  }

  test("dayOfWeekProfile: hand ratios on a Monday/Tuesday split") {
    // 2024-01-01 is a Monday (Spark dayofweek = 2)
    val df = (Seq.fill(2)("2024-01-01 10:00:00") ++
      Seq.fill(4)("2024-01-02 10:00:00"))
      .toDF("t").select(to_timestamp($"t").as("ts"))
    val out = Drift.dayOfWeekProfile(df, "ts")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // ratios: (2*2)/(1*6) and (4*2)/(1*6)
    assert(out == Seq((2L, 1L, 2L, 0.666667), (3L, 1L, 4L, 1.333333)))
  }

  test("autocorrDaily: period-2 series alternates sign; exact integers") {
    val df = Seq(1, 3, 1, 3, 1, 3).zipWithIndex.flatMap { case (c, i) =>
      Seq.fill(c)(f"2024-04-${i + 1}%02d 09:00:00")
    }.toDF("t").select(to_timestamp($"t").as("ts"))
    val out = Drift.autocorrDaily(df, "ts", maxLag = 2)
      .as[(Long, Long, Double)].collect().toSeq
    // c = 6y-12 = ±6: r1 = -180/216, r2 = 144/216
    assert(out == Seq((1L, 5L, -0.833333), (2L, 4L, 0.666667)))
  }

  test("wasserstein1d: hand-computed shift-by-one is exactly 1.0; " +
       "fractional grid; empty slice fails hard; deterministic") {
    val ref = Seq(0.0, 1.0, 1.0, 2.0).toDF("v")
    val cur = Seq(1.0, 2.0, 2.0, 3.0).toDF("v")
    val out = Drift.wasserstein1d(ref, cur, "v")
      .as[(Double, Long, Long)].collect().head
    // every mass unit moves exactly 1: terms 4·1e6 + 8·1e6 + 4·1e6
    // over nR·nC·1e6 = 16e6
    assert(out == ((1.0, 4L, 4L)))
    // sub-integer support: W1({0.5}, {0.75}) = 0.25 on the micro grid
    val frac = Drift.wasserstein1d(
      Seq(0.5).toDF("v"), Seq(0.75).toDF("v"), "v")
      .as[(Double, Long, Long)].collect().head
    assert(frac == ((0.25, 1L, 1L)))
    // identical slices: zero distance (also exercises the last-value
    // term dropping out by construction)
    val same = Drift.wasserstein1d(ref, ref, "v")
      .as[(Double, Long, Long)].collect().head
    assert(same == ((0.0, 4L, 4L)))
    // asymmetric sizes: ref {0,0}, cur {3} -> mean shift 3.0 exactly
    val asym = Drift.wasserstein1d(
      Seq(0.0, 0.0).toDF("v"), Seq(3.0).toDF("v"), "v")
      .as[(Double, Long, Long)].collect().head
    assert(asym == ((3.0, 2L, 1L)))
    intercept[IllegalArgumentException] {
      Drift.wasserstein1d(ref.filter($"v" < -10), cur, "v").collect()
    }
    val again = Drift.wasserstein1d(ref, cur, "v")
      .as[(Double, Long, Long)].collect().head
    assert(again == out)
  }

  test("kaplanMeier: textbook product-limit with censoring; censor-only " +
      "days leave the grid untouched; floor grid on a 1/3 step") {
    // events at t=1 (2 of 5), censored at t=2, event at t=3, censored
    // at t=4: S(1) = 3/5 = 0.6, S(3) = 0.6·1/2 = 0.3 — the censored
    // subject at t=2 stays in no row but shrinks the t=3 risk set
    val df = Seq((1L, true), (1L, true), (2L, false), (3L, true),
      (4L, false)).toDF("dur", "obs")
    val out = Drift.kaplanMeier(df, "dur", "obs")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (1L, 5L, 2L, 600000000000L, 0.6),
      (3L, 2L, 1L, 300000000000L, 0.3)))
    // non-terminating fraction floors on the grid
    val thirds = Seq((1L, true), (2L, false), (2L, false))
      .toDF("dur", "obs")
    val t = Drift.kaplanMeier(thirds, "dur", "obs")
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(t == ((1L, 3L, 1L, 666666666666L, 0.666667)))
    // partitioning invariance (sidecar fold)
    val rep = Drift.kaplanMeier(df.repartition(5), "dur", "obs")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(rep == out)
  }

  test("ewmaDailyBand: hand-computed geometric approach; alarm crosses band") {
    def day(d: Int) = f"2024-03-$d%02d 12:00:00"
    // 7 baseline days at 10/day (z0 = 70 on the ×7 grid), then 14/day:
    // z = 77, 82, 86 — dev 7, 12, 16; threshold 2/day = 14 on the grid
    val counts = Seq.fill(7)(10) ++ Seq(14, 14, 14)
    val rows = counts.zipWithIndex.flatMap { case (c, i) =>
      Seq.fill(c)(day(i + 1)) }
    val df = rows.toDF("t").select(to_timestamp($"t").as("ts"))
    val out = Drift.ewmaDailyBand(df, "ts", refBuckets = 7,
        alphaBits = 2, thresholdPerBucket = 2L)
      .as[(java.sql.Date, Long, Long, Long, Long)].collect().toSeq
      .map { case (b, x, z, d, a) => (b.toString, x, z, d, a) }
    assert(out == Seq(
      ("2024-03-08", 14L, 77L, 7L, 0L),
      ("2024-03-09", 14L, 82L, 12L, 0L),
      ("2024-03-10", 14L, 86L, 16L, 1L)))
    // partitioning invariance: recurrence folds a sorted sidecar
    val rep = Drift.ewmaDailyBand(df.repartition(9), "ts", refBuckets = 7,
        alphaBits = 2, thresholdPerBucket = 2L)
      .as[(java.sql.Date, Long, Long, Long, Long)].collect().toSeq
      .map { case (b, x, z, d, a) => (b.toString, x, z, d, a) }
    assert(rep == out)
  }

  test("holtDailyForecast: hand state on linear growth; residuals shrink " +
      "where a flat-baseline monitor would alarm daily") {
    def day(d: Int) = f"2024-04-$d%02d 12:00:00"
    // 10,12,14,16,18: l0=10e6, b0=2e6; day 3 f=12e6, l=12.5e6,
    // b=(2.5e6+14e6)/8=2062500, resid=2e6
    val counts = Seq(10, 12, 14, 16, 18)
    val rows = counts.zipWithIndex.flatMap { case (c, i) =>
      Seq.fill(c)(day(i + 1)) }
    val df = rows.toDF("t").select(to_timestamp($"t").as("ts"))
    val out = Drift.holtDailyForecast(df, "ts", alphaBits = 2,
        betaBits = 3, thresholdPerBucket = 3L)
      .as[(java.sql.Date, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
      .map { case (b, x, f, l, tr, r, a) => (b.toString, x, f, l, tr, r, a) }
    assert(out.head ==
      ("2024-04-03", 14L, 12000000L, 12500000L, 2062500L, 2000000L, 0L))
    val resids = out.map(_._6)
    assert(resids == resids.sortBy(-_),
      s"residuals must shrink under a steady trend, got $resids")
    assert(out.forall(_._7 == 0L), "no alarms under the tracked trend")
    // the same series alarms EWMA's flat baseline on every monitored day
    // (5-day toy: baseline = first 2 days via refBuckets=2)
    val ew = Drift.ewmaDailyBand(df, "ts", refBuckets = 2,
        alphaBits = 1, thresholdPerBucket = 1L)
      .as[(java.sql.Date, Long, Long, Long, Long)].collect().toSeq
    assert(ew.forall(_._5 == 1L))
  }

  test("seasonalDecompose: pure weekly signal decomposes exactly — " +
       "flat trend, seasonal = the weekday offsets, zero remainder; " +
       "calendar gaps exclude every window they touch") {
    // 14 days from epoch, count(d) = 10 + d%7: every full 7-day window
    // sums to 91 -> trend = 13e6 exactly; seasonal(s) = (s-3)e6
    val rows = for {
      d <- 0 to 13
      i <- 0 until 10 + d % 7
    } yield (d, f"1970-01-${d + 1}%02d 0${i % 9}:01:00")
    def decompose(days: Seq[(Int, String)]) = Drift.seasonalDecompose(
        days.map(_._2).toDF("t").select(to_timestamp($"t").as("ts")), "ts")
      .as[(java.sql.Date, Long, Long, Long, Long, Long)].collect().toSeq
    val out = decompose(rows)
    // full windows exist for d = 3..10 only
    assert(out.map(_._1.toLocalDate.toEpochDay) == (3L to 10L))
    out.foreach { case (d, x, season, trend, seasonal, rem) =>
      val day = d.toLocalDate.toEpochDay
      assert(x == 10 + day % 7)
      assert(season == day % 7)
      assert(trend == 13000000L)
      assert(seasonal == (day % 7 - 3) * 1000000L)
      assert(rem == 0L)
    }
    // drop day 5: every window containing it (d = 2..8) disappears
    val g = decompose(rows.filter(_._1 != 5))
    assert(g.map(_._1.toLocalDate.toEpochDay) == Seq(9L, 10L))
  }

  test("periodogramOverDailyCounts: sharded per-batch count frames " +
       "fold to the whole-history spectrum exactly") {
    val days = (0 to 27).map(d =>
      (java.sql.Date.valueOf(f"1970-01-${d + 1}%02d"),
        10L + (if (d % 7 == 0) 5L else 0L)))
    val whole = days.toDF("bucket", "x")
    val shards = days.flatMap { case (b, x) =>
      Seq((b, 3L), (b, x - 3L)) }.toDF("bucket", "x")
    val a = Drift.periodogramOverDailyCounts(whole)
      .as[(Int, Long, Long, Long, Double)].collect().toSeq
    val b = Drift.periodogramOverDailyCounts(shards)
      .as[(Int, Long, Long, Long, Double)].collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("seasonalDecomposeOverDailyCounts: sharded per-batch count " +
       "frames fold to the whole-history decomposition exactly") {
    val days = (0 to 13).map(d =>
      (java.sql.Date.valueOf(f"1970-01-${d + 1}%02d"), 10L + d % 7))
    val whole = days.toDF("bucket", "x")
    // shard every day's count across three "batches": 3 + 4 + rest
    val shards = days.flatMap { case (b, x) =>
      Seq((b, 3L), (b, 4L), (b, x - 7L)) }.toDF("bucket", "x")
    val a = Drift.seasonalDecomposeOverDailyCounts(whole)
      .as[(java.sql.Date, Long, Long, Long, Long, Long)].collect().toSeq
    val b = Drift.seasonalDecomposeOverDailyCounts(shards)
      .as[(java.sql.Date, Long, Long, Long, Long, Long)].collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("fanoFactorDaily: hand dispersion — (2,4,6) days give 2/3, a " +
       "constant series gives exactly 0") {
    val rows =
      (0 until 2).map(i => ("A", f"1970-01-01 0$i:00:00")) ++
      (0 until 4).map(i => ("A", f"1970-01-02 0$i:00:00")) ++
      (0 until 6).map(i => ("A", f"1970-01-03 0$i:00:00")) ++
      (0 until 5).map(i => ("B", f"1970-01-01 0$i:00:00")) ++
      (0 until 5).map(i => ("B", f"1970-01-02 0$i:00:00"))
    val df = rows.toDF("t", "ts0")
      .select($"t", to_timestamp($"ts0").as("ts"))
    val out = Drift.fanoFactorDaily(df, "t", "ts")
      .as[(String, Long, Long, Option[Long], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    // A: n=3, S=12, Sx2=56 -> floor(1e6*(168-144)/36) = 666666
    assert(out("A") == (("A", 3L, 12L, Some(666666L), Some(0.666666))))
    assert(out("B") == (("B", 2L, 10L, Some(0L), Some(0.0))))
  }

  test("dailyPeriodogram: a weekly comb over 28 days peaks at its " +
       "harmonics k=4,8,12 and is near-silent elsewhere; " +
       "partitioning-invariant") {
    // x(d) = 10 + 5·[d ≡ 0 (mod 7)]: period-7 comb, 4 cycles in span
    val rows = for {
      d <- 0 until 28
      i <- 0 until (if (d % 7 == 0) 15 else 10)
    } yield f"1970-01-${d + 1}%02d 0${i % 9}:01:00"
    val df = rows.toDF("t").select(to_timestamp($"t").as("ts"))
    val out = Drift.dailyPeriodogram(df, "ts")
      .as[(Int, Long, Long, Long, Double)].collect().toSeq
    assert(out.map(_._1) == (1 to 12))
    assert(out.forall(_._2 == 28L))
    val p = out.map(r => r._1 -> r._5).toMap
    // comb harmonics carry ~400 units² of power; off-harmonics ~0
    for (k <- Seq(4, 8, 12)) assert(p(k) > 100.0, s"k=$k ${p(k)}")
    for (k <- Seq(1, 2, 3, 5, 6, 9, 10, 11))
      assert(p(k) < 1.0, s"k=$k ${p(k)}")
    val rep = Drift.dailyPeriodogram(df.repartition(9), "ts")
      .as[(Int, Long, Long, Long, Double)].collect().toSeq
    assert(rep == out)
  }

  test("theilSenDailyTrend: more than 4096 observed days fails loudly " +
       "(its slope fold is O(days^2) driver memory) instead of OOMing") {
    val rows = (0 until 4200).map(d =>
      java.sql.Timestamp.valueOf(java.time.LocalDate.of(2000, 1, 1)
        .plusDays(d).atStartOfDay()))
    val df = rows.toDF("ts")
    val e = intercept[IllegalArgumentException] {
      Drift.theilSenDailyTrend(df, "ts")
    }
    assert(e.getMessage.contains("theilSenDailyTrend"))
  }

  test("dailyPeriodogram: calendar gaps do not shift the peak — the " +
       "angle denominator is the SPAN, so a missing off-comb day " +
       "keeps the weekly harmonic at k=4 (a day-count denominator " +
       "would smear it)") {
    // same period-7 comb over 28 calendar days but day 10 (off-comb)
    // has no events at all: n_days = 27, span = 28
    val rows = for {
      d <- 0 until 28 if d != 10
      i <- 0 until (if (d % 7 == 0) 15 else 10)
    } yield f"1970-01-${d + 1}%02d 0${i % 9}:01:00"
    val df = rows.toDF("t").select(to_timestamp($"t").as("ts"))
    val out = Drift.dailyPeriodogram(df, "ts")
      .as[(Int, Long, Long, Long, Double)].collect().toSeq
    assert(out.forall(_._2 == 27L)) // n_days still reports the count
    val p = out.map(r => r._1 -> r._5).toMap
    // the comb harmonic (~400 units²) survives the gap; the gap itself
    // is a single removed 10-count day = a flat |10|² ≈ 100 units² of
    // leakage at every k — peak stays 2.5x above it
    assert(p(4) > 250.0, s"k=4 ${p(4)}")
    assert(p(1) < 150.0 && p(2) < 150.0, s"leakage ${p(1)} ${p(2)}")
  }
}
