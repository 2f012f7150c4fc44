package graft.operators

import graft.SparkSpec

class PrivacySpec extends SparkSpec {
  import spark.implicits._

  test("kAnonymityAudit: combos under k flag, NULL quasi-values form their own class") {
    val df = Seq(
      ("en", "web"), ("en", "web"), ("en", "web"),
      ("en", "book"),
      (null.asInstanceOf[String], "web"), (null.asInstanceOf[String], "web")
    ).toDF("lang", "src")
    val out = Privacy.kAnonymityAudit(df, Seq("lang", "src"), k = 3)
      .collect().map(r => (Option(r.getString(0)), r.getString(1),
        r.getLong(2), r.getBoolean(3))).toSet
    assert(out == Set(
      (Some("en"), "web", 3L, false),
      (Some("en"), "book", 1L, true),
      (None, "web", 2L, true)))
  }

  test("lDiversityAudit: class diversity counts distinct sensitive values, NULLs excluded") {
    val df = Seq(
      ("a", "s1"), ("a", "s2"), ("a", "s2"),
      ("b", "s1"), ("b", "s1"),
      ("c", null.asInstanceOf[String])
    ).toDF("q", "sens")
    val out = Privacy.lDiversityAudit(df, Seq("q"), "sens", l = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    assert(out == Set(
      ("a", 3L, 2L, false),   // two distinct sensitive values
      ("b", 2L, 1L, true),    // homogeneous class leaks by association
      ("c", 1L, 0L, true)))   // all-NULL sensitive: 0 distinct, at risk
  }

  test("tClosenessAudit ordered: hand-computed EMD on a 3-value support") {
    // global: v=1 x4, v=2 x2, v=3 x2 (N=8, m=3); class "a" = {1,1,1,1}
    // p=(1,0,0), q=(1/2,1/4,1/4): cums |1-1/2|=1/2, |1-3/4|=1/4 ->
    // EMD = (1/2+1/4)/2 = 0.375; class "b" = {2,2,3,3}: p=(0,1/2,1/2),
    // cums 1/2, 1/4 -> same 0.375 by symmetry
    val df = Seq(("a", 1), ("a", 1), ("a", 1), ("a", 1),
      ("b", 2), ("b", 2), ("b", 3), ("b", 3)).toDF("q", "v")
    val out = Privacy.tClosenessAudit(df, Seq("q"), "v", t = 0.3)
      .as[(String, Long, Double, Boolean)].collect().toSet
    assert(out == Set(("a", 4L, 0.375, true), ("b", 4L, 0.375, true)))
  }

  test("tClosenessAudit: global-matching class scores 0; categorical TV; NULLs excluded") {
    val df = Seq(("a", Some("x")), ("a", Some("y")),
      ("b", Some("x")), ("b", Some("y")), ("c", None)).toDF("q", "v")
    // both classes mirror the global 50/50 -> distance 0, not at risk
    val tv = Privacy.tClosenessAudit(df, Seq("q"), "v", t = 0.1,
        ordered = false)
      .as[(String, Long, Double, Boolean)].collect().toSet
    assert(tv == Set(("a", 2L, 0.0, false), ("b", 2L, 0.0, false)))
    // skewed class: "a"={x,x}, "b"={y}: global q=(2/3,1/3);
    // TV(a) = (|1-2/3|+|0-1/3|)/2 = 1/3
    val df2 = Seq(("a", "x"), ("a", "x"), ("b", "y")).toDF("q", "v")
    val tv2 = Privacy.tClosenessAudit(df2, Seq("q"), "v", t = 0.3,
        ordered = false)
      .as[(String, Long, Double, Boolean)].collect().toSet
    assert(tv2 == Set(("a", 2L, 0.333333, true), ("b", 1L, 0.666667, true)))
  }

  test("luhnScan: textbook card numbers validate, off-by-one fails, short runs ignored") {
    val df = Seq(
      (1L, "pay 4532015112830366 now"),        // valid Visa test number
      (2L, "pay 4532015112830367 now"),        // last digit bumped -> invalid
      (3L, "order 123456789012 and 79927398713"), // 12-digit run too short; 11-digit too
      (4L, "two cards 4532015112830366 and 6011000990139424"), // both valid
      (5L, null.asInstanceOf[String])
    ).toDF("id", "text")
    val out = Privacy.luhnScan(df, "id", "text")
      .as[(Long, Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    assert(out == Seq(
      (1L, 1L, 1L, true), (2L, 1L, 0L, false), (3L, 0L, 0L, false),
      (4L, 2L, 2L, true), (5L, 0L, 0L, false)))
  }

  test("plan: both audits are a single grouped aggregate — no window, no join") {
    val df = Seq(("a", "s1", 1L)).toDF("q", "sens", "v")
    val p1 = Privacy.kAnonymityAudit(df, Seq("q"), 2)
      .queryExecution.executedPlan.toString
    val p2 = Privacy.lDiversityAudit(df, Seq("q"), "sens", 2)
      .queryExecution.executedPlan.toString
    for (p <- Seq(p1, p2)) {
      assert(!p.contains("Window"), p)
      assert(!p.contains("Join"), p)
    }
  }

  test("pseudonymize: stable keyed tokens, join-consistency across frames, " +
      "NULL passthrough, salt rotation breaks linkage") {
    val a = Seq((1L, Some("alice")), (2L, Some("bob")), (3L, None))
      .toDF("id", "name")
    val out = Privacy.pseudonymize(a, "s1", Seq("name"))
      .as[(Long, Option[String])].collect().toMap
    val md5alice = java.security.MessageDigest.getInstance("MD5")
      .digest("s1:alice".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    assert(out(1L).contains(s"pn_$md5alice"))
    assert(out(3L).isEmpty, "NULL must stay NULL")
    // same salt on another frame → identical token (joins survive)
    val b = Seq((9L, "alice")).toDF("k", "name")
    val tok = Privacy.pseudonymize(b, "s1", Seq("name"))
      .as[(Long, String)].collect().head._2
    assert(tok == out(1L).get)
    // rotated salt → different token (linkage between releases broken)
    val rot = Privacy.pseudonymize(b, "s2", Seq("name"))
      .as[(Long, String)].collect().head._2
    assert(rot != tok)
    // map-only plan: no shuffle, no join
    val plan = Privacy.pseudonymize(a, "s1", Seq("name"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
  }

  test("pseudonymizeEmail: domain preserved, local tokenized; no-@ strings " +
      "tokenize whole") {
    val df = Seq((1L, Some("alice@corp.example")), (2L, Some("not-an-email")),
      (3L, None)).toDF("id", "e")
    val out = df.select($"id",
        Privacy.pseudonymizeEmail($"e", "s1").as("pn"))
      .as[(Long, Option[String])].collect().toMap
    assert(out(1L).get.endsWith("@corp.example"))
    assert(out(1L).get.startsWith("pn_"))
    val md5local = java.security.MessageDigest.getInstance("MD5")
      .digest("s1:alice".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    assert(out(1L).get == s"pn_$md5local@corp.example")
    assert(out(2L).get.startsWith("pn_") && !out(2L).get.contains("@"))
    assert(out(3L).isEmpty)
  }

  test("dpNoisyCounts: noise depends only on (salt, group) — not the " +
       "data; Laplace(1/eps) tail bound holds; null groups drop; " +
       "partitioning-invariant") {
    def counts(n: Int, g: String) = (1 to n).map(i => (g, s"r$i"))
    val small = (counts(5, "a") ++ counts(7, "b")).toDF("g", "id")
    val big = (counts(50, "a") ++ counts(70, "b") ++
      Seq((null.asInstanceOf[String], "x"))).toDF("g", "id")
    def run(df: org.apache.spark.sql.DataFrame, epsMicro: Long = 1000000L) =
      Privacy.dpNoisyCounts(df, Seq("g"), "spec-salt", epsMicro)
        .as[(String, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    val s5 = run(small); val s50 = run(big)
    // same key -> identical noise term regardless of the true count
    assert(s5("a")._1 - 5000000L == s50("a")._1 - 50000000L)
    assert(s5("b")._1 - 7000000L == s50("b")._1 - 70000000L)
    assert(!s50.contains(null))
    // |noise| <= (1/eps)·ln(1e9) micro ≈ 20.8e6 (u is 1e-9-grid bounded)
    val noiseA = s5("a")._1 - 5000000L
    val noiseB = s5("b")._1 - 7000000L
    assert(math.abs(noiseA) <= 21000000L && math.abs(noiseB) <= 21000000L)
    // fixed input: the two groups draw distinct noise (pinned)
    assert(noiseA != noiseB)
    // dp_count is the rounded micro value
    assert(s5("a")._2 == BigDecimal(s5("a")._1.toDouble / 1e6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // partitioning-invariant
    assert(run(small.repartition(5)) == s5)
    // tighter epsilon -> weaker noise, same sign
    val e2 = run(small, epsMicro = 2000000L)
    val n2 = e2("a")._1 - 5000000L
    assert(math.abs(n2) <= math.abs(noiseA) && n2 * noiseA >= 0)
  }

  test("dpMedian: utility dominates at large epsilon (the true median " +
       "comes back), tiny epsilon still returns an observed value, " +
       "deterministic under repartition") {
    val df = (1L to 9L).map(v => ("g", v))
      .toDF("g", "v")
    // eps = 100: the 25-point utility gap per rank step dwarfs the
    // Gumbel band (~[-3, 21]) -> exact median 5 wins surely
    val big = Privacy.dpMedian(df, Seq("g"), "v", "s", 100000000L)
      .as[(String, Long)].collect().toMap
    assert(big("g") == 5L)
    // eps = 0.001: pure hash lottery, but still one of the inputs and
    // stable across partitionings
    val tiny = Privacy.dpMedian(df, Seq("g"), "v", "s", 1000L)
      .as[(String, Long)].collect().toMap
    assert((1L to 9L).contains(tiny("g")))
    val rep = Privacy.dpMedian(df.repartition(5), Seq("g"), "v", "s",
      1000L).as[(String, Long)].collect().toMap
    assert(rep == tiny)
    // two groups release independently
    val two = df.union(Seq(("h", 100L), ("h", 200L), ("h", 300L))
      .toDF("g", "v"))
    val out = Privacy.dpMedian(two, Seq("g"), "v", "s", 100000000L)
      .as[(String, Long)].collect().toMap
    assert(out("g") == 5L && out("h") == 200L)
  }

  test("dpMedianGrid: release is ALWAYS a grid point (data-independent " +
       "support), large epsilon snaps to the grid point nearest the " +
       "true median, out-of-range values clamp, repartition-invariant") {
    // data 1..9 (median 5) but the grid is 0, 10, 20, ..., 100: the
    // observed values can never be released
    val df = (1L to 9L).map(v => ("g", v)).toDF("g", "v")
    val big = Privacy.dpMedianGrid(df, Seq("g"), "v", "s",
        lo = 0L, hi = 100L, step = 10L, epsilonMicro = 100000000L)
      .as[(String, Long)].collect().toMap
    // every grid point >= 10 has all 9 values below it (|d| = 9), grid
    // point 0 has all above (|d| = 9): utilities tie, Gumbel decides —
    // but the release MUST be on the grid
    assert(big("g") % 10L == 0L && big("g") <= 100L)
    // a grid that brackets the data tightly: median 5 sits at d = ±1
    // for candidates 5 (2*5-1-9=0) vs others — eps=100 makes rank win
    val fine = Privacy.dpMedianGrid(df, Seq("g"), "v", "s",
        lo = 0L, hi = 10L, step = 1L, epsilonMicro = 100000000L)
      .as[(String, Long)].collect().toMap
    assert(fine("g") == 5L)
    // outliers clamp into [lo, hi] instead of minting candidates
    val out = df.union(Seq(("g", 1000000L)).toDF("g", "v"))
    val cl = Privacy.dpMedianGrid(out, Seq("g"), "v", "s",
        lo = 0L, hi = 10L, step = 1L, epsilonMicro = 100000000L)
      .as[(String, Long)].collect().toMap
    assert(cl("g") == 5L || cl("g") == 6L) // n=10: 5 and 6 both center
    val rep = Privacy.dpMedianGrid(out.repartition(5), Seq("g"), "v",
        "s", lo = 0L, hi = 10L, step = 1L, epsilonMicro = 100000000L)
      .as[(String, Long)].collect().toMap
    assert(rep == cl)
    // oversized grids are refused loudly
    intercept[IllegalArgumentException] {
      Privacy.dpMedianGrid(df, Seq("g"), "v", "s",
        lo = 0L, hi = 100000000L, step = 1L)
    }
  }
}
