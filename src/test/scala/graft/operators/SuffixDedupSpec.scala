package graft.operators

import graft.SparkSpec

/** Suffix-array exact-substring dedup (arXiv:2107.06499 formulation):
  * bounded prefix-doubling ranks must find exactly the positions whose
  * length-L window recurs, keep-first, with merged coverage. Every case
  * is cross-checked against a brute-force window scan computed in plain
  * Scala, so the doubling machinery (8-gram init, overlap trick,
  * short-suffix exclusion) is pinned independently of Spark. */
class SuffixDedupSpec extends SparkSpec {
  import spark.implicits._

  /** Brute force: all (id, pos) whose L-window occurs >= 2 times,
    * minus the global first (id, pos) occurrence per window. */
  private def bruteAnchors(docs: Seq[(Long, String)],
                           L: Int): Set[(Long, Int)] = {
    val windows = for {
      (id, t) <- docs
      p <- 0 to t.length - L
    } yield (t.substring(p, p + L), (id, p))
    windows.groupBy(_._1).values.filter(_.size >= 2)
      .flatMap(g => g.map(_._2).sorted.tail).toSet
  }

  private def bruteCoverage(anchors: Set[(Long, Int)], L: Int): Map[Long, Long] =
    anchors.groupBy(_._1).map { case (id, as) =>
      val ps = as.map(_._2).toSeq.sorted
      val gain = ps.headOption.map(_ => L.toLong).getOrElse(0L) +
        ps.sliding(2).collect { case Seq(a, b) => math.min(L, b - a).toLong }.sum
      id -> gain
    }

  private def check(docs: Seq[(Long, String)], L: Int): Unit = {
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.suffixDupAnchors(df, "doc_id", "text", L)
      .as[(Long, Int)].collect().toSet
    assert(got === bruteAnchors(docs, L), s"anchors, L=$L")
    // both physical strategies must agree with brute force on every
    // corpus shape: the default picks direct-window grouping at L <= 64,
    // so force prefix doubling explicitly too
    val doubled = Dedup.suffixDupAnchors(df, "doc_id", "text", L,
      doublingThreshold = 0).as[(Long, Int)].collect().toSet
    assert(doubled === got, s"doubling-vs-direct parity, L=$L")
    // the document-level prefilter must be INVISIBLE in the output:
    // every duplicate participant self-witnesses through its stride
    // probes, so dropping the rest changes nothing (exactness argument
    // in the Scaladoc; pinned here on every corpus shape in this suite)
    val pre = Dedup.suffixDupAnchorsPrefiltered(df, "doc_id", "text", L)
      .as[(Long, Int)].collect().toSet
    assert(pre === got, s"prefiltered parity, L=$L")
    val stats = Dedup.suffixDupStats(df, "doc_id", "text", L)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val cov = bruteCoverage(got, L)
    docs.foreach { case (id, t) =>
      val (n, na, nd) = stats(id)
      assert(n === t.length.toLong, s"n_chars doc $id")
      assert(na === got.count(_._1 == id).toLong, s"n_anchors doc $id")
      assert(nd === cov.getOrElse(id, 0L), s"n_dup_chars doc $id")
    }
  }

  test("planted 40-char duplicate across two docs is cut, first kept") {
    val dup = "the quick brown fox jumps over lazy dogs"
    require(dup.length == 40)
    val docs = Seq(
      1L -> s"AAAA $dup BBBB unique tail one",
      2L -> s"CCCC prefix two $dup DDDD",
      3L -> "totally unrelated text with no repeats at all here")
    check(docs, 32)
    // doc 1 holds the first occurrence: every cut anchor is in doc 2
    val anchors = Dedup.suffixDupAnchors(
      docs.toDF("doc_id", "text"), "doc_id", "text", 32)
      .as[(Long, Int)].collect()
    assert(anchors.nonEmpty && anchors.forall(_._1 == 2L))
  }

  test("non-power-of-two minMatch exercises the overlap step") {
    val dup = "x" * 5 + "shared segment of text that is long enough!" + "y" * 5
    val docs = Seq(
      10L -> s"alpha $dup omega",
      11L -> s"$dup beta gamma delta",
      12L -> "short")
    check(docs, 50) // 8 -> 16 -> 32 -> 50: final d = 18 < 32
    check(docs, 24) // 8 -> 16 -> 24: final d = 8
  }

  test("degenerate all-same-char run: overlapping anchors de-overlap") {
    val docs = Seq(
      20L -> ("a" * 100),
      21L -> ("a" * 60 + "b distinct suffix padding padding"))
    check(docs, 32)
  }

  test("within-document repetition is found without a second doc") {
    val seg = "repeated block 0123456789 abcdefghijklmn"
    require(seg.length >= 32)
    val docs = Seq(30L -> s"$seg middle filler $seg end filler")
    check(docs, 32)
  }

  test("documents shorter than minMatch never anchor or crash") {
    val docs = Seq(40L -> "tiny", 41L -> "tiny", 42L -> ("z" * 31))
    val got = Dedup.suffixDupAnchors(docs.toDF("doc_id", "text"),
      "doc_id", "text", 32).count()
    assert(got === 0L)
    val stats = Dedup.suffixDupStats(docs.toDF("doc_id", "text"),
      "doc_id", "text", 32).as[(Long, Long, Long, Long)].collect()
    assert(stats.forall(r => r._3 == 0L && r._4 == 0L))
    assert(stats.map(_._1).toSet === Set(40L, 41L, 42L))
  }
}
