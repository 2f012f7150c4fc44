package graft.operators

import graft.SparkSpec

class CorpusSpec extends SparkSpec {
  import spark.implicits._

  test("stripBoilerplate: frequent lines die everywhere, blanks and rare " +
       "lines survive, NULL/empty/all-boilerplate docs keep their row") {
    val nav = "Home | About"
    // 30 docs sharing the nav line; doc 0 also has a blank line and a
    // unique body; doc 100 is NULL text; doc 101 is empty text; doc 102
    // is ONLY the nav line
    val docs = (0L until 30L).map(i => (i, s"$nav\n\nbody $i")) ++
      Seq((100L, null: String), (101L, ""), (102L, nav))
    val out = Corpus.stripBoilerplate(docs.toDF("id", "text"), "id", "text",
        minDocs = 30)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // nav stripped, blank + body kept in original order
    assert(out(0L) == (2L, 1L, "\nbody 0"))
    // NULL text: zero lines, not a vanished or NULL-count row
    assert(out(100L) == (0L, 0L, ""))
    // empty text: ONE blank line, which is structure and survives
    assert(out(101L) == (1L, 0L, ""))
    // fully-boilerplate doc: present with everything dropped
    assert(out(102L) == (0L, 1L, ""))
    assert(out.size == 33)
  }

  test("dedupLinesWithinDoc: keep-first on the trimmed form, blanks always " +
       "survive, no cross-document effect, NULL text keeps a (0,0,'') row") {
    val docs = Seq(
      // nav repeated top+bottom (second dies), trimmed-form match
      // ("  nav" == "nav"), interior blank pair both kept
      (1L, "nav\nbody\n\n\n  nav\nbody"),
      // same nav in ANOTHER doc is untouched (decision is per-document)
      (2L, "nav\nother"),
      (3L, null: String),
      (4L, "")).toDF("id", "text")
    val out = Corpus.dedupLinesWithinDoc(docs, "id", "text").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == (4L, 2L, "nav\nbody\n\n"))
    assert(out(2L) == (2L, 0L, "nav\nother"))
    assert(out(3L) == (0L, 0L, ""))
    // empty text = ONE blank line, structure, kept
    assert(out(4L) == (1L, 0L, ""))
    assert(!Corpus.dedupLinesWithinDoc(docs, "id", "text")
      .queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("stripBoilerplate: minDocs is a hard threshold") {
    val line = "almost common"
    val docs = (0L until 10L).map(i => (i, s"$line\nbody $i"))
    // appears in 10 docs; threshold 11 → survives everywhere
    val kept = Corpus.stripBoilerplate(docs.toDF("id", "text"), "id", "text",
      minDocs = 11)
    assert(kept.filter($"cleaned".contains(line)).count() == 10)
    // threshold 10 → dies everywhere
    val dead = Corpus.stripBoilerplate(docs.toDF("id", "text"), "id", "text",
      minDocs = 10)
    assert(dead.filter($"cleaned".contains(line)).count() == 0)
    intercept[IllegalArgumentException] {
      Corpus.stripBoilerplate(docs.toDF("id", "text"), "id", "text", 1)
    }
  }

  test("unigramNll: exact hand-computed scores; token-less docs keep a " +
       "(id, 0, NULL) row") {
    val docs = Seq((1L, "a a b"), (2L, "b c"), (3L, "123 !!")).toDF("id", "text")
    val out = Corpus.unigramNll(docs, "id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    // counts: a=2 b=2 c=1, N=5
    def nll(ps: Double*) =
      math.rint(ps.map(p => -math.log(p)).sum / ps.size * 1e4) / 1e4
    assert(out(1L) == (3L, Some(nll(0.4, 0.4, 0.4))))
    assert(out(2L) == (2L, Some(nll(0.4, 0.2))))
    assert(out(3L) == (0L, None))
  }

  test("bigramNll: exact hand-computed interpolated scores; short docs " +
       "keep a (id, 0, NULL) row") {
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "solo"),
      (4L, "???")).toDF("id", "text")
    val out = Corpus.bigramNll(docs, "id", "text", lambda = 0.5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    // unigrams: a=3 b=3 solo=1, N=7; bigrams: (a,b)=3 (b,a)=1
    val ab = -math.log(0.5 * 3.0 / 3.0 + 0.5 * 3.0 / 7.0)
    val ba = -math.log(0.5 * 1.0 / 3.0 + 0.5 * 3.0 / 7.0)
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    assert(out(1L) == (3L, Some(r4((ab + ba + ab) / 3))))
    assert(out(2L) == (1L, Some(r4(ab))))
    // one token → no bigram position; zero tokens likewise
    assert(out(3L) == (0L, None))
    assert(out(4L) == (0L, None))
    intercept[IllegalArgumentException] {
      Corpus.bigramNll(docs, "id", "text", lambda = 1.5)
    }
  }

  test("trigramNllBackoff: each backoff rung hand-checked; short docs " +
       "keep a (id, 0, NULL) row") {
    // train "a b c a b d": c1 a=2 b=2 c=1 d=1 (N=6, V=4);
    // c2 (a,b)=2 (b,c)=1 (c,a)=1 (b,d)=1; c3 abc/bca/cab/abd = 1
    val train = Seq((0L, "a b c a b d")).toDF("doc_id", "text")
    val test_ = Seq((1L, "a b c x"), (3L, "x a b"), (5L, "ab"))
      .toDF("doc_id", "text")
    val out = Corpus.trigramNllBackoff(train, test_, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    // doc 1: (a,b,c) hits rung 1 -> c3/c2(a,b) = 1/2;
    //        (b,c,x) falls to rung 3 -> 0.4^2 * (0+1)/(6+4)
    val s1 = -math.log(1.0 / 2.0)
    val s2 = -math.log(0.4 * 0.4 * 1.0 / 10.0)
    assert(out(1L) == (2L, Some(r4((s1 + s2) / 2))))
    // doc 3: (x,a,b) hits rung 2 -> 0.4 * c2(a,b)/c1(a) = 0.4*2/2
    assert(out(3L) == (1L, Some(r4(-math.log(0.4 * 2.0 / 2.0)))))
    // doc 5: one token, nothing to score
    assert(out(5L) == (0L, None))
  }

  test("unigramJsDivergence: hand-computed JS on crafted corpora; " +
       "identical corpora score 0; disjoint corpora score ln 2; an " +
       "empty side is NULL, not 0 or NaN") {
    def js(rows: Seq[(Long, String)], rows2: Seq[(Long, String)]) =
      Corpus.unigramJsDivergence(rows.toDF("id", "text"),
        rows2.toDF("id", "text"), "text").collect().head
    // old = {a:2, b:1} (N=3), new = {a:1, b:2} (N=3)
    val r = js(Seq((1L, "a a b")), Seq((2L, "a b b")))
    val p = Seq(2.0 / 3, 1.0 / 3); val q = Seq(1.0 / 3, 2.0 / 3)
    val expect = (0 until 2).map { i =>
      val m = (p(i) + q(i)) / 2
      0.5 * p(i) * math.log(p(i) / m) + 0.5 * q(i) * math.log(q(i) / m)
    }.sum
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L && r.getLong(2) == 2L)
    assert(math.abs(r.getDouble(3) - math.rint(expect * 1e6) / 1e6) < 1e-12)
    // identical distributions → 0
    assert(js(Seq((1L, "x y")), Seq((2L, "x y"))).getDouble(3) == 0.0)
    // disjoint vocabularies → ln 2
    val d = js(Seq((1L, "x x")), Seq((2L, "y z")))
    assert(math.abs(d.getDouble(3) - math.log(2)) < 1e-6)
    // empty new side → NULL js, zero n_new
    val e = js(Seq((1L, "x y")), Seq((2L, "123 !!")))
    assert(e.isNullAt(3) && e.getLong(1) == 0L)
  }

  test("pmiCollocations: hand-computed PMI, minCount suppresses hapax " +
       "pairs, rounding-then-rank replays") {
    // "strong coffee" ×3, each word only in that pair; filler separates
    val docs = Seq(
      (1L, "strong coffee x strong coffee y strong coffee"),
      (2L, "x y x y")).toDF("id", "text")
    val out = Corpus.pmiCollocations(docs, "text", minCount = 3, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // N = 12 tokens (8 + 4); c(strong)=c(coffee)=3, c12=3 → ln(3·12/9)
    val want = math.rint(math.log(3.0 * 12 / 9) * 1e4) / 1e4
    assert(out((("strong", "coffee"))) == (3L, want))
    // pairs below minCount (everything else) are gone
    assert(out.keySet == Set(("strong", "coffee")))
  }

  test("dedupLinesAcrossDocs: corpus-first occurrence survives by " +
       "(id, pos), later copies die everywhere, blanks always kept") {
    val docs = Seq(
      (1L, "nav\nbody one\nnav"),     // first nav (pos 0) survives; pos-2 copy dies
      (2L, "nav\n\nbody two"),        // doc 2's nav dies (doc 1 was first)
      (3L, "body one\nunique"),       // 'body one' dies (doc 1 first)
      (4L, null: String)).toDF("id", "text")
    val out = Corpus.dedupLinesAcrossDocs(docs, "id", "text").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == (2L, 1L, "nav\nbody one"))
    assert(out(2L) == (2L, 1L, "\nbody two"))
    assert(out(3L) == (1L, 1L, "unique"))
    assert(out(4L) == (0L, 0L, ""))
  }

  test("collapseRepeatedTokens: case-insensitive consecutive collapse, " +
       "non-adjacent repeats survive, NULL/blank keep a (0,0,'') row") {
    val docs = Seq(
      (1L, "the THE the model  model runs"),
      (2L, "a b a b"),            // alternating — nothing collapses
      (3L, null: String),
      (4L, "   "),
      (5L, "word")).toDF("id", "text")
    val out = Corpus.collapseRepeatedTokens(docs, "id", "text").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // keep-first preserves the FIRST casing of a run
    assert(out(1L) == (3L, 3L, "the model runs"))
    assert(out(2L) == (4L, 0L, "a b a b"))
    assert(out(3L) == (0L, 0L, ""))
    assert(out(4L) == (0L, 0L, ""))
    assert(out(5L) == (1L, 0L, "word"))
  }

  test("typeTokenRatioBySource: exact counts, token-less sources keep a " +
       "(0, 0, NULL) row") {
    val docs = Seq(
      ("web", "a a b"), ("web", "b c"),   // web: 5 toks, vocab {a,b,c}
      ("books", "x x x x"),               // books: 4 toks, vocab {x}
      ("junk", "123 !!")                  // junk: no tokens at all
    ).toDF("source", "text")
    val out = Corpus.typeTokenRatioBySource(docs, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(out("web") == (5L, 3L, Some(0.6)))
    assert(out("books") == (4L, 1L, Some(0.25)))
    assert(out("junk") == (0L, 0L, None))
    assert(out.size == 3)
  }

  test("corpusDiff: all four statuses on a crafted delta; NULL text " +
       "digests as empty, not NULL-poison") {
    val v1 = Seq((1L, "same"), (2L, "old"), (3L, "gone"),
      (5L, null.asInstanceOf[String])).toDF("id", "text")
    val v2 = Seq((1L, "same"), (2L, "new"), (4L, "fresh"),
      (5L, "")).toDF("id", "text")
    val out = Corpus.corpusDiff(v1, v2, "id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "added", 5L -> "unchanged"))
  }

  test("corpus operators plan: no cartesian products") {
    val docs = Seq((1L, "a b c")).toDF("id", "text")
    for (p <- Seq(
        Corpus.stripBoilerplate(docs, "id", "text", 30),
        Corpus.unigramNll(docs, "id", "text"),
        Corpus.bigramNll(docs, "id", "text"))) {
      assert(!p.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    }
  }

  test("c4LineFilter: every rule fires on its designed line, page verdicts " +
       "combine kept-count with lorem/brace") {
    val pages = Seq(
      // 3 good lines -> kept
      (1L, "first proper line with six words.\nsecond proper line has " +
        "six words!\nthird proper line also has words?"),
      // good lines but a lorem mention kills the PAGE, lines still count
      (2L, "first proper line with six words.\nsecond proper line has " +
        "six words.\nthis line cites lorem ipsum politely."),
      // a brace anywhere kills the page
      (3L, "first proper line with six words.\nsecond proper line has " +
        "six words.\nobject = { field } style text."),
      // line failures: no terminal punct / too short / javascript
      (4L, "unterminated line with six whole words\nshort line.\n" +
        "a noisy JavaScript widget line here.\nonly this proper line " +
        "survives the cut.")
    ).toDF("doc_id", "text")
    val out = Corpus.c4LineFilter(pages, "doc_id", "text",
        minLineWords = 5, minKeptLines = 3)
      .orderBy($"doc_id")
      .select($"doc_id", $"n_lines", $"n_kept", $"keep")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(out == Seq(
      (1L, 3L, 3L, true),
      (2L, 3L, 3L, false),   // lorem ipsum: page dies with 3 kept lines
      (3L, 3L, 3L, false),   // curly brace: same
      (4L, 4L, 1L, false)))  // line rules leave 1 < 3 kept
  }

  test("languageMixStats: per-line verdicts, alphabetical majority " +
       "tiebreak, blank lines ignored, no-line docs drop") {
    val es = "el que la de un una y en los las"
    val de = "der die das und ist nicht ein eine"
    val en = "the cat and the dog of it all"
    val docs = Seq(
      (1L, s"$en\n$en\n$es"),       // en majority, 1/3 minority
      (2L, s"$es\n$de"),            // 1-1 tie -> 'de' (alphabetical)
      (3L, s"$en\n\n  \n$en"),      // blanks never count
      (4L, "\n  \n")                // nothing -> no row
    ).toDF("doc_id", "text")
    val out = Corpus.languageMixStats(docs, "doc_id", "text")
      .orderBy($"doc_id")
      .as[(Long, Long, Long, String, Double)].collect().toSeq
    assert(out == Seq(
      (1L, 3L, 2L, "en", 0.333333),
      (2L, 2L, 2L, "de", 0.5),
      (3L, 2L, 1L, "en", 0.0)))
  }

  test("c4LineFilter: clean_md5 is the kept lines rejoined in order") {
    val keep1 = "alpha beta gamma delta epsilon zeta."
    val keep2 = "one two three four five six?"
    val df = Seq((1L, s"$keep1\ndropped short.\n$keep2")).toDF("doc_id", "text")
    val got = Corpus.c4LineFilter(df, "doc_id", "text", 5, 1)
      .select($"clean_md5").as[String].head()
    val want = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$keep1\n$keep2".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    assert(got == want)
  }

  test("ccnetPerplexityBuckets: per-lang terciles, unscored short docs, head more fluent than tail") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a a a a", "xx"),   // most common bigram -> most fluent
      (2L, "a a a a b", "xx"),
      (3L, "a a b b", "xx"),
      (4L, "a b b c", "xx"),
      (5L, "b c c d", "xx"),
      (6L, "c d d e e f", "xx"),   // rarest bigrams -> least fluent
      (7L, "solo", "xx"),          // 1 token -> unscored
      (8L, "a a a", "yy")          // singleton scoreable lang: pr=0 -> head
    ).toDF("doc_id", "text", "lang")
    val out = Corpus.ccnetPerplexityBuckets(docs, "doc_id", "text", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]), r.getString(3)))
      .toSeq
    assert(out.length == 8 && out.map(_._1).distinct.length == 8)
    val xx = out.filter(_._2 == "xx")
    assert(xx.count(_._4 == "unscored") == 1 &&
      xx.find(_._4 == "unscored").get._1 == 7L)
    // 6 scoreable docs -> pr in {0,.2,.4,.6,.8,1}: 2 head, 2 middle, 2 tail
    assert(xx.count(_._4 == "head") == 2 && xx.count(_._4 == "middle") == 2 &&
      xx.count(_._4 == "tail") == 2)
    def mean(b: String) = { val v = xx.filter(_._4 == b).flatMap(_._3); v.sum / v.size }
    assert(mean("head") < mean("tail"))
    assert(out.find(_._1 == 8L).get._4 == "head") // singleton group: pr = 0.0
  }

  test("zipfSlopeBySource: two-point fit recovers the exact line; singleton vocab yields NULLs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // s1 vocab: a x8 (rank 1, x=ln1) and b x2 (rank 2, x=ln2) ->
    // slope ~ (ln2 - ln8)/ln2 = -2 (off by the 6dp point rounding)
    val docs = Seq(
      (1L, ("a " * 8 + "b b").trim, "s1"),
      (2L, "only", "s2")
    ).toDF("doc_id", "text", "source")
    val out = Corpus.zipfSlopeBySource(docs, "source", "text")
      .orderBy(col("source")).collect()
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (x2, y1, y2) = (r6(math.log(2)), r6(math.log(8)), r6(math.log(2)))
    val slope = (y2 - y1) / x2
    val intercept = ((y1 + y2) - slope * x2) / 2.0
    assert(out(0).getString(0) == "s1" && out(0).getLong(1) == 2L)
    assert(math.abs(out(0).getDouble(2) - r6(slope)) < 1e-9, out(0))
    assert(math.abs(out(0).getDouble(3) - r6(intercept)) < 1e-9, out(0))
    assert(out(1).getString(0) == "s2" && out(1).getLong(1) == 1L &&
      out(1).isNullAt(2) && out(1).isNullAt(3))
  }

  test("trigram langid: profiles discriminate crafted languages, und for no-overlap docs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val train = Seq(
      (1L, "aaa aab aba abb aaa aab", "xx"),
      (2L, "zzz zzy zyz zyy zzz zzy", "yy")
    ).toDF("doc_id", "text", "lang")
    val prof = Corpus.charTrigramProfiles(train, "lang", "text", topM = 10)
    assert(prof.filter(col("lang") === "xx").count() == 10)
    val test = Seq(
      (10L, "aaa abb aab"),   // xx trigrams
      (11L, "zzz zyy"),       // yy trigrams
      (12L, "qq")             // < 3 letters of overlap -> und
    ).toDF("doc_id", "text")
    val got = Corpus.classifyByTrigramProfiles(test, "doc_id", "text", prof, "lang")
      .orderBy(col("doc_id"))
      .as[(Long, String, Long)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) == Seq((10L, "xx"), (11L, "yy"), (12L, "und")))
    assert(got(0)._3 > 0 && got(2)._3 == 0)
  }

  test("burstinessStats: hand-computed VMR with zero docs counted, bursty beats even") {
    import spark.implicits._
    // 4 docs. 'even': 1 in each doc -> counts (1,1,1,1): mean 1,
    // E[x^2] 1, vmr = 0. 'burst': 4 in one doc -> (4,0,0,0): mean 1,
    // E[x^2] = 16/4 = 4, vmr = (4-1)/1 = 3.
    val docs = Seq(
      (1L, "even burst burst burst burst"),
      (2L, "even"), (3L, "even"), (4L, "even")
    ).toDF("doc_id", "text")
    val got = Corpus.burstinessStats(docs, "doc_id", "text",
        minCount = 1, topK = 10)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got == Seq(("burst", 1L, 4L, 3.0), ("even", 4L, 4L, 0.0)))
  }

  test("blocklistHitStats: exact hit counts, duplicate terms dedup, token-less zero row") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "bad bad good worse"),   // 2 bad + 1 worse = 3 hits / 4
      (2L, "clean text only here"),
      (3L, "???")                   // token-less
    ).toDF("doc_id", "text")
    val terms = Seq("bad", "worse", "bad").toDF("term") // dup must not double-count
    val got = Corpus.blocklistHitStats(docs, "doc_id", "text", terms)
      .orderBy(col("doc_id"))
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 4L, 3L, 0.75), (2L, 4L, 0L, 0.0), (3L, 0L, 0L, 0.0)))
  }

  test("fastTextStyleScore: broadcast vocab average through the logistic") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "aa bb aa"),          // sw = 500+0+500, n = 3
      (2L, "zz zz"),             // all OOV: sw = 0, n = 2 -> 0.5
      (3L, "??? 123"),           // token-less -> sigmoid(bias) = 0.5
      (4L, "cc")                 // sw = -1000, n = 1
    ).toDF("doc_id", "text")
    val vocab = Seq(("aa", 500.0), ("cc", -1000.0)).toDF("word", "weight")
    val got = Corpus.fastTextStyleScore(docs, "doc_id", "text", vocab,
        bias = 0.0, scale = 1000.0)
      .orderBy(col("doc_id"))
      .as[(Long, Long, Double)].collect()
    def sig(x: Double) = 1.0 / (1.0 + math.exp(-x))
    assert(got(0) === ((1L, 3L, sig(1000.0 / 3000.0))))
    assert(got(1) === ((2L, 2L, 0.5)))
    assert(got(2) === ((3L, 0L, 0.5)))
    assert(got(3) === ((4L, 1L, sig(-1.0))))
  }

  test("diversityIndices: 50/50 split hand values; monoculture scores 0/0") {
    val docs = Seq(
      ("A", "en"), ("A", "en"), ("A", "fr"), ("A", "fr"),
      ("B", "en"), ("B", "en"), ("B", "en"),
      ("C", null.asInstanceOf[String])).toDF("source", "lang")
    val out = Corpus.diversityIndices(docs, "source", "lang")
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    // A: H = 2 * round(-(1/2)ln(1/2), 6) = 0.693148 (rounded-term sum),
    //    Simpson = (16 - 8)/16 = 0.5
    // B: single lang -> H = -(1*ln 1) = 0, Simpson = (9-9)/9 = 0
    // C: all-NULL langs -> no cells, source absent
    assert(out == Seq(("A", 4L, 2L, 0.693148, 0.5),
      ("B", 3L, 1L, 0.0, 0.0)))
  }

  test("ngramNovelty: first-seen attribution by min id; short docs omitted") {
    val docs = Seq(
      (1L, "a b c"),      // bigrams {a b, b c} both first here -> 1.0
      (2L, "a b d"),      // {a b (seen in 1), b d (novel)} -> 0.5
      (3L, "a b c"),      // both seen -> 0.0
      (4L, "x"),          // 1 token: no bigram, omitted
      (5L, "b c b c")     // distinct {b c (seen), c b (novel)} -> 0.5
    ).toDF("doc_id", "text")
    val out = Corpus.ngramNovelty(docs, "doc_id", "text", n = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (1L, 2L, 2L, 1.0), (2L, 2L, 1L, 0.5), (3L, 2L, 0L, 0.0),
      (5L, 2L, 1L, 0.5)))
  }

  test("heapsLawFit: perfect power law, realistic band, empty corpus") {
    // every doc mints exactly one new word and V(N) = N: the log-log
    // points are collinear with slope 1 and intercept 0
    val perfect = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val p = Corpus.heapsLawFit(perfect, "doc_id", "text")
      .as[(Long, Option[Double], Option[Double])].collect().head
    assert(p == ((3L, Some(1.0), Some(0.0))))
    // sublinear growth: repeated vocabulary pushes beta below 1
    val sub = Seq((1L, "a b"), (2L, "a c"), (3L, "a b c"), (4L, "a b c a"))
      .toDF("doc_id", "text")
    val s = Corpus.heapsLawFit(sub, "doc_id", "text")
      .as[(Long, Option[Double], Option[Double])].collect().head
    assert(s._1 == 4L && s._2.exists(b => b > 0.0 && b < 1.0), s)
    // result is partitioning-invariant (globalRunningSum discipline)
    val s2 = Corpus.heapsLawFit(sub.repartition(5), "doc_id", "text")
      .as[(Long, Option[Double], Option[Double])].collect().head
    assert(s2 == s)
    // empty corpus: zero points, NULL fit
    val e = Corpus.heapsLawFit(Seq((1L, "   ")).toDF("doc_id", "text"),
      "doc_id", "text")
      .as[(Long, Option[Double], Option[Double])].collect().head
    assert(e == ((0L, None, None)))
  }

  test("burrowsDelta: two sources give delta sqrt(2) on every varying " +
       "word; identical sources score 0; constant words drop") {
    // two-source algebra: z = ±1/sqrt(2) around the mean for any word
    // whose rates differ, so |za-zb| = sqrt(2) and delta = sqrt(2)
    val two = Seq(("A", "the cat the dog"), ("B", "the the the bird"))
      .toDF("src", "text")
    val d2 = Corpus.burrowsDelta(two, "src", "text", topWords = 3)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(d2 == Seq(("A", "B", 3L, 1.4142)))
    // A == B exactly; C differs. Words equal across all three sources
    // would drop (sd = 0), but here every top word varies via C
    val tri = Seq(("A", "x x y z"), ("B", "x x y z"), ("C", "x y y y"))
      .toDF("src", "text")
    val d3 = Corpus.burrowsDelta(tri, "src", "text", topWords = 3)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    assert(d3(("A", "B")) == 0.0)
    assert(d3(("A", "C")) == d3(("B", "C")) && d3(("A", "C")) > 0.0)
  }

  test("cTfIdfTerms: hand scores — shared words discount by source df, " +
       "hapax drops via minCount, per-source ranks are integer-ordered") {
    val docs = Seq(("A", "x x x y"), ("B", "y y z z")).toDF("src", "text")
    val out = Corpus.cTfIdfTerms(docs, "src", "text", topK = 5)
      .as[(String, Int, String, Long, Long)].collect().toSeq
    def m(v: Double) = math.floor(v * 1e6).toLong
    assert(out == Seq(
      ("A", 1, "x", 3L, m(0.75 * math.log(3.0))),
      ("B", 1, "z", 2L, m(0.5 * math.log(3.0))),
      ("B", 2, "y", 2L, m(0.5 * math.log(2.0)))))
    // y appears in both sources (df=2): discounted below z's df=1
    assert(out(2)._5 < out(1)._5)
  }

  test("goodTuringProfile: hand N_r table, mass shares and Turing " +
       "adjusted counts; missing N_{r+1} reports 0; maxR cuts") {
    // a×1 b×1 c×2 d×3 e×3 f×3 -> N=13, N1=2, N2=1, N3=3
    val vals = (Seq("a", "b") ++ Seq.fill(2)("c") ++
      Seq.fill(3)("d") ++ Seq.fill(3)("e") ++ Seq.fill(3)("f"))
      .toDF("v")
    val out = Corpus.goodTuringProfile(vals, "v")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      // r, N_r, floor(1e6·r·N_r/13), floor(1e6·(r+1)·N_{r+1}/N_r)
      (1L, 2L, 153846L, 1000000L),   // r*=2·1/2
      (2L, 1L, 153846L, 9000000L),   // r*=3·3/1
      (3L, 3L, 692307L, 0L)))        // N_4 = 0 -> raw GT undefined
    assert(Corpus.goodTuringProfile(vals, "v", maxR = 2)
      .as[(Long, Long, Long, Long)].collect().toSeq == out.take(2))
    // unseen-mass headline: share at r=1 is N1/N in micro
    assert(out.head._3 == 1000000L * 1 * 2 / 13)
  }
}
