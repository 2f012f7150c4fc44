package graft.operators

import graft.SparkSpec

class TokenizeSpec extends SparkSpec {
  import spark.implicits._

  test("bpePairCounts: hand-computed pair counts weighted by word " +
       "frequency; single-char words contribute nothing") {
    // corpus: "low low lower" + "low newest" → freq low=3 lower=1 newest=1
    val docs = Seq((1L, "low low lower"), (2L, "low newest"),
      (3L, "a b")).toDF("id", "text")
    val out = Tokenize.bpePairCounts(docs, "text", topK = 100).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // (l,o): 3 from low + 1 from lower = 4; (o,w): same 4
    assert(out(("l", "o")) == 4L)
    assert(out(("o", "w")) == 4L)
    // lower-only pairs
    assert(out(("w", "e")) == 2L) // lower + newest
    assert(out(("e", "r")) == 1L)
    // newest-only
    assert(out(("n", "e")) == 1L)
    assert(out(("s", "t")) == 1L)
    // "a" and "b" are single-char: no pair rows at all for them
    assert(!out.keys.exists { case (a, b) => a == "a" || b == "b" })
  }

  test("bpePairCounts: top-k cut is total-ordered (cnt desc, sym1, sym2)") {
    // ab and cd tie at 1; ef wins with 2 — topK=2 must pick ef then ab
    val docs = Seq((1L, "ab cd ef ef")).toDF("id", "text")
    val rows = Tokenize.bpePairCounts(docs, "text", topK = 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq(("e", "f", 2L), ("a", "b", 1L)))
    intercept[IllegalArgumentException] {
      Tokenize.bpePairCounts(docs, "text", topK = 0)
    }
  }

  test("bpeTrainMerges: five hand-computed Sennrich merges; ties break " +
       "on (sym1, sym2); encoder parity with the learned table") {
    // word freqs: low x5, lower x2, newest x6, widest x3 — the paper's
    // example corpus (no end-of-word marker in this formulation)
    val docs = Seq(
      (1L, "low low low low low lower lower"),
      (2L, "newest newest newest newest newest newest"),
      (3L, "widest widest widest")).toDF("id", "text")
    val got = Tokenize.bpeTrainMerges(docs, "text", nMerges = 5)
      .orderBy($"step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // r1: (e,s)=9 ties (s,t)=9, sym1 breaks; r2: (es,t)=9;
    // r3: (l,o)=7 ties (o,w); r4: (lo,w)=7; r5: (e,w)=6 ties (n,e),(w,est)
    assert(got.toSeq === Seq((1, "e", "s", 9L), (2, "es", "t", 9L),
      (3, "l", "o", 7L), (4, "lo", "w", 7L), (5, "e", "w", 6L)))
    // the learned table drives the encoder to the expected subwords
    val merges = got.map(m => (m._2, m._3)).toSeq
    assert(Tokenize.bpeEncodeWord("newest", merges) === Seq("n", "ew", "est"))
    assert(Tokenize.bpeEncodeWord("lower", merges) === Seq("low", "e", "r"))
  }

  test("bpeTrainMerges: same-symbol overlaps merge greedily left-to-right " +
       "and the loop stops when the corpus runs dry") {
    val docs = Seq((1L, "aaa aaa")).toDF("id", "text")
    val got = Tokenize.bpeTrainMerges(docs, "text", nMerges = 5)
      .orderBy($"step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // r1: (a,a)=4 -> 'a a a' merges to 'aa a' (greedy, no overlap);
    // r2: (aa,a)=2 -> 'aaa'; r3: no pairs left -> dry stop at 2 rows
    assert(got.toSeq === Seq((1, "a", "a", 4L), (2, "aa", "a", 2L)))
  }

  test("substringSeedVocab: all 2..4-grams of unique words, scored " +
       "occurrences x length") {
    val docs = Seq((1L, "abc abc")).toDF("id", "text") // freq abc=2
    val out = Tokenize.substringSeedVocab(docs, "text",
        minLen = 2, maxLen = 4, topK = 100).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // pieces of "abc": ab, abc, bc — scores 2*2, 2*3, 2*2
    assert(out == Map("ab" -> 4L, "abc" -> 6L, "bc" -> 4L))
    // maxLen caps the window: no piece longer than the word
    val caps = Tokenize.substringSeedVocab(docs, "text", 2, 10, 100)
      .collect().map(_.getString(0)).toSet
    assert(caps == Set("ab", "abc", "bc"))
    intercept[IllegalArgumentException] {
      Tokenize.substringSeedVocab(docs, "text", 3, 2, 10)
    }
  }

  test("tokenize plans: corpus collapses to the vocab before char work — " +
       "exactly one aggregate keyed on the raw word, and no cartesian") {
    val docs = Seq((1L, "a b c")).toDF("id", "text")
    for (p <- Seq(Tokenize.bpePairCounts(docs, "text", 5),
        Tokenize.substringSeedVocab(docs, "text", 2, 4, 5))) {
      val plan = p.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"))
      // top-k is a TakeOrdered (per-partition heap), not a global sort
      assert(plan.contains("TakeOrderedAndProject"), plan)
    }
  }

  test("frequencySpectrum: exact counts-of-counts, empty frequencies " +
       "emitted, overflow aggregates the common head") {
    // a x5, b x2, c x2, d x1, e x1, f x1 → f1: 3 types/3 toks,
    // f2: 2/4, f3..: 0, overflow(>3): a → 1 type/5 toks
    val docs = Seq((1L, "a a a b c d"), (2L, "a a b c e f")).toDF("id", "t")
    val out = Tokenize.frequencySpectrum(docs, "t", maxF = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == (3L, 3L))
    assert(out(2L) == (2L, 4L))
    assert(out(3L) == (0L, 0L))
    assert(out(4L) == (1L, 5L)) // overflow row
    assert(out.size == 4)
  }

  test("coverageCurve: smallest vocab reaching each target share, " +
       "deterministic tie order, target 1.0 needs the whole vocab") {
    // counts: a=6, b=3, c=1 → N=10; 0.6 → 1 word; 0.9 → 2; 1.0 → 3
    val docs = Seq((1L, "a a a a a a b b b c")).toDF("id", "t")
    val out = Tokenize.coverageCurve(docs, "t", Seq(0.6, 0.9, 1.0))
      .collect().map(r => r.getDouble(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(0.6) == (1L, 6L))
    assert(out(0.9) == (2L, 9L))
    assert(out(1.0) == (3L, 10L))
  }

  test("bpeEncodeWord: rank priority beats position, leftmost wins rank " +
       "ties, unmergeable text stays characters, chains compose") {
    // lowest-rank pair fuses FIRST even when a later-position pair has
    // a lower rank than an earlier-position one
    assert(Tokenize.bpeEncodeWord("abc", Seq(("b", "c"), ("a", "b")))
      == Seq("a", "bc"))
    // leftmost-first on equal ranks: aaa -> [aa, a], not [a, aa]
    assert(Tokenize.bpeEncodeWord("aaa", Seq(("a", "a"))) == Seq("aa", "a"))
    // chain: ab+ab composes from two (a,b) products
    assert(Tokenize.bpeEncodeWord("abab",
      Seq(("a", "b"), ("ab", "ab"))) == Seq("abab"))
    // no listed pair -> characters
    assert(Tokenize.bpeEncodeWord("xyz", Seq(("a", "b")))
      == Seq("x", "y", "z"))
    assert(Tokenize.bpeEncodeWord("a", Nil) == Seq("a"))
  }

  test("bpeEncode + bpeTokenCounts: unique words encode once, counts " +
       "join back per doc, token-less docs keep a zero row") {
    val docs = Seq((1L, "abab ab"), (2L, "abab abab xyz"),
      (3L, "123")).toDF("id", "text")
    val merges = Seq(("a", "b"), ("ab", "ab"))
    val enc = Tokenize.bpeEncode(docs, "text", merges).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getInt(3)))).toMap
    // vocab: abab (x3 across docs), ab (x1), xyz (x1)
    assert(enc("abab") == (3L, 1))
    assert(enc("ab") == (1L, 1))
    assert(enc("xyz") == (1L, 3))
    val counts = Tokenize.bpeTokenCounts(docs, "id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 2L, 2L -> 5L, 3L -> 0L))
  }

  test("unigramViterbiSegment: optimal split, fewer-pieces tiebreak, UNK floor") {
    import spark.implicits._
    val docs = Seq((1L, "abc abab aa xyz")).toDF("id", "text")
    val vocab = Map("ab" -> 10L, "abc" -> 100L, "bc" -> 10L, "aa" -> 2L)
    val out = Tokenize.unigramViterbiSegment(docs, "text", vocab)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out("abc") == ((100L, 1L)))  // whole-word piece beats ab|c (11) and a|bc (11)
    assert(out("abab") == ((20L, 2L))) // ab|ab
    // 'aa' as one piece scores 2 == a|a's 1+1: equal score, FEWER pieces wins
    assert(out("aa") == ((2L, 1L)))
    assert(out("xyz") == ((3L, 3L)))   // all-UNK: single chars at floor 1
  }

  test("unigramViterbiSegment: words past 63 pieces stay exact; >1023 letters fail loudly") {
    import spark.implicits._
    // 100 single-char UNK pieces would have underflowed the old 6-bit
    // pieces field (63 - 100 < 0 borrowed from score); the 10-bit field
    // keeps both outputs exact
    val long100 = "q" * 100
    val out = Tokenize
      .unigramViterbiSegment(Seq((1L, long100)).toDF("id", "text"), "text",
        Map("ab" -> 10L))
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out(long100) == ((100L, 100L)))
    // a letter run past the 1023 bound must be a HARD error, not corrupt rows
    val blob = Seq((1L, "x" * 1200)).toDF("id", "text")
    val e = intercept[org.apache.spark.SparkException] {
      Tokenize.unigramViterbiSegment(blob, "text", Map("ab" -> 10L)).collect()
    }
    assert(e.getMessage.contains("1023") ||
      Option(e.getCause).exists(_.getMessage.contains("1023")))
  }

  test("unigramEmStep: hand-computed piece counts and micro-shares; " +
       "packed-value tie resolves to the SHORTEST piece; EM prunes " +
       "never-chosen vocab") {
    import spark.implicits._
    // words: abab x2, ab x1; vocab scores make whole-word 'abab' win
    val df = Seq((1L, "abab ab"), (2L, "abab")).toDF("id", "text")
    val out = Tokenize.unigramEmStep(df, "text",
        Map("ab" -> 10L, "abab" -> 30L))
      .as[(String, Long, Long)].collect().toSeq
    // abab(c=2) -> [abab]; ab(c=1) -> [ab]; total 3 pieces
    // 'ab' vocab entry survives, nothing else chosen
    assert(out == Seq(("ab", 1L, 333333L), ("abab", 2L, 666666L)))
    // TIE: 'abc' under {ab:2, bc:2} — ab+c and a+bc both pack to the
    // same value; the backtrace must take the SHORTEST final piece,
    // giving [ab, c] (the oracle's min(l) argmin)
    val tie = Tokenize.unigramEmStep(Seq((1L, "abc")).toDF("id", "text"),
        "text", Map("ab" -> 2L, "bc" -> 2L))
      .as[(String, Long, Long)].collect().toSeq
    assert(tie == Seq(("ab", 1L, 500000L), ("c", 1L, 500000L)))
  }

  test("wordPieceEncodeWord: greedy longest-match, continuation marker, " +
       "greedy trap, position-0 and mid-word UNK, length cap") {
    val heads = Set("un", "u", "col", "co", "run")
    val conts = Set("able", "n", "nable", "lumn", "u")
    def enc(w: String, cap: Int = 100) =
      Tokenize.wordPieceEncodeWord(w, heads, conts, cap)
    assert(enc("unable") == ((2, false)))   // un + ##able (longest head first)
    assert(enc("runnable") == ((2, false))) // run + ##nable beats ##n+##able
    assert(enc("uu") == ((2, false)))       // u + ##u
    // the greedy trap: col + ##u strands "mn" -> whole word UNK,
    // although co + ##lumn would have segmented it
    assert(enc("column") == ((1, true)))
    assert(enc("xyz") == ((1, true)))       // no head at position 0
    assert(enc("unx") == ((1, true)))       // dies mid-word
    assert(enc("runnable", cap = 4) == ((1, true))) // over maxWordLen
  }

  test("wordPieceTokenCounts: per-doc sums, zero-row keep, unk words cost 1") {
    import spark.implicits._
    val vocab = Seq("un", "run", "##able", "##nable")
    val df = Seq(
      (1L, "unable runnable zzz"), // 2 + 2 + UNK(1) = 5 tokens, 1 unk
      (2L, "UNABLE un-able"),      // case-fold + split: unable, un, able
      (3L, "123 .,!")              // no a-z words at all -> zero row
    ).toDF("id", "text")
    val out = Tokenize.wordPieceTokenCounts(df, "id", "text", vocab)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // doc 2: unable -> un+##able (2), un -> 1, able -> UNK (no head)
    assert(out == Seq((1L, 3L, 5L, 1L), (2L, 3L, 4L, 1L), (3L, 0L, 0L, 0L)))
  }

  test("byteUnicode: the GPT-2 escape map — 256 distinct printable " +
       "space-free symbols, deterministic arithmetic") {
    val bm = Tokenize.byteUnicode
    assert(bm.length == 256)
    assert(bm.distinct.length == 256)          // injective
    assert(bm.forall(s => s.length == 1 && !s.contains(" ")))
    // printable bytes map to themselves
    assert(bm(65) == "A" && bm(126) == "~" && bm(33) == "!")
    assert(bm(195).codePointAt(0) == 195)      // 0xC3 'Ã' keeps itself
    // excluded bytes shift by rank: space=32 -> 288 'Ġ', \n=10 -> 266,
    // DEL=127 -> 289 (rank 33), NBSP=160 -> 322, soft hyphen 173 -> 323
    assert(bm(32).codePointAt(0) == 288 && bm(32) == "Ġ")
    assert(bm(10).codePointAt(0) == 266)
    assert(bm(9).codePointAt(0) == 265)
    assert(bm(127).codePointAt(0) == 289)
    assert(bm(160).codePointAt(0) == 322)
    assert(bm(173).codePointAt(0) == 323)
  }

  test("bpeBytePairCounts: multibyte UTF-8 splits into per-byte symbols " +
       "and the leading space rides the pretoken as Ġ") {
    // "né né né né" pretokenizes to "né" x1 and " né" x3; é = C3 A9
    // escapes to "Ã"+"©", space to "Ġ"
    val docs = Seq((1L, "né né né né")).toDF("id", "text")
    val out = Tokenize.bpeBytePairCounts(docs, "text", topK = 10).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out(("n", "Ã")) == 4L)         // both pretokens
    assert(out(("Ã", "©")) == 4L)
    assert(out(("Ġ", "n")) == 3L)         // only the spaced ones
    assert(out.size == 3)
  }

  test("bpeTrainMergesBytes: hand-computed byte merges — UTF-8 ties " +
       "break on raw byte order, whitespace and case survive; encoder " +
       "parity via bpeEncodeBytesWord") {
    val docs = Seq((1L, "né né né né")).toDF("id", "text")
    val got = Tokenize.bpeTrainMergesBytes(docs, "text", nMerges = 3)
      .orderBy($"step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // round 1: (n,Ã)=4 ties (Ã,©)=4; "n" (6E) < "Ã" (C3 83) in UTF-8
    // byte order, so (n,Ã) wins. round 2: (nÃ,©)=4. round 3: (Ġ,nÃ©)=3.
    assert(got.toSeq === Seq(
      (1, "n", "Ã", 4L),
      (2, "nÃ", "©", 4L),
      (3, "Ġ", "nÃ©", 3L)))
    val merges = got.map(m => (m._2, m._3)).toSeq
    assert(Tokenize.bpeEncodeBytesWord("né", merges) === Seq("nÃ©"))
    assert(Tokenize.bpeEncodeBytesWord(" né", merges) ===
      Seq("ĠnÃ©"))
    // an unseen pretoken falls back to raw escaped bytes
    assert(Tokenize.bpeEncodeBytesWord("ox", merges) === Seq("o", "x"))
  }

  test("bpeTrainMergesBytes: case is preserved and control bytes escape " +
       "— 'The' and ' the' stay distinct pretokens; tab rides as chr(265)") {
    val docs = Seq((1L, "The the a\tb")).toDF("id", "text")
    val pairs = Tokenize.bpeBytePairCounts(docs, "text", topK = 100)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(pairs(("T", "h")) == 1L)            // only the capitalized one
    assert(pairs(("t", "h")) == 1L)            // only " the"
    assert(pairs(("a", "ĉ")) == 1L)       // tab byte 9 -> chr(265)
    assert(pairs(("ĉ", "b")) == 1L)
  }

  test("bpeEncodeBytes: unique-pretoken encode with counts over the " +
       "vocab table") {
    val docs = Seq((1L, "né né né né")).toDF("id", "text")
    val merges = Seq(("n", "Ã"), ("nÃ", "©"))
    val out = Tokenize.bpeEncodeBytes(docs, "text", merges)
      .as[(String, Long, Seq[String], Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out("né") == ((1L, Seq("nÃ©"), 1)))
    assert(out(" né") == ((3L, Seq("Ġ", "nÃ©"), 2)))
  }
}
