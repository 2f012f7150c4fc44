package graft.operators

import graft.SparkSpec
import graft.expressions.{GraftExpressions, TextHashImpl}
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("tokens + tokenCount handle empty/blank/multispace") {
    val df = Seq("a b  c", "", "   ", "one").toDF("t")
      .select(TextFunctions.tokenCount($"t").as("n"))
    assert(df.as[Int].collect().toSeq == Seq(3, 0, 0, 1))
  }

  test("wordShingles: n-grams, short docs yield empty") {
    val sh = Seq("a b c d").toDF("t")
      .select(TextFunctions.wordShingles($"t", 3).as("s"))
      .as[Seq[String]].head()
    assert(sh == Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("t")
      .select(TextFunctions.wordShingles($"t", 3).as("s"))
      .as[Seq[String]].head()
    assert(short.isEmpty)
  }

  test("multiPatternCount/Distinct: Aho-Corasick overlapping and nested " +
       "matches, fail-link crossover, nulls, bad pattern lists rejected") {
    import graft.expressions.GraftExpressions.{multiPatternCount, multiPatternDistinct}
    def run(texts: Seq[String], pats: Seq[String]): Seq[(Long, Long)] =
      texts.toDF("t").select(
        multiPatternCount($"t", pats).as("c"),
        multiPatternDistinct($"t", pats).as("d"))
        .as[(Long, Long)].collect().toSeq
    // overlapping: 'aa' ends at positions 2,3,4 of 'aaaa'
    assert(run(Seq("aaaa"), Seq("aa")) == Seq((3L, 1L)))
    // nested closure: 'scan' hits a@3, an@4, scan@4 -> 3 matches, 3 pats
    assert(run(Seq("scan"), Seq("a", "an", "scan")) == Seq((3L, 3L)))
    // the classic fail-link crossover: 'ab' then 'bc' share the 'b'
    assert(run(Seq("abc"), Seq("ab", "bc")) == Seq((2L, 2L)))
    // phrase across token boundary + no-match text + empty text
    assert(run(Seq("a table scan here", "nothing", ""),
        Seq("table scan", "zzz")) ==
      Seq((1L, 1L), (0L, 0L), (0L, 0L)))
    // multibyte + non-BMP: the byte-level automaton matches UTF-8
    // exactly (emoji are surrogate PAIRS in UTF-16 — the old char walk
    // only assumed BMP; the byte walk is correct for all of Unicode)
    assert(run(Seq("café 😀 café"),
        Seq("café", "😀")) == Seq((3L, 2L)))
    // and a continuation byte never starts a false match: U+0101 is
    // 0xC4 0x81, U+0141 is 0xC5 0x81 — shared second byte, no match
    assert(run(Seq("ā"), Seq("Ł")) == Seq((0L, 0L)))
    // null text -> null counts (not zero)
    val n = Seq[String](null).toDF("t")
      .select(multiPatternCount($"t", Seq("x")).as("c")).collect().head
    assert(n.isNullAt(0))
    // bad lists fail construction, not silently
    intercept[IllegalArgumentException] {
      run(Seq("x"), Seq("a", "a"))
    }
    intercept[IllegalArgumentException] { run(Seq("x"), Seq("")) }
  }

  test("langId: script blocks + latin stopwords") {
    val cases = Seq(
      "the cat and the hat is here" -> "en",
      "el perro y la casa de que en un dia" -> "es",
      "der hund und die katze ist nicht hier" -> "de",
      "你好世界" -> "zh",
      "привет мир" -> "ru",
      "zzz qqq xxx" -> "und")
    val df = cases.map(_._1).toDF("t").select(TextFunctions.langId($"t").as("l"))
    assert(df.as[String].collect().toSeq == cases.map(_._2))
  }

  test("qualityScore in [0,1], higher for real text than garbage") {
    val df = Seq(
      "the quick brown fox jumps over the lazy dog and runs to the hills",
      "@@@@ #### $$$$ %%%%").toDF("t")
      .select(TextFunctions.qualityScore($"t").as("q"))
    val Seq(good, bad) = df.as[Double].collect().toSeq
    assert(good > bad && good <= 1.0 && bad >= 0.0)
  }

  test("charEntropy: uniform/degenerate/hand-computed values; NULL and " +
       "empty score NULL; stays out of the shuffle") {
    val df = Seq((1L, "aaaa"), (2L, "abca"), (3L, "abcd"),
      (4L, ""), (5L, null: String)).toDF("id", "t")
    val out = df.select($"id", TextFunctions.charEntropy($"t").as("h"))
    val m = out.collect().map(r => r.getLong(0) ->
      Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    assert(m(1L) == Some(0.0))
    // {a:2, b:1, c:1} over 4 → -(.5 ln .5 + .25 ln .25 ×2) = 1.0397
    assert(m(2L) == Some(1.0397))
    assert(m(3L) == Some(math.rint(math.log(4.0) * 1e4) / 1e4))
    assert(m(4L).isEmpty && m(5L).isEmpty)
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("fingerprint is whitespace/case-insensitive and codegen matches eval") {
    val df = Seq("Hello   World", "hello world", "different").toDF("t")
      .select(TextFunctions.fingerprint($"t").as("fp"))
    val fps = df.as[Long].collect()
    assert(fps(0) == fps(1) && fps(0) != fps(2))
    // scala-side reference
    assert(TextHashImpl.fnv1a64(UTF8String.fromString("hello world")) == fps(0))
  }

  test("custom expressions stay inside WholeStageCodegen") {
    // parquet-backed source so ConvertToLocalRelation can't pre-fold the plan
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(TextFunctions.fingerprint($"text").as("fp"),
        GraftExpressions.simhash64(TextFunctions.tokens($"text")).as("sh"),
        GraftExpressions.minhashSignature(
          TextFunctions.wordShingles($"text", 2), 16).as("mh"))
    // WholeStageCodegen children render with a "*(n)" prefix: the Project
    // holding our expressions must be inside a codegen span
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.trim.matches("""\*\(\d+\) Project.*""")), plan)
    assert(df.head().getSeq[Long](2).size == 16)
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the old river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the old river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the old river bank yesterday"), // near dup of 1
    (4L, "completely different content about spark query engines and distributed joins"),
    (5L, "THE QUICK   brown fox jumps over the lazy dog near the old river bank today"), // case/ws dup of 1
    (6L, "short text")
  ).toDF("doc_id", "text")

  test("medoidPerCluster: the least-total-distance member wins, ties go " +
       "to the smallest id, unclustered rows don't appear") {
    val items = Seq(
      (1L, "aaaa"), (2L, "aaab"), (3L, "aabb"),   // chain: 2 is the middle
      (10L, "xy"), (11L, "xz"),                    // pair: tie -> min id 10
      (99L, "lonely")                              // no pairs -> no row
    ).toDF("id", "v")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val out = Dedup.medoidPerCluster(items, "id", "v", pairs,
        (a, b) => org.apache.spark.sql.functions.levenshtein(a, b))
      .as[(Long, Long, Long)].collect().toSeq
    // cluster 1: sums 1->1+2=3, 2->1+1=2, 3->2+1=3 -> medoid 2
    // cluster 10: both sum 1 -> tie -> 10
    assert(out == Seq((1L, 2L, 2L), (10L, 10L, 1L)))
  }

  test("medoidPerCluster: oversized component is a hard error by default " +
       "and a deterministic Knuth-hash sample with sampleOversized") {
    // component {1..5} (chain) is oversized at maxComponentSize=3;
    // component {10,11} is small and must pass through untouched
    val items = Seq(
      (1L, "a"), (2L, "bb"), (3L, "ccc"), (4L, "dddd"), (5L, "ffffffff"),
      (10L, "x"), (11L, "yyy")
    ).toDF("id", "v")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("id1", "id2")
    val dist = (a: org.apache.spark.sql.Column,
                b: org.apache.spark.sql.Column) =>
      abs(length(a) - length(b))
    // error path: pre-count rejects the 5-member component loudly
    val err = intercept[IllegalArgumentException] {
      Dedup.medoidPerCluster(items, "id", "v", pairs, dist,
        maxComponentSize = 3)
    }
    assert(err.getMessage.contains("maxComponentSize=3") &&
      err.getMessage.contains("5 members"))
    // sampled path: knuthHash32(id) = (id * 2654435761) mod 2^32 ranks
    // 5 (387276917) < 2 (1013904226) < 4 (2027808452) < 1 < 3,
    // so the kept sample is {2,4,5} with lengths {2,4,8}:
    // sums 2 -> 2+6=8, 4 -> 2+4=6, 5 -> 6+4=10 -> medoid 4 (sum 6).
    // small component {10,11}: lengths {1,3}, both sum 2 -> tie -> 10
    val out = Dedup.medoidPerCluster(items, "id", "v", pairs, dist,
        maxComponentSize = 3, sampleOversized = true)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 4L, 6L), (10L, 10L, 2L)))
  }

  test("exact dedup: normalized duplicates collapse to smallest id") {
    val ids = Dedup.exactDedup(docs, "doc_id", "text")
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 3L, 4L, 6L))
  }

  test("incremental index: re-ingested history killed by index, batch dups in-batch") {
    val idx = "graft_fp_idx_pipeline"
    Dedup.buildFingerprintIndexTable(docs.filter($"doc_id" <= 3), "text", idx,
      buckets = 4)
    try {
      val batch = Seq(
        (10L, "THE QUICK   brown fox jumps over the lazy dog near the old river bank today"), // normalized dup of history 1
        (11L, "genuinely new content appearing for the first time in this batch"),
        (12L, "genuinely new content appearing for the first time in this batch"), // in-batch dup of 11
        (13L, "short text") // not in the indexed half of history -> survives
      ).toDF("doc_id", "text")
      val kept = Dedup.exactDedupAgainstIndexTable(batch, "doc_id", "text", idx)
        .select($"doc_id").as[Long].collect().sorted.toSeq
      assert(kept === Seq(11L, 13L))
      // the index stores one row per distinct normalized doc (1==2==norm 5,
      // but 5 isn't indexed; ids 1,2 collapse; 3 distinct)
      assert(spark.table(idx).count() === 2L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $idx")
  }

  test("ngramContainmentPairs: an excerpt scores 1.0 into its source " +
       "while Jaccard misses it; identical docs contain each other; " +
       "below-threshold directions are dropped") {
    val article = (1 to 40).map(i => s"w$i").mkString(" ")
    val excerpt = (5 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, article), (2L, excerpt), (3L, article),
      (4L, "totally different words here entirely")).toDF("id", "text")
    val pairs = Dedup.ngramContainmentPairs(docs, "id", "text",
        shingleSize = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // excerpt (2) fully contained in both article copies
    assert(pairs((2L, 1L)) == 1.0 && pairs((2L, 3L)) == 1.0)
    // articles contain each other (identical)
    assert(pairs((1L, 3L)) == 1.0 && pairs((3L, 1L)) == 1.0)
    // the big article is NOT contained in the excerpt
    assert(!pairs.contains((1L, 2L)))
    // and Jaccard at the same bar misses the excerpt entirely
    val jac = Dedup.ngramJaccardDupPairs(docs, "id", "text", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)) && !jac.contains((2L, 1L)))
  }

  test("keepLatestByKey: lexicographic version max wins, schema " +
       "preserved, no window sort in the plan") {
    val log = Seq(
      (1L, 1, 10, "a"), (1L, 2, 5, "b"),   // key 1: version (2,5) wins
      (1L, 2, 9, "c"),                      // same major, higher minor
      (2L, 1, 1, "d")).toDF("k", "vmaj", "vmin", "payload")
    val out = Dedup.keepLatestByKey(log, Seq("k"), Seq("vmaj", "vmin"))
    assert(out.columns.toSeq == Seq("k", "vmaj", "vmin", "payload"))
    val m = out.collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(m == Map(1L -> "c", 2L -> "d"))
    assert(!out.queryExecution.executedPlan.toString.contains("WindowExec"))
  }

  test("minhash LSH pairs == exact ngram jaccard pairs on crafted docs") {
    val lsh = Dedup.minhashDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    val exact = Dedup.ngramJaccardDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(exact.contains((1L, 2L)) && exact.contains((1L, 3L)))
    assert(lsh == exact, s"LSH $lsh vs exact $exact")
  }

  test("prefix-filtered jaccard == full inverted-index jaccard (pairs AND " +
      "values); the prefix index is strictly smaller") {
    for (t <- Seq(0.5, 0.7, 0.9)) {
      val full = Dedup.ngramJaccardDupPairs(docs, "doc_id", "text", 3, t)
        .select($"id1", $"id2", $"jaccard")
        .as[(Long, Long, Double)].collect().toSet
      val pref = Dedup.ngramJaccardPrefixPairs(docs, "doc_id", "text", 3, t)
        .select($"id1", $"id2", $"jaccard")
        .as[(Long, Long, Double)].collect().toSet
      assert(pref == full, s"t=$t: prefix $pref vs full $full")
    }
    // boilerplate-heavy corpus: a shingle shared by EVERY doc never
    // enters any prefix, so candidate pairs collapse vs the full join
    val boiler = (1L to 40L).map(i =>
      (i, s"common header boilerplate line unique$i tail$i word$i"))
      .toDF("doc_id", "text")
    val (p, f) = Dedup.prefixFilterStats(boiler, "doc_id", "text", 3, 0.8)
    assert(p < f / 10,
      s"prefix candidates $p should be far below the full join's $f")
    // and the survivors still verify exactly (no near-dups planted → none)
    assert(Dedup.ngramJaccardPrefixPairs(boiler, "doc_id", "text", 3, 0.8)
      .isEmpty)
  }

  test("partitionCols: cross-source near-dups never become candidates; " +
       "within-source pairs are identical to post-filtering the " +
       "unpartitioned output") {
    // planted fixture: every doc i in src0 has a near-copy (one token
    // appended) in src1 — the mirror/syndication shape. Unpartitioned
    // LSH must verify all cross-source pairs only to have a
    // within-source caller discard them; partitioned banding must not
    // even form them as candidates.
    val base = (0L until 20L).map(i =>
      (i, "src0", (0 until 30).map(j => s"w${i}_$j").mkString(" ")))
    val mirror = base.map { case (i, _, t) => (i + 100L, "src1", t + " q") }
    // plus one genuine within-source near-dup per source
    val within = Seq(
      (50L, "src0", base(0)._3 + " z"), (150L, "src1", mirror(0)._3 + " z"))
    val docs3 = (base ++ mirror ++ within).toDF("doc_id", "source", "text")
    val unpart = Dedup.minhashCandidateCount(docs3, "doc_id", "text")
    val part = Dedup.minhashCandidateCount(docs3, "doc_id", "text",
      partitionCols = Seq("source"))
    assert(part <= unpart - 20,
      s"partitioned candidates $part should drop the >= 20 planted " +
        s"cross-source pairs from $unpart")
    // verified pair set == the unpartitioned pairs restricted to
    // same-source endpoints (the recipe's old post-filter), exactly
    val src = docs3.select($"doc_id", $"source").as[(Long, String)]
      .collect().toMap
    val full = Dedup.minhashDupPairs(docs3, "doc_id", "text",
        threshold = 0.7)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    val fullWithin = full.filter(p => src(p._1) == src(p._2))
    val scoped = Dedup.minhashDupPairs(docs3, "doc_id", "text",
        threshold = 0.7, partitionCols = Seq("source"))
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(full.exists(p => src(p._1) != src(p._2)),
      "fixture failed to produce cross-source pairs in the full run")
    assert(scoped == fullWithin, s"scoped $scoped vs filtered $fullWithin")
  }

  test("minhash jaccard values match the exact computation") {
    val lsh = Dedup.minhashDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .select($"id1", $"id2", $"jaccard").as[(Long, Long, Double)].collect().toSet
    val exact = Dedup.ngramJaccardDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .select($"id1", $"id2", $"jaccard").as[(Long, Long, Double)].collect().toSet
    assert(lsh == exact)
  }

  test("simhash finds exact and tiny-edit near duplicates on long docs") {
    // simhash hamming<=3 targets LONG documents with tiny edits: with n
    // tokens a 1-token change flips only bits whose vote margin is ~0.
    val base = (0 until 1000).map(i => "tok" + i).mkString(" ")
    val edited = base.replace("tok999", "changed") // exactly one token edited
    val long = Seq((10L, base), (11L, base), (12L, edited),
      (13L, (0 until 1000).map(i => "zz" + i).mkString(" "))).toDF("doc_id", "text")
    val pairs = Dedup.simhashDupPairs(long, "doc_id", "text", maxHamming = 3)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((10L, 11L)), s"identical docs: $pairs")
    assert(pairs.contains((10L, 12L)), s"tiny edit within hamming 3: $pairs")
    assert(!pairs.exists(p => p._1 == 13L || p._2 == 13L), "unrelated doc matched")
  }

  test("winnowing: density ~2/(w+1), local-match guarantee, partial " +
       "overlap fires where whole-doc Jaccard cannot") {
    // identical docs share ALL fingerprints regardless of selection rule
    val fp = Dedup.winnowedFingerprints(docs, "doc_id", "text",
      shingleSize = 3, window = 4)
    val byDoc = fp.groupBy($"doc_id").count().as[(Long, Long)].collect().toMap
    val shingles = 14 - 3 + 1 // doc 1 has 14 tokens
    assert(byDoc(1L) <= shingles && byDoc(1L) >= 2,
      s"selected ${byDoc(1L)} of $shingles")
    val f1 = fp.filter($"doc_id" === 1L).select($"fp").as[Long].collect().toSet
    val f2 = fp.filter($"doc_id" === 2L).select($"fp").as[Long].collect().toSet
    assert(f1 == f2)
    // doc 6 ("short text") has < 3 tokens -> no shingles -> no rows
    assert(!byDoc.contains(6L))
    // partial overlap: a long shared run inside OTHERWISE-DISJOINT text
    // must share >= 1 fingerprint (run length 11 >= window+k-1 = 6)
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    val partial = Seq(
      (10L, s"unrelated preamble about databases $run"),
      (11L, s"$run and a totally different ending about files")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowedDupPairs(partial, "doc_id", "text",
        shingleSize = 3, window = 4, minShared = 1)
      .as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 10L && p._2 == 11L && p._3 >= 1),
      pairs.mkString(","))
    // md5 mode selects by the same rule (different hash, same machinery)
    val md5fp = Dedup.winnowedFingerprints(docs, "doc_id", "text",
      shingleSize = 3, window = 4, md5Hash = true)
    assert(md5fp.filter($"doc_id" === 1L).count() ==
      md5fp.filter($"doc_id" === 2L).count())
    // determinism across runs
    val again = Dedup.winnowedFingerprints(docs, "doc_id", "text", 3, 4)
      .filter($"doc_id" === 1L).select($"fp").as[Long].collect().toSet
    assert(again == f1)
  }

  test("decontamination: corpus docs leaking benchmark content are flagged") {
    val bench = Seq(
      (100L, "what is the capital of france and when was it founded exactly"),
      (101L, "name every planet in the solar system in order from the sun"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "what is the capital of france and when was it founded exactly"), // verbatim leak of 100
      (2L, "what is the capital of france and when was it founded precisely"), // near leak of 100
      (3L, "a completely unrelated training document about cooking pasta well"))
      .toDF("doc_id", "text")
    val hits = Dedup.crossNgramJaccardPairs(corpus, bench, "doc_id", "text",
        shingleSize = 3, threshold = 0.5)
      .select($"bench_id", $"corpus_id").as[(Long, Long)].collect().toSet
    assert(hits == Set((100L, 1L), (100L, 2L)), hits.toString)
  }

  test("embedding dedup: LSH reproduces brute force on planted near-dups") {
    // the testdata embeddings are near-random (max cosine ~0.5), so plant
    // near-duplicates: 20 bases + perturbed copies (+100 distractors)
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    def perturb(v: Array[Float]): Array[Float] =
      v.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
    val bases = (0 until 20).map(i => (i.toLong, vec()))
    val copies = bases.map { case (i, v) => (100L + i, perturb(v)) }
    val noise = (0 until 100).map(i => (1000L + i, vec()))
    val emb = (bases ++ copies ++ noise).toDF("vec_id", "embedding")
    val brute = Dedup.embeddingDupPairs(emb, "vec_id", "embedding",
      threshold = 0.95, bruteForce = true)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingDupPairs(emb, "vec_id", "embedding",
      threshold = 0.95, bruteForce = false)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute), "LSH must not invent pairs (cosine is verified)")
    assert(brute.size >= 15, s"planted dups should be found: ${brute.size}")
    val recall = lsh.size.toDouble / brute.size
    assert(recall >= 0.8, s"LSH recall too low: $recall (${lsh.size}/${brute.size})")
  }
}

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("chains, stars, and singleton-free labeling converge to min ids") {
    // components: {1,2,3,4} (chain), {10,11,12} (star on 10), {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (20L, 21L)).toDF("id1", "id2")
    val cc = Dedup.connectedComponents(pairs, "id1", "id2")
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("long path needs diameter rounds; too-small maxIter raises") {
    // label propagation moves the min one hop per round, so a 12-node
    // path needs 11 changing rounds + 1 zero-change confirming round
    // (12 total, inside the default 25) and provably cannot finish in 2
    val path = (0L until 12L).sliding(2).map(w => (w(0), w(1))).toSeq
      .toDF("id1", "id2")
    val cc = Dedup.connectedComponents(path, "id1", "id2")
      .agg(countDistinct($"comp")).as[Long].head()
    assert(cc == 1L, "one path = one component")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(path, "id1", "id2", maxIter = 2).count()
    }
  }

  test("reliable checkpointing survives 30+ rounds with O(1) disk use") {
    // a 35-node path forces 34 changing rounds + 1 confirming round; the
    // reliable path must converge, keep only {edges, final} snapshots on
    // disk (rolling per-round cleanup), and produce the same labels
    val base = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
    val path = (0L until 35L).sliding(2).map(w => (w(0), w(1))).toSeq
      .toDF("id1", "id2")
    val cc = Dedup.connectedComponents(path, "id1", "id2", maxIter = 40,
        checkpointDir = Some(base))
      .as[(Long, Long)].collect().toMap
    assert(cc == (0L until 35L).map(_ -> 0L).toMap)
    val dirs = new java.io.File(base).listFiles()
    assert(dirs != null && dirs.length <= 2,
      s"rolling cleanup must leave at most {edges, final}: ${dirs.mkString(", ")}")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("bruteForceTopK: deterministic ranks, self excluded") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 3)
    val topk = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
    val rows = topk.collect()
    assert(rows.length == 15, "3 queries x 5 neighbors")
    assert(!rows.exists(r => r.getAs[Long]("query_id") == r.getAs[Long]("id")))
    val ranks = topk.filter($"query_id" === 0).orderBy($"rank")
      .select($"cosine").as[Double].collect()
    assert(ranks.toSeq == ranks.sorted.reverse.toSeq, "cosine desc by rank")
  }

  test("mineTriplets: hardest positive and hardest negative per anchor, " +
       "unusable anchors yield no row, margin is pos minus neg") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0),   // anchor
      (1L, Array(0.99f, 0.14f), 0), // hardest positive
      (2L, Array(0.7f, 0.71f), 0),  // weaker positive
      (3L, Array(0.95f, 0.31f), 1), // hardest negative
      (4L, Array(-1.0f, 0.0f), 1),
      (9L, Array(0.5f, 0.5f), 7)    // label 7: no same-label partner
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.mineTriplets(vecs,
        vecs.filter($"vec_id".isin(0L, 9L)), "vec_id", "embedding", "label")
      .collect().map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("pos_id"), r.getAs[Long]("neg_id"),
          r.getAs[Double]("margin"))))
      .toMap
    assert(out.keySet == Set(0L)) // anchor 9 has no positive -> dropped
    val (pos, neg, margin) = out(0L)
    assert(pos == 1L && neg == 3L)
    assert(margin > 0 && margin < 0.2) // hard negative: small margin
  }

  test("mineHardNegatives: same-label vectors never surface, the planted " +
       "near-identical different-label vector ranks 1, k fills from the " +
       "filtered pool") {
    // label 0: anchor (1,0) and a near-duplicate (0.99, 0.14) — the
    // nearest vector overall, but same label, so it must NOT appear.
    // label 1: a slightly-rotated copy (hardest negative), plus two
    // farther ones.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.14f), 0),
      (2L, Array(0.95f, 0.31f), 1), // hardest negative
      (3L, Array(0.0f, 1.0f), 1),
      (4L, Array(-1.0f, 0.0f), 1)).toDF("vec_id", "embedding", "label")
    val out = Similarity.mineHardNegatives(vecs,
        vecs.filter($"vec_id" === 0L), "vec_id", "embedding", "label", 3)
      .orderBy($"rank").collect()
    assert(out.map(_.getAs[Long]("id")).toSeq == Seq(2L, 3L, 4L))
    assert(out.forall(_.getAs[Int]("label") == 1))
    // rank 1 is the planted hard negative, not the same-label near-dup
    assert(out.head.getAs[Int]("rank") == 1 &&
      out.head.getAs[Long]("id") == 2L)
  }

  test("centroidOutlierScores: exact median centroid, planted opposite " +
       "vector maxes out at dist 2") {
    // group A medians: dim0 median(0,1,3) = 1, dim1 median(0,1,4) = 1
    // -> centroid [1,1]; group B holds one vector (its own centroid)
    val vecs = Seq(
      (1L, Array(1f, 0f), "A"), (2L, Array(0f, 1f), "A"),
      (3L, Array(3f, 4f), "A"), (4L, Array(-1f, -1f), "A"),
      (10L, Array(5f, 0f), "B")).toDF("id", "v", "g")
    // with doc 4, dim medians are median(-1,0,1,3)=0.5, median(-1,0,1,4)=0.5
    // — keep the hand case simple: score only docs 1-3 against the
    // 3-vector group by building centroid from a 3-doc frame, then check
    // the planted-opposite case separately on a symmetric group
    val threeDocs = vecs.filter($"id" <= 3)
    val out = Similarity.centroidOutlierScores(threeDocs, "id", "v", "g")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    def d6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(out(1L) == d6(1.0 - 1.0 / math.sqrt(2)))
    assert(out(2L) == d6(1.0 - 1.0 / math.sqrt(2)))
    assert(out(3L) == d6(1.0 - 7.0 / (5 * math.sqrt(2))))
    // the in-distribution vector scores far lower than the spread ones
    assert(out(3L) < out(1L))
    // symmetric group: [1,0] and [-1,0] -> centroid [0,0]... degenerate;
    // instead plant opposite-of-centroid: group of three [1,0] copies
    // plus one [-1,0] has median centroid [1,0] (median of 1,1,1,-1 = 1)
    val planted = Seq((1L, Array(1f, 0f), "C"), (2L, Array(1f, 0f), "C"),
      (3L, Array(1f, 0f), "C"), (4L, Array(-1f, 0f), "C")).toDF("id", "v", "g")
    val p = Similarity.centroidOutlierScores(planted, "id", "v", "g")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(p(4L) == 2.0, "anti-parallel vector is the maximal outlier")
    assert(p(1L) == 0.0)
    // per-group isolation: a one-vector group scores 0 against itself
    val solo = Similarity.centroidOutlierScores(vecs, "id", "v", "g")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(solo(10L) == 0.0)
  }

  test("robustScaleVectors: exact median/IQR scaling; constant dims " +
       "center to 0 without dividing by zero") {
    // dim0: (0,10,20) -> med 10, p25 5, p75 15, IQR 10 -> (-1, 0, 1)
    // dim1: constant 5 -> IQR 0 -> scale 1 -> (0, 0, 0)
    val vecs = Seq((1L, Array(0f, 5f)), (2L, Array(10f, 5f)),
      (3L, Array(20f, 5f))).toDF("id", "v")
    val out = Similarity.robustScaleVectors(vecs, "id", "v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    assert(out(1L) == Seq(-1.0, 0.0))
    assert(out(2L) == Seq(0.0, 0.0))
    assert(out(3L) == Seq(1.0, 0.0))
  }

  test("lshTopK recall vs brute force on gate data, reported per query") {
    // mirrors the similarity_topk_lsh gate (16x4-bit banding, top-5,
    // queries vec_id < 10) but asserts the actual hit counts so a recall
    // regression reports numbers instead of an opaque oracle hash diff
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" < 10)
    val lsh = Similarity.lshTopK(emb, q, "vec_id", "embedding", 5, nChunks = 16)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
    val hits = lsh.join(brute, Seq("query_id", "id"), "left_semi")
      .groupBy($"query_id").count()
      .as[(Long, Long)].collect().toMap
    val perQuery = (0L until 10L).map(i => i -> hits.getOrElse(i, 0L))
    assert(perQuery.forall(_._2 >= 3),
      s"gate needs >= 3 of the true top-5 per query; got ${perQuery.mkString(", ")}")
  }

  test("ivfTopK with nProbe == nLists reproduces brute force exactly") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 5)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select($"query_id", $"rank", $"id").as[(Long, Int, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5,
      nLists = 8, nProbe = 8, iters = 2)
      .select($"query_id", $"rank", $"id").as[(Long, Int, Long)].collect().toSet
    assert(ivf == brute, "full-probe IVF must equal exact top-k")
  }

  test("ivfTopK finds planted near neighbors with pruned probes") {
    val rnd = new scala.util.Random(23)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val bases = (0 until 10).map(i => (i.toLong, vec()))
    val queries = bases.map { case (i, v) =>
      (100L + i, v.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }
    val noise = (0 until 200).map(i => (1000L + i, vec()))
    val corpus = (bases ++ noise).toDF("vec_id", "embedding")
    val qdf = queries.toDF("vec_id", "embedding")
    // a perturbed copy lands in the same Voronoi cell as its base almost
    // surely, so even nProbe=1 should recover nearly all planted pairs
    val ivf = Similarity.ivfTopK(corpus, qdf, "vec_id", "embedding", 1,
        nLists = 8, nProbe = 2, iters = 2)
      .select($"query_id", $"id").as[(Long, Long)].collect().toMap
    val hits = (0 until 10).count(i => ivf.get(100L + i).contains(i.toLong))
    assert(hits >= 9, s"planted neighbor found for only $hits/10 queries")
  }

  test("lshTopK finds planted near neighbors at rank 1") {
    // hyperplane LSH surfaces NEAR neighbors (cosine >~0.9); plant them
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val bases = (0 until 10).map(i => (i.toLong, vec()))
    val queries = bases.map { case (i, v) =>
      (100L + i, v.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }
    val noise = (0 until 200).map(i => (1000L + i, vec()))
    val corpus = (bases ++ noise).toDF("vec_id", "embedding")
    val qdf = queries.toDF("vec_id", "embedding")
    val lsh = Similarity.lshTopK(corpus.unionAll(qdf), qdf, "vec_id", "embedding", 1)
      .select($"query_id", $"id").as[(Long, Long)].collect().toMap
    val hits = (0 until 10).count(i => lsh.get(100L + i).contains(i.toLong))
    assert(hits >= 8, s"planted neighbor found for only $hits/10 queries")
  }

  test("nswGraph at nLists=1 is the exact global kNN graph; shapes hold") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val adj = Similarity.nswGraph(emb, "vec_id", "embedding",
      m = 4, nLists = 1, nProbe = 1)
    // the gate's oracle proves values; here pin the exact-graph claim
    // structurally against bruteForceTopK with queries = corpus
    val bruteSet = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", 4)
      .select($"query_id", $"rank", $"id").as[(Long, Int, Long)]
      .collect().toSet
    val adjSet = adj.select($"id", $"rank", $"neighbor")
      .as[(Long, Int, Long)].collect().toSet
    assert(adjSet == bruteSet, "nLists=1 build must equal the exact kNN graph")
    val perNode = adj.groupBy($"id").count().as[(Long, Long)].collect()
    assert(perNode.forall(_._2 == 4L), "dense rank 1..m per node")
    assert(adj.filter($"id" === $"neighbor").count() == 0, "no self edges")
  }

  test("nswGraph multi-list: multi-probe candidates recover >=80% of " +
       "exact edges, no duplicate pairs, ranks dense from 1") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Similarity.nswGraph(emb, "vec_id", "embedding",
        m = 4, nLists = 1, nProbe = 1)
      .select($"id", $"neighbor").as[(Long, Long)].collect().toSet
    def edges(nProbe: Int) = Similarity.nswGraph(emb, "vec_id", "embedding",
        m = 4, nLists = 8, nProbe = nProbe)
    val approx = edges(3)
    val apSet = approx.select($"id", $"neighbor")
      .as[(Long, Long)].collect().toSeq
    assert(apSet.distinct.size == apSet.size, "no duplicate (id, neighbor)")
    val recall = apSet.count(exact.contains).toDouble / exact.size
    assert(recall >= 0.8, f"edge recall $recall%.3f below 0.8")
    // multi-probe is the recall knob: more probed cells never hurt
    val recall2 = edges(2).select($"id", $"neighbor").as[(Long, Long)]
      .collect().count(exact.contains).toDouble / exact.size
    assert(recall >= recall2,
      f"nProbe=3 recall $recall%.3f fell below nProbe=2 $recall2%.3f")
    // ranks are 1..k(id) with no gaps even when a node has < m candidates
    val ranks = approx.select($"id", $"rank").as[(Long, Int)].collect()
      .groupBy(_._1).values.map(_.map(_._2).sorted.toSeq)
    assert(ranks.forall(r => r == (1 to r.size)), "ranks dense per node")
  }

  test("nswBeamSearch: recall vs brute force on gate data; a wider beam " +
       "never loses neighbors; walk is deterministic") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" < 10)
    val adj = Similarity.nswGraph(emb, "vec_id", "embedding",
      m = 8, nLists = 1, nProbe = 1).localCheckpoint()
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
    def run(beam: Int) = Similarity.nswBeamSearch(adj, emb, q,
      "vec_id", "embedding", k = 5, beam = beam, rounds = 5, entries = 16)
    val found = run(16)
    val hits = found.join(brute, Seq("query_id", "id"), "left_semi")
      .groupBy($"query_id").count().as[(Long, Long)].collect().toMap
    val perQuery = (0L until 10L).map(i => i -> hits.getOrElse(i, 0L))
    assert(perQuery.forall(_._2 >= 3),
      s"beam search needs >= 3 of the true top-5 per query; got " +
        perQuery.mkString(", "))
    val a = run(16).select($"query_id", $"rank", $"id")
      .as[(Long, Int, Long)].collect().toSet
    val b = run(16).select($"query_id", $"rank", $"id")
      .as[(Long, Int, Long)].collect().toSet
    assert(a == b, "identical inputs must walk identically")
  }

  test("appendToNswGraph: batch nodes join by the beam walk — old rows " +
       "verbatim, m edges per new node with near-brute recall, and new " +
       "nodes are REACHABLE by search over the grown graph") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val old = emb.filter($"vec_id" % 2 === 0)
    val batch = emb.filter($"vec_id" % 2 === 1 && $"vec_id" < 12)
    val adj = Similarity.nswGraph(old, "vec_id", "embedding",
      m = 4, nLists = 1, nProbe = 1).localCheckpoint()
    // ~25-node graph: beam 12 x 4 rounds makes the walk near-exhaustive
    // so the recall assertion tests the APPEND plumbing, not the walk's
    // inherent recall on random high-dim vectors (covered by the search
    // specs)
    val grown = Similarity.appendToNswGraph(adj, old, batch,
      "vec_id", "embedding", m = 4, beam = 12, rounds = 4).localCheckpoint()
    val oldRows = adj.select($"id", $"rank", $"neighbor").collect().toSet
    val grownRows = grown.select($"id", $"rank", $"neighbor").collect().toSet
    assert(oldRows.subsetOf(grownRows), "old adjacency must ride verbatim")
    val appended = grown.join(batch.select($"vec_id".as("id")), Seq("id"),
      "left_semi")
    val perNode = appended.groupBy($"id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perNode.size == 6 && perNode.values.forall(_ == 4L), perNode)
    // neighbor quality: >= 3 of brute-force top-4 per new node
    val brute = Similarity.bruteForceTopK(old, batch,
      "vec_id", "embedding", 4)
    val hits = appended.select($"id".as("query_id"), $"neighbor".as("id"))
      .join(brute, Seq("query_id", "id"), "left_semi")
      .groupBy($"query_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the 25-node exact-kNN graph on random vectors can fragment, so
    // one node's true neighborhood may sit across a component boundary:
    // require every node >= 2/4 and >= 18/24 overall
    assert(hits.values.forall(_ >= 2L) && hits.values.sum >= 18L,
      s"append recall: $hits")
    // reachability: a probe carrying a NEW node's exact vector (fresh
    // id, so the self-exclusion doesn't hide it) searched over the
    // GROWN graph must surface that new node at rank 1 with cosine 1 —
    // only the symmetrized appended edges can get the walk there
    val newRow = batch.orderBy($"vec_id").select($"vec_id", $"embedding")
      .collect().head
    val probe = Seq((99999L, newRow.getAs[Seq[Float]](1).toArray))
      .toDF("vec_id", "embedding")
    val corpus = emb // ids resolve against the full table
    val top = Similarity.nswBeamSearch(grown, corpus, probe,
        "vec_id", "embedding", k = 1)
      .collect().head
    assert(top.getLong(2) == newRow.getLong(0) && top.getDouble(3) == 1.0,
      s"new node ${newRow.getLong(0)} not reached: $top")
  }

  test("hnswLevel: deterministic trailing-ones md5 arithmetic — matches " +
       "a driver-side replica, caps at maxLevel, levels nest, and the " +
       "distribution is geometric-ish") {
    // driver-side replica of the identical hash + trailing-1-bits math
    def replica(id: Long, maxLevel: Int): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"hnsw:$id".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val h = java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.substring(0, 15), 16)
      var l = 0
      while (l < maxLevel && h % (1L << (l + 1)) == (1L << (l + 1)) - 1)
        l += 1
      l
    }
    val ids = (0L until 1000L).toDF("id")
    val got = ids.select($"id",
        Similarity.hnswLevel($"id", 3).as("lvl"))
      .as[(Long, Int)].collect().toMap
    assert((0L until 1000L).forall(i => got(i) == replica(i, 3)))
    // nesting + cap: level-2 at maxLevel=1 collapses to 1, never higher
    val capped = ids.select($"id",
        Similarity.hnswLevel($"id", 1).as("lvl"))
      .as[(Long, Int)].collect().toMap
    assert((0L until 1000L).forall(i => capped(i) == math.min(got(i), 1)))
    // P(level >= l) = 2^-l: loose banding on 1000 draws
    val atLeast1 = got.values.count(_ >= 1)
    val atLeast2 = got.values.count(_ >= 2)
    assert(atLeast1 > 400 && atLeast1 < 600, s"level>=1 count $atLeast1")
    assert(atLeast2 > 175 && atLeast2 < 325, s"level>=2 count $atLeast2")
  }

  test("hnswGraph: one nswGraph per level over nested member sets; " +
       "upper layers exact; level col dense 0..maxLevel") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val adj = Similarity.hnswGraph(emb, "vec_id", "embedding",
      m = 4, maxLevel = 2, nLists = 1, nProbe = 1).localCheckpoint()
    val levels = adj.select($"level").distinct().as[Int].collect().sorted
    assert(levels.toSeq == Seq(0, 1, 2))
    // each layer's adjacency equals nswGraph over exactly its members
    val lvls = emb.select($"vec_id",
        Similarity.hnswLevel($"vec_id", 2).as("lvl"))
      .as[(Long, Int)].collect().toMap
    for (l <- 0 to 2) {
      val memberIds = lvls.filter(_._2 >= l).keySet
      val layerIds = adj.filter($"level" === l).select($"id")
        .distinct().as[Long].collect().toSet
      assert(layerIds.subsetOf(memberIds),
        s"layer $l contains non-members")
      val expected = Similarity.nswGraph(
          emb.filter(Similarity.hnswLevel($"vec_id", 2) >= l),
          "vec_id", "embedding", m = 4, nLists = 1, nProbe = 1)
        .select($"id", $"rank", $"neighbor").as[(Long, Int, Long)]
        .collect().toSet
      val gotL = adj.filter($"level" === l)
        .select($"id", $"rank", $"neighbor").as[(Long, Int, Long)]
        .collect().toSet
      assert(gotL == expected, s"layer $l adjacency differs")
    }
  }

  test("hnswSearch: recall >= flat NSW at equal beam on the gate " +
       "corpus; descent is deterministic") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" < 10)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select($"query_id", $"id").as[(Long, Long)].collect().toSet
    // flat gate config: m=4 graph, beam 8, 3 rounds, 4 entries
    val flatAdj = Similarity.nswGraph(emb, "vec_id", "embedding",
      m = 4, nLists = 1, nProbe = 1).localCheckpoint()
    val flat = Similarity.nswBeamSearch(flatAdj, emb, q,
        "vec_id", "embedding", k = 5, beam = 8, rounds = 3, entries = 4)
      .select($"query_id", $"id").as[(Long, Long)].collect().toSet
    // hnsw gate config: same m and beam, 2 upper layers at 1 round each
    val hAdj = Similarity.hnswGraph(emb, "vec_id", "embedding",
      m = 4, maxLevel = 2, nLists = 1, nProbe = 1).localCheckpoint()
    def runH() = Similarity.hnswSearch(hAdj, emb, q,
        "vec_id", "embedding", k = 5, maxLevel = 2, beam = 8, rounds = 3,
        upperRounds = 1, entries = 2)
      .select($"query_id", $"id").as[(Long, Long)].collect().toSet
    val h = runH()
    val flatRecall = flat.count(brute.contains)
    val hRecall = h.count(brute.contains)
    assert(hRecall >= flatRecall,
      s"hnsw recall $hRecall/${brute.size} < flat $flatRecall/${brute.size}")
    assert(runH() == h, "identical inputs must descend identically")
  }

  test("appendToHnswGraph: old rows verbatim; each batch node gets m " +
       "edges at every layer at-or-below its md5 level, neighbors are " +
       "layer members; new nodes reachable by hnswSearch") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val old = emb.filter($"vec_id" % 2 === 0)
    val batch = emb.filter($"vec_id" % 2 === 1 && $"vec_id" < 12)
    val adj = Similarity.hnswGraph(old, "vec_id", "embedding",
      m = 4, maxLevel = 2, nLists = 1, nProbe = 1).localCheckpoint()
    val grown = Similarity.appendToHnswGraph(adj, old, batch,
      "vec_id", "embedding", m = 4, maxLevel = 2, beam = 12, rounds = 4)
      .localCheckpoint()
    val oldRows = adj.select($"level", $"id", $"rank", $"neighbor")
      .collect().toSet
    assert(oldRows.subsetOf(
      grown.select($"level", $"id", $"rank", $"neighbor").collect().toSet),
      "old adjacency must ride verbatim")
    val appended = grown.join(batch.select($"vec_id".as("id")), Seq("id"),
      "left_semi")
    // per (node, layer <= level): exactly m edges, dense ranks
    val lvls = batch.select($"vec_id",
        Similarity.hnswLevel($"vec_id", 2).as("lvl"))
      .as[(Long, Int)].collect().toMap
    val byNodeLayer = appended.select($"id", $"level", $"rank")
      .as[(Long, Int, Int)].collect().groupBy(t => (t._1, t._2))
    for ((id, lvl) <- lvls; l <- 0 to 2) {
      if (l <= lvl)
        assert(byNodeLayer((id, l)).map(_._3).sorted.toSeq == (1 to 4),
          s"node $id layer $l")
      else assert(!byNodeLayer.contains((id, l)),
        s"node $id must have no layer-$l edges (level $lvl)")
    }
    // neighbors at layer l are layer-l members of the OLD graph
    val oldLvls = old.select($"vec_id",
        Similarity.hnswLevel($"vec_id", 2).as("lvl"))
      .as[(Long, Int)].collect().toMap
    appended.select($"level", $"neighbor").as[(Int, Long)].collect()
      .foreach { case (l, nb) =>
        assert(oldLvls(nb) >= l, s"neighbor $nb below layer $l") }
    // reachability: probe with a new node's exact vector over the
    // grown stack surfaces it at rank 1, cosine 1
    val newRow = batch.orderBy($"vec_id").select($"vec_id", $"embedding")
      .collect().head
    val probe = Seq((99999L, newRow.getAs[Seq[Float]](1).toArray))
      .toDF("vec_id", "embedding")
    val top = Similarity.hnswSearch(grown, emb, probe,
        "vec_id", "embedding", k = 1, maxLevel = 2, beam = 12, rounds = 4)
      .collect().head
    assert(top.getLong(2) == newRow.getLong(0) && top.getDouble(3) == 1.0,
      s"new node ${newRow.getLong(0)} not reached: $top")
  }

  test("hnswSearch/appendToHnswGraph: empty top layer falls back to " +
       "lower-level entries instead of silently returning zero rows") {
    // pick corpus ids whose md5 level is BELOW maxLevel=2 (P=3/4 each),
    // so the top layer is empty — the old top-layer-only entry filter
    // returned an empty search frame and appended edge-less nodes here
    val lowIds = spark.range(0, 60)
      .select($"id", Similarity.hnswLevel($"id", 2).as("lvl"))
      .filter($"lvl" < 2).limit(8)
      .as[(Long, Int)].collect().map(_._1).toSeq
    assert(lowIds.size == 8)
    val emb = lowIds.zipWithIndex.map { case (id, i) =>
      (id, Array(math.cos(i * 0.7).toFloat, math.sin(i * 0.7).toFloat))
    }.toDF("vec_id", "embedding")
    val adj = Similarity.hnswGraph(emb, "vec_id", "embedding",
      m = 2, maxLevel = 2, nLists = 1, nProbe = 1).localCheckpoint()
    assert(adj.filter($"level" === 2).count() == 0, "top layer not empty")
    val q = emb.limit(2)
    val found = Similarity.hnswSearch(adj, emb, q, "vec_id", "embedding",
        k = 2, maxLevel = 2, beam = 4, rounds = 2, entries = 2)
      .collect()
    assert(found.nonEmpty, "search must not silently return zero rows")
    assert(found.length == 4, s"expected 2 queries x k=2: ${found.toSeq}")
    // append through the same empty top layer: new nodes must get edges
    val batchIds = spark.range(100, 160)
      .select($"id", Similarity.hnswLevel($"id", 2).as("lvl"))
      .filter($"lvl" < 2).limit(2)
      .as[(Long, Int)].collect().map(_._1).toSeq
    val batch = batchIds.zipWithIndex.map { case (id, i) =>
      (id, Array(math.cos(i * 1.1).toFloat, math.sin(i * 1.1).toFloat))
    }.toDF("vec_id", "embedding")
    val grown = Similarity.appendToHnswGraph(adj, emb, batch,
      "vec_id", "embedding", m = 2, maxLevel = 2)
    val newEdges = grown.join(
      batch.select($"vec_id".as("id")), Seq("id"), "left_semi")
    assert(newEdges.count() > 0,
      "appended nodes must connect (not become unreachable)")
  }

  test("mineBitext: planted translations mine as mutual-best pairs, a " +
       "polluted left vector pairs nowhere, margins deterministic, " +
       "undersized side fails hard") {
    // 4 planted pairs along distinct directions: left i and right 100+i
    // are near-identical; left 5 points where NO right vector lives
    def v(a: Float, b: Float, c: Float, d: Float) = Array(a, b, c, d)
    val left = Seq(
      (1L, v(1f, 0.1f, 0f, 0f)), (2L, v(0f, 1f, 0.1f, 0f)),
      (3L, v(0f, 0f, 1f, 0.1f)), (4L, v(0.1f, 0f, 0f, 1f)),
      (5L, v(-1f, -1f, 0f, 0f))).toDF("vec_id", "embedding")
    val right = Seq(
      (101L, v(1f, 0.12f, 0f, 0f)), (102L, v(0f, 1f, 0.12f, 0f)),
      (103L, v(0f, 0f, 1f, 0.12f)), (104L, v(0.12f, 0f, 0f, 1f)),
      (105L, v(0.5f, 0.5f, 0.5f, 0.5f))).toDF("vec_id", "embedding")
    val out = Similarity.mineBitext(left, right, "vec_id", "embedding",
        k = 3, minMargin = 1.0)
      .select($"left_id", $"right_id", $"margin")
      .as[(Long, Long, Double)].collect().toSeq
    val pairs = out.map(t => t._1 -> t._2).toMap
    assert((1L to 4L).forall(i => pairs.get(i).contains(100L + i)),
      s"planted pairs missing: $out")
    assert(!pairs.contains(5L), "the matchless vector must not pair")
    // mutual-best: every left and right id appears at most once
    assert(out.map(_._1).distinct.size == out.size)
    assert(out.map(_._2).distinct.size == out.size)
    assert(out.forall(_._3 >= 1.0))
    val again = Similarity.mineBitext(left, right, "vec_id", "embedding",
        k = 3, minMargin = 1.0)
      .select($"left_id", $"right_id", $"margin")
      .as[(Long, Long, Double)].collect().toSeq
    assert(again == out, "margins must be bit-identical across runs")
    // k larger than a side: hard error, not a silently padded average
    val e = intercept[IllegalArgumentException] {
      Similarity.mineBitext(left, right, "vec_id", "embedding", k = 9)
    }
    assert(e.getMessage.contains("k=9"))
  }
}

class TopKSketchSpec extends SparkSpec {
  import spark.implicits._
  import graft.expressions.GraftExpressions.topkSketch
  import org.apache.spark.sql.functions._

  test("exact regime: capacity >= distinct reproduces GROUP BY counts") {
    val df = (1 to 1000).map(i => s"item${i % 7}").toDF("s").repartition(8)
    val got = df.agg(topkSketch($"s", 3, 64).as("tk"))
      .select(explode($"tk").as("e"))
      .select($"e.item", $"e.count", $"e.error")
      .as[(String, Long, Long)].collect().toSeq
    val expected = (1 to 1000).map(i => s"item${i % 7}")
      .groupBy(identity).map { case (k, v) => (k, v.size.toLong) }.toSeq
      .sortBy { case (k, n) => (-n, k) }.take(3)
    assert(got.map(t => (t._1, t._2)) == expected)
    assert(got.forall(_._3 == 0L), "exact regime must report zero error")
  }

  test("heavy hitter survives tiny capacity across partition merges") {
    // 5000 occurrences of HH + 2000 distinct noise singletons; any item
    // with freq > N/capacity is guaranteed kept by SpaceSaving
    val rows = Seq.fill(5000)("HH") ++ (1 to 2000).map(i => s"n$i")
    val df = rows.toDF("s").repartition(16)
    val got = df.agg(topkSketch($"s", 1, 32).as("tk"))
      .select(explode($"tk").as("e")).select($"e.item", $"e.count", $"e.error")
      .as[(String, Long, Long)].head()
    assert(got._1 == "HH")
    assert(got._2 >= 5000L, "estimate must upper-bound the true count")
    assert(got._2 - got._3 <= 5000L, "count - error must lower-bound truth")
  }

  test("null inputs are ignored; grouped aggregation works per key") {
    val df = Seq(("a", "x"), ("a", "x"), ("a", null), ("b", "y"))
      .toDF("g", "s")
    val got = df.groupBy($"g").agg(topkSketch($"s", 1, 8).as("tk"))
      .select($"g", explode($"tk").as("e"))
      .select($"g", $"e.item", $"e.count")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("a", "x", 2L), ("b", "y", 1L)))
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def pngBytes(w: Int, h: Int, pixel: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pixel(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("perceptualHash64: identical pixels hash equal; a resized smooth " +
       "gradient lands within small Hamming distance; a different " +
       "pattern lands far; undecodable/null hash NULL") {
    def grad(scale: Int)(x: Int, y: Int): Int = {
      val g = (x * 255 / (32 * scale - 1)) & 0xff
      (g << 16) | (g << 8) | g // horizontal ramp, resize-stable
    }
    def vert(x: Int, y: Int): Int = {
      val g = (y * 255 / 15) & 0xff
      (g << 16) | (g << 8) | g // vertical ramp — orthogonal pattern
    }
    val df = Seq(
      (1L, pngBytes(32, 16, grad(1))),
      (2L, pngBytes(32, 16, grad(1))),    // byte-identical pixels
      (3L, pngBytes(64, 32, grad(2))),    // 2x resize of the same scene
      (4L, pngBytes(32, 16, vert)),       // different scene
      (5L, "notanimage".getBytes("UTF-8")),
      (6L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload")
    val h = Multimodal.perceptualHash64(df, "payload").collect()
      .map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long]))
      .toMap
    assert(h(1L) == h(2L) && h(1L).isDefined)
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(dist(h(1L).get, h(3L).get) <= 4,
      s"resize moved ${dist(h(1L).get, h(3L).get)} bits")
    assert(dist(h(1L).get, h(4L).get) >= 16,
      s"orthogonal scene only ${dist(h(1L).get, h(4L).get)} bits away")
    assert(h(5L).isEmpty && h(6L).isEmpty)
  }

  test("nearDupImagePairs: banded LSH finds exactly the planted pairs, " +
       "each once; plan is an equi-join") {
    def grad(scale: Int)(x: Int, y: Int): Int = {
      val g = (x * 255 / (32 * scale - 1)) & 0xff
      (g << 16) | (g << 8) | g
    }
    def vert(x: Int, y: Int): Int = {
      val g = (y * 255 / 15) & 0xff
      (g << 16) | (g << 8) | g
    }
    val df = Seq(
      (1L, pngBytes(32, 16, grad(1))),
      (2L, pngBytes(32, 16, grad(1))),  // exact dup of 1
      (3L, pngBytes(64, 32, grad(2))),  // near dup of 1 and 2
      (4L, pngBytes(32, 16, vert))      // unrelated
    ).toDF("id", "payload")
    val pairs = Multimodal.nearDupImagePairs(df, "id", "payload",
      maxHamming = 4)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L)), got.toString)
    // multi-band meetings collapse: one row per pair
    assert(pairs.count() == 3)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("trimSilence: exact lead/tail/kept on padded WAVs, all-silent " +
       "reports (n, n, 0, 0), garbage reports NULLs") {
    val ids = Seq(7L, 123L, 500L).toDF("doc_id") // 500: amp 0, all-silent
    val out = Multimodal.trimSilence(
        Multimodal.generateWav(ids, "doc_id", silencePad = true), "payload")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(2)))).toMap
    // id 7: lead 7, tail 2, kept 57, total 66
    assert(out(7L) == (7L, 2L, 57L, 66L))
    // id 123: lead 3, tail 3, kept 73, total 79
    assert(out(123L) == (3L, 3L, 73L, 79L))
    // id 500: amp 0 → everything silent: lead = n, tail 0, kept 0
    val n500 = 0 + 50 + 0 // lead 0, frames 50, tail 0
    assert(out(500L) == (n500.toLong, 0L, 0L, n500.toLong))
    val junk = Seq((1L, "nope".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val j = Multimodal.trimSilence(junk, "payload").collect().head
    assert(j.isNullAt(2) && j.isNullAt(5))
  }

  test("zeroCrossingStats: square-wave counts match floor((F-1)/P), " +
       "constant and silent signals never cross, garbage reports NULLs") {
    // id 7: F=57, P=4, amp=7 -> 56/4 = 14; id 123: F=73, P=4 -> 18;
    // id 500: amp=0 (silence) -> 0
    val ids = Seq(7L, 123L, 500L).toDF("doc_id")
    val out = Multimodal.zeroCrossingStats(
        Multimodal.generateWav(ids, "doc_id", squareWave = true), "payload")
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out(7L) == (57L, 14L))
    assert(out(123L) == (73L, 18L))
    assert(out(500L) == (50L, 0L))
    // the constant-amplitude generator never crosses zero
    val const = Multimodal.zeroCrossingStats(
        Multimodal.generateWav(Seq(7L).toDF("doc_id"), "doc_id"), "payload")
      .collect().head
    assert(const.getLong(3) == 0L)
    val junk = Seq((1L, "nope".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val j = Multimodal.zeroCrossingStats(junk, "payload").collect().head
    assert(j.isNullAt(2) && j.isNullAt(3))
  }

  test("decodeMeta: schema, determinism, null passthrough") {
    val df = Seq(("a", "hello".getBytes("UTF-8")), ("b", Array.empty[Byte]),
      ("c", null)).toDF("id", "payload")
    val out = Multimodal.decodeMeta(df, "payload")
    assert(out.schema.fieldNames.contains("media_meta"))
    val rows = out.orderBy($"id").collect()
    val metaA = rows(0).getStruct(2)
    assert(metaA.getLong(0) == 5L && metaA.getInt(1) == 'h'.toInt)
    assert(metaA.getInt(3) >= 64, "fake width in range")
    assert(rows(1).getStruct(2).getInt(1) == -1, "empty payload")
    assert(rows(2).isNullAt(2), "null payload -> null meta")
    // deterministic across runs
    val again = Multimodal.decodeMeta(df, "payload").orderBy($"id").collect()
    assert(again(0).getStruct(2) == metaA)
  }

  test("ImageIoDecoder reads true PNG dimensions; non-images fall back to stub") {
    // a real 7x5 PNG encoded on the driver with the same headless ImageIO
    // the executors use
    val img = new java.awt.image.BufferedImage(
      7, 5, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val df = Seq(("png", bos.toByteArray),
      ("txt", "not an image".getBytes("UTF-8"))).toDF("id", "payload")
    val rows = Multimodal.decodeMeta(df, "payload",
        decoder = Multimodal.ImageIoDecoder)
      .select($"id", $"media_meta.width", $"media_meta.height",
        $"media_meta.format")
      .as[(String, Int, Int, String)].collect()
      .map { case (a, b, c, d) => a -> ((b, c, d)) }.toMap
    assert(rows("png") === ((7, 5, "png")))
    assert(rows("txt")._3 == null, "non-image must carry a null format")
  }

  test("AudioDecoder reads true WAV header + PCM stats; non-audio falls back") {
    // a real 3-frame stereo 11025 Hz WAV encoded on the driver with the
    // same JDK sound stack the executors use; max |sample| is 32000
    val fmt = new javax.sound.sampled.AudioFormat(11025f, 16, 2, true, false)
    val samples = Array[Short](-5, -5, 300, 300, -32000, -32000)
    val data = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      data(2 * i) = (s & 0xff).toByte
      data(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, 3L),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val df = Seq(("wav", bos.toByteArray),
      ("txt", "not audio at all".getBytes("UTF-8"))).toDF("id", "payload")
    val rows = Multimodal.decodeMeta(df, "payload",
        decoder = Multimodal.AudioDecoder)
      .select($"id", $"media_meta.sample_rate", $"media_meta.channels",
        $"media_meta.n_frames", $"media_meta.pcm_max", $"media_meta.format")
      .as[(String, Int, Int, Long, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(rows("wav") === ((11025, 2, 3L, 32000, "pcm_signed")))
    assert(rows("txt") === ((-1, -1, -1L, -1, null)),
      "non-audio must carry the stub sentinels and a null format")
  }

  test("generateWav fields follow the documented id formulas through decode") {
    val df = Seq(0L, 7L, 123L, 499L).toDF("doc_id")
    val metas = Multimodal.decodeMeta(
        Multimodal.generateWav(df, "doc_id"), "payload",
        decoder = Multimodal.AudioDecoder)
      .select($"doc_id", $"media_meta.sample_rate", $"media_meta.channels",
        $"media_meta.n_frames", $"media_meta.pcm_max")
      .as[(Long, Int, Int, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    Seq(0L, 7L, 123L, 499L).foreach { id =>
      assert(metas(id) === ((8000 + (id % 8).toInt * 1000, 1 + (id % 2).toInt,
        (50 + (id % 100)), (id % 500).toInt)))
    }
  }

  test("resizeImage scales for real: dimensions exact, solid color preserved") {
    val img = new java.awt.image.BufferedImage(
      40, 20, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(10, 200, 30)); g.fillRect(0, 0, 40, 20)
    g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val df = Seq(("a", bos.toByteArray),
      ("junk", Array[Byte](1, 2, 3))).toDF("id", "payload")
    val out = Multimodal.resizeImage(df, "payload", 10, 10)
      .select($"id", $"resized").as[(String, Array[Byte])].collect().toMap
    assert(out("junk") == null, "undecodable payload -> null, not fake pixels")
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out("a")))
    assert(back.getWidth === 10 && back.getHeight === 10)
    // bilinear scaling of a constant image is that constant
    assert((back.getRGB(5, 5) & 0xffffff) === ((10 << 16) | (200 << 8) | 30))
  }

  test("generatePng dims follow the documented id formulas") {
    val df = Seq(0L, 7L, 33L).toDF("doc_id")
    val metas = Multimodal.decodeMeta(
        Multimodal.generatePng(df, "doc_id"), "payload",
        decoder = Multimodal.ImageIoDecoder)
      .select($"doc_id", $"media_meta.width", $"media_meta.height")
      .as[(Long, Int, Int)].collect()
      .map { case (i, w, h) => i -> ((w, h)) }.toMap
    Seq(0L, 7L, 33L).foreach { id =>
      assert(metas(id) === ((16 + (id % 32).toInt, 8 + (id % 16).toInt)))
    }
  }

  test("frameSample emits n evenly spaced chunks") {
    val bytes = (0 until 100).map(_.toByte).toArray
    val df = Seq(("v1", bytes)).toDF("id", "payload")
    val frames = Multimodal.frameSample(df, "payload", 4, frameBytes = 8)
    val rows = frames.orderBy($"frame_idx").collect()
    assert(rows.length == 4)
    assert(rows.map(_.getAs[Array[Byte]]("frame").head.toInt).toSeq == Seq(0, 25, 50, 75))
  }

  test("byteStats is pure SQL over binary") {
    val df = Seq(("a", "xyz".getBytes("UTF-8"))).toDF("id", "payload")
    val r = Multimodal.byteStats(df, "payload").head()
    assert(r.getAs[Long]("n_bytes") == 3L)
    assert(r.getAs[Int]("first_byte") == 'x'.toInt)
  }

  test("featureExtract: normalized byte histogram, fixed dim, null-safe") {
    // "aa  " = two 'a' (0x61 -> bucket 6) + two spaces (0x20 -> bucket 2)
    val df = Seq(("a", "aa  ".getBytes("UTF-8")), ("b", Array.empty[Byte]),
      ("c", null)).toDF("id", "payload")
    val rows = Multimodal.featureExtract(df, "payload", dim = 16)
      .orderBy($"id").collect()
    val fa = rows(0).getSeq[Double](2)
    assert(fa.length == 16 && fa(2) == 0.5 && fa(6) == 0.5 && fa.sum == 1.0)
    assert(rows(1).getSeq[Double](2).forall(_ == 0.0), "empty -> zero vector")
    assert(rows(2).getSeq[Double](2).forall(_ == 0.0), "null -> zero vector")
  }

  test("resizeStub: every payload becomes exactly targetBytes") {
    val df = Seq(("long", (0 until 50).map(_.toByte).toArray),
      ("short", Array[Byte](1, 2, 3)), ("nul", null))
      .toDF("id", "payload")
    val rows = Multimodal.resizeStub(df, "payload", targetBytes = 10)
      .orderBy($"id").collect()
    val long = rows(0).getAs[Array[Byte]]("resized")
    assert(long.length == 10 && long(9) == 9.toByte, "truncated to target")
    val short = rows(2).getAs[Array[Byte]]("resized")
    assert(short.length == 10 && short(0) == 1.toByte && short(9) == 0.toByte,
      "zero-padded to target")
    assert(rows(1).isNullAt(2), "null stays null")
  }

  test("video containers: generated AVI and MP4 headers parse back to the " +
       "id-derived parameters; garbage and truncated payloads yield null") {
    val ids = Seq(0L, 6L, 77L, 123L, 500L).toDF("doc_id")
    val out = Multimodal.decodeMeta(
        Multimodal.generateVideo(ids, "doc_id"), "payload",
        decoder = Multimodal.VideoContainerDecoder)
      .select($"doc_id", $"media_meta.*").collect()
      .map(r => r.getLong(0) -> r).toMap
    // even -> AVI: w=32+id%64, h=24+id%48, frames=30+id%60, fps=(10+id%20)/1
    for (id <- Seq(0L, 6L, 500L)) {
      val r = out(id)
      assert(r.getString(1) == "avi" && r.getString(2) == "MJPG", s"id $id")
      assert(r.getInt(3) == 32 + (id % 64).toInt, s"w id $id")
      assert(r.getInt(4) == 24 + (id % 48).toInt, s"h id $id")
      assert(r.getLong(5) == 30 + id % 60, s"frames id $id")
      assert(r.getLong(6) == 10 + id % 20 && r.getLong(7) == 1L, s"fps id $id")
      assert(r.getLong(8) == (30 + id % 60) * 1000 / (10 + id % 20), s"dur id $id")
    }
    // odd -> MP4: n_frames from stts, fps = mdhd timescale / stts delta,
    // duration from mvhd in exact longs
    for (id <- Seq(77L, 123L)) {
      val r = out(id)
      assert(r.getString(1) == "mp4" && r.getString(2) == "avc1", s"id $id")
      assert(r.getInt(3) == 32 + (id % 64).toInt, s"w id $id")
      assert(r.getLong(5) == 25 + id % 75, s"frames id $id")
      assert(r.getLong(6) == 600 + id % 400, s"fps_num id $id")
      assert(r.getLong(7) == 20 + id % 30, s"fps_den id $id")
      val dur = ((25 + id % 75) * (20 + id % 30) + id % 7) * 1000 / (600 + id % 400)
      assert(r.getLong(8) == dur, s"dur id $id")
    }
    // non-video bytes, a WAV (RIFF but not AVI), and a truncated MP4 all
    // report null metadata rather than garbage fields
    val wav = Multimodal.generateWav(Seq(3L).toDF("doc_id"), "doc_id")
      .select($"payload").collect().head.getAs[Array[Byte]](0)
    val mp4 = Multimodal.generateVideo(Seq(123L).toDF("doc_id"), "doc_id")
      .select($"payload").collect().head.getAs[Array[Byte]](0)
    val junk = Seq(
      (1L, "not a movie at all".getBytes("UTF-8")),
      (2L, wav),
      (3L, java.util.Arrays.copyOf(mp4, 20))).toDF("doc_id", "payload")
    val jrows = Multimodal.decodeMeta(junk, "payload",
        decoder = Multimodal.VideoContainerDecoder)
      .orderBy($"doc_id").collect()
    assert(jrows.forall(_.isNullAt(2)), "junk/WAV/truncated -> null meta")
  }

  test("decodeAviFrames: uncompressed DIB frames decode to exact " +
       "per-channel pixel sums for every frame; junk skipped") {
    val ids = Seq(0L, 5L, 17L, 123L).toDF("doc_id")
    val out = Multimodal.decodeAviFrames(
        Multimodal.generateVideoFrames(ids, "doc_id"), "payload")
      .select($"doc_id", $"frame_idx", $"codec", $"width", $"height",
        $"sum_b", $"sum_g", $"sum_r")
      .orderBy($"doc_id", $"frame_idx").collect()
    val expected = for {
      id <- Seq(0L, 5L, 17L, 123L)
      (w, h, n) = Multimodal.aviFrameParams(id)
      f <- 0 until n
    } yield (id, f, w, h,
      ((7 * id + 13 * f) % 256) * w * h,
      ((11 * id + 17 * f) % 256) * w * h,
      ((5 * id + 19 * f) % 256) * w * h)
    assert(out.length == expected.length)
    out.zip(expected).foreach { case (r, (id, f, w, h, sb, sg, sr)) =>
      assert(r.getLong(0) == id && r.getInt(1) == f, s"key $id/$f")
      assert(r.getString(2) == "DIB ", s"codec $id/$f")
      assert(r.getInt(3) == w && r.getInt(4) == h, s"dims $id/$f")
      assert(r.getLong(5) == sb && r.getLong(6) == sg && r.getLong(7) == sr,
        s"sums $id/$f")
    }
    // junk / null payloads yield zero frame rows, not garbage
    val junk = Seq((1L, "no video".getBytes("UTF-8")),
      (2L, null.asInstanceOf[Array[Byte]])).toDF("doc_id", "payload")
    assert(Multimodal.decodeAviFrames(junk, "payload").count() == 0L)
  }

  test("decodeAviFrames: real Motion-JPEG frames decode via ImageIO " +
       "with exact dims/count and near-input mean color") {
    val ids = Seq(4L, 29L).toDF("doc_id")
    val out = Multimodal.decodeAviFrames(
        Multimodal.generateVideoFrames(ids, "doc_id", mjpeg = true), "payload")
      .select($"doc_id", $"frame_idx", $"codec", $"width", $"height",
        $"sum_b", $"sum_g", $"sum_r")
      .orderBy($"doc_id", $"frame_idx").collect()
    val byDoc = out.groupBy(_.getLong(0))
    for (id <- Seq(4L, 29L)) {
      val (w, h, n) = Multimodal.aviFrameParams(id)
      val rows = byDoc(id)
      assert(rows.length == n, s"frame count id $id")
      rows.foreach { r =>
        val f = r.getInt(1)
        assert(r.getString(2) == "MJPG" && r.getInt(3) == w && r.getInt(4) == h)
        // JPEG of a solid color decodes near the input: mean channel
        // within ±3 of the encoded solid value
        def mean(i: Int) = r.getLong(i).toDouble / (w * h)
        assert(math.abs(mean(5) - (7 * id + 13 * f) % 256) <= 3.0, s"b $id/$f")
        assert(math.abs(mean(6) - (11 * id + 17 * f) % 256) <= 3.0, s"g $id/$f")
        assert(math.abs(mean(7) - (5 * id + 19 * f) % 256) <= 3.0, s"r $id/$f")
      }
    }
  }
}

class PqSimilaritySpec extends graft.SparkSpec {
  import spark.implicits._

  test("pqTopK recall vs brute force on gate data, reported per query") {
    // mirrors the similarity_topk_pq gate (8x16 codebooks, shortlist 50,
    // top-5, queries vec_id < 10): assert actual hit counts so a recall
    // regression reports numbers instead of an opaque oracle hash diff
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" < 10)
    val pq = Similarity.pqTopK(emb, q, "vec_id", "embedding", 5,
      ks = 32, shortlist = 100)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
    val hits = pq.join(brute, Seq("query_id", "id"), "left_semi")
      .groupBy($"query_id").count()
      .as[(Long, Long)].collect().toMap
    val perQuery = (0L until 10L).map(i => i -> hits.getOrElse(i, 0L))
    assert(perQuery.forall(_._2 >= 3),
      s"gate needs >= 3 of the true top-5 per query; got ${perQuery.mkString(", ")}")
  }

  test("pqTopK finds planted near neighbors at rank 1") {
    val rnd = new scala.util.Random(29)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val bases = (0 until 10).map(i => (i.toLong, vec()))
    val queries = bases.map { case (i, v) =>
      (100L + i, v.map(x => x + 0.03f * rnd.nextGaussian().toFloat))
    }
    val noise = (0 until 200).map(i => (1000L + i, vec()))
    val corpus = (bases ++ noise).toDF("vec_id", "embedding")
    val qdf = queries.toDF("vec_id", "embedding")
    val pq = Similarity.pqTopK(corpus.unionAll(qdf), qdf, "vec_id", "embedding", 1,
        shortlist = 20)
      .select($"query_id", $"id").as[(Long, Long)].collect().toMap
    // a perturbed copy's ADC score dominates random noise, so the planted
    // base must survive the shortlist and win the exact re-rank
    val hits = (0 until 10).count(i => pq.get(100L + i).contains(i.toLong))
    assert(hits >= 9, s"planted neighbor found for only $hits/10 queries")
  }

  test("pq codes are deterministic across runs and pack m bytes") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding", m = 4, ks = 16)
    assert(cb.length == 4 && cb.forall(_.length == 16))
    val codes1 = emb.select($"vec_id",
        graft.expressions.GraftExpressions.pqEncode($"embedding", cb).as("c"))
      .as[(Long, Long)].collect().toMap
    val cb2 = Similarity.pqCodebooks(emb, "vec_id", "embedding", m = 4, ks = 16)
    val codes2 = emb.select($"vec_id",
        graft.expressions.GraftExpressions.pqEncode($"embedding", cb2).as("c"))
      .as[(Long, Long)].collect().toMap
    assert(codes1 == codes2, "training + encode must be deterministic")
    // ks=16 -> every byte < 16, upper 4 bytes empty
    assert(codes1.values.forall(c => (c >>> 32) == 0L &&
      (0 until 4).forall(i => ((c >>> (8 * i)) & 0xffL) < 16L)))
  }
}

class IvfPqSimilaritySpec extends graft.SparkSpec {
  import spark.implicits._

  test("ivfPqTopK recall vs brute on gate data (full probes isolate PQ loss)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" < 10)
    // nProbe == nLists: list pruning removes nothing, so any recall loss
    // is PQ's — mirrors the similarity_topk_ivfpq gate parameters
    val ann = Similarity.ivfPqTopK(emb, q, "vec_id", "embedding", 5,
      nLists = 8, nProbe = 8, ks = 32, shortlist = 100)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
    val hits = ann.join(brute, Seq("query_id", "id"), "left_semi")
      .groupBy($"query_id").count().as[(Long, Long)].collect().toMap
    val perQuery = (0L until 10L).map(i => i -> hits.getOrElse(i, 0L))
    assert(perQuery.forall(_._2 >= 3),
      s"gate needs >= 3 of the true top-5 per query; got ${perQuery.mkString(", ")}")
  }

  test("persisted index reproduces the inline path exactly and prunes partitions") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // queries materialized in memory: the only embeddings.parquet scan a
    // plan could then contain would be a corpus-side re-rank — which the
    // vectors/ layout exists to eliminate
    val q = emb.filter($"vec_id" < 10).select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toSeq.toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", idx,
      nLists = 8, ks = 32)
    // same deterministic training -> the amortized path must be
    // row-for-row identical to building inline, pruned probes included
    val fromIdx = Similarity.ivfPqTopKFromIndex(idx, emb, q,
      "vec_id", "embedding", 5, nProbe = 3, shortlist = 100)
    val inline = Similarity.ivfPqTopK(emb, q, "vec_id", "embedding", 5,
      nLists = 8, nProbe = 3, ks = 32, shortlist = 100)
    assert(fromIdx.orderBy($"query_id", $"rank").collect().toSeq ===
      inline.orderBy($"query_id", $"rank").collect().toSeq)
    // BOTH data scans must be partition-pruned to the probed cids, not
    // full reads with a post-filter — the point of partitioning by cid.
    // The re-rank reads the index's own vectors/ layout, NOT the corpus:
    // at 100 TB a corpus-side re-rank is a full scan per query batch.
    val plan = fromIdx.queryExecution.executedPlan.toString
    val pruned = "PartitionFilters: \\[[^\\]]*cid".r.findAllIn(plan).toSeq
    assert(pruned.size >= 2,
      s"expected cid partition filters on BOTH codes and vectors scans:\n$plan")
    assert(plan.contains("/vectors") && !plan.contains("embeddings.parquet"),
      s"re-rank must read the index vectors/, not the corpus:\n$plan")
    // sidecars are bounded: nLists centroids, m*ks codebook rows
    assert(spark.read.parquet(s"$idx/centroids").count() === 8L)
    assert(spark.read.parquet(s"$idx/codebooks").count() === 8L * 32L)
    // vectors/ carries the corpus row count, partitioned by cid
    assert(spark.read.parquet(s"$idx/vectors").count() === emb.count())
  }

  test("appendToIvfPqIndex: appended vectors are queryable, nothing retrained") {
    val rnd = new scala.util.Random(53)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = (0 until 200).map(i => (i.toLong, vec()))
    val corpus = base.toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_append").toString
    Similarity.buildIvfPqIndex(corpus, "vec_id", "embedding", idx, nLists = 8)
    val centsBefore = spark.read.parquet(s"$idx/centroids").collect().toSet
    // append perturbed copies of 10 base vectors under new ids
    val appended = base.take(10).map { case (i, v) =>
      (1000L + i, v.map(x => x + 0.03f * rnd.nextGaussian().toFloat))
    }
    Similarity.appendToIvfPqIndex(
      appended.toDF("vec_id", "embedding"), "vec_id", "embedding", idx)
    // sidecars untouched: append must never retrain
    assert(spark.read.parquet(s"$idx/centroids").collect().toSet === centsBefore)
    // the appended rows are present in codes and vectors, in cid partitions
    assert(spark.read.parquet(s"$idx/codes").count() === 210L)
    assert(spark.read.parquet(s"$idx/vectors").count() === 210L)
    // querying each original base vector finds its appended near-copy
    // (full probes isolate the membership question from list pruning)
    val q = base.take(10).toDF("vec_id", "embedding")
    val top = Similarity.ivfPqTopKFromIndex(idx, corpus, q,
        "vec_id", "embedding", 1, nProbe = 8, shortlist = 50)
      .select($"query_id", $"id").as[(Long, Long)].collect().toMap
    val hits = (0 until 10).count(i => top.get(i.toLong).contains(1000L + i))
    assert(hits >= 9, s"appended neighbor found for only $hits/10 queries")
    // REPLAYED append (same batch twice — the crash-retry case): stored
    // twice, but no id may occupy two of the k result slots
    Similarity.appendToIvfPqIndex(
      appended.toDF("vec_id", "embedding"), "vec_id", "embedding", idx)
    assert(spark.read.parquet(s"$idx/codes").count() === 220L)
    val top5 = Similarity.ivfPqTopKFromIndex(idx, corpus, q,
        "vec_id", "embedding", 5, nProbe = 8, shortlist = 50)
      .select($"query_id", $"id").as[(Long, Long)].collect()
    val slots = top5.groupBy(_._1).view.mapValues(_.map(_._2).toSeq)
    assert(slots.values.forall(ids => ids.distinct.size == ids.size),
      s"replayed append duplicated a result slot: ${slots.toMap}")
  }

  test("re-rank collapses a DRIFTED duplicate id to max(cosine), deterministically") {
    val rnd = new scala.util.Random(97)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = (0 until 200).map(i => (i.toLong, vec()))
    val corpus = base.toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_drift").toString
    Similarity.buildIvfPqIndex(corpus, "vec_id", "embedding", idx, nLists = 8)
    // re-append id 5 with a DRIFTED vector equal to the query itself:
    // the index now stores two copies of id 5 whose cosines to the query
    // differ (original is a random vector, drifted copy scores 1.0)
    val qv = vec()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    assert(cos(base(5)._2, qv) < 0.9, "original copy must NOT already score ~1")
    Similarity.appendToIvfPqIndex(
      Seq((5L, qv)).toDF("vec_id", "embedding"), "vec_id", "embedding", idx)
    val q = Seq((9000L, qv)).toDF("vec_id", "embedding")
    def run() = Similarity.ivfPqTopKFromIndex(idx, corpus, q,
        "vec_id", "embedding", 5, nProbe = 8, shortlist = 50)
      .select($"rank", $"id", $"cosine")
      .as[(Int, Long, Double)].collect().toSeq.sortBy(_._1)
    val r1 = run()
    // id 5 occupies exactly ONE result slot, scored by its BEST copy —
    // dropDuplicates("id") would pick an arbitrary copy and could return
    // the original's sub-1 cosine here
    assert(r1.count(_._2 == 5L) === 1, s"duplicate id must fill one slot: $r1")
    val (rank5, _, cos5) = r1.find(_._2 == 5L).get
    assert(rank5 === 1 && cos5 === 1.0,
      s"drifted duplicate must score max(cosine)=1.0 at rank 1, got $r1")
    assert(r1.map(_._2).distinct.size === r1.size)
    // deterministic: a second evaluation returns the identical ranking
    assert(run() === r1)
  }

  test("randomProject: deterministic, cosine-preserving, finds planted neighbors") {
    import graft.expressions.GraftExpressions._
    val rnd = new scala.util.Random(71)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val bases = (0 until 10).map(i => (i.toLong, vec()))
    val noise = (0 until 200).map(i => (1000L + i, vec()))
    val qs = bases.map { case (i, v) =>
      (100L + i, v.map(x => x + 0.03f * rnd.nextGaussian().toFloat))
    }
    val corpus = (bases ++ noise).toDF("vec_id", "embedding")
    // determinism: same seed -> identical projection
    val p1 = corpus.select($"vec_id", randomProject($"embedding", 16).as("p"))
      .as[(Long, Array[Float])].collect().toMap
    val p2 = corpus.select($"vec_id", randomProject($"embedding", 16).as("p"))
      .as[(Long, Array[Float])].collect().toMap
    assert(p1.forall { case (id, v) => v.sameElements(p2(id)) })
    assert(p1.values.forall(_.length == 16))
    // near-identical vectors stay near under projection; the pre-filter
    // + exact re-rank finds each planted neighbor with exact cosines
    val top = Similarity.projectedBruteForceTopK(
        corpus.unionAll(qs.toDF("vec_id", "embedding")),
        qs.toDF("vec_id", "embedding"), "vec_id", "embedding", 1,
        outDim = 16, shortlist = 20)
      .select($"query_id", $"id").as[(Long, Long)].collect().toMap
    val hits = (0 until 10).count(i => top.get(100L + i).contains(i.toLong))
    assert(hits >= 9, s"planted neighbor found for only $hits/10 queries")
  }

  test("ADC-only mode: no vectors persisted, no corpus scan, ranked shortlist") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" < 5).select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toSeq.toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_adc").toString
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", idx,
      nLists = 8, ks = 32, persistVectors = false)
    val adc = Similarity.ivfPqTopKFromIndex(idx, emb, q,
      "vec_id", "embedding", 5, nProbe = 3, shortlist = 100, adcOnly = true)
    // approximate scores, exact schema contract: rank 1..k per query
    assert(adc.columns.toSeq === Seq("query_id", "rank", "id", "adc"))
    val byQuery = adc.select($"query_id", $"rank").as[(Long, Int)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(byQuery.keySet === (0L until 5L).toSet)
    assert(byQuery.values.forall(_ == Seq(1, 2, 3, 4, 5)))
    // the plan never touches the raw corpus — ADC-only is the mode for
    // indexes that chose not to store vectors twice
    val plan = adc.queryExecution.executedPlan.toString
    assert(!plan.contains("embeddings.parquet"),
      s"ADC-only must not scan the corpus:\n$plan")
    // ADC ranking quality on PLANTED near-duplicates (gate embeddings are
    // near-random, so distances concentrate and top-1 membership is not a
    // stable signal there): a perturbed copy of each query must surface
    // in its ADC top-1 without any exact re-rank
    val rnd = new scala.util.Random(17)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val bases = (0 until 10).map(i => (i.toLong, vec()))
    val noise = (0 until 200).map(i => (1000L + i, vec()))
    val qs = bases.map { case (i, v) =>
      (100L + i, v.map(x => x + 0.03f * rnd.nextGaussian().toFloat))
    }
    val corpus = (bases ++ noise ++ qs).toDF("vec_id", "embedding")
    val idx2 = java.nio.file.Files.createTempDirectory("ivfpq_adc2").toString
    Similarity.buildIvfPqIndex(corpus, "vec_id", "embedding", idx2,
      nLists = 8, persistVectors = false)
    val top1 = Similarity.ivfPqTopKFromIndex(idx2, corpus,
        qs.toDF("vec_id", "embedding"), "vec_id", "embedding", 1,
        nProbe = 2, shortlist = 20, adcOnly = true)
      .select($"query_id", $"id").as[(Long, Long)].collect().toMap
    val found = (0 until 10).count(i => top1.get(100L + i).contains(i.toLong))
    assert(found >= 8, s"ADC-only found the planted neighbor for only $found/10")
  }

  test("ivfPqTopK finds planted near neighbors with pruned probes") {
    val rnd = new scala.util.Random(31)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val bases = (0 until 10).map(i => (i.toLong, vec()))
    val queries = bases.map { case (i, v) =>
      (100L + i, v.map(x => x + 0.03f * rnd.nextGaussian().toFloat))
    }
    val noise = (0 until 200).map(i => (1000L + i, vec()))
    val corpus = (bases ++ noise).toDF("vec_id", "embedding")
    val qdf = queries.toDF("vec_id", "embedding")
    // pruned probes AND quantized scoring together: the perturbed copy
    // lands in the same coarse cell and dominates the ADC shortlist
    val ann = Similarity.ivfPqTopK(corpus.unionAll(qdf), qdf, "vec_id", "embedding", 1,
        nLists = 8, nProbe = 2, shortlist = 20)
      .select($"query_id", $"id").as[(Long, Long)].collect().toMap
    val hits = (0 until 10).count(i => ann.get(100L + i).contains(i.toLong))
    assert(hits >= 9, s"planted neighbor found for only $hits/10 queries")
  }
}
