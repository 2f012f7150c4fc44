package graft.operators

import graft.SparkSpec

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "apple apple banana"),         // tf(apple)=2, dl=3
    (2L, "apple cherry cherry cherry"), // tf(apple)=1, dl=4
    (3L, "banana banana banana"),
    (4L, "durian")                      // the only durian doc, dl=1
  ).toDF("doc_id", "text")

  private val queries = Seq(
    (0L, "apple"),
    (1L, "durian"),
    (2L, "Apple, APPLE apple!"), // dedup + tokenization → same as qid 0
    (3L, "missing")              // term absent from the corpus
  ).toDF("qid", "qtext")

  private def run(k: Int = 10) =
    Retrieval.bm25TopK(docs, "doc_id", "text", queries, "qid", "qtext", k)

  test("bm25: tf beats lower tf, rare term retrieves its doc, absent " +
       "term retrieves nothing") {
    val rows = run().collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val q0 = rows.filter(_._1 == 0L).sortBy(_._2)
    // only docs 1 and 2 contain 'apple'; doc 1 has higher tf AND shorter
    // dl, so it must outrank doc 2
    assert(q0.map(t => (t._2, t._3)).toSeq == Seq((1, 1L), (2, 2L)))
    assert(q0.head._4 > q0.last._4)
    // 'durian' appears in exactly one doc
    val q1 = rows.filter(_._1 == 1L)
    assert(q1.map(t => (t._2, t._3)).toSeq == Seq((1, 4L)))
    assert(q1.head._4 > 0.0) // the +1 inside ln keeps idf positive
    // a term the corpus never saw scores no documents at all
    assert(!rows.exists(_._1 == 3L))
  }

  test("bm25: repeated/cased/punctuated query terms count once") {
    val rows = run().collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val q0 = rows.filter(_._1 == 0L).map(t => (t._2, t._3, t._4)).sortBy(_._1)
    val q2 = rows.filter(_._1 == 2L).map(t => (t._2, t._3, t._4)).sortBy(_._1)
    assert(q0.toSeq == q2.toSeq) // identical ranking AND scores
  }

  test("bm25: k truncates per query, rank is 1-based and dense") {
    val rows = run(k = 1).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.forall(_._2 == 1))
    assert(rows.map(_._1).sorted.toSeq == Seq(0L, 1L, 2L)) // one row each
  }

  test("bm25 plan: no cartesian product; query/stats sides broadcast") {
    val plan = run().queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("tfidfTopTerms: hand-computed scores, ubiquitous terms score 0, " +
       "k truncates, token-less docs yield no rows") {
    // corpus: apple in 3/4 docs, cherry in 1/4, banana in 2/4,
    // durian in 1/4; doc 5 has no tokens at all
    val withEmpty = docs.union(Seq((5L, "123 !!")).toDF("doc_id", "text"))
    val out = Retrieval.tfidfTopTerms(withEmpty, "doc_id", "text", 2)
    val rows = out.collect().map(r => (r.getLong(0), r.getInt(1),
      r.getString(2), r.getDouble(3)))
    // doc 2: cherry tf=3 df=1 N=5 → 3·ln5 ≈ 4.8283 beats apple
    val d2 = rows.filter(_._1 == 2L).sortBy(_._2)
    assert(d2.head._3 == "cherry")
    assert(math.abs(d2.head._4 - math.rint(3 * math.log(5.0) * 1e4) / 1e4) < 1e-12)
    // doc 4: durian tf=1 df=1 → ln 5
    val d4 = rows.filter(_._1 == 4L)
    assert(d4.length == 1 && d4.head._3 == "durian")
    // k truncates: no doc exceeds 2 rows; doc 5 contributes none
    assert(rows.groupBy(_._1).values.forall(_.length <= 2))
    assert(!rows.exists(_._1 == 5L))
    // a term in EVERY doc scores 0 (ln N/N): make apple ubiquitous
    val all = Seq((1L, "apple x"), (2L, "apple y"), (3L, "apple z"))
      .toDF("doc_id", "text")
    val scores = Retrieval.tfidfTopTerms(all, "doc_id", "text", 5)
      .filter($"term" === "apple").select($"score")
      .as[Double].collect()
    assert(scores.forall(_ == 0.0))
  }

  test("rocchioExpansionTerms: feedback-doc terms only, query terms " +
       "excluded, tf·idf order") {
    val docs = Seq((1L, "apple banana banana"), (2L, "apple cherry"),
      (3L, "dog emu")).toDF("doc_id", "text")
    val q = Seq((0L, "apple")).toDF("qid", "qtext")
    val out = Retrieval.rocchioExpansionTerms(docs, "doc_id", "text",
        q, "qid", "qtext", kDocs = 2, mTerms = 5)
      .as[(Long, Int, String, Double)].collect().toSeq
    // feedback docs = {1, 2}; apple excluded; banana 2·ln3, cherry ln3;
    // dog/emu never appear (doc 3 is outside the feedback set)
    assert(out == Seq((0L, 1, "banana", 2.1972), (0L, 2, "cherry", 1.0986)))
  }

  test("rakeKeywords: hand-computed degree/freq micro-scores; multi-word " +
       "phrases outrank member singletons; stopwords delimit and never " +
       "score; occurrence counts collapse duplicates") {
    val docs = Seq(
      (1L, "deep learning of deep models"),
      (2L, "deep of deep")).toDF("doc_id", "text")
    val out = Retrieval.rakeKeywords(docs, "doc_id", "text",
        stopwords = Seq("of"), k = 10)
      .as[(String, Long, Long)].collect().toSeq
    // phrases: "deep learning", "deep models", "deep"×2
    // deep: freq 4 (2 two-word + 2 singleton occurrences), degree 2+2+1+1
    //   -> ws = 6e6 div 4 = 1_500_000
    // learning/models: freq 1, degree 2 -> ws = 2_000_000
    assert(out == Seq(
      ("deep learning", 1L, 3500000L),
      ("deep models", 1L, 3500000L),
      ("deep", 2L, 1500000L)))
    // a stopword-only document contributes no phrases; 'of' never scores
    val noPhrase = Seq((1L, "of of of")).toDF("doc_id", "text")
    assert(Retrieval.rakeKeywords(noPhrase, "doc_id", "text",
      Seq("of"), k = 5).count() == 0L)
  }

  test("rankingMetrics: hand-computed recall@k / MRR@k / nDCG@k, score " +
       "ties broken by doc asc, miss-everything query scores zeros, " +
       "judgment-free query excluded") {
    // q1: tie at the top (d1/d2 both 5.0 -> doc asc puts d1 first);
    //     relevant {d2, d4, d99}; k=3 top = d1,d2,d3 -> 1 hit at rank 2
    // q2: relevant d12 never retrieved -> all-zero metrics, n_rel 1
    // q3: no judgments at all -> not in the output
    val ranked = Seq(
      (1L, 1L, 5.0), (1L, 2L, 5.0), (1L, 3L, 3.0), (1L, 4L, 2.0),
      (2L, 10L, 9.0), (2L, 11L, 8.0),
      (3L, 20L, 1.0)
    ).toDF("q", "d", "s")
    val rel = Seq((1L, 2L), (1L, 4L), (1L, 99L), (2L, 12L)).toDF("q", "d")
    val out = Retrieval.rankingMetrics(ranked, rel, "q", "d", "s", k = 3)
      .as[(Long, Long, Long, Double, Double, Double)].collect().toSeq
    // expected from first principles (micro-unit discounts)
    def disc(i: Int) = math.floor(1e9 / (math.log(i + 1.0) / math.log(2.0)))
    val idcg3 = disc(1) + disc(2) + disc(3)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out == Seq(
      (1L, 3L, 1L, r6(1.0 / 3.0), 0.5, r6(disc(2) / idcg3)),
      (2L, 1L, 0L, 0.0, 0.0, 0.0)))
  }

  test("reciprocalRankFusion: integer 1e9 div (k0+rank) weights, " +
       "consensus docs rise, single-list docs keep one share, ties " +
       "break on id, per-query isolation, k cut") {
    def w(r: Int, k0: Int = 60) = 1000000000L / (k0 + r)
    val l1 = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 30L, 1)).toDF("query_id", "id", "rank")
    val l2 = Seq((1L, 11L, 1), (1L, 13L, 2),
      (2L, 31L, 1)).toDF("query_id", "id", "rank")
    val out = Retrieval.reciprocalRankFusion(
        Seq(l1, l2), "query_id", "id", "rank", k = 10)
      .orderBy($"query_id", $"rank")
      .as[(Long, Int, Long, Long, Long, Double)].collect().toSeq
    // q1: 11 is in both lists (w2 + w1), 10 only first (w1), 13 (w2),
    // 12 (w3); q2: 30 and 31 tie exactly at w1 -> id order
    assert(out == Seq(
      (1L, 1, 11L, 2L, w(2) + w(1), (w(2) + w(1)) / 1e9),
      (1L, 2, 10L, 1L, w(1), w(1) / 1e9),
      (1L, 3, 13L, 1L, w(2), w(2) / 1e9),
      (1L, 4, 12L, 1L, w(3), w(3) / 1e9),
      (2L, 1, 30L, 1L, w(1), w(1) / 1e9),
      (2L, 2, 31L, 1L, w(1), w(1) / 1e9)))
    // the k cut is per query and total-ordered
    val cut = Retrieval.reciprocalRankFusion(
        Seq(l1, l2), "query_id", "id", "rank", k = 1)
      .orderBy($"query_id")
      .as[(Long, Int, Long, Long, Long, Double)].collect().toSeq
    assert(cut.map(r => (r._1, r._3)) == Seq((1L, 11L), (2L, 30L)))
    // k0 = 0: rank 1 weighs exactly 1e9
    val k0out = Retrieval.reciprocalRankFusion(
        Seq(l2), "query_id", "id", "rank", k = 1, k0 = 0)
      .as[(Long, Int, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r._5).toMap
    assert(k0out == Map(1L -> 1000000000L, 2L -> 1000000000L))
    intercept[IllegalArgumentException] {
      Retrieval.reciprocalRankFusion(Seq.empty, "query_id", "id", "rank", 5)
    }
  }

  test("reciprocalRankFusion input hygiene: rank < 1 raises (k0=0 would " +
       "divide by zero into a silently-dropped NULL weight); a (query,id) " +
       "duplicated within one list collapses to its best rank") {
    def w(r: Int, k0: Int = 60) = 1000000000L / (k0 + r)
    // rank 0 with k0 = 0 used to produce a null weight sum() dropped
    val bad = Seq((1L, 10L, 0)).toDF("query_id", "id", "rank")
    val e = intercept[Exception] {
      Retrieval.reciprocalRankFusion(Seq(bad), "query_id", "id", "rank",
        k = 5, k0 = 0).collect()
    }
    assert(e.getMessage.contains("ranks must be >= 1"))
    // same doc twice in ONE list: best (smallest) rank wins, n_lists
    // stays 1, the weight is counted once
    val dup = Seq((1L, 10L, 3), (1L, 10L, 1), (1L, 11L, 2))
      .toDF("query_id", "id", "rank")
    val out = Retrieval.reciprocalRankFusion(Seq(dup), "query_id", "id",
        "rank", k = 5)
      .orderBy($"rank")
      .as[(Long, Int, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (1L, 1, 10L, 1L, w(1), w(1) / 1e9),
      (1L, 2, 11L, 1L, w(2), w(2) / 1e9)))
    // ...but the same doc in TWO lists still counts both shares
    val l1 = Seq((1L, 10L, 1)).toDF("query_id", "id", "rank")
    val l2 = Seq((1L, 10L, 2)).toDF("query_id", "id", "rank")
    val both = Retrieval.reciprocalRankFusion(Seq(l1, l2), "query_id",
        "id", "rank", k = 5)
      .as[(Long, Int, Long, Long, Long, Double)].collect().toSeq
    assert(both == Seq((1L, 1, 10L, 2L, w(1) + w(2), (w(1) + w(2)) / 1e9)))
  }

  test("rankBiasedOverlap: identical lists score ~1-p^k, reversed lists " +
       "pay max-rank weights, disjoint and missing queries score 0, " +
       "ranks beyond k are ignored") {
    val w = Retrieval.rboWeightsNano(3, 0.5)
    def nano(ms: Int*) = ms.map(m => w(m - 1)).sum
    val a = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2),
      (3L, 30L, 1),
      (4L, 40L, 1)).toDF("query_id", "id", "rank")
    val b = Seq((1L, 12L, 1), (1L, 11L, 2), (1L, 10L, 3), // reversed
      (2L, 20L, 1), (2L, 21L, 2),                          // identical
      (3L, 99L, 1))                                        // disjoint
      .toDF("query_id", "id", "rank")
    val out = Retrieval.rankBiasedOverlap(a, b, "query_id", "id", "rank",
        k = 3, p = 0.5)
      .orderBy($"query_id").as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (1L, 3L, nano(3, 2, 3) / 1e9),  // maxes: 10->3, 11->2, 12->3
      (2L, 2L, nano(1, 2) / 1e9),     // identical prefix of length 2
      (3L, 0L, 0.0),                  // no shared items
      (4L, 0L, 0.0)))                 // query absent from b entirely
    // identical full-depth lists approach 1 - p^k (floor-quantized)
    val full = nano(1, 2, 3) / 1e9
    assert(math.abs(full - (1 - 0.125)) < 1e-8)
    // rank rows beyond k must not contribute
    val aDeep = a.unionByName(
      Seq((3L, 31L, 4)).toDF("query_id", "id", "rank"))
    val bDeep = b.unionByName(
      Seq((3L, 31L, 4)).toDF("query_id", "id", "rank"))
    val deep = Retrieval.rankBiasedOverlap(aDeep, bDeep, "query_id", "id",
        "rank", k = 3, p = 0.5)
      .filter($"query_id" === 3L).as[(Long, Long, Double)].collect().head
    assert(deep == ((3L, 0L, 0.0)))
  }

  test("kendallTauB: one swap costs 2/n0; ties correct the denominator; " +
      "items in only one list are excluded; pairless queries report 0") {
    def lst(q: Long, rs: Seq[(Long, Long)]) =
      rs.map { case (id, r) => (q, id, r) }.toDF("query_id", "id", "rank")
    // B swaps ranks of ids 1,2: 5 concordant, 1 discordant → 4/6
    val a = lst(7L, Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)))
    val b = lst(7L, Seq((1L, 2L), (2L, 1L), (3L, 3L), (4L, 4L)))
    val out = Retrieval.kendallTauB(a, b, "query_id", "id", "rank")
      .as[(Long, Long, Long, Long, Long, Long, Long, Double)]
      .collect().head
    assert(out == ((7L, 4L, 6L, 5L, 1L, 0L, 0L, 0.666667)))
    // B ties ids 1,2 at rank 1: τ-b = 5/√(6·5) = 0.912871
    val bt = lst(7L, Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 3L)))
    val tied = Retrieval.kendallTauB(a, bt, "query_id", "id", "rank")
      .as[(Long, Long, Long, Long, Long, Long, Long, Double)]
      .collect().head
    assert(tied == ((7L, 4L, 6L, 5L, 0L, 0L, 1L, 0.912871)))
    // one shared item → no pairs → τ reported as 0 with the counts
    val b1 = lst(7L, Seq((1L, 1L), (9L, 2L)))
    val none = Retrieval.kendallTauB(a, b1, "query_id", "id", "rank")
      .as[(Long, Long, Long, Long, Long, Long, Long, Double)]
      .collect().head
    assert(none == ((7L, 1L, 0L, 0L, 0L, 0L, 0L, 0.0)))
  }

  test("mmrDiversify: hand-computed greedy picks skip the near-duplicate; " +
      "poolK caps the candidate set; exact integer scores") {
    // q=(1,0.2); a=(1,0) dominates, b=(0.98,0.05) near-dups a,
    // c=(0.2,1) is diverse. Micro-dots: rel a/b/c = 1e12, 9.9e11, 4e11;
    // sim(a,b)=9.8e11, sim(a,c)=2e11, sim(b,c)=2.46e11. λ=1/2 greedy:
    // a (1e12), then c (4e11−2e11=2e11 beats b's 9.9e11−9.8e11=1e10),
    // then b — where pure relevance would return a, b, c.
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.98f, 0.05f)),
      (3L, Array(0.2f, 1.0f))).toDF("vec_id", "embedding")
    val q = Seq((100L, Array(1.0f, 0.2f))).toDF("vec_id", "embedding")
    val out = Retrieval.mmrDiversify(corpus, q, "vec_id", "embedding",
        poolK = 3, k = 3)
      .as[(Long, Int, Long, Long, Long)].collect().toSeq.sortBy(_._2)
    assert(out == Seq(
      (100L, 1, 1L, 1000000000000L, 1000000000000L),
      (100L, 2, 3L, 400000000000L, 200000000000L),
      (100L, 3, 2L, 990000000000L, 10000000000L)))
    // poolK=2 keeps only the top-2 relevance pool → c never considered
    val capped = Retrieval.mmrDiversify(corpus, q, "vec_id", "embedding",
        poolK = 2, k = 2)
      .as[(Long, Int, Long, Long, Long)].collect().toSeq.sortBy(_._2)
    assert(capped.map(_._3) == Seq(1L, 2L))
  }
}
