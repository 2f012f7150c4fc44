package graft.operators

import graft.SparkSpec

/** One planted defect per recipe stage: each document below exists to be
  * caught (or deliberately NOT caught) by exactly one stage, so a stage
  * that silently stops dropping — or drops through the wrong rule —
  * flips a named assertion, not just a count. */
class RecipeSpec extends SparkSpec {
  import spark.implicits._

  private def toks(i: Int, n: Int = 40): String =
    (0 until n).map(j => s"w${i}_$j").mkString(" ")

  private def corpus() = Seq(
    // source A
    (0L, "A", s"<p>${toks(0)}</p>"),
    (1L, "A", s"<p>${toks(1)}</p>"),
    (2L, "A", s"<p>one two three</p>"),          // stage 2: too short
    (3L, "A", s"<p>${toks(3, 120)}</p>"),        // stage 2: too long
    (4L, "A", s"<p>${toks(4)}</p>"),             // stage 5b: semantic leak
    (5L, "A", s"<p>${toks(5)}</p>"),
    (6L, "A", s"<p>${toks(6)}</p>"),
    (7L, "A", s"<p>${toks(7)}</p>"),
    // stage 1+3: same TEXT as id 0 under different markup — caught as an
    // exact duplicate ONLY because normalization runs first
    (10L, "A", s"<div><b>${toks(0)}</b></div>"),
    // stage 4: one-token-appended near-dup of id 1, SAME source
    (11L, "A", s"<p>${toks(1)} q</p>"),
    // source B
    // near-dup of id 1 but CROSS-source: stage 4 must NOT drop it
    (12L, "B", s"<p>${toks(1)} r</p>"),
    // stage 5a: near-copy of benchmark doc 30 -> contamination drop
    (13L, "B", s"<p>${toks(30)} s</p>"),
    (14L, "B", s"<p>${toks(14)}</p>"),
    (15L, "B", s"<p>${toks(15)}</p>"),
    (16L, "B", s"<p>${toks(16)}</p>"),
    (17L, "B", s"<p>${toks(17)}</p>"),
    // stage 1: script content must not count as tokens
    (18L, "B", s"<p><script>junk junk junk</script>${toks(18)}</p>"),
    // benchmark source: leaves the training corpus at stage 5a
    (30L, "bench", s"<p>${toks(30)}</p>"),
    (31L, "bench", s"<p>${toks(31)}</p>"),
    (32L, "bench", s"<p>${toks(32)}</p>")
  ).toDF("doc_id", "source", "text")

  private def vecs() = Seq(
    (0L, Array(0.0, 1.0, 0.0)),
    (1L, Array(0.0, 0.9, 0.1)),
    (4L, Array(1.0, 0.0, 0.0)),   // the leaked vector
    (5L, Array(0.0, 0.1, 0.9)),
    (6L, Array(0.1, 0.0, 0.9)),
    (7L, Array(0.0, 0.5, 0.5))
  ).toDF("doc_id", "embedding")

  private def evalVecs() = Seq(
    (9999L, Array(1.01, 0.01, 0.01)), // perturbed copy of id 4
    (9998L, Array(-1.0, -1.0, -1.0))  // organic, far from everything
  ).toDF("doc_id", "embedding")

  private def run() = Recipe.curate(corpus(), "doc_id", "source", "text",
    benchmarkSource = "bench",
    semanticCorpus = Some(vecs()), semanticEval = Some(evalVecs()),
    semanticK = 2,
    minTokens = 5L, maxTokens = 100L,
    nearThreshold = 0.85, contaminationThreshold = 0.7,
    tau = 0.5, budgetDocs = 100L, familySize = 10L,
    headTokens = 20, tailTokens = 10, shardBudget = 100L)

  test("the drop ledger names each planted defect's stage, and every " +
       "input document lands in exactly one of survivors/audit") {
    val (surv, audit) = Recipe.curateWithAudit(corpus(), "doc_id",
      "source", "text", benchmarkSource = "bench",
      semanticCorpus = Some(vecs()), semanticEval = Some(evalVecs()),
      semanticK = 2, minTokens = 5L, maxTokens = 100L,
      nearThreshold = 0.85, contaminationThreshold = 0.7,
      tau = 0.5, budgetDocs = 100L, familySize = 10L,
      headTokens = 20, tailTokens = 10, shardBudget = 100L)
    val led = audit.select($"doc_id", $"stage").as[(Long, String)]
      .collect().toMap
    assert(led(2L) == "quality" && led(3L) == "quality")
    assert(led(10L) == "exact_dup")  // markup variant of id 0
    assert(led(11L) == "near_dup")   // same-source " q" copy
    assert(led(30L) == "benchmark" && led(31L) == "benchmark")
    assert(led(13L) == "contaminated")
    assert(led(4L) == "semantic")
    // conservation: survivors ⊎ audit == the input, no overlap
    val s = surv.select($"doc_id").as[Long].collect().toSet
    val a = led.keySet
    assert((s & a).isEmpty)
    assert((s ++ a) == corpus().select($"doc_id").as[Long].collect().toSet)
    // audit lists each doc once (first dropping stage only)
    assert(audit.count() == a.size)
  }

  test("every stage catches exactly its planted defect and nothing else") {
    val out = run().collect().map(r =>
      r.getAs[Long]("doc_id") -> r).toMap
    // survivors: quality cut 2,3; markup-variant exact dup 10; same-
    // source near-dup 11; contamination 13; semantic leak 4; the whole
    // benchmark source 30-32
    assert(out.keySet == Set(0L, 1L, 5L, 6L, 7L, 12L, 14L, 15L, 16L,
      17L, 18L))
    // stage 1: script content stripped BEFORE token counting
    assert(out(18L).getAs[Long]("n_tokens") == 40L)
    // stage 4 must not cross sources: id 12 (near-dup of id 1 from B)
    // survives while id 11 (same pair, same source) is gone
    assert(out.contains(12L) && !out.contains(11L))
    // stage 8: the context window caps kept tokens
    assert(out.values.forall(_.getAs[Long]("n_tokens_kept") == 30L))
    assert(out(0L).getAs[String]("truncated").contains(" ... "))
  }

  test("leak-free split: chunk families never straddle a split " +
       "boundary; shards follow the exclusive-prefix cost model") {
    val rows = run().collect().map { r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[String]("split"), r.getAs[Long]("shard"),
        r.getAs[Long]("n_tokens_kept"))
    }
    // one split per (source, id div 10) family
    val perFam = rows.groupBy(t => (t._2, t._1 / 10)).values
    assert(perFam.forall(f => f.map(_._3).distinct.size == 1))
    // shard assignment == the local exclusive-prefix model over the
    // deterministic (knuth(id), id) order
    def knuth(x: Long) = ((x % 2147483648L) * 2654435761L) % 4294967296L
    val ordered = rows.sortBy(t => (knuth(t._1), t._1))
    var pre = 0L
    ordered.foreach { t =>
      assert(t._4 == pre / 100L, s"doc ${t._1}: shard ${t._4} != ${pre / 100L}")
      pre += t._5
    }
  }

  test("temperature mix flattens a skewed corpus: tau=0 gives each " +
       "source an equal slot count, the small source keeps everything; " +
       "deterministic under repartition") {
    val docs = ((0 until 40).map(i => (i.toLong, "X", s"<p>${toks(i)}</p>")) ++
      (100 until 105).map(i => (i.toLong, "Y", s"<p>${toks(i)}</p>")))
      .toDF("doc_id", "source", "text")
    def go(d: org.apache.spark.sql.DataFrame) =
      Recipe.curate(d, "doc_id", "source", "text",
        benchmarkSource = "none",
        minTokens = 5L, maxTokens = 100L,
        tau = 0.0, budgetDocs = 10L, familySize = 10L,
        shardBudget = 100L)
    val kept = go(docs).select($"doc_id", $"source")
      .as[(Long, String)].collect().toSet
    val byS = kept.groupBy(_._2).map { case (k, v) => k -> v.size }
    // tau=0: each source's share is budget/2 = 5 docs; Y has exactly 5
    assert(byS("Y") == 5, s"Y kept ${byS.get("Y")}")
    assert(byS("X") < 40 && byS("X") >= 1, s"X kept ${byS.get("X")}")
    val rep = go(docs.repartition(7)).select($"doc_id", $"source")
      .as[(Long, String)].collect().toSet
    assert(rep == kept)
  }

  test("curateIncremental: batch 2 drops cross-batch duplicates via the " +
       "appended indexes — one planted dup per index-backed stage — " +
       "while within-source policy and family splits hold across " +
       "batches; conservation holds per batch") {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(10)
    val (fpT, mhT, bnT) = (s"rs_fp_$tag", s"rs_mh_$tag", s"rs_bn_$tag")
    Recipe.initRecipeIndexes(spark, fpT, mhT, bnT, buckets = 2)
    def go(df: org.apache.spark.sql.DataFrame) =
      Recipe.curateIncremental(df, "doc_id", "source", "text",
        benchmarkSource = "bench", fpT, mhT, bnT,
        semanticEval = Some(evalVecs()),
        batchEmb = Some(vecs()), semanticK = 2,
        minTokens = 5L, maxTokens = 100L,
        nearThreshold = 0.85, contaminationThreshold = 0.7,
        tau = 0.5, budgetDocs = 100L, familySize = 10L,
        headTokens = 20, tailTokens = 10, shardBudget = 100L,
        buckets = 2)
    try {
      val b1 = Seq(
        (0L, "A", s"<p>${toks(0)}</p>"),
        (1L, "A", s"<p>${toks(1)}</p>"),
        (5L, "A", s"<p>${toks(5)}</p>"),
        (14L, "B", s"<p>${toks(14)}</p>"),
        (15L, "B", s"<p>${toks(15)}</p>"),
        (30L, "bench", s"<p>${toks(30)}</p>")
      ).toDF("doc_id", "source", "text")
      val (s1, a1) = go(b1)
      val surv1 = s1.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
      val led1 = a1.select($"doc_id", $"stage").as[(Long, String)]
        .collect().toMap
      // batch 1 against empty indexes: only the benchmark doc leaves
      assert(surv1.keySet == Set(0L, 1L, 5L, 14L, 15L))
      assert(led1 == Map(30L -> "benchmark"))

      val b2 = Seq(
        // exact cross-batch dup: batch 1's doc 0 text under new markup —
        // only the FINGERPRINT INDEX can catch it (doc 0 is not here)
        (100L, "A", s"<div><b>${toks(0)}</b></div>"),
        // near cross-batch dup: ' q'-appended copy of batch 1's doc 1,
        // SAME source — the MINHASH INDEX path
        (101L, "A", s"<p>${toks(1)} q</p>"),
        // the same near-copy CROSS-source: within-source policy must
        // keep it even though the index knows the text
        (102L, "B", s"<p>${toks(1)} r</p>"),
        // contamination cross-batch: near-copy of batch 1's BENCHMARK
        // doc 30; batch 2 has no benchmark docs, so only the BENCH
        // NGRAM INDEX can catch it
        (103L, "B", s"<p>${toks(30)} s</p>"),
        // organic new doc, and a quality-cut plant
        (104L, "B", s"<p>${toks(104)}</p>"),
        (105L, "B", "<p>one two</p>"),
        // family-split stability probe: (A, fam 0) like batch 1's 0/1/5
        (6L, "A", s"<p>${toks(6)}</p>"),
        // semantic plant: id 4's embedding is the leaked vector
        (4L, "A", s"<p>${toks(4)}</p>")
      ).toDF("doc_id", "source", "text")
      val (s2, a2) = go(b2)
      val surv2 = s2.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
      val led2 = a2.select($"doc_id", $"stage").as[(Long, String)]
        .collect().toMap
      assert(led2(100L) == "exact_dup", s"ledger: $led2")
      assert(led2(101L) == "near_dup", s"ledger: $led2")
      assert(led2(103L) == "contaminated", s"ledger: $led2")
      assert(led2(105L) == "quality", s"ledger: $led2")
      assert(led2(4L) == "semantic", s"ledger: $led2")
      assert(surv2.keySet == Set(102L, 104L, 6L))
      // family (A, 0) split label agrees across batches
      val splits1 = Set(0L, 1L, 5L).map(surv1(_).getAs[String]("split"))
      assert(splits1.size == 1)
      assert(surv2(6L).getAs[String]("split") == splits1.head,
        "family (A, fam 0) straddled batches into different splits")
      // conservation per batch
      assert(surv2.keySet.intersect(led2.keySet).isEmpty)
      assert(surv2.keySet ++ led2.keySet ==
        b2.select($"doc_id").as[Long].collect().toSet)
      // the indexes grew across batches
      assert(spark.table(fpT).count() > 0)
      assert(spark.table(s"${mhT}_bands").count() > 0)
      assert(spark.table(bnT).count() > 0)
      // compaction preserves the whole dedup relation: batch 3 plants
      // one cross-batch dup per index against BOTH earlier batches
      Recipe.compactRecipeIndexes(spark, fpT, mhT, bnT, buckets = 2)
      val b3 = Seq(
        (300L, "A", s"<p>${toks(0)}</p>"),          // exact vs batch 1
        (301L, "B", s"<p>${toks(104)}</p>"),        // exact vs batch 2
        (302L, "A", s"<p>${toks(6)} zz</p>"),       // near vs batch 2 (A)
        (303L, "A", s"<p>${toks(30)} tt</p>"),      // contaminated vs b1 bench
        (304L, "A", s"<p>${toks(304)}</p>")         // organic
      ).toDF("doc_id", "source", "text")
      val (s3, a3) = go(b3)
      val led3 = a3.select($"doc_id", $"stage").as[(Long, String)]
        .collect().toMap
      assert(led3(300L) == "exact_dup" && led3(301L) == "exact_dup")
      assert(led3(302L) == "near_dup")
      assert(led3(303L) == "contaminated")
      assert(s3.select($"doc_id").as[Long].collect().toSet == Set(304L))
    } finally {
      Seq(fpT, s"${mhT}_bands", s"${mhT}_shingles", bnT).foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("semantic decontamination is optional: omitting the vector sets " +
       "keeps the semantically-leaked doc") {
    val out = Recipe.curate(corpus(), "doc_id", "source", "text",
        benchmarkSource = "bench",
        minTokens = 5L, maxTokens = 100L, familySize = 10L,
        budgetDocs = 100L, shardBudget = 100L)
      .select($"doc_id").as[Long].collect().toSet
    assert(out.contains(4L)) // only stage 5b would have dropped it
    intercept[IllegalArgumentException] {
      Recipe.curate(corpus(), "doc_id", "source", "text",
        benchmarkSource = "bench", semanticCorpus = Some(vecs()))
    }
  }
}
