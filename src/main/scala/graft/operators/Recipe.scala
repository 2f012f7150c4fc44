package graft.operators

import graft.functions.TextFunctions
import graft.util.SparkUtils.withJobDescription
import graft.util.WorkerPool
import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** The full training-data curation RECIPE — the eight-stage composition
  * a real pretraining-data run executes, wired end to end from the
  * library's individually-gated stages:
  *
  *   1. normalize      — crawl HTML → text ([[TextFunctions.stripHtml]])
  *   2. quality cut    — token-count band ([[TextFunctions.tokenCount]])
  *   3. exact dedup    — first occurrence per normalized fingerprint
  *                       ([[Dedup.exactDedup]] semantics, min id wins)
  *   4. near dedup     — WITHIN-source MinHash-LSH pairs, with the
  *                       source IN the band key ([[Dedup.minhashDupPairs]]
  *                       partitionCols — cross-source candidates never
  *                       form or verify; cross-source overlap is the
  *                       next stage's job); the larger id of every
  *                       verified pair drops
  *   5. decontaminate  — (a) verbatim: corpus docs with n-gram Jaccard ≥
  *                       threshold against ANY benchmark-source doc drop,
  *                       and the benchmark source itself leaves the
  *                       training corpus ([[Dedup.crossNgramJaccardPairs]]);
  *                       (b) semantic: paraphrase-level leaks flagged by
  *                       [[Dedup.decontaminateSemantic]] drop
  *   6. temperature mix— per-source share ∝ n^τ under a document budget
  *                       ([[Sampling.temperatureSampleBySource]])
  *   7. leak-free split— chunk FAMILIES (same source, id div familySize —
  *                       the provenance cluster of one crawl record)
  *                       split as a unit ([[Sampling.leakFreeSplit]] over
  *                       star pairs to the family's smallest kept id)
  *   8. pack + shard   — head+tail truncation to the context window
  *                       ([[Packing.truncateHeadTail]]) and cost-balanced
  *                       shard assignment over the deterministic training
  *                       order ([[Ranking.shardByCostBudget]])
  *
  * Every stage rule is deterministic and SQL-replayable, so ONE oracle
  * can replay the whole chain — the point is pinning the STAGE HANDOFFS
  * (schemas, column contracts, drop rules) that the per-stage gates
  * cannot see. [[curate]]/[[curateWithAudit]] are the BATCH forms (one
  * full-corpus run); [[curateIncremental]] is the daily-ingest form,
  * where the dedup/decontamination stages consult the persisted
  * bucketed indexes instead and append to them.
  *
  * Scale shape: every stage is the already-audited operator — no new
  * shuffles beyond their documented ones; the only all-pairs surface is
  * LSH-candidate verification (stage 4/5a), bounded by band collisions,
  * and the semantic brute-force top-k (stage 5b), bounded by |eval|·|corpus|
  * with k-row state per query.
  *
  * Returns one row per SURVIVING document:
  * (idCol, sourceCol, n_tokens, split, truncated, n_tokens_kept, shard).
  */
object Recipe {

  def curate(docs: DataFrame, idCol: String, sourceCol: String,
             textCol: String,
             benchmarkSource: String,
             semanticCorpus: Option[DataFrame] = None,
             semanticEval: Option[DataFrame] = None,
             semanticVecCol: String = "embedding",
             semanticK: Int = 8,
             semanticMinCosine: Double = 0.9,
             semanticMinMargin: Double = 0.2,
             minTokens: Long = 35L, maxTokens: Long = 100L,
             nearThreshold: Double = 0.85,
             contaminationThreshold: Double = 0.7,
             tau: Double = 0.5, budgetDocs: Long = 300L,
             familySize: Long = 50L,
             splits: Seq[(String, Double)] =
               Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
             headTokens: Int = 20, tailTokens: Int = 10,
             shardBudget: Long = 2000L): DataFrame =
    curateWithAudit(docs, idCol, sourceCol, textCol, benchmarkSource,
      semanticCorpus, semanticEval, semanticVecCol, semanticK,
      semanticMinCosine, semanticMinMargin, minTokens, maxTokens,
      nearThreshold, contaminationThreshold, tau, budgetDocs, familySize,
      splits, headTokens, tailTokens, shardBudget)._1

  /** [[curate]] plus the DROP LEDGER — the funnel report that answers
    * the first question every real curation run gets: "why did my
    * document disappear?". Returns (survivors, audit) where audit has
    * one row per dropped document: (idCol, sourceCol, stage), stage ∈
    * quality | exact_dup | near_dup | benchmark | contaminated |
    * semantic | mix_budget. A document appears in the audit exactly
    * once (the FIRST stage that dropped it) or in the survivors —
    * never both, never neither (spec-pinned conservation). The ledger
    * derives from the already-materialized stage boundaries, so the
    * marginal cost over [[curate]] is a handful of anti-joins on
    * bounded frames. */
  def curateWithAudit(docs: DataFrame, idCol: String, sourceCol: String,
             textCol: String,
             benchmarkSource: String,
             semanticCorpus: Option[DataFrame] = None,
             semanticEval: Option[DataFrame] = None,
             semanticVecCol: String = "embedding",
             semanticK: Int = 8,
             semanticMinCosine: Double = 0.9,
             semanticMinMargin: Double = 0.2,
             minTokens: Long = 35L, maxTokens: Long = 100L,
             nearThreshold: Double = 0.85,
             contaminationThreshold: Double = 0.7,
             tau: Double = 0.5, budgetDocs: Long = 300L,
             familySize: Long = 50L,
             splits: Seq[(String, Double)] =
               Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
             headTokens: Int = 20, tailTokens: Int = 10,
             shardBudget: Long = 2000L): (DataFrame, DataFrame) = {
    requireParams(minTokens, maxTokens, familySize, semanticCorpus, semanticEval)

    // 1. normalize + 2. quality cut, then a stage-boundary
    // materialization: every stage below references its upstream 2-3
    // times (dedup pairs join back to the corpus, anti-joins reuse both
    // sides), so an unchecked lineage doubles per stage — the
    // iterative-operator plan-growth lesson applied to a LINEAR
    // pipeline. At real scale swap localCheckpoint for a persisted
    // staging table per stage (also your recovery points).
    val qual = qualityCut(docs, idCol, sourceCol, textCol, minTokens,
      maxTokens).localCheckpoint()

    // 3. exact dedup — smallest id per normalized fingerprint survives
    val exact = qual.join(
      Dedup.exactDedupIds(qual, idCol, "__t").select(col(idCol)),
      Seq(idCol), "left_semi")
      .localCheckpoint()

    // 4. near dedup WITHIN source — the larger id of every verified
    // same-source pair drops (greedy smaller-id-wins; chained families
    // keep exactly their smallest member). The source is IN the LSH
    // band key (partitionCols): cross-source candidates never form or
    // exact-verify, instead of being verified corpus-wide and filtered
    // afterwards — at 100 TB with heavy cross-source mirroring the
    // discarded verification would dominate the stage.
    val nearDrop = Dedup.minhashDupPairs(exact, idCol, "__t",
        shingleSize = 3, bands = 32, rowsPerBand = 4,
        threshold = nearThreshold, partitionCols = Seq(sourceCol))
      .select(col("id2").as(idCol)).distinct()
    val near = exact.join(nearDrop, Seq(idCol), "left_anti")
      .localCheckpoint()

    // 5a. verbatim decontamination — benchmark leaves the corpus; any
    // corpus doc overlapping a benchmark doc at n-gram Jaccard ≥ the
    // threshold leaves with it
    val bench = near.filter(col(sourceCol) === benchmarkSource)
    val corpus = near.filter(col(sourceCol) =!= benchmarkSource)
    val contaminated = Dedup.crossNgramJaccardPairs(corpus, bench,
        idCol, "__t", shingleSize = 3, threshold = contaminationThreshold)
      .select(col("corpus_id").as(idCol)).distinct()
    val decon1 = corpus.join(contaminated, Seq(idCol), "left_anti")

    // 5b. semantic decontamination — paraphrase leaks by embedding
    val decon = semanticCut(decon1, idCol, semanticCorpus, semanticEval,
      semanticVecCol, semanticK, semanticMinCosine, semanticMinMargin)
      .getOrElse(decon1).localCheckpoint()

    // 6. temperature mix
    val mixed = temperatureMix(decon, idCol, sourceCol, tau, budgetDocs)
      .localCheckpoint()

    // 7. leak-free split over chunk families: star pairs to the
    // family's smallest KEPT id make each family one component
    val fam = mixed.select(col(idCol), col(sourceCol))
      .withColumn("__fam", family(idCol, familySize))
    val famMin = fam.groupBy(col(sourceCol), col("__fam"))
      .agg(min(col(idCol)).as("__fmin"))
    val famPairs = fam.join(famMin, Seq(sourceCol, "__fam"))
      .filter(col(idCol) =!= col("__fmin"))
      .select(col("__fmin").as("id1"), col(idCol).as("id2"))
    val split = Sampling.leakFreeSplit(mixed, idCol, famPairs, splits)

    // 8. pack + shard
    (packAndShard(split, idCol, sourceCol, headTokens, tailTokens,
        shardBudget),
      dropLedger(idCol, sourceCol, docs, qual, exact, near, bench, corpus,
        decon1, decon, mixed))
  }

  private def requireParams(minTokens: Long, maxTokens: Long,
                            familySize: Long, embeddings: Option[DataFrame],
                            eval: Option[DataFrame]): Unit = {
    require(minTokens >= 1 && maxTokens >= minTokens,
      s"need 1 <= minTokens <= maxTokens, got [$minTokens, $maxTokens]")
    require(familySize >= 1, s"familySize must be >= 1, got $familySize")
    require(embeddings.isDefined == eval.isDefined,
      "semantic decontamination needs BOTH embeddings and an eval vector set")
  }

  /** Stages 1 + 2: (idCol, sourceCol, __t, n_tokens) of the documents
    * whose HTML-stripped text `__t` has a token count in the band. */
  private def qualityCut(docs: DataFrame, idCol: String, sourceCol: String,
                         textCol: String, minTokens: Long,
                         maxTokens: Long): DataFrame =
    docs
      .withColumn("__t", TextFunctions.stripHtml(col(textCol)))
      .withColumn("n_tokens",
        TextFunctions.tokenCount(col("__t")).cast("long"))
      .filter(col("n_tokens").between(minTokens, maxTokens))
      .select(col(idCol), col(sourceCol), col("__t"), col("n_tokens"))

  /** Stage 5b: `decon1` without the documents whose embedding leaks an
    * `eval` item ([[Dedup.decontaminateSemantic]]); None without the
    * vector sets. */
  private def semanticCut(decon1: DataFrame, idCol: String,
                          embeddings: Option[DataFrame],
                          eval: Option[DataFrame], vecCol: String, k: Int,
                          minCosine: Double,
                          minMargin: Double): Option[DataFrame] =
    for (cEmb <- embeddings; eEmb <- eval) yield {
      val flagged = Dedup.decontaminateSemantic(cEmb, eEmb, idCol, vecCol,
          k = k, minCosine = minCosine, minMargin = minMargin)
        .select(col("corpus_id").as(idCol)).distinct()
      decon1.join(flagged, Seq(idCol), "left_anti")
    }

  /** Stage 6: the temperature mix on a SALTED md5 surrogate key, NOT the
    * raw id: both the mix-keep rule and the split bands are knuthHash32
    * thresholds, and keying two independent decisions on the SAME hash
    * correlates them perfectly (the mix keeps exactly the ids whose hash
    * is small, which the split would then send 100% to the first band —
    * every sampled doc in 'train'; the recipe gate caught that live).
    * The md5 surrogate decorrelates. */
  private def temperatureMix(decon: DataFrame, idCol: String,
                             sourceCol: String, tau: Double,
                             budgetDocs: Long): DataFrame =
    Sampling.temperatureSampleBySource(
        decon.withColumn("__mix",
          Sampling.surrogateKey(col(idCol), "recipemix")),
        "__mix", sourceCol, tau = tau, budgetDocs = budgetDocs)
      .drop("__mix")

  /** Stage 7's chunk family of a document, floor(id / familySize). FLOOR
    * division (id − pmod(id, size) is always a multiple of size, so the
    * div is exact): bare `div` truncates toward zero, which for a
    * NEGATIVE doc id disagrees with the oracle's `//` floor — the id
    * would join the wrong family and silently straddle the split. */
  private def family(idCol: String, familySize: Long): Column =
    call_function("div",
      col(idCol).cast("long") - pmod(col(idCol).cast("long"), lit(familySize)),
      lit(familySize))

  /** Stage 8: head+tail truncation to the context window, then
    * cost-balanced shards over the deterministic (Knuth-hash, id)
    * training order; the survivors' output columns. */
  private def packAndShard(split: DataFrame, idCol: String,
                           sourceCol: String, headTokens: Int,
                           tailTokens: Int, shardBudget: Long): DataFrame = {
    val packed = Packing.truncateHeadTail(split, "__t",
      headTokens = headTokens, tailTokens = tailTokens)
    Ranking.shardByCostBudget(packed,
        Seq(Sampling.knuthHash32(col(idCol)), col(idCol)),
        "n_tokens_kept", budget = shardBudget)
      .select(col(idCol), col(sourceCol), col("n_tokens"), col("split"),
        col("truncated"), col("n_tokens_kept"), col("shard"))
  }

  /** The drop ledger: each document of `input` lands in exactly one stage
    * row — the FIRST stage that dropped it — or in the survivors. Its
    * operands are the stage boundaries, so it costs anti-joins on
    * bounded frames, not a pipeline re-run; it stays lazy, so a caller
    * that discards it pays nothing. */
  private def dropLedger(idCol: String, sourceCol: String, input: DataFrame,
                         qual: DataFrame, exact: DataFrame, near: DataFrame,
                         bench: DataFrame, corpus: DataFrame,
                         decon1: DataFrame, decon: DataFrame,
                         mixed: DataFrame): DataFrame = {
    def ids(f: DataFrame) = f.select(col(idCol), col(sourceCol))
    def drop(from: DataFrame, kept: DataFrame, stage: String) =
      ids(from).join(kept.select(col(idCol)), Seq(idCol), "left_anti")
        .withColumn("stage", lit(stage))
    drop(input, qual, "quality")
      .unionByName(drop(qual, exact, "exact_dup"))
      .unionByName(drop(exact, near, "near_dup"))
      .unionByName(ids(bench).withColumn("stage", lit("benchmark")))
      .unionByName(drop(corpus, decon1, "contaminated"))
      .unionByName(drop(decon1, decon, "semantic"))
      .unionByName(drop(decon, mixed, "mix_budget"))
  }

  /** Create the EMPTY persisted indexes [[curateIncremental]] resumes
    * from, so batch 1 takes exactly the same code path as batch N (an
    * anti-join against an empty index keeps everything). Four bucketed
    * tables: the exact-dedup fingerprint set, the MinHash band/shingle
    * pair (bucket-salted by source — the within-source policy), and the
    * benchmark inverted shingle index. Ids are pinned LONG — the type
    * every later append must match. */
  def initRecipeIndexes(spark: org.apache.spark.sql.SparkSession,
                        fingerprintTable: String, minhashTable: String,
                        benchNgramTable: String, buckets: Int = 8): Unit = {
    import org.apache.spark.sql.types._
    // the build functions themselves, on an empty frame: the index
    // schemas are stated once, by the code that writes every batch
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("id", LongType), StructField("__t", StringType))))
    Dedup.buildFingerprintIndexTable(empty, "__t", fingerprintTable, buckets)
    Dedup.buildMinHashIndexTable(empty, "id", "__t", minhashTable,
      buckets = buckets)
    Dedup.buildNgramInvertedIndexTable(empty, "id", "__t", benchNgramTable,
      shingleSize = 3, buckets = buckets)
  }

  /** Offline maintenance for the [[curateIncremental]] index set: every
    * batch APPENDS at least one file per written bucket, so a year of
    * daily ingests leaves each bucket as ~365 small files and the
    * per-batch scans pay per-file open cost (see
    * [[Bucketing.compactBucketed]] for the crash-recovery contract).
    * One call rewrites all four tables to one sorted file per bucket
    * and collapses replay-duplicated rows. Run it from the same
    * maintenance window that would VACUUM anything else — never
    * concurrently with an ingest. */
  def compactRecipeIndexes(spark: org.apache.spark.sql.SparkSession,
                           fingerprintTable: String, minhashTable: String,
                           benchNgramTable: String,
                           buckets: Int = 8): Unit = {
    Dedup.compactFingerprintIndexTable(spark, fingerprintTable, buckets)
    Dedup.compactMinHashIndexTable(spark, minhashTable, buckets)
    Bucketing.compactBucketed(spark, benchNgramTable, buckets, Seq("sh"),
      dropDuplicates = true)
  }

  /** The INCREMENTAL form of [[curateWithAudit]] — the shape a real
    * daily ingest of a 100 TB corpus actually executes: one batch flows
    * through the same eight stages, but every dedup/decontamination
    * decision consults the PERSISTED bucketed indexes accumulated from
    * all prior batches instead of re-scanning history ([[Dedup
    * .exactDedupAgainstIndexTable]], [[Dedup
    * .minhashDedupAgainstIndexTable]] with the source in the band salt,
    * [[Dedup.crossNgramJaccardAgainstIndexTable]]), then appends its own
    * survivors so the NEXT batch resumes where this one ended. Per-batch
    * cost is O(batch), never O(history): the index sides of every
    * anti-join are bucketed and exchange-free.
    *
    * Stage semantics per batch (create the tables once with
    * [[initRecipeIndexes]]; batch 1 against empty indexes behaves like
    * the batch form modulo the split/mix notes below):
    *   3. exact    — in-batch first occurrence (min id per fingerprint)
    *                 AND fingerprint absent from the index. Index gains
    *                 this stage's survivors: "seen" is the dedup
    *                 relation, so a doc sampled away at stage 6 still
    *                 blocks tomorrow's identical copy.
    *   4. near     — a doc drops if it has a verified same-source
    *                 near-dup in HISTORY (the index = prior batches'
    *                 stage-4 survivors), or is the larger id of an
    *                 in-batch same-source pair over this stage's INPUT
    *                 (so a doc that near-dups a history-duplicate also
    *                 drops — greedy, deterministic, SQL-replayable).
    *                 Index gains this stage's survivors.
    *   5a. decon   — this batch's `benchmarkSource` docs leave the
    *                 corpus and join the benchmark inverted index;
    *                 corpus docs are checked against ALL benchmark
    *                 history INCLUDING this batch's benchmark docs.
    *   5b. semantic— unchanged: the eval vector set is a FIXED
    *                 reference, naturally incremental (each batch's
    *                 embeddings vs the same eval set).
    *   6. mix      — temperature shares from THIS batch's source
    *                 counts under a PER-BATCH `budgetDocs` (a daily
    *                 budget — the incremental reading of the mix law).
    *   7. split    — hash of the FAMILY KEY (source, floor(id /
    *                 familySize)) via a salted surrogate, NOT the
    *                 batch form's smallest-kept-id component label:
    *                 family members arriving in different batches must
    *                 land in the same split, and the component label is
    *                 batch-dependent. Leak-free within a family by
    *                 construction, stable across any batch order.
    *   8. pack+shard — per batch; shard ids restart at 0 each batch
    *                 (a daily delivery is its own shard set — tag
    *                 outputs with a batch id downstream).
    *
    * `generation` is the caller's batch counter, starting at 1:
    * the exact and near stages read only index rows of earlier
    * generations, and the appends write this one, so re-running a batch
    * whose appends already ran returns the same survivors and audit. The
    * benchmark n-gram index needs no generation: corpus docs are checked
    * against this batch's own benchmark docs anyway. Without a
    * generation, the stages read every row and the appends write history.
    *
    * Returns (survivors, audit) with the same schemas and stage names
    * as [[curateWithAudit]]. Survivors are materialized; the audit is a
    * lazy derivation of materialized stage boundaries and `batch`. */
  def curateIncremental(batch: DataFrame, idCol: String, sourceCol: String,
             textCol: String,
             benchmarkSource: String,
             fingerprintTable: String,
             minhashTable: String,
             benchNgramTable: String,
             batchEmb: Option[DataFrame] = None,
             semanticEval: Option[DataFrame] = None,
             semanticVecCol: String = "embedding",
             semanticK: Int = 8,
             semanticMinCosine: Double = 0.9,
             semanticMinMargin: Double = 0.2,
             minTokens: Long = 35L, maxTokens: Long = 100L,
             nearThreshold: Double = 0.85,
             contaminationThreshold: Double = 0.7,
             tau: Double = 0.5, budgetDocs: Long = 300L,
             familySize: Long = 50L,
             splits: Seq[(String, Double)] =
               Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
             splitSalt: String = "recipesplit",
             headTokens: Int = 20, tailTokens: Int = 10,
             shardBudget: Long = 2000L,
             generation: Option[Long] = None,
             buckets: Int = 8): (DataFrame, DataFrame) = {
    requireParams(minTokens, maxTokens, familySize, batchEmb, semanticEval)
    val session = batch.sparkSession

    // 1+2. normalize + quality cut
    val qual = withJobDescription(session, "recipe: qual ckpt")(
      qualityCut(batch, idCol, sourceCol, textCol, minTokens, maxTokens)
        .localCheckpoint())

    // 3. exact dedup: in-batch first occurrence + vs-history anti-join
    val exact = withJobDescription(session, "recipe: exact ckpt")(
      Dedup.exactDedupAgainstIndexTable(qual, idCol, "__t",
        fingerprintTable, generation).localCheckpoint())

    // 4. near dedup WITHIN source, vs history then in-batch. The batch
    // is shingled and MinHash-signed exactly ONCE (the streaming
    // runners' one-signing discipline): the vs-history join, the
    // in-batch pair pass AND the index append below all reuse this
    // signing, materialized.
    val signed = Dedup.SignedBatch.sign(exact, idCol, "__t",
      partitionCols = Seq(sourceCol),
      materialize = (stage, f) => withJobDescription(session,
        s"recipe: $stage ckpt")(f.localCheckpoint()))
    val vsHist = signed.survivorsVsIndex(minhashTable, nearThreshold,
      generation)
    val inBatchDrop = signed.dupPairs(nearThreshold)
      .select(col("id2").as(idCol)).distinct()
    val near = withJobDescription(session, "recipe: near ckpt")(
      vsHist.join(inBatchDrop, Seq(idCol), "left_anti")
        .localCheckpoint())

    // 5a. verbatim decontamination vs benchmark history ∪ this batch's
    // benchmark docs (the union is explicit, so the answer is the same
    // whether or not this batch's own benchmark docs are in the index)
    val bench = near.filter(col(sourceCol) === benchmarkSource)
    val corpus = near.filter(col(sourceCol) =!= benchmarkSource)
    val contaminated = Dedup.crossNgramJaccardAgainstIndexTable(corpus,
        idCol, "__t", benchNgramTable, shingleSize = 3,
        threshold = contaminationThreshold)
      .select(col("corpus_id").as(idCol))
      .unionByName(Dedup.crossNgramJaccardPairs(corpus, bench, idCol,
          "__t", shingleSize = 3, threshold = contaminationThreshold)
        .select(col("corpus_id").as(idCol)))
      .distinct()
    val decon1 = withJobDescription(session, "recipe: decon ckpt")(
      corpus.join(contaminated, Seq(idCol), "left_anti")
        .localCheckpoint())

    // 5b. semantic decontamination vs the fixed eval set (when absent,
    // decon IS the already-materialized decon1 — a second checkpoint of
    // the identical frame would just burn a job per micro-batch)
    val decon = semanticCut(decon1, idCol, batchEmb, semanticEval,
        semanticVecCol, semanticK, semanticMinCosine, semanticMinMargin)
      .fold(decon1)(f => withJobDescription(session,
        "recipe: semantic ckpt")(f.localCheckpoint()))

    // 6. per-batch temperature mix. NOT checkpointed: the mix frame has
    // exactly one eager consumer (the survivor chain below — the audit
    // is lazy and rarely evaluated), it reads no index table (decon, its
    // checkpointed upstream, is the last index-reading frame), and the
    // mix itself is a groupBy + broadcast join on an already-bounded
    // frame — a checkpoint here bought one extra job per micro-batch and
    // nothing else. An audit consumer recomputes the cheap mix from the
    // decon checkpoint.
    val mixed = temperatureMix(decon, idCol, sourceCol, tau, budgetDocs)

    // 7. batch-stable leak-free split on the family KEY itself
    val split = Sampling.splitByHash(
        mixed.withColumn("__skey", Sampling.surrogateKey(
          concat_ws("|", col(sourceCol), family(idCol, familySize)),
          splitSalt)),
        "__skey", splits)
      .drop("__skey")

    // 8. pack + shard (per batch)
    val survivors = withJobDescription(session, "recipe: pack+shard ckpt")(
      packAndShard(split, idCol, sourceCol, headTokens, tailTokens,
        shardBudget).localCheckpoint())

    // the three appends write three INDEPENDENT tables from already-
    // materialized frames: submit them from a small pool so the next
    // append's tasks back-fill executors freed by the previous one's
    // tail — serial, each small write paid its full fixed cost end to
    // end. A failure fails the call once every append has finished.
    WorkerPool.runAll(Seq[(String, () => Unit)](
      "fp" -> (() => Dedup.appendToFingerprintIndexTable(exact, "__t",
        fingerprintTable, buckets, generation)),
      // the stage-4 signing restricted to the near survivors, not a
      // re-signing of the survivors' raw text
      "minhash" -> (() => signed.restrictTo(near).writeIndex(minhashTable,
        buckets, SaveMode.Append, generation)),
      "bench ngram" -> (() => Dedup.appendToNgramInvertedIndexTable(bench,
        idCol, "__t", benchNgramTable, shingleSize = 3, buckets = buckets))),
      workers = 3) { case (index, append) =>
      withJobDescription(session, s"recipe: append $index")(append())
    }

    (survivors, dropLedger(idCol, sourceCol, batch, qual, exact, near, bench,
      corpus, decon1, decon, mixed))
  }
}
