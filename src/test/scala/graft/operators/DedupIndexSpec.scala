package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** The bucketed fingerprint index exists for what is ABSENT from the
  * anti-join plan: the historical index side must have NO Exchange — only
  * the incoming batch may shuffle — and the index must be appendable so
  * ingestion resumes without a rebuild. */
class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private def exchanges(plan: SparkPlan): Seq[Exchange] = {
    val resolved = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    resolved.collect { case e: Exchange => e }
  }

  private val hist = Seq(
    (1L, "history document one about rivers and banks"),
    (2L, "history document two about spark and shuffles"),
    (3L, "history document three about bucketed layouts")
  ).toDF("doc_id", "text")

  test("two-batch resume: appended fps kill batch-1 re-ingestions in batch 2") {
    val table = "graft_fp_idx_resume"
    Dedup.buildFingerprintIndexTable(hist, "text", table, buckets = 4)
    try {
      val batch1 = Seq(
        (10L, "history document one about rivers and banks"), // killed by index
        (11L, "brand new content in batch one"),
        (12L, "brand new content in batch one"), // in-batch dup of 11
        (13L, "more new content in batch one")
      ).toDF("doc_id", "text")
      val s1 = Dedup.exactDedupAgainstIndexTable(batch1, "doc_id", "text", table)
        .localCheckpoint()
      assert(s1.select($"doc_id").as[Long].collect().sorted.toSeq === Seq(11L, 13L))
      Dedup.appendToFingerprintIndexTable(s1, "text", table, buckets = 4)
      val batch2 = Seq(
        (20L, "brand new content in batch one"),   // killed by APPENDED fp
        (21L, "history document two about spark and shuffles"), // killed by original index
        (22L, "genuinely new in batch two")
      ).toDF("doc_id", "text")
      val s2 = Dedup.exactDedupAgainstIndexTable(batch2, "doc_id", "text", table)
      assert(s2.select($"doc_id").as[Long].collect().toSeq === Seq(22L))
      // the table stayed bucketed through the append (still one spec)
      assert(spark.table(table).count() === 5L) // 3 hist + 2 batch-1 fps
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("minhash index: near-dups die vs history and vs APPENDED batch, exacts survive") {
    val mkDoc = (id: Long, base: String) => (id, base)
    val hist = Seq(
      mkDoc(1L, "the quick brown fox jumps over the lazy dog near the old river bank"),
      mkDoc(2L, "completely different content about spark query engines and distributed joins today")
    ).toDF("doc_id", "text")
    val table = "graft_mh_idx_spec"
    Dedup.buildMinHashIndexTable(hist, "doc_id", "text", table, buckets = 4)
    try {
      val batch1 = Seq(
        // near-copy of history 1 (two tokens appended) -> killed
        mkDoc(10L, "the quick brown fox jumps over the lazy dog near the old river bank zz yy"),
        // unrelated -> survives
        mkDoc(11L, "a totally fresh document with its own vocabulary and no overlap whatsoever here"),
        mkDoc(12L, "short text")
      ).toDF("doc_id", "text")
      val s1 = Dedup.minhashDedupAgainstIndexTable(batch1, "doc_id", "text",
        table, threshold = 0.7)
      assert(s1.select($"doc_id").as[Long].collect().sorted.toSeq === Seq(11L, 12L))
      Dedup.appendToMinHashIndexTable(
        s1.localCheckpoint(), "doc_id", "text", table, buckets = 4)
      val batch2 = Seq(
        // near-copy of batch-1 SURVIVOR 11 -> killed only if append worked
        mkDoc(20L, "a totally fresh document with its own vocabulary and no overlap whatsoever here zz"),
        // near-copy of history 2 -> killed by the original index
        mkDoc(21L, "completely different content about spark query engines and distributed joins today yy"),
        mkDoc(22L, "yet another brand new piece of writing on an unrelated subject entirely now")
      ).toDF("doc_id", "text")
      val s2 = Dedup.minhashDedupAgainstIndexTable(batch2, "doc_id", "text",
        table, threshold = 0.7)
      assert(s2.select($"doc_id").as[Long].collect().toSeq === Seq(22L))
      // compaction keeps both tables' layout and the dedup answer
      Dedup.compactMinHashIndexTable(spark, table, buckets = 4)
      val s2b = Dedup.minhashDedupAgainstIndexTable(batch2, "doc_id", "text",
        table, threshold = 0.7)
      assert(s2b.select($"doc_id").as[Long].collect().toSeq === Seq(22L))
      // the candidate join must not shuffle the band index (bucketed by
      // (band, bucket)); disable broadcast to force the sort-merge path
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val plan = Dedup.minhashDedupAgainstIndexTable(batch2, "doc_id",
          "text", table, threshold = 0.7)
        plan.count()
        val ex = exchanges(plan.queryExecution.executedPlan)
        // exchanges exist (batch banding, jaccard grouping) but none may
        // sit above the bands-table scan
        val resolved = plan.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        // an Exchange sits on the index side iff its subtree's ONLY leaf
        // is the bands scan (downstream shuffles legitimately contain it
        // along with the batch side)
        def onlyLeafIs(e: Exchange, t: String): Boolean = {
          val leaves = e.collectLeaves()
          leaves.nonEmpty && leaves.forall(_.toString.contains(t))
        }
        assert(!ex.exists(onlyLeafIs(_, s"${table}_bands")),
          s"band index side must not shuffle:\n$resolved")
        // the HISTORICAL shingle store must not re-shuffle per batch
        // either: its bucketing-by-id must survive the hist_id alias
        // into the verification join (alias-aware output partitioning)
        assert(!ex.exists(onlyLeafIs(_, s"${table}_shingles")),
          s"shingle store side must not shuffle:\n$resolved")
        // sanity: the batch side of the candidate join DOES shuffle
        assert(ex.nonEmpty)
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${table}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_shingles")
    }
  }

  test("minhash index with partitionCols: within-source near-dups die " +
       "vs history, the same text cross-source survives, and the " +
       "index-side no-Exchange plan is unchanged") {
    val hist = Seq(
      (1L, "s0", "the quick brown fox jumps over the lazy dog near the old river bank"),
      (2L, "s1", "completely different content about spark query engines and distributed joins today")
    ).toDF("doc_id", "source", "text")
    val table = "graft_mh_idx_pc_spec"
    Dedup.buildMinHashIndexTable(hist, "doc_id", "text", table,
      buckets = 4, partitionCols = Seq("source"))
    try {
      val batch = Seq(
        // near-copy of history 1, SAME source -> killed via the index
        (10L, "s0", "the quick brown fox jumps over the lazy dog near the old river bank zz"),
        // the SAME near-copy under a DIFFERENT source -> survives (the
        // source-salted buckets never collide across sources)
        (11L, "s1", "the quick brown fox jumps over the lazy dog near the old river bank zz"),
        (12L, "s0", "a totally fresh document with its own vocabulary and no overlap whatsoever here")
      ).toDF("doc_id", "source", "text")
      val s = Dedup.minhashDedupAgainstIndexTable(batch, "doc_id", "text",
        table, threshold = 0.7, partitionCols = Seq("source"))
      assert(s.select($"doc_id").as[Long].collect().sorted.toSeq ===
        Seq(11L, 12L))
      // plan shape identical to the unpartitioned path: the salt lives
      // in the stored bucket VALUES, so the index side still never
      // shuffles (sort-merge forced)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val plan = Dedup.minhashDedupAgainstIndexTable(batch, "doc_id",
          "text", table, threshold = 0.7, partitionCols = Seq("source"))
        plan.count()
        val ex = exchanges(plan.queryExecution.executedPlan)
        def onlyLeafIs(e: Exchange, t: String): Boolean = {
          val leaves = e.collectLeaves()
          leaves.nonEmpty && leaves.forall(_.toString.contains(t))
        }
        assert(!ex.exists(onlyLeafIs(_, s"${table}_bands")))
        assert(!ex.exists(onlyLeafIs(_, s"${table}_shingles")))
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${table}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_shingles")
    }
  }

  test("initRecipeIndexes creates every index with the schema and bucket " +
       "spec its build function writes from data") {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(10)
    val (fpI, mhI, bnI) = (s"drift_fp_i_$tag", s"drift_mh_i_$tag", s"drift_bn_i_$tag")
    val (fpB, mhB, bnB) = (s"drift_fp_b_$tag", s"drift_mh_b_$tag", s"drift_bn_b_$tag")
    val pairs = Seq(fpI -> fpB, s"${mhI}_bands" -> s"${mhB}_bands",
      s"${mhI}_shingles" -> s"${mhB}_shingles", bnI -> bnB)
    def bucketSpec(t: String): Map[String, String] =
      spark.sql(s"DESCRIBE TABLE EXTENDED $t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
        .filter { case (k, _) =>
          Set("Num Buckets", "Bucket Columns", "Sort Columns")(k) }
    try {
      Recipe.initRecipeIndexes(spark, fpI, mhI, bnI, buckets = 2)
      val one = Seq((1L, "s0", "one short document about index schemas"))
        .toDF("doc_id", "source", "text")
      Dedup.buildFingerprintIndexTable(one, "text", fpB, buckets = 2)
      Dedup.buildMinHashIndexTable(one, "doc_id", "text", mhB, buckets = 2,
        partitionCols = Seq("source"))
      Dedup.buildNgramInvertedIndexTable(one, "doc_id", "text", bnB,
        buckets = 2)
      pairs.foreach { case (init, built) =>
        assert(spark.table(init).schema === spark.table(built).schema,
          s"$init vs $built")
        assert(bucketSpec(init).size === 3, s"$init: ${bucketSpec(init)}")
        assert(bucketSpec(init) === bucketSpec(built), s"$init vs $built")
      }
    } finally pairs.foreach { case (i, b) =>
      spark.sql(s"DROP TABLE IF EXISTS $i")
      spark.sql(s"DROP TABLE IF EXISTS $b")
    }
  }

  test("curateIncremental reports a failed index append only after its " +
       "sibling appends have finished") {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(10)
    val (fpT, mhT, bnT) = (s"af_fp_$tag", s"af_mh_$tag", s"af_bn_$tag")
    val group = s"append-failure-$tag"
    val sc = spark.sparkContext
    def toks(i: Int) = (0 until 40).map(j => s"w${i}_$j").mkString(" ")
    val batch = (1 to 4).map(i => (i.toLong, "A", toks(i)))
      .toDF("doc_id", "source", "text")
    try {
      Recipe.initRecipeIndexes(spark, fpT, mhT, bnT, buckets = 2)
      // the benchmark n-gram index with another bucket count: Spark
      // rejects its append at analysis, long before the others finish
      Dedup.buildNgramInvertedIndexTable(
        Seq.empty[(Long, String)].toDF("id", "__t"), "id", "__t", bnT,
        buckets = 3)
      sc.setJobGroup(group, "curateIncremental append failure")
      try intercept[org.apache.spark.sql.AnalysisException] {
        Recipe.curateIncremental(batch, "doc_id", "source", "text",
          benchmarkSource = "bench", fpT, mhT, bnT, buckets = 2)
      } finally sc.clearJobGroup()
      org.apache.spark.GraftSparkBridge.waitListenerBus(sc, 10000L)
      val tracker = sc.statusTracker
      val running = tracker.getJobIdsForGroup(group).flatMap(tracker.getJobInfo)
        .filter(_.status == org.apache.spark.JobExecutionStatus.RUNNING)
      assert(running.isEmpty, s"jobs of the call still running: ${running.map(_.jobId).toSeq}")
      // both sibling appends landed: 4 fingerprints, 4 docs x 32 bands
      assert(spark.table(fpT).count() == 4L)
      assert(spark.table(s"${mhT}_bands").count() == 4L * 32)
      assert(spark.table(s"${mhT}_shingles").count() == 4L)
    } finally
      Seq(fpT, s"${mhT}_bands", s"${mhT}_shingles", bnT).foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("compactBucketed heals append fragmentation, keeps the bucketed layout") {
    val table = "graft_fp_idx_compact"
    Dedup.buildFingerprintIndexTable(hist, "text", table, buckets = 4)
    try {
      // five appends, one of them a replay (duplicate fps)
      val extra = Seq((10L, "fresh one"), (11L, "fresh two")).toDF("doc_id", "text")
      (1 to 4).foreach(_ =>
        Dedup.appendToFingerprintIndexTable(extra, "text", table, buckets = 4))
      val dir = new java.io.File(
        spark.sql(s"DESCRIBE FORMATTED $table").collect()
          .find(_.getString(0) == "Location").get.getString(1)
          .stripPrefix("file:"))
      def files = dir.listFiles().count(_.getName.endsWith(".parquet"))
      val before = files
      assert(spark.table(table).count() === 11L) // 3 hist + 4x2 appended
      Dedup.compactFingerprintIndexTable(spark, table, buckets = 4)
      // duplicates collapsed, files reduced to at most one per bucket
      assert(spark.table(table).count() === 5L)
      val dir2 = new java.io.File(
        spark.sql(s"DESCRIBE FORMATTED $table").collect()
          .find(_.getString(0) == "Location").get.getString(1)
          .stripPrefix("file:"))
      val after = dir2.listFiles().count(_.getName.endsWith(".parquet"))
      assert(after <= 4 && after < before, s"files: $before -> $after")
      // the compacted table still joins without an index-side Exchange
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val batch = Seq((20L, "fresh one"), (21L, "brand new")).toDF("doc_id", "text")
        val kept = Dedup.exactDedupAgainstIndexTable(batch, "doc_id", "text", table)
        assert(kept.select($"doc_id").as[Long].collect().toSeq === Seq(21L))
        assert(exchanges(kept.queryExecution.executedPlan).size === 1)
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("keyed index: arbitrary key expression dedups and appends; NULL " +
       "keys pass through every batch and never enter the index") {
    import org.apache.spark.sql.functions.col
    val table = "key_idx_spec_" + System.nanoTime()
    // identity = v % 100 (stand-in for a perceptual hash); id 7 has no key
    val hist = Seq((1L, java.lang.Long.valueOf(105L)),
      (2L, java.lang.Long.valueOf(206L))).toDF("id", "v")
    Dedup.buildKeyIndexTable(hist, col("v") % 100, table, buckets = 4)
    try {
      val batch = Seq(
        (3L, java.lang.Long.valueOf(305L)),  // key 5: dup of history
        (4L, java.lang.Long.valueOf(407L)),  // key 7: new, survives
        (5L, java.lang.Long.valueOf(507L)),  // key 7 again: in-batch dup
        (6L, null.asInstanceOf[java.lang.Long]), // NULL key: passes
        (7L, null.asInstanceOf[java.lang.Long])  // NULL key: ALSO passes
      ).toDF("id", "v")
      val s1 = Dedup.keyedDedupAgainstIndexTable(batch, "id",
        col("v") % 100, table)
      assert(s1.select("id").as[Long].collect().toSet == Set(4L, 6L, 7L))
      Dedup.appendKeysToIndexTable(s1, col("v") % 100, table, buckets = 4)
      // key 7 now indexed; NULL-keyed rows still pass on replay
      val batch2 = Seq((8L, java.lang.Long.valueOf(807L)),
        (9L, null.asInstanceOf[java.lang.Long])).toDF("id", "v")
      val s2 = Dedup.keyedDedupAgainstIndexTable(batch2, "id",
        col("v") % 100, table)
      assert(s2.select("id").as[Long].collect().toSet == Set(9L))
      // the index never holds a NULL fp row
      assert(spark.table(table).filter(col("fp").isNull).count() == 0)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("caller columns named __fp/__rn survive the index dedup unchanged") {
    val table = "graft_fp_idx_collide"
    Dedup.buildFingerprintIndexTable(hist, "text", table, buckets = 4)
    try {
      // a frame that ALREADY carries the operator's working names — the
      // collision the temp-column renaming exists for; withColumn would
      // silently overwrite these
      val batch = Seq(
        (10L, "history document one about rivers and banks", "keep_fp_a", 7),
        (11L, "fresh content alpha", "keep_fp_b", 8),
        (12L, "fresh content alpha", "keep_fp_c", 9), // in-batch dup of 11
        (13L, "fresh content beta", "keep_fp_d", 10)
      ).toDF("doc_id", "text", "__fp", "__rn")
      val kept = Dedup.exactDedupAgainstIndexTable(batch, "doc_id", "text", table)
      // dedup semantics unchanged: 10 dies vs index, 12 dies in-batch
      assert(kept.select($"doc_id").as[Long].collect().sorted.toSeq === Seq(11L, 13L))
      // the caller's columns come back byte-identical
      assert(kept.columns.sorted.toSeq === Seq("__fp", "__rn", "doc_id", "text"))
      val rows = kept.select($"doc_id", $"__fp", $"__rn")
        .as[(Long, String, Int)].collect().map { case (k, v, w) => k -> (v, w) }.toMap
      assert(rows(11L) === ("keep_fp_b", 8))
      assert(rows(13L) === ("keep_fp_d", 10))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("anti-join shuffles ONLY the batch side; plain parquet index shuffles both") {
    val table = "graft_fp_idx_plan"
    Dedup.buildFingerprintIndexTable(hist, "text", table, buckets = 4)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val batch = Seq((10L, "x"), (11L, "y"), (12L, "z")).toDF("doc_id", "text")
      val kept = Dedup.exactDedupAgainstIndexTable(batch, "doc_id", "text", table)
      kept.count()
      val ex = exchanges(kept.queryExecution.executedPlan)
      assert(ex.size === 1,
        s"bucketed index anti-join must shuffle only the batch, found: ${ex.map(_.nodeName)}")
      // sanity — the detector sees the second shuffle when the index is
      // a plain (unbucketed) parquet copy of the same rows
      val dir = java.nio.file.Files.createTempDirectory("fp_idx_plain").toString
      spark.table(table).write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir).createOrReplaceTempView("graft_fp_idx_plain")
      val keptPlain = Dedup.exactDedupAgainstIndexTable(batch, "doc_id", "text",
        "graft_fp_idx_plain")
      keptPlain.count()
      assert(exchanges(keptPlain.queryExecution.executedPlan).size === 2)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.catalog.dropTempView("graft_fp_idx_plain")
    }
  }

  test("generations: a dedup reads only the index rows of earlier " +
       "generations, and its index side still never shuffles") {
    val (fpT, mhT, gramT) = ("graft_gen_fp", "graft_gen_mh", "graft_gen_gram")
    // doc 11 repeats history doc 1; doc 10 is new and is appended under
    // generation 1, so only generations >= 2 (and no generation) see it
    val batch = Seq((10L, "a fresh document about generation tags and replays"),
      (11L, "history document one about rivers and banks")).toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame, table: String): Seq[Long] = {
      val out = df.select($"doc_id").as[Long].collect().sorted.toSeq
      val indexSide = exchanges(df.queryExecution.executedPlan).filter { e =>
        val leaves = e.collectLeaves()
        leaves.nonEmpty && leaves.forall(_.toString.contains(table))
      }
      assert(indexSide.isEmpty, s"$table side shuffles: $indexSide")
      out
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Dedup.buildFingerprintIndexTable(hist, "text", fpT, buckets = 4)
      Dedup.appendToFingerprintIndexTable(batch, "text", fpT, buckets = 4,
        generation = Some(1L))
      def exact(g: Option[Long]) = ids(Dedup.exactDedupAgainstIndexTable(
        batch, "doc_id", "text", fpT, g), fpT)
      assert(exact(Some(1L)) === Seq(10L))
      assert(exact(Some(2L)) === Nil)
      assert(exact(None) === Nil)

      Dedup.buildMinHashIndexTable(hist, "doc_id", "text", mhT, buckets = 4)
      Dedup.appendToMinHashIndexTable(batch, "doc_id", "text", mhT,
        buckets = 4, generation = Some(1L))
      def near(g: Option[Long]) = ids(Dedup.minhashDedupAgainstIndexTable(
        batch, "doc_id", "text", mhT, threshold = 0.7, generation = g),
        s"${mhT}_bands")
      assert(near(Some(1L)) === Seq(10L))
      assert(near(Some(2L)) === Nil)
      assert(near(None) === Nil)

      Dedup.buildSpanGramIndexTable(hist, "doc_id", "text", gramT,
        minMatch = 3, hashedAnchors = false, buckets = 4)
      Dedup.appendToSpanGramIndexTable(batch, "doc_id", "text", gramT,
        minMatch = 3, hashedAnchors = false, buckets = 4,
        generation = Some(1L))
      def intact(g: Option[Long]) = ids(Dedup.spanDedupAgainstIndexTable(
        batch, "doc_id", "text", gramT, minMatch = 3, hashedAnchors = false,
        generation = g).filter($"n_removed" === 0), gramT)
      assert(intact(Some(1L)) === Seq(10L))
      assert(intact(Some(2L)) === Nil)
      assert(intact(None) === Nil)

      assert(intercept[IllegalArgumentException](Dedup
        .exactDedupAgainstIndexTable(batch, "doc_id", "text", fpT, Some(0L)))
        .getMessage.contains("generation"))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      (Seq(fpT, gramT) ++ Dedup.SignedBatch.tables(mhT)).foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}

/** Incremental ExactSubstr: the span-gram index must make per-batch span
  * dedup independent of history size — history grams cover outright,
  * only never-seen grams arbitrate within the batch, appends resume, and
  * the index side of both joins never shuffles. */
class SpanGramIndexSpec extends SparkSpec {
  import spark.implicits._

  private def doc(prefix: String): String =
    (0 until 12).map(i => s"$prefix$i").mkString(" ")

  test("history covers outright, in-batch arbitrates by (doc,pos), appends resume") {
    val table = "graft_gram_idx_spec"
    val hist = Seq((1L, doc("h"))).toDF("doc_id", "text")
    Dedup.buildSpanGramIndexTable(hist, "doc_id", "text", table,
      minMatch = 8, hashedAnchors = false, buckets = 4)
    try {
      val batch1 = Seq(
        (10L, doc("h")),           // full history copy -> fully cut
        (11L, doc("n")),           // unique -> untouched
        (12L, "x0 x1 " + doc("n")) // in-batch dup span: 11 < 12 keeps it
      ).toDF("doc_id", "text")
      val s1 = Dedup.spanDedupAgainstIndexTable(batch1, "doc_id", "text",
          table, minMatch = 8, hashedAnchors = false)
        .localCheckpoint()
      val m1 = s1.select($"doc_id", $"n_kept", $"n_removed")
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(m1 == Map(
        10L -> ((0L, 12L)),
        11L -> ((12L, 0L)),
        12L -> ((2L, 12L))), m1)
      Dedup.appendToSpanGramIndexTable(batch1, "doc_id", "text", table,
        minMatch = 8, hashedAnchors = false, buckets = 4)
      // batch-1 content re-ingested: killed by the APPENDED grams now
      val m2 = Dedup.spanDedupAgainstIndexTable(
          Seq((20L, doc("n"))).toDF("doc_id", "text"), "doc_id", "text",
          table, minMatch = 8, hashedAnchors = false)
        .select($"n_kept", $"n_removed").as[(Long, Long)].head()
      assert(m2 == ((0L, 12L)))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("index side never shuffles; only the batch grams exchange") {
    val table = "graft_gram_idx_plan"
    Dedup.buildSpanGramIndexTable(Seq((1L, doc("h"))).toDF("doc_id", "text"),
      "doc_id", "text", table, minMatch = 8, hashedAnchors = false, buckets = 4)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = Dedup.spanDedupAgainstIndexTable(
        Seq((10L, doc("h")), (11L, doc("z"))).toDF("doc_id", "text"),
        "doc_id", "text", table, minMatch = 8, hashedAnchors = false)
      out.count()
      val resolved = out.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val ex = resolved.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      def onlyLeafIs(e: org.apache.spark.sql.execution.exchange.Exchange,
                     t: String): Boolean = {
        val leaves = e.collectLeaves()
        leaves.nonEmpty && leaves.forall(_.toString.contains(t))
      }
      assert(!ex.exists(onlyLeafIs(_, table)),
        s"index side must not shuffle:\n$resolved")
      assert(ex.nonEmpty, "the batch side legitimately shuffles")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("batch ≡ incremental: when batches arrive in id order, the " +
       "incremental-index sequence keeps exactly the global batch " +
       "dedup's survivor set (seeded-random corpus with planted dups)") {
    // the equivalence Recipe.curate's scaladoc leans on: global exact
    // dedup keeps the MIN id per text; id-ordered incremental ingestion
    // keeps the FIRST ARRIVAL — identical sets when arrival order is id
    // order. Randomized corpus so the batch boundaries are arbitrary.
    val rnd = new scala.util.Random(0xD1F)
    val base = (0L until 120L).map(i =>
      (i, s"doc body ${rnd.nextInt(40)} tail ${rnd.nextInt(7)}"))
    // ~40 distinct texts over 120 ids -> plenty of natural duplicates
    val all = base.toDF("doc_id", "text")
    val globalKeep = Dedup.exactDedup(all, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    val table = "graft_fp_equiv_" + System.currentTimeMillis()
    // history = first 30 ids; two id-ordered batches cover the rest
    Dedup.buildFingerprintIndexTable(
      all.filter($"doc_id" < 30), "text", table, buckets = 4)
    try {
      val kept = scala.collection.mutable.Set.empty[Long]
      kept ++= Dedup.exactDedup(all.filter($"doc_id" < 30), "doc_id",
        "text").select($"doc_id").as[Long].collect()
      Seq((30L, 75L), (75L, 120L)).foreach { case (lo, hi) =>
        val batch = all.filter($"doc_id" >= lo && $"doc_id" < hi)
        val surv = Dedup
          .exactDedupAgainstIndexTable(batch, "doc_id", "text", table)
          .localCheckpoint()
        Dedup.appendToFingerprintIndexTable(surv, "text", table,
          buckets = 4)
        kept ++= surv.select($"doc_id").as[Long].collect()
      }
      assert(kept.toSet == globalKeep,
        s"incremental ${kept.size} vs global ${globalKeep.size}")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
