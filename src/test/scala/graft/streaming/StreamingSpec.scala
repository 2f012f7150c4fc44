package graft.streaming

import graft.SparkSpec
import graft.filedf.Parquet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def eventsDf = {
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    (0 until 200).map { i =>
      (i.toLong, java.sql.Timestamp.from(base.plusSeconds(i * 90L)),
        i % 5, "click", (i % 10) * 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  test("file stream: windowed counts over AvailableNow == batch result") {
    val src = tmpDir("stream-src")
    eventsDf.write.mode("overwrite").parquet(src)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", IntegerType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val stream = FileStreamReader.read(spark, Parquet(), src, schema,
      maxFilesPerTrigger = Some(1))
    assert(stream.isStreaming)
    val agg = StreamOps.windowedCounts(stream, "ts", "event_type",
      "1 hour", "10 minutes")
    StreamRunner.runAvailableNowToMemory(agg, "stream_counts")
    val streamed = spark.table("stream_counts")
      .orderBy($"w_start").select($"w_start", $"n", $"total").collect()

    val batch = eventsDf.groupBy(window($"ts", "1 hour"))
      .agg(count(lit(1)).as("n"), sum($"value").as("total"))
      .select($"window.start".as("w_start"), $"n", $"total")
      .orderBy($"w_start").collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming frames are rejected by the batch writer") {
    val src = tmpDir("stream-src2")
    eventsDf.write.mode("overwrite").parquet(src)
    val schema = eventsDf.schema
    val stream = FileStreamReader.read(spark, Parquet(), src, schema)
    intercept[IllegalArgumentException] {
      graft.operators.DbWriter(
        new graft.connections.FileTableConnection(spark, tmpDir("sink")), "t")
        .run(stream)
    }
  }

  test("sessionize: gap-based sessions with event-time timeout") {
    val mkTs = (m: Long) => new java.sql.Timestamp(
      java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli + m * 60000)
    // user 1: events at 0,5,10 min (one session), then 60,62 (second session)
    // user 2: single event
    val rows = Seq(
      StreamOps.Event(1L, mkTs(0), 1.0), StreamOps.Event(1L, mkTs(5), 2.0),
      StreamOps.Event(1L, mkTs(10), 3.0), StreamOps.Event(1L, mkTs(60), 4.0),
      StreamOps.Event(1L, mkTs(62), 5.0), StreamOps.Event(2L, mkTs(1), 9.0),
      // sentinel far in the future advances the watermark so all
      // earlier sessions time out and emit
      StreamOps.Event(99L, mkTs(10000), 0.0))
    val src = tmpDir("sess-src")
    rows.toDF().write.mode("overwrite").parquet(src)
    val stream = FileStreamReader.read(spark, Parquet(), src,
      implicitly[org.apache.spark.sql.Encoder[StreamOps.Event]].schema)
      .as[StreamOps.Event]
    val sessions = StreamOps.sessionize(stream, gapMillis = 15 * 60000,
      watermarkDelay = "1 minute")
    StreamRunner.runAvailableNowToMemory(sessions.toDF(), "sessions",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val got = spark.table("sessions")
      .filter($"user_id" < 90)
      .orderBy($"user_id", $"start")
      .select($"user_id", $"n_events", $"total_value").as[(Long, Int, Double)]
      .collect().toSeq
    assert(got == Seq((1L, 3, 6.0), (1L, 2, 9.0), (2L, 1, 9.0)), got)
  }

  test("exactly-once foreachBatch: replayed micro-batches are not re-applied") {
    // foreachBatch is at-least-once: after a crash (or a lost/rebuilt
    // checkpoint) batches the sink already committed are RE-DELIVERED.
    // Simulate the worst case — the whole checkpoint gone, every batch
    // replayed from id 0 — by re-running the same source against a FRESH
    // checkpoint but the SAME ledger. maxFilesPerTrigger=1 + mtime/path
    // ordering make the file → batch-id mapping deterministic, so run 2
    // re-delivers exactly run 1's batches; the ledger must swallow all of
    // them. (Direct checkpoint-commit surgery can't simulate this on
    // Spark 4: the commit log detects the tamper as concurrent use.)
    val src = tmpDir("stream-eo-src")
    eventsDf.coalesce(2).write.mode("overwrite").parquet(src)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", IntegerType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val store = new graft.core.InMemoryHwmStore
    val sunk = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    var applications = 0
    def run(ck: String): Unit = StreamRunner.runAvailableNowForeachBatchExactlyOnce(
      FileStreamReader.read(spark, Parquet(), src, schema,
        maxFilesPerTrigger = Some(1)),
      ck, store, "eo_ledger") { (batch, id) =>
      applications += 1
      sunk.merge(id, batch.count(), (a, b) => a + b)
    }
    run(tmpDir("stream-eo-ck1"))
    val firstPass = sunk.size
    assert(firstPass >= 2 && applications === firstPass)
    import scala.jdk.CollectionConverters._
    def totalRows(): Long = sunk.values().asScala.sum
    assert(totalRows() === 200L)

    // the replay: fresh checkpoint, batch ids restart at 0 — without the
    // ledger every row would be double-applied
    run(tmpDir("stream-eo-ck2"))
    assert(applications === firstPass,
      "replayed batches reached the sink — ledger failed to deduplicate")
    assert(totalRows() === 200L, "row totals changed after replay")
  }

  test("streaming drift monitor: per-batch PSI vs fixed reference, replay-safe") {
    import graft.operators.Drift
    val src = tmpDir("stream-psi-src")
    // two mtime-ordered batches: one matching the reference's shape,
    // one with all mass at the top
    val b0 = (0 until 100).map(i => (i.toLong, (i % 10).toDouble))
      .toDF("event_id", "value")
    val b1 = (100 until 200).map(i => (i.toLong, 9.0))
      .toDF("event_id", "value")
    b0.coalesce(1).write.mode("append").parquet(src)
    FileStreamReader.stampBatchMtime(src, 0)
    b1.coalesce(1).write.mode("append").parquet(src)
    FileStreamReader.stampBatchMtime(src, 1)
    val ref = b0
    val bounds = Drift.referenceBoundaries(ref, "value", "event_id", 5)
    val refCounts = Drift.bucketCounts(ref, "value", bounds, 5)
    assert(refCounts.toSeq == Seq(20L, 20L, 20L, 20L, 20L))
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("value", DoubleType)))
    val store = new graft.core.InMemoryHwmStore
    val reports = new java.util.concurrent.ConcurrentHashMap[Long, Array[(Int, Long, Double)]]()
    def run(ck: String): Unit = StreamRunner.runDriftMonitor(
      FileStreamReader.read(spark, Parquet(), src, schema,
        maxFilesPerTrigger = Some(1)),
      "value", bounds, refCounts, ck, store, "psi_ledger") { (report, id) =>
      reports.put(id, report.orderBy(col("bucket"))
        .select(col("bucket"), col("n_cur"), col("contrib"))
        .as[(Int, Long, Double)].collect())
    }
    run(tmpDir("stream-psi-ck1"))
    assert(reports.size == 2)
    // batch 0 == reference: every contribution ~0
    assert(reports.get(0L).forall { case (_, n, c) => n == 20L && math.abs(c) < 1e-9 })
    // batch 1: all 100 rows above every boundary -> top bucket, PSI large
    val r1 = reports.get(1L)
    assert(r1.map(_._2).toSeq == Seq(0L, 0L, 0L, 0L, 100L))
    assert(r1.map(_._3).sum > 0.25)
    // replay with a fresh checkpoint, same ledger: no report re-emitted
    reports.clear()
    run(tmpDir("stream-psi-ck2"))
    assert(reports.isEmpty, "replayed batches re-emitted drift reports")
  }

  test("streaming sketch fold: folded counters == whole-corpus counters, replay-safe") {
    import graft.operators.Sketch
    val src = tmpDir("stream-cm-src")
    val b0 = Seq((1L, "alpha beta beta"), (2L, "alpha gamma"))
      .toDF("doc_id", "text")
    val b1 = Seq((3L, "beta beta delta"), (4L, "alpha"))
      .toDF("doc_id", "text")
    b0.coalesce(1).write.mode("append").parquet(src)
    FileStreamReader.stampBatchMtime(src, 0)
    b1.coalesce(1).write.mode("append").parquet(src)
    FileStreamReader.stampBatchMtime(src, 1)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val store = new graft.core.InMemoryHwmStore
    val tab = tmpDir("stream-cm-tab") + "/counters"
    def words(df: org.apache.spark.sql.DataFrame) = df.select(
      explode(split($"text", " ")).as("w"))
    def run(ck: String): Unit = StreamRunner.runIncrementalSketchFold(
      words(FileStreamReader.read(spark, Parquet(), src, schema,
        maxFilesPerTrigger = Some(1))),
      "w", tab, depth = 4, width = 64, ck, store, "cm_ledger")
    run(tmpDir("stream-cm-ck1"))
    val folded = Sketch.cmMerge(spark.read.parquet(tab))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val direct = Sketch.cmCounters(words(b0.union(b1)), "w", 4, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(folded == direct, "streamed fold diverged from batch counters")
    // replay (fresh checkpoint, same ledger): sums must NOT double
    run(tmpDir("stream-cm-ck2"))
    val replayed = Sketch.cmMerge(spark.read.parquet(tab))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(replayed == direct, "replayed batches double-counted cells")
  }

  test("streaming HLL + KMV maintenance: fold == whole-corpus registers, " +
       "replay-idempotent; a FORGED ledger-bypassing re-append still folds " +
       "to the same answer (max/distinct commute)") {
    import graft.operators.Sketch
    val src = tmpDir("stream-hll-src")
    val b0 = Seq((1L, "alpha beta beta"), (2L, "alpha gamma"))
      .toDF("doc_id", "text")
    val b1 = Seq((3L, "beta beta delta"), (4L, "alpha epsilon"))
      .toDF("doc_id", "text")
    b0.coalesce(1).write.mode("append").parquet(src)
    FileStreamReader.stampBatchMtime(src, 0)
    b1.coalesce(1).write.mode("append").parquet(src)
    FileStreamReader.stampBatchMtime(src, 1)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def words(df: org.apache.spark.sql.DataFrame) = df.select(
      explode(split($"text", " ")).as("w"))
    val store = new graft.core.InMemoryHwmStore
    val hllTab = tmpDir("stream-hll-tab") + "/regs"
    def runHll(ck: String): Unit = StreamRunner.runIncrementalHllMaintain(
      words(FileStreamReader.read(spark, Parquet(), src, schema,
        maxFilesPerTrigger = Some(1))),
      "w", hllTab, p = 8, ck, store, "hll_ledger")
    runHll(tmpDir("stream-hll-ck1"))
    def hllFolded() = Sketch.hllFoldTable(spark, hllTab)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hllDirect = Sketch.hllRegisters(words(b0.union(b1)), "w", p = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hllFolded() == hllDirect, "streamed HLL fold diverged from batch")
    // ledger replay: skipped batches append nothing
    runHll(tmpDir("stream-hll-ck2"))
    assert(hllFolded() == hllDirect)
    // FORGE a ledger bypass: append batch 0's registers AGAIN directly —
    // unlike CM sums, the max-fold must absorb the duplicate
    Sketch.hllRegisters(words(b0), "w", p = 8)
      .write.mode("append").parquet(hllTab)
    assert(hllFolded() == hllDirect, "duplicate register frame changed the max-fold")
    // same contract for bottom-k
    val kmvTab = tmpDir("stream-kmv-tab") + "/regs"
    def runKmv(ck: String): Unit = StreamRunner.runIncrementalKmvMaintain(
      words(FileStreamReader.read(spark, Parquet(), src, schema,
        maxFilesPerTrigger = Some(1))),
      "w", kmvTab, k = 16, ck, store, "kmv_ledger")
    runKmv(tmpDir("stream-kmv-ck1"))
    def kmvFolded() = Sketch.kmvFoldTable(spark, kmvTab, 16)
      .as[Long].collect().toSeq
    val kmvDirect = Sketch.kmvRegisters(words(b0.union(b1)), "w", 16)
      .as[Long].collect().toSeq
    assert(kmvFolded() == kmvDirect, "streamed KMV fold diverged from batch")
    Sketch.kmvRegisters(words(b1), "w", 16)
      .write.mode("append").parquet(kmvTab)
    assert(kmvFolded() == kmvDirect, "duplicate KMV frame changed the fold")
    // estimates off the folded registers run (and are finite/positive)
    val est = Sketch.hllEstimate(Sketch.hllFoldTable(spark, hllTab))
      .as[(Double, Long, Long)].collect().head
    assert(est._1 > 0 && est._2 == 256L)
  }

  test("streaming KLL maintenance: fold == merge of per-batch sketches, " +
       "ledger-replay safe; a FORGED ledger-bypassing re-append INFLATES " +
       "the fold (non-idempotent, so the ledger is load-bearing)") {
    import graft.operators.Sketch
    val src = tmpDir("stream-kll-src")
    val b0 = spark.range(1, 501)
      .select($"id".as("doc_id"), ($"id" * 3).cast("double").as("len"))
    val b1 = spark.range(501, 1001)
      .select($"id".as("doc_id"), ($"id" * 3).cast("double").as("len"))
    b0.coalesce(1).write.mode("append").parquet(src)
    FileStreamReader.stampBatchMtime(src, 0)
    b1.coalesce(1).write.mode("append").parquet(src)
    FileStreamReader.stampBatchMtime(src, 1)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("len", DoubleType)))
    val store = new graft.core.InMemoryHwmStore
    val tab = tmpDir("stream-kll-tab") + "/regs"
    def run(ck: String): Unit = StreamRunner.runIncrementalKllMaintain(
      FileStreamReader.read(spark, Parquet(), src, schema,
        maxFilesPerTrigger = Some(1)),
      "len", "doc_id", tab, k = 32, ck, store, "kll_ledger")
    run(tmpDir("stream-kll-ck1"))
    def folded() = Sketch.kllFoldTable(spark, tab, 32)
      .as[(Double, Long, Long)].collect().toSeq
    // fold == the explicit merge of the two per-batch sketches
    val direct = Sketch.kllMerge(32,
      Sketch.kllRegisters(b0, "len", "doc_id", 32),
      Sketch.kllRegisters(b1, "len", "doc_id", 32))
      .as[(Double, Long, Long)].collect().toSeq
    val first = folded()
    assert(first == direct, "streamed KLL fold diverged from batch merge")
    // ledger replay (fresh checkpoint, same ledger): nothing re-appends
    run(tmpDir("stream-kll-ck2"))
    assert(folded() == direct, "replayed batches re-appended registers")
    // forged bypass: append batch 0's registers AGAIN -> weights inflate
    Sketch.kllRegisters(b0, "len", "doc_id", 32)
      .write.mode("append").parquet(tab)
    val forgedW = folded().map(_._3).sum
    assert(forgedW > direct.map(_._3).sum + 200,
      s"duplicate register frame should inflate the fold: $forgedW")
  }

  test("streaming daily-count maintenance: fold == whole-history counts, " +
       "ledger-replay safe; a forged re-append doubles a day (the EWMA " +
       "monitor's load-bearing exactly-once)") {
    import graft.operators.Drift
    val src = tmpDir("stream-dc-src")
    def day(d: Int) = f"2024-05-$d%02d 08:00:00"
    // 7 baseline days at 10/day, then three 14-days, split in 2 batches
    val all = ((1 to 7).flatMap(d => Seq.fill(10)(day(d))) ++
      (8 to 10).flatMap(d => Seq.fill(14)(day(d))))
    val (r0, r1) = all.splitAt(75)
    val b0 = r0.toDF("t").select(to_timestamp($"t").as("ts"))
    val b1 = r1.toDF("t").select(to_timestamp($"t").as("ts"))
    b0.coalesce(1).write.mode("append").parquet(src)
    FileStreamReader.stampBatchMtime(src, 0)
    b1.coalesce(1).write.mode("append").parquet(src)
    FileStreamReader.stampBatchMtime(src, 1)
    val schema = StructType(Seq(StructField("ts", TimestampType)))
    val store = new graft.core.InMemoryHwmStore
    val tab = tmpDir("stream-dc-tab") + "/regs"
    def run(ck: String): Unit = StreamRunner.runIncrementalDailyCountMaintain(
      FileStreamReader.read(spark, Parquet(), src, schema,
        maxFilesPerTrigger = Some(1)),
      "ts", tab, ck, store, "dc_ledger")
    run(tmpDir("stream-dc-ck1"))
    def monitor() = Drift.ewmaOverDailyCounts(spark.read.parquet(tab),
        refBuckets = 7, alphaBits = 2, thresholdPerBucket = 2L)
      .as[(java.sql.Date, Long, Long, Long, Long)].collect().toSeq
    val direct = Drift.ewmaDailyBand(b0.union(b1), "ts", refBuckets = 7,
        alphaBits = 2, thresholdPerBucket = 2L)
      .as[(java.sql.Date, Long, Long, Long, Long)].collect().toSeq
    assert(monitor() == direct, "streamed fold diverged from the batch band")
    // ledger replay: fresh checkpoint, same ledger -> nothing re-appends
    run(tmpDir("stream-dc-ck2"))
    assert(monitor() == direct)
    // forged ledger bypass: re-append batch 1's counts -> days double and
    // the band moves (non-idempotent; the ledger is what prevents this)
    b1.select(to_date(date_trunc("day", $"ts")).as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("x"))
      .write.mode("append").parquet(tab)
    assert(monitor() != direct, "duplicate count frame must move the fold")
  }

  test("streaming CDC apply: sequential fold == batch LWW, replay-safe") {
    import graft.operators.Scd
    val src = tmpDir("stream-cdc-src")
    val b0 = Seq((2L, Some("X"), 1, "U"), (3L, Option.empty[String], 1, "D"),
      (4L, Some("N"), 1, "U")).toDF("k", "a", "ts", "op")
    val b1 = Seq((2L, Option.empty[String], 2, "D"),
      (3L, Some("C2"), 2, "U")).toDF("k", "a", "ts", "op")
    b0.coalesce(1).write.mode("append").parquet(src)
    FileStreamReader.stampBatchMtime(src, 0)
    b1.coalesce(1).write.mode("append").parquet(src)
    FileStreamReader.stampBatchMtime(src, 1)
    val base = Seq((1L, "A"), (2L, "B"), (3L, "C")).toDF("k", "a")
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("a", StringType),
      StructField("ts", IntegerType), StructField("op", StringType)))
    val store = new graft.core.InMemoryHwmStore
    val st = tmpDir("stream-cdc-state")
    def run(ck: String): Unit = StreamRunner.runIncrementalCdcApply(
      FileStreamReader.read(spark, Parquet(), src, schema,
        maxFilesPerTrigger = Some(1)),
      base, st, "k", Seq("a"), "ts", "op", ck, store, "cdc_ledger")
    run(tmpDir("stream-cdc-ck1"))
    def snap() = StreamRunner.latestCdcSnapshot(spark, st).get
      .orderBy($"k").as[(Long, String)].collect().toSeq
    val got = snap()
    // matches the one-shot batch apply of the full change stream
    val direct = Scd.applyCdc(base, b0.union(b1), "k", Seq("a"), "ts", "op")
      .orderBy($"k").as[(Long, String)].collect().toSeq
    assert(got == direct && got == Seq((1L, "A"), (3L, "C2"), (4L, "N")))
    // replay with a fresh checkpoint, same ledger: a re-applied delete
    // would destroy the resurrected key 3 — it must not
    run(tmpDir("stream-cdc-ck2"))
    assert(snap() == got, "replayed CDC batches mutated the snapshot")
  }

  test("streaming categorical drift monitor: per-batch chi2 vs fixed counts, replay-safe") {
    import graft.operators.Drift
    val src = tmpDir("stream-chi2-src")
    // batch 0 mirrors the reference mix (50/50) -> chi2 ~ 0;
    // batch 1 is all one category -> large contributions
    val b0 = (0 until 100).map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("event_id", "event_type")
    val b1 = (100 until 200).map(i => (i.toLong, "a"))
      .toDF("event_id", "event_type")
    b0.coalesce(1).write.mode("append").parquet(src)
    FileStreamReader.stampBatchMtime(src, 0)
    b1.coalesce(1).write.mode("append").parquet(src)
    FileStreamReader.stampBatchMtime(src, 1)
    val refCounts = Drift.categoryCounts(b0, "event_type")
    assert(refCounts == Seq(("a", 50L), ("b", 50L)))
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType)))
    val store = new graft.core.InMemoryHwmStore
    val reports = new java.util.concurrent.ConcurrentHashMap[Long, Array[(String, Long, Double)]]()
    def run(ck: String): Unit = StreamRunner.runCategoricalDriftMonitor(
      FileStreamReader.read(spark, Parquet(), src, schema,
        maxFilesPerTrigger = Some(1)),
      "event_type", refCounts, ck, store, "chi2_ledger") { (report, id) =>
      reports.put(id, report.orderBy(col("category"))
        .select(col("category"), col("n_cur"), col("contrib"))
        .as[(String, Long, Double)].collect())
    }
    run(tmpDir("stream-chi2-ck1"))
    assert(reports.size == 2)
    // matching mix: every contribution exactly 0
    assert(reports.get(0L).forall { case (_, n, c) => n == 50L && c == 0.0 })
    // collapsed batch: category b has o=0 in the batch -> big chi2
    val r1 = reports.get(1L)
    assert(r1.map(_._2).toSeq == Seq(100L, 0L))
    assert(r1.map(_._3).sum > 3.84) // chi2 >> the 95% one-dof cutoff
    // replay with a fresh checkpoint, same ledger: nothing re-emitted
    reports.clear()
    run(tmpDir("stream-chi2-ck2"))
    assert(reports.isEmpty, "replayed batches re-emitted chi2 reports")
  }

  test("streaming incremental dedup: index-killed dups, cross-batch append, replay-safe") {
    // three mtime-ordered files -> three deterministic micro-batches; the
    // dedup must kill an in-batch copy, a re-ingestion of HISTORY, and a
    // re-ingestion of an EARLIER BATCH (proving fps were appended); then
    // a forged full replay (fresh checkpoint, same ledger/index/sink)
    // must leave the sink untouched.
    val hist = Seq((1L, "history text alpha"), (2L, "history text beta"))
      .toDF("doc_id", "text")
    val table = "graft_fp_sid_spec"
    graft.operators.Dedup.buildFingerprintIndexTable(hist, "text", table, buckets = 4)
    try {
      val src = tmpDir("stream-sid-src")
      val batches = Seq(
        Seq((10L, "history text alpha"), // killed by index
          (11L, "fresh doc one"), (12L, "fresh doc one"), // in-batch dup
          (13L, "fresh doc two")),
        Seq((20L, "fresh doc one"),      // killed by batch-0's APPENDED fp
          (21L, "fresh doc three")),
        Seq((30L, "fresh doc three"),    // killed by batch-1's APPENDED fp
          (31L, "history text beta"),    // killed by index
          (32L, "fresh doc four")))
      batches.zipWithIndex.foreach { case (rows, i) =>
        rows.toDF("doc_id", "text").coalesce(1)
          .write.mode("append").parquet(src)
        FileStreamReader.stampBatchMtime(src, i, epochBaseSeconds = 100L)
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val store = new graft.core.InMemoryHwmStore
      val out = tmpDir("stream-sid-out")
      def run(ck: String): Unit = StreamRunner.runIncrementalDedup(
        FileStreamReader.read(spark, Parquet(), src, schema,
          maxFilesPerTrigger = Some(1)),
        "doc_id", "text", table, ck, store, "sid_ledger", indexBuckets = 4) {
        (survivors, _) => survivors.write.mode("append").parquet(out)
      }
      run(tmpDir("stream-sid-ck1"))
      val landed = spark.read.parquet(out)
        .select($"doc_id").as[Long].collect().sorted.toSeq
      assert(landed === Seq(11L, 13L, 21L, 32L))
      // fps appended: 2 history + 4 survivors
      assert(spark.table(table).count() === 6L)
      // forged replay: fresh checkpoint restarts batch ids at 0; the
      // ledger must skip every batch — sink and index unchanged
      run(tmpDir("stream-sid-ck2"))
      assert(spark.read.parquet(out)
        .select($"doc_id").as[Long].collect().sorted.toSeq === landed)
      assert(spark.table(table).count() === 6L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("streaming incremental SPAN dedup: history spans cut, cross-batch " +
       "append cuts re-ingested spans, replay-safe") {
    def doc(prefix: String): String =
      (0 until 12).map(i => s"$prefix$i").mkString(" ")
    val hist = Seq((1L, doc("h"))).toDF("doc_id", "text")
    val table = "graft_gram_ssd_spec"
    graft.operators.Dedup.buildSpanGramIndexTable(hist, "doc_id", "text",
      table, minMatch = 8, hashedAnchors = false, buckets = 4)
    try {
      val src = tmpDir("stream-ssd-src")
      val batches = Seq(
        Seq((10L, doc("h")),                 // fully cut by the index
          (11L, doc("n"))),                  // fresh: passes intact
        Seq((20L, "x0 x1 " + doc("n")),      // n-span cut by APPENDED grams
          (21L, doc("z"))))                  // fresh
      batches.zipWithIndex.foreach { case (rows, i) =>
        rows.toDF("doc_id", "text").coalesce(1)
          .write.mode("append").parquet(src)
        FileStreamReader.stampBatchMtime(src, i, epochBaseSeconds = 100L)
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val store = new graft.core.InMemoryHwmStore
      val out = tmpDir("stream-ssd-out")
      def run(ck: String): Unit = StreamRunner.runIncrementalSpanDedup(
        FileStreamReader.read(spark, Parquet(), src, schema,
          maxFilesPerTrigger = Some(1)),
        "doc_id", "text", table, ck, store, "ssd_ledger",
        minMatch = 8, hashedAnchors = false, indexBuckets = 4) {
        (cleaned, _) => cleaned.write.mode("append").parquet(out)
      }
      run(tmpDir("stream-ssd-ck1"))
      val landed = spark.read.parquet(out)
        .select($"doc_id", $"n_kept", $"n_removed")
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(landed == Map(
        10L -> ((0L, 12L)),   // history copy fully cut
        11L -> ((12L, 0L)),   // fresh intact
        20L -> ((2L, 12L)),   // only the appended n-span cut
        21L -> ((12L, 0L))), landed)
      // forged replay: fresh checkpoint, same ledger -> sink unchanged
      run(tmpDir("stream-ssd-ck2"))
      assert(spark.read.parquet(out).count() === 4L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("streaming incremental NEAR-dedup: cross-batch near-copies die, replay-safe") {
    val hist = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the old river bank"))
      .toDF("doc_id", "text")
    val table = "graft_mh_sid_spec"
    graft.operators.Dedup.buildMinHashIndexTable(hist, "doc_id", "text", table, buckets = 4)
    try {
      val src = tmpDir("stream-nsid-src")
      val batches = Seq(
        Seq((10L, "the quick brown fox jumps over the lazy dog near the old river bank zz"), // near-copy of history
          (11L, "a totally fresh document with its own vocabulary and no overlap whatsoever here"),
          // IN-BATCH near-copy of 11 — must die inside the batch, not
          // escape to the sink alongside its twin
          (12L, "a totally fresh document with its own vocabulary and no overlap whatsoever here qq")),
        Seq((20L, "a totally fresh document with its own vocabulary and no overlap whatsoever here yy"), // near-copy of batch-0 survivor
          (21L, "yet another brand new piece of writing on an unrelated subject entirely now")))
      batches.zipWithIndex.foreach { case (rows, i) =>
        rows.toDF("doc_id", "text").coalesce(1)
          .write.mode("append").parquet(src)
        FileStreamReader.stampBatchMtime(src, i, epochBaseSeconds = 100L)
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val store = new graft.core.InMemoryHwmStore
      val out = tmpDir("stream-nsid-out")
      def run(ck: String): Unit = StreamRunner.runIncrementalNearDedup(
        FileStreamReader.read(spark, Parquet(), src, schema,
          maxFilesPerTrigger = Some(1)),
        "doc_id", "text", table, ck, store, "nsid_ledger",
        threshold = 0.7, indexBuckets = 4) {
        (survivors, _) => survivors.write.mode("append").parquet(out)
      }
      run(tmpDir("stream-nsid-ck1"))
      val landed = spark.read.parquet(out)
        .select($"doc_id").as[Long].collect().sorted.toSeq
      assert(landed === Seq(11L, 21L))
      // forged replay: ledger skips everything, sink unchanged
      run(tmpDir("stream-nsid-ck2"))
      assert(spark.read.parquet(out)
        .select($"doc_id").as[Long].collect().sorted.toSeq === landed)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${table}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_shingles")
    }
  }

  test("streaming incremental RECIPE: cross-batch dups die via the " +
       "appended indexes (one per index-backed stage), within-source " +
       "policy holds, replay-safe") {
    def toks(i: Int, n: Int = 40): String =
      (0 until n).map(j => s"w${i}_$j").mkString(" ")
    val (fpT, mhT, bnT) =
      ("graft_sri_fp_spec", "graft_sri_mh_spec", "graft_sri_bn_spec")
    graft.operators.Recipe.initRecipeIndexes(spark, fpT, mhT, bnT,
      buckets = 2)
    try {
      val src = tmpDir("stream-sri-src")
      val batches = Seq(
        Seq((0L, "A", s"<p>${toks(0)}</p>"),
          (1L, "A", s"<p>${toks(1)}</p>"),
          (14L, "B", s"<p>${toks(14)}</p>"),
          (30L, "bench", s"<p>${toks(30)}</p>")),
        Seq(
          // exact copy of batch-0 doc 0 under new markup: only the
          // APPENDED fingerprint index can catch it
          (100L, "A", s"<div><b>${toks(0)}</b></div>"),
          // same-source near-copy of batch-0 doc 1: the minhash index
          (101L, "A", s"<p>${toks(1)} q</p>"),
          // the same near-copy CROSS-source: must survive
          (102L, "B", s"<p>${toks(1)} r</p>"),
          // near-copy of batch-0 BENCHMARK doc: the bench n-gram index
          (103L, "B", s"<p>${toks(30)} s</p>"),
          (104L, "B", s"<p>${toks(104)}</p>")))
      batches.zipWithIndex.foreach { case (rows, i) =>
        rows.toDF("doc_id", "source", "text").coalesce(1)
          .write.mode("append").parquet(src)
        FileStreamReader.stampBatchMtime(src, i, epochBaseSeconds = 100L)
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType),
        StructField("text", StringType)))
      val store = new graft.core.InMemoryHwmStore
      val survOut = tmpDir("stream-sri-surv")
      val audOut = tmpDir("stream-sri-aud")
      def run(ck: String): Unit = StreamRunner.runIncrementalRecipe(
        FileStreamReader.read(spark, Parquet(), src, schema,
          maxFilesPerTrigger = Some(1)),
        "doc_id", "source", "text", benchmarkSource = "bench",
        fpT, mhT, bnT, ck, store, "sri_ledger",
        minTokens = 5L, maxTokens = 100L, nearThreshold = 0.85,
        contaminationThreshold = 0.7, tau = 0.5, budgetDocs = 100L,
        familySize = 10L, shardBudget = 100L, indexBuckets = 2) {
        (surv, audit, id) =>
          surv.withColumn("b", lit(id)).write.mode("append").parquet(survOut)
          audit.withColumn("b", lit(id)).write.mode("append").parquet(audOut)
      }
      run(tmpDir("stream-sri-ck1"))
      val landed = spark.read.parquet(survOut)
        .select($"b", $"doc_id").as[(Long, Long)].collect().toSet
      assert(landed == Set((0L, 0L), (0L, 1L), (0L, 14L),
        (1L, 102L), (1L, 104L)), s"landed $landed")
      val ledger = spark.read.parquet(audOut)
        .select($"doc_id", $"stage").as[(Long, String)].collect().toMap
      assert(ledger == Map(30L -> "benchmark", 100L -> "exact_dup",
        101L -> "near_dup", 103L -> "contaminated"), s"ledger $ledger")
      // forged replay with a fresh checkpoint: the committed-batch
      // ledger skips everything; sinks and indexes unchanged
      val fpRows = spark.table(fpT).count()
      run(tmpDir("stream-sri-ck2"))
      assert(spark.read.parquet(survOut)
        .select($"b", $"doc_id").as[(Long, Long)].collect().toSet == landed)
      assert(spark.table(fpT).count() == fpRows)
    } finally {
      Seq(fpT, s"${mhT}_bands", s"${mhT}_shingles", bnT).foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("incremental dedup runners: a batch replayed after its index append " +
       "lands every survivor exactly once (exact, span, near, recipe)") {
    import java.util.concurrent.atomic.AtomicBoolean
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.StreamingQueryException
    import graft.core.{Hwm, HwmStore, InMemoryHwmStore}
    import graft.operators.{Dedup, Recipe}
    type Sink = (DataFrame, Long) => Unit
    // (stream, ledger store, checkpoint, sink of (doc_id, v) rows)
    type Runner = (DataFrame, HwmStore, String, Sink) => Unit

    // a ledger store whose first `set` throws: the query dies after the
    // batch's sink and index append, before the ledger records the batch
    def failFirstSet(): HwmStore = new HwmStore {
      private val inner = new InMemoryHwmStore
      private val armed = new AtomicBoolean(true)
      def get(name: String): Option[Hwm] = inner.get(name)
      def set(hwm: Hwm): Unit =
        if (armed.getAndSet(false)) throw new IllegalStateException("ledger lost")
        else inner.set(hwm)
    }

    // two mtime-ordered micro-batches; each fault kills batch 0 once, and
    // a restart from the same checkpoint re-runs it under the same id into
    // a batch-id-keyed overwrite sink
    def check(name: String, batches: Seq[DataFrame], buildIndex: () => Unit,
              run: Runner, expected: Seq[(Long, String)]): Unit = {
      val src = tmpDir(s"replay-$name-src")
      batches.zipWithIndex.foreach { case (rows, i) =>
        rows.coalesce(1).write.mode("append").parquet(src)
        FileStreamReader.stampBatchMtime(src, i, epochBaseSeconds = 100L)
      }
      val schema = batches.head.schema
      Seq("ledger", "sink").foreach { fault =>
        buildIndex()
        val (ck, out) = (tmpDir(s"replay-$name-ck"), tmpDir(s"replay-$name-out"))
        val store = if (fault == "ledger") failFirstSet() else new InMemoryHwmStore
        val sinkArmed = new AtomicBoolean(fault == "sink")
        val sink: Sink = { (df, id) =>
          df.write.mode("overwrite").parquet(s"$out/b=$id")
          if (sinkArmed.getAndSet(false))
            throw new IllegalStateException("sink died after writing")
        }
        def go(): Unit = run(FileStreamReader.read(spark, Parquet(), src,
          schema, maxFilesPerTrigger = Some(1)), store, ck, sink)
        intercept[StreamingQueryException](go())
        go()
        val landed = spark.read.parquet(out).select($"doc_id", $"v")
          .as[(Long, String)].collect().sorted.toSeq
        assert(landed == expected, s"$name runner, $fault fault")
      }
    }
    def kept(df: DataFrame) = df.select($"doc_id", lit("kept").as("v"))
    val (fpT, gramT, mhT) =
      ("graft_replay_fp", "graft_replay_gram", "graft_replay_mh")
    val (rFp, rMh, rBn) =
      ("graft_replay_rfp", "graft_replay_rmh", "graft_replay_rbn")
    try {
      check("exact",
        Seq(Seq((10L, "history text alpha"), (11L, "fresh doc one"),
            (12L, "fresh doc one"), (13L, "fresh doc two")),
          Seq((20L, "fresh doc one"), // re-delivers batch-0 survivor 11
            (21L, "fresh doc three"))).map(_.toDF("doc_id", "text")),
        () => Dedup.buildFingerprintIndexTable(
          Seq((1L, "history text alpha")).toDF("doc_id", "text"), "text",
          fpT, buckets = 2),
        (stream, store, ck, sink) => StreamRunner.runIncrementalDedup(stream,
          "doc_id", "text", fpT, ck, store, "replay_fp", indexBuckets = 2) {
          (s, id) => sink(kept(s), id) },
        Seq(11L -> "kept", 13L -> "kept", 21L -> "kept"))

      def doc(prefix: String): String =
        (0 until 12).map(i => s"$prefix$i").mkString(" ")
      check("span",
        Seq(Seq((10L, doc("h")), (11L, doc("n"))),
          Seq((20L, doc("n")), (21L, doc("z")))).map(_.toDF("doc_id", "text")),
        () => Dedup.buildSpanGramIndexTable(
          Seq((1L, doc("h"))).toDF("doc_id", "text"), "doc_id", "text",
          gramT, minMatch = 8, hashedAnchors = false, buckets = 2),
        (stream, store, ck, sink) => StreamRunner.runIncrementalSpanDedup(
          stream, "doc_id", "text", gramT, ck, store, "replay_gram",
          minMatch = 8, hashedAnchors = false, indexBuckets = 2) {
          (c, id) => sink(c.select($"doc_id",
            format_string("%d/%d", $"n_kept", $"n_removed").as("v")), id) },
        Seq(10L -> "0/12", 11L -> "12/0", 20L -> "0/12", 21L -> "12/0"))

      val fresh = "a totally fresh document with its own vocabulary and no " +
        "overlap whatsoever here"
      check("near",
        Seq(Seq((10L, "the quick brown fox jumps over the lazy dog near the " +
              "old river bank zz"), (11L, fresh), (12L, fresh + " qq")),
          Seq((20L, fresh + " yy"), (21L, "yet another brand new piece of " +
            "writing on an unrelated subject entirely now")))
          .map(_.toDF("doc_id", "text")),
        () => Dedup.buildMinHashIndexTable(Seq((1L, "the quick brown fox " +
            "jumps over the lazy dog near the old river bank"))
          .toDF("doc_id", "text"), "doc_id", "text", mhT, buckets = 2),
        (stream, store, ck, sink) => StreamRunner.runIncrementalNearDedup(
          stream, "doc_id", "text", mhT, ck, store, "replay_mh",
          threshold = 0.7, indexBuckets = 2) { (s, id) => sink(kept(s), id) },
        Seq(11L -> "kept", 21L -> "kept"))

      def toks(i: Int): String = (0 until 40).map(j => s"w${i}_$j").mkString(" ")
      check("recipe",
        Seq(Seq((0L, "A", s"<p>${toks(0)}</p>"), (1L, "A", s"<p>${toks(1)}</p>"),
            (14L, "B", s"<p>${toks(14)}</p>"),
            (30L, "bench", s"<p>${toks(30)}</p>")),
          Seq((100L, "A", s"<div><b>${toks(0)}</b></div>"),
            (101L, "A", s"<p>${toks(1)} q</p>"),
            (102L, "B", s"<p>${toks(1)} r</p>"),
            (103L, "B", s"<p>${toks(30)} s</p>"),
            (104L, "B", s"<p>${toks(104)}</p>")))
          .map(_.toDF("doc_id", "source", "text")),
        () => Recipe.initRecipeIndexes(spark, rFp, rMh, rBn, buckets = 2),
        (stream, store, ck, sink) => StreamRunner.runIncrementalRecipe(stream,
          "doc_id", "source", "text", benchmarkSource = "bench",
          rFp, rMh, rBn, ck, store, "replay_recipe",
          minTokens = 5L, maxTokens = 100L, budgetDocs = 100L,
          familySize = 10L, shardBudget = 100L, indexBuckets = 2) {
          (surv, audit, id) => sink(kept(surv).unionByName(
            audit.select($"doc_id", $"stage".as("v"))), id) },
        Seq(0L -> "kept", 1L -> "kept", 14L -> "kept", 30L -> "benchmark",
          100L -> "exact_dup", 101L -> "near_dup", 102L -> "kept",
          103L -> "contaminated", 104L -> "kept"))
    } finally {
      (Seq(fpT, gramT, rFp, rBn) ++ Dedup.SignedBatch.tables(mhT) ++
        Dedup.SignedBatch.tables(rMh)).foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("streaming linkage ingest: hand-computed verdicts, in-batch twins " +
       "resolve to the smaller id, non-links grow the reference, replay-safe") {
    // reference entities (blocked on blk); weights: nation (0.95,0.04) ->
    // +4.569856/-4.263034, segment (0.9,0.2) -> +2.169925/-3.0,
    // bal band <100 (0.85,0.05) -> +4.087463/-2.663034; cut 2.0/0.0
    val ref = Seq(
      (1L, "B1", 5, "AUTO", 100.0),
      (2L, "B1", 7, "SHIP", 900.0),
      (3L, "B2", 9, "HOME", 500.0))
      .toDF("id", "blk", "nation", "segment", "bal")
    val table = "graft_lnk_spec"
    val attrs = Seq("nation", "segment", "bal")
    val fields = Seq(
      ("nation", col("nation_a") === col("nation_b"), 0.95, 0.04),
      ("segment", col("segment_a") === col("segment_b"), 0.9, 0.2),
      ("bal", abs(col("bal_a") - col("bal_b")) < lit(100.0), 0.85, 0.05))
    graft.operators.Joins.buildLinkageRefTable(
      ref, "id", "blk", attrs, table, buckets = 4)
    try {
      val src = tmpDir("stream-lnk-src")
      val batches = Seq(
        Seq((10L, "B1", 5, "AUTO", 150.0), // all agree vs 1 -> link
          (11L, "B1", 7, "AUTO", 850.0),   // best vs 2: 5.657319 link
          (12L, "B2", 4, "HOME", 550.0),   // vs 3: 1.994354 -> possible
          (13L, "B9", 1, "BLDG", 10.0),    // no candidate -> new
          (14L, "B9", 1, "BLDG", 20.0)),   // in-batch twin -> link to 13
        Seq((20L, "B9", 1, "BLDG", 15.0),  // vs APPENDED 13 -> link
          (21L, "B2", 4, "HOME", 560.0),   // vs APPENDED possible 12 -> link
          (22L, "B1", 7, "SHIP", 901.0)))  // all agree vs 2 -> link
      batches.zipWithIndex.foreach { case (rows, i) =>
        rows.toDF("id", "blk", "nation", "segment", "bal").coalesce(1)
          .write.mode("append").parquet(src)
        FileStreamReader.stampBatchMtime(src, i, epochBaseSeconds = 100L)
      }
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("blk", StringType),
        StructField("nation", IntegerType), StructField("segment", StringType),
        StructField("bal", DoubleType)))
      val store = new graft.core.InMemoryHwmStore
      val out = tmpDir("stream-lnk-out")
      def run(ck: String): Unit = StreamRunner.runIncrementalLinkage(
        FileStreamReader.read(spark, Parquet(), src, schema,
          maxFilesPerTrigger = Some(1)),
        "id", "blk", attrs, fields, table, ck, store, "lnk_ledger",
        indexBuckets = 4) {
        (decisions, _) => decisions.write.mode("append").parquet(out)
      }
      run(tmpDir("stream-lnk-ck1"))
      def r6(v: Double) = math.rint(v * 1e6) / 1e6
      val got = spark.read.parquet(out)
        .select($"id", $"matched_id", $"score", $"verdict")
        .collect().map(r => r.getLong(0) ->
          ((Option(r.get(1)).map(_.asInstanceOf[Long]),
            Option(r.get(2)).map(v => r6(v.asInstanceOf[Double])),
            r.getString(3)))).toMap
      val full = r6(4.569856 + 2.169925 + 4.087463) // 10.827244
      assert(got(10L) == ((Some(1L), Some(full), "link")))
      assert(got(11L) == ((Some(2L), Some(r6(4.569856 - 3.0 + 4.087463)),
        "link"))) // 5.657319 beats -4.756143 vs 1
      assert(got(12L) == ((Some(3L), Some(r6(-4.263034 + 2.169925 + 4.087463)),
        "possible"))) // 1.994354: >= 0, < 2
      assert(got(13L) == ((None, None, "new")))
      assert(got(14L) == ((Some(13L), Some(full), "link")))
      assert(got(20L) == ((Some(13L), Some(full), "link")))
      assert(got(21L) == ((Some(12L), Some(full), "link")))
      assert(got(22L) == ((Some(2L), Some(full), "link")))
      // only non-links entered the reference: 3 seed + 12 (possible) +
      // 13 (new); the linked twin 14 and every batch-1 record did NOT
      assert(spark.table(table).select($"id").as[Long].collect().sorted
        .toSeq === Seq(1L, 2L, 3L, 12L, 13L))
      // forged replay: fresh checkpoint, same ledger -> sink and
      // reference unchanged
      run(tmpDir("stream-lnk-ck2"))
      assert(spark.read.parquet(out).count() === 8L)
      assert(spark.table(table).count() === 5L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("streaming ANN ingest: O(batch) appends, replay-safe; a LOST ledger " +
       "double-appends storage but cannot shift any query result") {
    val rnd = new scala.util.Random(61)
    def vec(): Array[Float] = Array.fill(32)(rnd.nextGaussian().toFloat)
    val base = (0 until 100).map(i => (i.toLong, vec()))
    val corpus = base.toDF("vec_id", "embedding")
    val idx = tmpDir("ann-ing-idx")
    graft.operators.Similarity.buildIvfPqIndex(
      corpus, "vec_id", "embedding", idx, nLists = 4)
    val centsBefore = spark.read.parquet(s"$idx/centroids").collect().toSet
    // two mtime-ordered batches: exact copies of base 0-4 then 5-9
    val ld = tmpDir("ann-ing-in")
    val batches = Seq(
      base.take(5).map { case (i, v) => (1000L + i, v) },
      base.slice(5, 10).map { case (i, v) => (2000L + i, v) })
    batches.zipWithIndex.foreach { case (b, i) =>
      b.toDF("vec_id", "embedding").coalesce(1).write.mode("append").parquet(ld)
      FileStreamReader.stampBatchMtime(ld, i)
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def run(ck: String, st: graft.core.HwmStore): Unit =
      StreamRunner.runIncrementalAnnIngest(
        FileStreamReader.read(spark, Parquet(), ld, schema,
          maxFilesPerTrigger = Some(1)),
        "vec_id", "embedding", idx, ck, st, "ann-spec")
    val ledger = new graft.core.InMemoryHwmStore
    run(tmpDir("ann-ck1"), ledger)
    // both batches appended, quantizers untouched (no retrain)
    assert(spark.read.parquet(s"$idx/codes").count() === 110L)
    assert(spark.read.parquet(s"$idx/centroids").collect().toSet === centsBefore)
    // every query's top-1 is its streamed copy, from either batch
    val q = base.take(10).toDF("vec_id", "embedding")
    def top1() = graft.operators.Similarity.ivfPqTopKFromIndex(idx, corpus, q,
        "vec_id", "embedding", 1, nProbe = 4, shortlist = 50)
      .select($"query_id", $"id").as[(Long, Long)].collect().toMap
    val t1 = top1()
    assert((0 until 5).forall(i => t1(i.toLong) == 1000L + i), s"batch-1: $t1")
    assert((5 until 10).forall(i => t1(i.toLong) == 2000L + i), s"batch-2: $t1")
    // forged full replay (fresh checkpoint, SAME ledger): nothing appends
    run(tmpDir("ann-ck2"), ledger)
    assert(spark.read.parquet(s"$idx/codes").count() === 110L)
    // LOST ledger — the documented at-least-once window: the batches
    // re-append (storage doubles) but the deterministic max-ADC/max-cosine
    // collapse keeps every result identical; compaction is an
    // optimization, never a correctness requirement
    run(tmpDir("ann-ck3"), new graft.core.InMemoryHwmStore)
    assert(spark.read.parquet(s"$idx/codes").count() === 120L)
    assert(top1() === t1)
  }

  test("stateless curation ops run unchanged on streams: sample + scrub") {
    // Sampling and PII scrubbing are pure row-local transformations, so
    // the SAME operator code applies to a readStream frame — this is the
    // property that lets a batch-curated pipeline move to incremental
    // ingestion without rewriting: streamed output == batch output.
    val src = tmpDir("stream-curate")
    val docs = (0 until 300).map(i =>
      (i.toLong, if (i % 7 == 0) s"mail me at user$i@example.com today" else s"doc $i plain text"))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(src)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = FileStreamReader.read(spark, Parquet(), src, schema,
      maxFilesPerTrigger = Some(1))
    def curate(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Sampling.splitByHash(
          graft.operators.Sampling.sampleByKey(df, "doc_id", 0.5),
          "doc_id", Seq("train" -> 0.9, "val" -> 0.1))
        .select($"doc_id",
          graft.functions.TextFunctions.scrubPii($"text").as("clean"),
          graft.functions.TextFunctions.piiCount($"text").as("n_pii"),
          $"split")
    StreamRunner.runAvailableNowToMemory(curate(stream), "stream_curated",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val streamed = spark.table("stream_curated")
      .orderBy($"doc_id").collect().toSeq
    val batch = curate(docs).orderBy($"doc_id").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty &&
      streamed.exists(_.getString(1).contains("[EMAIL]")), "scrub applied in-stream")
  }

  test("quality filter + normalization run unchanged on streams") {
    // gopherKeep and normalizeText are also row-local: the incremental
    // ingestion path filters and canonicalizes exactly like the batch
    // curation run did
    val src = tmpDir("stream-quality")
    val docs = (0 until 200).map { i =>
      val body =
        if (i % 3 == 0) ("the quick brown fox is a friend of it and the dog " * 4).trim
        else "tiny"
      (i.toLong, s"  $body  ")
    }.toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(src)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = FileStreamReader.read(spark, Parquet(), src, schema,
      maxFilesPerTrigger = Some(1))
    def curate(df: org.apache.spark.sql.DataFrame) =
      df.filter(graft.functions.TextFunctions.gopherKeep($"text", minWords = 10))
        .select($"doc_id",
          graft.functions.TextFunctions.normalizeText($"text").as("norm"))
    StreamRunner.runAvailableNowToMemory(curate(stream), "stream_quality",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val streamed = spark.table("stream_quality").orderBy($"doc_id").collect().toSeq
    val batch = curate(docs).orderBy($"doc_id").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty && streamed.size < 200, "filter must drop the tiny docs")
    assert(streamed.forall(!_.getString(1).startsWith(" ")), "normalized in-stream")
  }
}
