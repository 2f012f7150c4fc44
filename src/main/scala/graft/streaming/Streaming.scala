package graft.streaming

import graft.filedf.FileFormat
import graft.functions.TextFunctions
import graft.operators.Dedup
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming extension.
  *
  * The reference is explicitly batch-only ("no streaming" is a stated
  * non-goal, README.rst; DBWriter rejects streaming frames,
  * db_writer.py:154-155). This module adds the streaming surface a
  * training-data pipeline needs, Spark-first: `readStream` file sources
  * with schema pinned (inference is disallowed on streams anyway),
  * watermarked event-time windows, stream dedup, and gap-based
  * sessionization via `flatMapGroupsWithState` — all runnable as
  * incremental batches with `Trigger.AvailableNow` (the streaming
  * equivalent of the HWM strategies: process exactly what arrived since
  * the last checkpoint, then stop).
  */
object FileStreamReader {
  /** Stamp every not-yet-stamped parquet part in `dir` with the mtime for
    * batch `i` (a fixed epoch offset), so a file-stream source with
    * `maxFilesPerTrigger` replays writes as deterministic, ordered
    * micro-batches. Call once after each batch's write: files already
    * stamped for earlier batches keep their (older) stamps. Shared by the
    * streaming-dedup gate and specs — the stamping rule must never drift
    * between them. */
  def stampBatchMtime(dir: String, i: Int, epochBaseSeconds: Long = 1000L): Unit = {
    val target = java.time.Instant.EPOCH.plusSeconds(epochBaseSeconds + i)
    val st = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try {
      val it = st.iterator()
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.endsWith(".parquet") &&
            java.nio.file.Files.getLastModifiedTime(p).toInstant.isAfter(target))
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.from(target))
      }
    } finally st.close()
  }

  /** Stream a directory of files. `maxFilesPerTrigger` bounds micro-batch
    * size — the knob that keeps 100 TB backfills from becoming one giant
    * batch. */
  def read(spark: SparkSession, format: FileFormat, path: String,
           schema: StructType,
           maxFilesPerTrigger: Option[Int] = None,
           options: Map[String, String] = Map.empty): DataFrame = {
    var r = spark.readStream.format(format.name)
      .options(format.options ++ options)
      .schema(schema)
    maxFilesPerTrigger.foreach(n => r = r.option("maxFilesPerTrigger", n))
    r.load(path)
  }
}

object StreamOps {
  /** Watermarked tumbling-window aggregation. */
  def windowedCounts(df: DataFrame, tsCol: String, keyCol: String,
                     windowDuration: String,
                     watermarkDelay: String): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("w_start"), col(keyCol), col("n"),
        col("total"))

  final case class Event(user_id: Long, ts: java.sql.Timestamp, value: Double)
  /** State times are epoch MICROseconds: java.sql.Timestamp carries
    * microsecond precision (via nanos), and tracking state in
    * Timestamp.getTime millis would silently truncate session boundaries
    * and emitted start/end times on micro-precision event streams. */
  final case class SessionState(start: Long, end: Long, n: Int, total: Double)
  final case class Session(user_id: Long, start: java.sql.Timestamp,
                           end: java.sql.Timestamp, n_events: Int,
                           total_value: Double)

  private def toMicros(ts: java.sql.Timestamp): Long = {
    val i = ts.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
  private def fromMicros(us: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  /** Gap-based sessionization with custom state
    * (`flatMapGroupsWithState` + event-time timeout): a session closes
    * when no event arrives for `gapMillis` past the watermark. */
  def sessionize(events: Dataset[Event], gapMillis: Long,
                 watermarkDelay: String): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMicros = gapMillis * 1000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(user,
              fromMicros(s.start), fromMicros(s.end), s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(e => toMicros(e.ts))
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = toMicros(e.ts)
              cur match {
                case Some(s) if t - s.end <= gapMicros =>
                  cur = Some(SessionState(s.start, math.max(s.end, t),
                    s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed ::= Session(user, fromMicros(s.start),
                    fromMicros(s.end), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // timeout is a wall-clock-shaped API: milliseconds
              state.setTimeoutTimestamp((s.end + gapMicros) / 1000L + 1)
            }
            closed.reverseIterator
          }
      }
  }
}

object StreamRunner {
  /** Run a streaming frame to a parquet sink with AvailableNow semantics:
    * process everything pending, checkpoint, stop — the streaming
    * incremental read. Blocks until complete. */
  def runAvailableNowToParquet(df: DataFrame, path: String,
                               checkpoint: String): Unit = {
    val q = df.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** foreachBatch bridge: drain a streaming frame with AvailableNow,
    * delivering each micro-batch as a BATCH DataFrame to `f` — the
    * integration that lets streams feed every batch sink in the library
    * (DbWriter → JDBC/Hive, FileDFWriter, ...) with the checkpoint
    * providing exactly-once batch ids. */
  def runAvailableNowForeachBatch(df: DataFrame, checkpoint: String)
                                 (f: (DataFrame, Long) => Unit): Unit = {
    val q = df.writeStream
      .foreachBatch((batch: Dataset[org.apache.spark.sql.Row], id: Long) => f(batch.toDF(), id))
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** [[runAvailableNowForeachBatch]] with replay protection: the last
    * batch id whose sink write COMMITTED is recorded in `store` (any
    * [[graft.core.HwmStore]] — the JDBC-backed store puts the ledger next
    * to the data), and batches at or below it are skipped. Structured
    * Streaming's foreachBatch contract is at-least-once: after a crash or
    * checkpoint reuse the last batch is re-delivered even if the sink
    * already wrote it — without the ledger that duplicates rows in
    * non-transactional batch sinks (JDBC Append, files). The ledger write
    * happens strictly AFTER `f` returns, so a crash between sink commit
    * and ledger write degrades to at-least-once for exactly that one
    * batch (closing that window needs the sink's own transaction, which
    * per-sink writers own); every other replay is skipped exactly-once. */
  def runAvailableNowForeachBatchExactlyOnce(
      df: DataFrame, checkpoint: String,
      store: graft.core.HwmStore, ledgerName: String)
      (f: (DataFrame, Long) => Unit): Unit = {
    def lastCommitted(): Long = store.get(ledgerName)
      .flatMap(_.valueOpt).map(graft.core.HwmValue.toLong).getOrElse(-1L)
    runAvailableNowForeachBatch(df, checkpoint) { (batch, id) =>
      if (id > lastCommitted()) {
        f(batch, id)
        store.set(graft.core.IntHwm(ledgerName, entity = "stream_batch",
          expression = "batch_id").withValue(id))
      }
    }
  }

  /** Continuous distribution-drift monitoring — the PSI alarm an ingest
    * pipeline keeps on a value column: every micro-batch is scored
    * against a FIXED reference (quantile boundaries + per-bucket counts,
    * both precomputed driver-side sidecars from
    * [[graft.operators.Drift.referenceBoundaries]]/`bucketCounts`), and
    * the per-bucket PSI report — tagged with the batch id — goes to
    * `sink`. The reference never recomputes, so per-batch cost is one
    * map-combinable bucket count over the batch: O(batch) at any
    * history size, the same discipline as the incremental dedup
    * runners. Replay-protected by the committed-batch ledger
    * ([[runAvailableNowForeachBatchExactlyOnce]] — same one-open-window
    * caveat: an idempotent or batch-id-keyed sink closes it). */
  def runDriftMonitor(stream: DataFrame, valCol: String,
                      bounds: Array[Double], refCounts: Array[Long],
                      checkpoint: String,
                      store: graft.core.HwmStore, ledgerName: String)
                     (sink: (DataFrame, Long) => Unit): Unit =
    runAvailableNowForeachBatchExactlyOnce(stream, checkpoint, store,
      ledgerName) { (batch, id) =>
      val report = graft.operators.Drift
        .psiAgainstReference(batch, valCol, bounds, refCounts)
        .withColumn("batch_id", org.apache.spark.sql.functions.lit(id))
      sink(report, id)
    }

  /** [[runDriftMonitor]]'s categorical sibling — the chi-square alarm on
    * a label/category column ("is this crawl suddenly 80% one event
    * type?"): each micro-batch is scored against FIXED reference
    * category counts ([[graft.operators.Drift.categoryCounts]], a
    * driver-bounded sidecar), and the per-category (o−e)²/e report —
    * tagged with the batch id — goes to `sink`. Per-batch cost is one
    * map-combinable count over the batch; same exactly-once ledger and
    * idempotent-sink caveat as the PSI monitor. */
  def runCategoricalDriftMonitor(stream: DataFrame, catCol: String,
                                 refCounts: Seq[(String, Long)],
                                 checkpoint: String,
                                 store: graft.core.HwmStore,
                                 ledgerName: String)
                                (sink: (DataFrame, Long) => Unit): Unit =
    runAvailableNowForeachBatchExactlyOnce(stream, checkpoint, store,
      ledgerName) { (batch, id) =>
      val report = graft.operators.Drift
        .chiSquareAgainstReference(batch, catCol, refCounts)
        .withColumn("batch_id", org.apache.spark.sql.functions.lit(id))
      sink(report, id)
    }

  /** Streaming Count-Min maintenance: each micro-batch's d×w counter
    * frame ([[graft.operators.Sketch.cmCounters]] — O(batch) to compute,
    * 2048 rows to write) APPENDS to the counter table; readers fold the
    * appended frames with [[graft.operators.Sketch.cmMerge]] (per-cell
    * sum). Counter sums are NOT idempotent under redelivery — unlike an
    * HLL max-fold, a replayed batch would double-count — so the
    * exactly-once ledger is load-bearing here, not belt-and-braces.
    * Append-only keeps the crash story simple: a torn write is either
    * invisible to parquet or re-skipped by the ledger. The folded table
    * equals the whole-corpus counters EXACTLY (cell sums commute), so
    * the stream never degrades the estimate. */
  def runIncrementalSketchFold(stream: DataFrame, valCol: String,
                               counterTable: String, depth: Int, width: Int,
                               checkpoint: String,
                               store: graft.core.HwmStore,
                               ledgerName: String): Unit =
    runAvailableNowForeachBatchExactlyOnce(stream, checkpoint, store,
      ledgerName) { (batch, _) =>
      graft.operators.Sketch.cmCounters(batch, valCol, depth, width)
        .write.mode("append").parquet(counterTable)
    }

  /** Streaming HyperLogLog maintenance — the max-fold sibling of
    * [[runIncrementalSketchFold]]: each micro-batch appends its dense
    * 2^p register frame ([[graft.operators.Sketch.hllRegisters]], one
    * O(batch) map-combinable aggregate, 2^p rows to write); readers fold
    * the appended frames with a per-bucket MAX
    * ([[graft.operators.Sketch.hllFoldTable]]), which equals the
    * whole-history registers EXACTLY because max commutes with max.
    * Unlike the Count-Min cell SUMS, the max-fold is IDEMPOTENT under
    * redelivery — a replayed batch's registers fold to the same answer —
    * so here the exactly-once ledger only prevents wasted duplicate
    * appends; it is belt-and-braces, not load-bearing (spec-pinned by a
    * forged replay). */
  def runIncrementalHllMaintain(stream: DataFrame, valCol: String,
                                registerTable: String, p: Int,
                                checkpoint: String,
                                store: graft.core.HwmStore,
                                ledgerName: String): Unit =
    runAvailableNowForeachBatchExactlyOnce(stream, checkpoint, store,
      ledgerName) { (batch, _) =>
      graft.operators.Sketch.hllRegisters(batch, valCol, p)
        .write.mode("append").parquet(registerTable)
    }

  /** Streaming bottom-k (KMV) maintenance: each micro-batch appends its
    * ≤ k smallest distinct hashes
    * ([[graft.operators.Sketch.kmvRegisters]] — a
    * TakeOrderedAndProject, never a sort); readers fold with
    * distinct-union + bottom-k ([[graft.operators.Sketch.kmvFoldTable]]),
    * which equals the whole-history registers EXACTLY (smallest-k of a
    * union is smallest-k of the per-shard smallest-k). Idempotent under
    * redelivery like the HLL fold — duplicate hashes vanish in the
    * distinct — so the ledger is again belt-and-braces. */
  def runIncrementalKmvMaintain(stream: DataFrame, valCol: String,
                                registerTable: String, k: Int,
                                checkpoint: String,
                                store: graft.core.HwmStore,
                                ledgerName: String): Unit =
    runAvailableNowForeachBatchExactlyOnce(stream, checkpoint, store,
      ledgerName) { (batch, _) =>
      graft.operators.Sketch.kmvRegisters(batch, valCol, k)
        .write.mode("append").parquet(registerTable)
    }

  /** Streaming KLL quantile-sketch maintenance: each micro-batch appends
    * its ≤ 2k-row register frame
    * ([[graft.operators.Sketch.kllRegisters]] — one range-partitioned
    * sort of the BATCH, O(batch log batch), never the history); readers
    * fold the appended frames with [[graft.operators.Sketch
    * .kllFoldTable]] (the KLL merge). Like the Count-Min sums and unlike
    * the HLL max-fold, the fold is NOT idempotent under redelivery — a
    * replayed batch's registers would compact in twice and inflate the
    * weights — so the exactly-once ledger is load-bearing (spec-forged).
    * This is how a 100 TB profiler keeps live quantiles: per-day bounded
    * register frames, a driver-side fold over a KB-scale sidecar at read
    * time. */
  def runIncrementalKllMaintain(stream: DataFrame, valCol: String,
                                tiebreakCol: String, registerTable: String,
                                k: Int, checkpoint: String,
                                store: graft.core.HwmStore,
                                ledgerName: String): Unit =
    runAvailableNowForeachBatchExactlyOnce(stream, checkpoint, store,
      ledgerName) { (batch, _) =>
      graft.operators.Sketch.kllRegisters(batch, valCol, tiebreakCol, k)
        .write.mode("append").parquet(registerTable)
    }

  /** Streaming log-histogram (DDSketch-style) maintenance: each
    * micro-batch appends its bounded register frame
    * ([[graft.operators.Sketch.logHistRegisters]] — ONE map-combinable
    * count aggregate of the BATCH, no sort at all, the cheapest sketch
    * in the family); readers fold with [[graft.operators.Sketch
    * .logHistFoldTable]], a plain keyed sum that equals the
    * whole-history build REGISTER FOR REGISTER. Like the Count-Min sums
    * (and unlike the HLL max-fold), the fold is NOT idempotent under
    * redelivery — a replayed batch's counts would add twice — so the
    * exactly-once ledger is load-bearing. */
  def runIncrementalLogHistMaintain(stream: DataFrame, valCol: String,
                                    registerTable: String, unitScale: Long,
                                    subBits: Int, checkpoint: String,
                                    store: graft.core.HwmStore,
                                    ledgerName: String): Unit =
    runAvailableNowForeachBatchExactlyOnce(stream, checkpoint, store,
      ledgerName) { (batch, _) =>
      graft.operators.Sketch.logHistRegisters(batch, valCol, unitScale,
          subBits)
        .write.mode("append").parquet(registerTable)
    }

  /** Streaming daily-count register maintenance — the sidecar under the
    * EWMA/CUSUM/Holt monitor family: each micro-batch appends its
    * (bucket, x) day counts (one map-combinable aggregate of the
    * BATCH); the fold is a keyed sum equal to the whole-history counts,
    * over which [[graft.operators.Drift.ewmaOverDailyCounts]] (or any
    * calendar-bounded recurrence) runs at read time. NOT
    * replay-idempotent (counts add twice) — the exactly-once ledger is
    * load-bearing, as for the Count-Min and log-histogram sums. */
  def runIncrementalDailyCountMaintain(stream: DataFrame, tsCol: String,
                                       registerTable: String,
                                       checkpoint: String,
                                       store: graft.core.HwmStore,
                                       ledgerName: String): Unit =
    runAvailableNowForeachBatchExactlyOnce(stream, checkpoint, store,
      ledgerName) { (batch, _) =>
      batch.filter(col(tsCol).isNotNull)
        .select(to_date(date_trunc("day", col(tsCol))).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("x"))
        .write.mode("append").parquet(registerTable)
    }

  /** Streaming CDC maintenance: each micro-batch of change rows
    * (upserts/deletes with a ts) folds into the maintained snapshot via
    * [[graft.operators.Scd.applyCdc]], and the result lands in a fresh
    * `v<batchId>` dir under `statePath` — the previous version is never
    * overwritten while being read, a replayed batch rewrites its own
    * version dir idempotently, and the exactly-once ledger keeps a
    * re-delivered batch from double-applying (a delete replayed onto an
    * already-resurrected key would otherwise destroy it). Readers take
    * the highest committed version ([[latestCdcSnapshot]]). Per-batch
    * cost: one keyed window over the batch + one outer join against the
    * current snapshot — O(snapshot + batch), the standard merge shape. */
  def runIncrementalCdcApply(stream: DataFrame, base: DataFrame,
                             statePath: String, keyCol: String,
                             attrCols: Seq[String], tsCol: String,
                             opCol: String, checkpoint: String,
                             store: graft.core.HwmStore,
                             ledgerName: String): Unit =
    runAvailableNowForeachBatchExactlyOnce(stream, checkpoint, store,
      ledgerName) { (batch, id) =>
      val spark = batch.sparkSession
      val current = latestCdcSnapshot(spark, statePath).getOrElse(base)
      graft.operators.Scd
        .applyCdc(current, batch, keyCol, attrCols, tsCol, opCol)
        .localCheckpoint() // materialize BEFORE writing under statePath
        .write.mode("overwrite").parquet(s"$statePath/v$id")
    }

  /** The highest committed snapshot version under `statePath`, if any.
    * Resolved through the Hadoop FileSystem for `statePath`'s scheme so
    * HDFS/S3/dbfs state dirs work identically to local paths — a
    * local-only listing here would silently return None on a remote
    * statePath and make every micro-batch fold into the ORIGINAL base
    * snapshot, dropping earlier batches' changes without an error. A
    * version counts only once its `_SUCCESS` marker exists (a crashed
    * overwrite leaves a partial dir without one). */
  def latestCdcSnapshot(spark: SparkSession,
                        statePath: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return None
    val versions = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v") &&
        fs.exists(new Path(st.getPath, "_SUCCESS")))
      .flatMap(st => scala.util.Try(st.getPath.getName.drop(1).toLong)
        .toOption.map(_ -> st.getPath))
    if (versions.isEmpty) None
    else Some(spark.read.parquet(versions.maxBy(_._1)._2.toString))
  }

  /** The one body of the incremental dedup runners below. Per
    * micro-batch: `dedup(batch, generation)` decides the survivors
    * against the index rows of EARLIER generations, materializes them and
    * appends the batch's own rows under `generation`; then `sink` writes
    * the survivors; then the committed-batch ledger in `store` records
    * the batch, so a re-delivered batch is skipped
    * ([[runAvailableNowForeachBatchExactlyOnce]]).
    *
    * A micro-batch's generation is its batch id + 1: generation
    * [[graft.operators.Dedup.HistoryGen]] is the history the build
    * functions write, visible to every batch. A batch never reads its own
    * generation, so a replay computes the same survivors whether or not
    * its append ran, and the order of the three steps no longer decides
    * correctness:
    *  - a crash anywhere before the ledger write re-delivers the batch
    *    under the same id; a batch-id-keyed overwrite sink then rewrites
    *    the same output, so every survivor lands exactly once;
    *  - an append sink keeps one duplicate window, a crash between sink
    *    and ledger — the window every ledger-protected runner has;
    *  - a document re-delivered in a LATER batch is still dropped, since
    *    that batch reads every earlier generation.
    * A replayed append rewrites rows under the same generation: duplicate
    * index rows are harmless and compaction's `distinct` collapses them.
    * Survivors are still materialized before the append, because the
    * sink and the append both consume them.
    *
    * The generations are one query's batch ids, so an index that takes
    * these appends belongs to one query (one checkpoint): rows a second
    * query appends under its own batch ids are invisible to this query's
    * batches with ids at or below theirs. History goes in through the
    * build functions, or appends without a generation. */
  private def runIndexed[A](stream: DataFrame, checkpoint: String,
                            store: graft.core.HwmStore, ledgerName: String)
                           (dedup: (DataFrame, Option[Long]) => A)
                           (sink: (A, Long) => Unit): Unit =
    runAvailableNowForeachBatchExactlyOnce(stream, checkpoint, store,
        ledgerName) { (batch, id) =>
      sink(dedup(batch, Some(id + 1)), id)
    }

  /** Survivors of `batch` vs the key index, with their keys appended. */
  private def keyedStep(batch: DataFrame, idCol: String, key: Column,
                        indexTable: String, indexBuckets: Int,
                        generation: Option[Long]): DataFrame = {
    val survivors = Dedup.keyedDedupAgainstIndexTable(batch, idCol, key,
      indexTable, generation).localCheckpoint()
    Dedup.appendKeysToIndexTable(survivors, key, indexTable, indexBuckets,
      generation)
    survivors
  }

  /** Continuous dedup-on-ingest — the operator a training pipeline
    * actually runs: each micro-batch is deduplicated against the
    * PERSISTED bucketed fingerprint index
    * ([[graft.operators.Dedup.exactDedupAgainstIndexTable]] — the index
    * side of the anti-join never shuffles), the survivors' fingerprints
    * are appended to the index so the NEXT batch (and the next run)
    * dedups against them, and the survivors go to `sink`. Replay
    * semantics: [[runIndexed]]. */
  def runIncrementalDedup(stream: DataFrame, idCol: String, textCol: String,
                          indexTable: String, checkpoint: String,
                          store: graft.core.HwmStore, ledgerName: String,
                          indexBuckets: Int = 32)
                         (sink: (DataFrame, Long) => Unit): Unit =
    runIndexed(stream, checkpoint, store, ledgerName)(keyedStep(_, idCol,
      TextFunctions.fingerprint(col(textCol)), indexTable, indexBuckets, _))(sink)

  /** Key-generic [[runIncrementalDedup]]: each micro-batch first runs
    * `prepare` (e.g. decode payloads into a perceptual hash column —
    * anything that appends the identity column), then dedups on
    * `keyCol` against the bucketed key index, appends the survivors'
    * keys and sinks the survivors. This is how IMAGE dedup-on-ingest
    * composes from parts: prepare = [[graft.operators.Multimodal
    * .perceptualHash64]], key = the 8-byte dHash — same body, same
    * O(batch) cost per batch as the text path. Rows whose key is NULL
    * (undecodable media) sink unconditionally and never index. */
  def runIncrementalKeyedDedup(stream: DataFrame, idCol: String,
                               prepare: DataFrame => DataFrame,
                               keyCol: String,
                               indexTable: String, checkpoint: String,
                               store: graft.core.HwmStore,
                               ledgerName: String,
                               indexBuckets: Int = 32)
                              (sink: (DataFrame, Long) => Unit): Unit =
    runIndexed(stream, checkpoint, store, ledgerName)((batch, gen) =>
      keyedStep(prepare(batch), idCol, col(keyCol), indexTable,
        indexBuckets, gen))(sink)

  /** [[runIncrementalDedup]]'s SUB-document sibling: each micro-batch is
    * span-deduplicated against the persisted anchor-gram index
    * ([[graft.operators.Dedup.spanDedupAgainstIndexTable]] — history
    * grams cover outright, never-seen grams arbitrate within the batch,
    * index side unshuffled), the batch's grams append so later batches
    * (and runs) cut re-ingested spans, and the CLEANED rows go to `sink`.
    * The append is the PRE-cut batch: the index means "content ever
    * ingested" — appending post-cut survivors instead would make the
    * index depend on which earlier batches were committed before a
    * crash. */
  def runIncrementalSpanDedup(stream: DataFrame, idCol: String,
                              textCol: String, indexTable: String,
                              checkpoint: String,
                              store: graft.core.HwmStore, ledgerName: String,
                              minMatch: Int = 8,
                              hashedAnchors: Boolean = true,
                              indexBuckets: Int = 32)
                             (sink: (DataFrame, Long) => Unit): Unit =
    runIndexed(stream, checkpoint, store, ledgerName) { (batch, gen) =>
      val cleaned = Dedup.spanDedupAgainstIndexTable(batch, idCol, textCol,
        indexTable, minMatch, hashedAnchors, gen).localCheckpoint()
      Dedup.appendToSpanGramIndexTable(batch, idCol, textCol, indexTable,
        minMatch, hashedAnchors, indexBuckets, gen)
      cleaned
    }(sink)

  /** [[runIncrementalDedup]]'s NEAR-dup sibling: each micro-batch is
    * near-deduplicated against the persisted MinHash band index
    * ([[graft.operators.Dedup.minhashDedupAgainstIndexTable]] — LSH
    * candidates with the index side unshuffled, exact-Jaccard verified)
    * AND within itself — a doc with a verified near-dup of SMALLER id in
    * the same batch dies (pairwise smaller-id-wins; for chains A≈B≈C the
    * closure keeps only the smallest id, matching the exact variant's
    * first-occurrence rule without per-batch component iteration).
    * Without the in-batch pass both copies of a pair arriving in ONE
    * batch would sink and be appended, escaping dedup permanently.
    * The survivors' bands + shingle sets append so later batches (and
    * runs) drop near-copies of them, and the survivors go to `sink`.
    * Run BOTH: exact dedup first (cheap, 8-byte keys), then this for the
    * near-misses exact fingerprints cannot see. */
  def runIncrementalNearDedup(stream: DataFrame, idCol: String,
                              textCol: String, indexTable: String,
                              checkpoint: String,
                              store: graft.core.HwmStore, ledgerName: String,
                              threshold: Double = 0.8,
                              indexBuckets: Int = 32)
                             (sink: (DataFrame, Long) => Unit): Unit =
    runIndexed(stream, checkpoint, store, ledgerName) { (batch, gen) =>
      // the batch is shingled and MinHash-signed exactly ONCE and
      // materialized: the vs-history join, the in-batch pair pass and the
      // index append below all reuse that one signing
      val signed = Dedup.SignedBatch.sign(batch, idCol, textCol,
        materialize = (_, f) => f.localCheckpoint())
      // localCheckpoint: vsIndex feeds TWO consumers (the survivor frame
      // and the in-batch restriction) — without materialization the
      // expensive index-vs-batch LSH join would execute twice per batch
      val vsIndex = signed.survivorsVsIndex(indexTable, threshold, gen)
        .localCheckpoint()
      val inBatchDups = signed.restrictTo(vsIndex).dupPairs(threshold)
        .select(col("id2").as(idCol))
        .distinct()
      val survivors = vsIndex
        .join(inBatchDups, Seq(idCol), "left_anti")
        .localCheckpoint()
      signed.restrictTo(survivors).writeIndex(indexTable,
        indexBuckets, SaveMode.Append, gen)
      survivors
    }(sink)

  /** The WHOLE curation recipe on ingest — the composition a daily
    * 100 TB pipeline actually schedules, as one streaming query: every
    * micro-batch flows through the eight-stage
    * [[graft.operators.Recipe.curateIncremental]] chain (normalize →
    * quality band → exact dedup vs the fingerprint index → within-source
    * near dedup vs the MinHash index → benchmark n-gram + optional-
    * elsewhere semantic decontamination → per-batch temperature mix →
    * batch-stable family split → pack + shard), which appends the batch
    * to the three indexes under its generation; then survivors AND the
    * per-document drop ledger go to `sink`. Replay semantics:
    * [[runIndexed]]; the benchmark n-gram index needs no generation,
    * because the recipe already checks corpus docs against this batch's
    * own benchmark docs, so a replay reaches the same answer. */
  def runIncrementalRecipe(stream: DataFrame, idCol: String,
                           sourceCol: String, textCol: String,
                           benchmarkSource: String,
                           fingerprintTable: String, minhashTable: String,
                           benchNgramTable: String,
                           checkpoint: String,
                           store: graft.core.HwmStore, ledgerName: String,
                           minTokens: Long = 35L, maxTokens: Long = 100L,
                           nearThreshold: Double = 0.85,
                           contaminationThreshold: Double = 0.7,
                           tau: Double = 0.5, budgetDocs: Long = 300L,
                           familySize: Long = 50L,
                           splits: Seq[(String, Double)] =
                             Seq("train" -> 0.8, "val" -> 0.1,
                               "test" -> 0.1),
                           splitSalt: String = "recipesplit",
                           headTokens: Int = 20, tailTokens: Int = 10,
                           shardBudget: Long = 2000L,
                           indexBuckets: Int = 8)
                          (sink: (DataFrame, DataFrame, Long) => Unit)
                          : Unit =
    runIndexed(stream, checkpoint, store, ledgerName) { (batch, gen) =>
      graft.operators.Recipe.curateIncremental(batch, idCol, sourceCol,
        textCol, benchmarkSource, fingerprintTable, minhashTable,
        benchNgramTable, minTokens = minTokens, maxTokens = maxTokens,
        nearThreshold = nearThreshold,
        contaminationThreshold = contaminationThreshold,
        tau = tau, budgetDocs = budgetDocs, familySize = familySize,
        splits = splits, splitSalt = splitSalt,
        headTokens = headTokens, tailTokens = tailTokens,
        shardBudget = shardBudget, generation = gen, buckets = indexBuckets)
    } { case ((survivors, audit), id) => sink(survivors, audit, id) }

  /** Fellegi–Sunter record linkage ON INGEST — the entity-resolution
    * sibling of [[runIncrementalDedup]]: each micro-batch is blocked and
    * scored against the persisted bucketed reference
    * ([[graft.operators.Joins.linkAgainstReference]] — candidate join
    * with no Exchange on the reference side, plus the in-batch
    * smaller-id candidate pass so twin new entities in ONE batch resolve
    * to each other instead of both entering the reference), the per-
    * record decisions (matched_id, score, verdict) go to `sink`, and the
    * batch's non-`link` records — genuinely new entities, plus
    * `possible`s (conservative: a clerical-review candidate must not be
    * auto-merged, so it keeps its own identity) — append to the
    * reference so later batches (and runs) link against them.
    *
    * Same exactly-once ledger as the dedup family; the sink runs before
    * the append. The one open window (sink + append done, ledger not
    * yet) re-appends byte-identical reference rows on replay, which the
    * candidate `distinct()` collapses — a replayed append cannot shift
    * any later decision (spec-pinned by a forged replay). Batch and
    * reference ids must be globally unique across the whole stream. */
  def runIncrementalLinkage(stream: DataFrame, idCol: String,
                            blockCol: String, attrCols: Seq[String],
                            fields: Seq[(String, Column, Double, Double)],
                            refTable: String, checkpoint: String,
                            store: graft.core.HwmStore, ledgerName: String,
                            upper: Double = 2.0, lower: Double = 0.0,
                            indexBuckets: Int = 32)
                           (sink: (DataFrame, Long) => Unit): Unit =
    runAvailableNowForeachBatchExactlyOnce(stream, checkpoint, store,
        ledgerName) { (batch, id) =>
      val spark = batch.sparkSession
      val decisions = graft.operators.Joins
        .linkAgainstReference(batch, spark.table(refTable), idCol,
          blockCol, attrCols, fields, upper, lower)
        .localCheckpoint() // materialize BEFORE mutating the reference
      sink(decisions, id)
      val newcomers = batch.join(
        decisions.filter(col("verdict") =!= "link")
          .select(col(idCol).cast("long").as(idCol)),
        Seq(idCol), "left_semi")
      graft.operators.Joins.appendToLinkageRefTable(newcomers, idCol,
        blockCol, attrCols, refTable, indexBuckets)
    }

  /** Continuous ANN-index ingestion — the embedding sibling of
    * [[runIncrementalDedup]]: each micro-batch of (id, vector) rows is
    * encoded with the persisted IVF-PQ index's EXISTING centroids and
    * codebooks and appended map-only (the FAISS `add` operation,
    * [[graft.operators.Similarity.appendToIvfPqIndex]]), so the index
    * grows O(batch) per trigger — never a retrain, never a rewrite of
    * existing partitions — and queries stay partition-pruned throughout
    * ingestion. Replay-protected by the committed-batch ledger in
    * `store`. The one open window (append done, ledger not yet recorded)
    * re-appends the batch on replay, storing duplicate (id, code) and
    * (id, vector) rows — which the query path collapses
    * DETERMINISTICALLY (max-ADC shortlist, max-cosine re-rank;
    * spec-pinned in IvfPqSimilaritySpec), so a replayed append cannot
    * shift any query result: exactly-once semantics on READS over
    * at-least-once storage, with compaction optional rather than
    * required for correctness. */
  def runIncrementalAnnIngest(stream: DataFrame, idCol: String,
                              vecCol: String, indexPath: String,
                              checkpoint: String,
                              store: graft.core.HwmStore,
                              ledgerName: String): Unit =
    runAvailableNowForeachBatchExactlyOnce(stream, checkpoint, store,
        ledgerName) { (batch, _) =>
      graft.operators.Similarity.appendToIvfPqIndex(
        batch, idCol, vecCol, indexPath)
    }

  /** Drain a stream into an in-memory table (testing/interactive). */
  def runAvailableNowToMemory(df: DataFrame, tableName: String,
                              outputMode: OutputMode = OutputMode.Complete())
      : StreamingQuery = {
    val q = df.writeStream.format("memory")
      .queryName(tableName)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }
}
