package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table layout for shuffle-free co-located joins and
  * aggregations — the precomputed-exchange strategy for fact-fact joins
  * that are run repeatedly at 100 TB.
  *
  * A join between two tables bucketed by the same keys into the same
  * bucket count needs NO Exchange on either side: Spark matches the
  * tables' `HashPartitioning` output to the join's required distribution
  * and goes straight to the sort-merge (and with matching `sortBy`, the
  * per-bucket sort is free too). The one-time bucketed write costs one
  * shuffle; every subsequent join of the pair costs zero. At a 100 TB
  * fact-fact join that trade wins as soon as the join runs twice.
  *
  * The reference has no bucketing concept (its sources are external
  * DBs); this is the Spark-native continuation of its hash-partitioned
  * parallel-read idea (jdbc_connection/connection.py:188-230) applied to
  * the storage layout instead of the extraction.
  */
object Bucketing {

  /** Write `df` as a managed table bucketed (and per-bucket sorted) by
    * `keys`. `buckets` should be sized so one bucket of the LARGER table
    * in the intended join fits an executor's sort budget.
    *
    * The input is hash-repartitioned to `buckets` on the bucket keys
    * first: `repartition(n, keys)` and the bucket-id expression are the
    * SAME function (pmod(murmur3(keys), n)), so partition i holds
    * exactly bucket i's rows. That makes the per-bucket sort+write
    * parallel across `buckets` tasks instead of serial inside however
    * many partitions the caller's frame happened to have (a one-file
    * scan = ONE task sorting and writing every bucket), and it bounds
    * the file count at exactly one file per bucket per write — without
    * it every task writes a file per bucket it sees, so an append from
    * t tasks leaves up to t·`buckets` files for every later scan to
    * open. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    keys: Seq[String],
                    mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(keys.nonEmpty, "bucketing needs at least one key column")
    require(buckets > 0, s"buckets must be positive, got $buckets")
    df.repartition(buckets, keys.map(df.col): _*)
      .write
      .mode(mode)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Rewrite a bucketed table in place to heal APPEND fragmentation:
    * every [[writeBucketed]] append adds at least one file per written
    * bucket, so a year of daily appends leaves each bucket as ~365 small
    * files — the scan then pays per-file open cost and loses the
    * per-bucket sort (each file is sorted, the bucket no longer is,
    * which silently re-adds a sort before merge joins). Compaction
    * rewrites each bucket as one sorted file; `dropDuplicates = true`
    * additionally collapses exact duplicate rows, which the
    * append-based dedup indexes accumulate harmlessly on replays.
    *
    * The swap is not atomic (the session catalog has no atomic
    * exchange), but it IS crash-recoverable and never destroys data:
    * the rewrite lands in `<table>__compact`, then the swap is three
    * metastore-only ops — rename live to `<table>__old`, rename the
    * compacted table in, drop `__old`. At every crash point at least one
    * COMPLETE copy of the data exists under a known name, and
    * [[recoverCompaction]] (run automatically at the start of every
    * compaction) renames it back to `table`; the old drop+rename order
    * had a window where the only complete copy sat under the temp name
    * with the live name gone until manual repair (ADVICE r7).
    *
    * Concurrent-reader contract (CompactionSwapSpec pins it): the
    * table NAME is unresolvable only inside the two-rename window —
    * metastore ops, no data rewrite — and re-resolving after recovery
    * always succeeds; a reader holding a pre-compaction plan races the
    * final DROP of the old files, which is why this is documented as
    * offline maintenance, like any file-compaction pass. */
  def compactBucketed(spark: SparkSession, table: String, buckets: Int,
                      keys: Seq[String],
                      dropDuplicates: Boolean = false): Unit = {
    val tmp = s"${table}__compact"
    val old = s"${table}__old"
    recoverCompaction(spark, table) // heal any earlier crash, drop stragglers
    val df0 = spark.table(table)
    val df = if (dropDuplicates) df0.distinct() else df0
    writeBucketed(df, tmp, buckets, keys)
    spark.sql(s"ALTER TABLE $table RENAME TO $old")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    spark.sql(s"DROP TABLE $old")
  }

  /** Restore `table` after a compaction crash: if the live name is gone,
    * rename the completed compacted copy (`__compact` — preferred: it
    * only outlives the live name once fully written) or the displaced
    * original (`__old`) back in; once a live table exists, drop whichever
    * siblings remain. Idempotent, called automatically by
    * [[compactBucketed]]; safe to call any time. */
  def recoverCompaction(spark: SparkSession, table: String): Unit = {
    val cat = spark.catalog
    val tmp = s"${table}__compact"
    val old = s"${table}__old"
    if (!cat.tableExists(table)) {
      if (cat.tableExists(tmp)) spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
      else if (cat.tableExists(old)) spark.sql(s"ALTER TABLE $old RENAME TO $table")
    }
    if (cat.tableExists(table)) {
      if (cat.tableExists(old)) spark.sql(s"DROP TABLE $old")
      if (cat.tableExists(tmp)) spark.sql(s"DROP TABLE $tmp")
    }
  }

  /** Join two tables previously written by [[writeBucketed]] with the
    * same keys and bucket counts. The resulting plan contains no
    * Exchange on either input (verified by BucketingSpec). */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
                   leftKeys: Seq[String], rightKeys: Seq[String],
                   joinType: String = "inner"): DataFrame = {
    require(leftKeys.length == rightKeys.length && leftKeys.nonEmpty,
      "leftKeys and rightKeys must be same-length and non-empty")
    val l = spark.table(leftTable)
    val r = spark.table(rightTable)
    val cond = leftKeys.zip(rightKeys)
      .map { case (a, b) => l(a) === r(b) }
      .reduce(_ && _)
    l.join(r, cond, joinType)
  }
}
