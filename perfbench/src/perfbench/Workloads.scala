package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.connections._
import graft.core.{FileListHwm, HwmStore, IncrementalStrategy, Strategy, YamlHwmStore}
import graft.dialects.DerbyDialect
import graft.filedf.{DirIfExists, FileDFReader, FileDFWriter, JsonLine, Parquet}
import graft.files.{FileConnection, FileDownloader, MiniSftpServer, SftpFileConnection, TcpSftpTransport}
import graft.operators.{DbReader, DbWriter, Dedup, HwmColumn}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One workload's environment: the session, the seed, the core count and
  * a directory of its own. `rep` numbers the stagings, so that each one
  * builds fresh databases, tables and servers. */
final case class Ctx(spark: SparkSession, seed: Long, cores: Int, dir: Path, rep: Int)

/** Outcome of one job. `latencyS` covers only the EL job the scheduler
  * runs; `srcWriteS` is the generator's write into the source before it. */
final case class JobResult(latencyS: Double, srcWriteS: Option[Double],
                           rows: Long, docsIn: Long, failure: Option[String])

trait Workload {
  /** Seeds the source and starts servers in a fresh environment. Returns
    * the source-write times it measured. */
  def stage(): Seq[Double]
  /** Warm-up jobs, run once on the staged environment the run keeps. */
  def warmUp(): Unit
  /** Runs job `j`: the generator step, then the timed EL job, then the
    * checks that can be made at once. */
  def job(j: Int, traced: Boolean): JobResult
  /** Checks made once over the whole run; failure messages by job. */
  def finalCheck(): Map[Int, String]
  /** Digest of every input the generators produced in this environment. */
  def inputsDigest: String
  /** Bytes held by the HWM store at the end of the run. */
  def hwmStoreBytes: Long
  /** Seconds spent in benchmark-only checks so far; they are not set-up. */
  def checkS: Double
  def teardown(): Unit
}

object Workload {
  val Names: Seq[String] = Seq("jdbc_snapshot", "jdbc_incremental", "curation_ingest")

  def apply(name: String, c: Ctx): Workload = name match {
    case "jdbc_snapshot" => new JdbcSnapshot(c, rows = 150000L, warmLoads = 3)
    case "jdbc_incremental" => new JdbcIncremental(c, initialRows = 10000, batchRows = 1000, warmJobs = 110)
    case "curation_ingest" => new CurationIngest(c, filesPerDrop = 4, docsPerFile = 150,
      historyDocs = 1000, warmDrops = 4)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Shared plumbing: the timed section, per-job connections and checks. */
abstract class BaseWorkload(c: Ctx) extends Workload {
  protected val spark: SparkSession = c.spark
  protected val digest = new InputDigest
  def inputsDigest: String = digest.hex
  private var checkNs = 0L
  def checkS: Double = checkNs / 1e9

  protected def dir(name: String): String = {
    val p = c.dir.resolve(s"${name}_r${c.rep}")
    Files.createDirectories(p)
    p.toString
  }

  /** Runs the EL job `j` as the scheduler would and returns its result
    * and wall time. Spark jobs it launches carry the job id. */
  protected def timed[A](j: Int)(body: => A): (A, Double) = {
    val sc = spark.sparkContext
    sc.setLocalProperty(EngineListener.JobProperty, j.toString)
    try {
      val t0 = System.nanoTime()
      val a = Tracer.span("job")(body)
      (a, (System.nanoTime() - t0) / 1e9)
    } finally sc.setLocalProperty(EngineListener.JobProperty, null)
  }

  protected def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Benchmark-only verification, timed so set-up time can leave it out. */
  protected def checking[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally checkNs += System.nanoTime() - t0
  }

  protected def jdbc(url: String, traced: Boolean,
                     partitioning: Option[JdbcPartitioning]): JdbcConnection =
    if (traced) new TracedJdbcConnection(spark, DerbyDialect, JdbcOptions(url), partitioning)
    else new JdbcConnection(spark, DerbyDialect, JdbcOptions(url), partitioning)

  protected def fileTable(root: String, traced: Boolean): FileTableConnection =
    if (traced) new TracedFileTableConnection(spark, root) else new FileTableConnection(spark, root)

  protected def hwmStore(root: String, traced: Boolean): HwmStore = {
    val s = new YamlHwmStore(root)
    if (traced) new TracedHwmStore(s) else s
  }

  protected def dirBytes(root: String): Long = {
    val s = Files.walk(java.nio.file.Paths.get(root))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  protected def dropDerby(db: String): Unit =
    try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true").close()
    catch { case _: java.sql.SQLException => } // a successful drop reports 08006
}

object Check {
  /** (row count, order-independent checksum): the sum of `xxhash64` over
    * all columns, summed as a decimal so it cannot overflow. */
  def summary(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast(DecimalType(38, 0))),
        lit(java.math.BigDecimal.ZERO))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** A Derby table read with Spark's own JDBC source, independently of
    * graft's connection code. */
  def jdbcTable(spark: SparkSession, url: String, table: String, cores: Int,
                key: String, lo: Long, hi: Long): DataFrame =
    spark.read.format("jdbc").option("url", url).option("dbtable", table)
      .option("partitionColumn", key).option("lowerBound", lo.toString)
      .option("upperBound", (hi + 1).toString).option("numPartitions", cores.toString)
      .load()
}

/** Repeated full loads: Derby `lineitem` → range-partitioned JDBC read →
  * parquet table replaced on every load. */
final class JdbcSnapshot(c: Ctx, rows: Long, warmLoads: Int) extends BaseWorkload(c) {
  private val db = s"pb_snapshot_${c.rep}"
  private val url = s"jdbc:derby:memory:$db;create=true"
  private val targetRoot = dir("snapshot_target")
  private var expected: (Long, java.math.BigDecimal) = _

  def stage(): Seq[Double] = {
    val admin = jdbc(url, traced = false, None)
    admin.execute(Gen.LineitemDdl)
    val seeding = seconds(DbWriter(admin, "lineitem", IfExists.Append)
      .run(Gen.lineitem(spark, c.seed, rows, c.cores)))
    Seq(seeding)
  }

  def warmUp(): Unit = {
    expected = checking(Check.summary(
      Check.jdbcTable(spark, url, "lineitem", c.cores, "l_orderkey", 1, rows / 4 + 1)))
    digest.add(expected.toString)
    (1 to warmLoads).foreach { w =>
      job(-w, traced = false).failure.foreach(f =>
        throw new IllegalStateException(s"warm-up load: $f"))
    }
  }

  def job(j: Int, traced: Boolean): JobResult = {
    val source = jdbc(url, traced,
      Some(JdbcPartitioning(c.cores, "l_orderkey", PartitioningMode.Range)))
    val target = fileTable(targetRoot, traced)
    val (m, secs) = timed(j) {
      val df = Tracer.span("operators.dbreader_run")(DbReader(source, "lineitem").run())
      Tracer.span("operators.dbwriter_run")(
        DbWriter(target, "lineitem", IfExists.ReplaceEntireTable).run(df))
    }
    Tracer.count("operators.dbwriter_rows", m.outputRows.toDouble)
    Tracer.count("operators.dbwriter_bytes", m.outputBytes.toDouble)
    val got = checking(Check.summary(spark.read.parquet(s"$targetRoot/lineitem.parquet")))
    val failure =
      if (got != expected) Some(s"target (rows, checksum) $got != source $expected") else None
    JobResult(secs, None, got._1, 0, failure)
  }

  def finalCheck(): Map[Int, String] = Map.empty
  def hwmStoreBytes: Long = 0L
  def teardown(): Unit = dropDerby(db)
}

/** Scheduled incremental EL: the generator appends a batch of new
  * `orders` rows to Derby through `DbWriter`, then the job reads the
  * window (hwm, max] under `IncrementalStrategy` with a `YamlHwmStore`
  * and appends it to a parquet table. */
final class JdbcIncremental(c: Ctx, initialRows: Int, batchRows: Int, warmJobs: Int)
  extends BaseWorkload(c) {
  private val db = s"pb_incremental_${c.rep}"
  private val url = s"jdbc:derby:memory:$db;create=true"
  private val targetRoot = dir("incremental_target")
  private val storeRoot = dir("incremental_hwm")
  private val HwmName = "orders.o_orderkey"
  private var lastKey = 0L
  private var batches = 0
  /** (job, lo, hi, rows): the window (lo, hi] each job must land. */
  private val windows = ArrayBuffer.empty[(Int, Long, Long, Int)]

  /** Appends the next seeded batch to the source; returns its time. */
  private def appendBatch(n: Int, traced: Boolean): Double = {
    val (rows, key) = Gen.ordersBatch(c.seed, batches, lastKey, n)
    rows.foreach(r => digest.add(r.toString))
    batches += 1
    val df = spark.createDataFrame(rows.asJava, Gen.OrdersSchema)
    val secs = seconds(Tracer.span("generator.src_write")(
      DbWriter(jdbc(url, traced, None), "orders", IfExists.Append).run(df)))
    lastKey = key
    secs
  }

  def stage(): Seq[Double] = {
    jdbc(url, traced = false, None).execute(Gen.OrdersDdl)
    appendBatch(initialRows, traced = false)
    Nil
  }

  /** The first job loads the initial rows; the rest are regular jobs. */
  def warmUp(): Unit = {
    val warm = (-1 to -(warmJobs + 1) by -1).map { j =>
      if (j != -1) appendBatch(batchRows, traced = false)
      runEl(j, traced = false, if (j == -1) initialRows else batchRows)
    }
    warm.flatMap(_._2).headOption.foreach(f =>
      throw new IllegalStateException(s"warm-up job: $f"))
  }

  /** The scheduled EL job proper, then the HWM check. */
  private def runEl(j: Int, traced: Boolean, expectRows: Int): (Double, Option[String]) = {
    val lo = windows.lastOption.map(_._3).getOrElse(0L)
    windows += ((j, lo, lastKey, expectRows))
    val source = jdbc(url, traced,
      Some(JdbcPartitioning(c.cores, "o_orderkey", PartitioningMode.Range)))
    val store = hwmStore(storeRoot, traced)
    val target = fileTable(targetRoot, traced)
    val (m, secs) = timed(j) {
      Strategy.using(new IncrementalStrategy(store = store)) {
        val df = Tracer.span("operators.dbreader_run")(
          DbReader(source, "orders", hwm = Some(HwmColumn("o_orderkey", Some(HwmName)))).run())
        Tracer.span("operators.dbwriter_run")(DbWriter(target, "orders", IfExists.Append).run(df))
      }
    }
    Tracer.count("operators.dbwriter_rows", m.outputRows.toDouble)
    Tracer.count("operators.dbwriter_bytes", m.outputBytes.toDouble)
    val stored = checking(new YamlHwmStore(storeRoot).get(HwmName).flatMap(_.valueOpt))
    val failure =
      if (!stored.contains(lastKey)) Some(s"stored HWM $stored != largest inserted key $lastKey")
      else None
    (secs, failure)
  }

  def job(j: Int, traced: Boolean): JobResult = {
    val src = appendBatch(batchRows, traced)
    val (secs, failure) = runEl(j, traced, batchRows)
    JobResult(secs, Some(src), batchRows.toLong, 0, failure)
  }

  /** Every window's (rows, checksum) in the target must equal the same
    * window read from Derby, and hold exactly the inserted batch. */
  def finalCheck(): Map[Int, String] = {
    // (key, row hash) pairs are small: collect them and bin them by window
    def perWindow(df: DataFrame): Map[Int, (Long, java.math.BigDecimal)] = {
      val key = df.columns.find(_.equalsIgnoreCase("o_orderkey")).get
      val pairs = df.select(col(key), xxhash64(df.columns.map(col).toIndexedSeq: _*))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val his = windows.map(_._3).toArray
      pairs.groupBy { case (k, _) =>
        val i = java.util.Arrays.binarySearch(his, k)
        val w = if (i >= 0) i else -i - 1
        if (w < windows.size && k > windows(w)._2) windows(w)._1 else Int.MinValue
      }.map { case (j, ps) =>
        j -> (ps.length.toLong,
          ps.map(p => java.math.BigDecimal.valueOf(p._2)).reduce(_ add _))
      }
    }
    val got = perWindow(spark.read.parquet(s"$targetRoot/orders.parquet"))
    val want = perWindow(Check.jdbcTable(spark, url, "orders", c.cores, "o_orderkey", 0, lastKey))
    val stray = got.get(Int.MinValue).map(_._1).getOrElse(0L)
    windows.flatMap { case (j, lo, hi, n) =>
      val g = got.get(j); val w = want.get(j)
      if (g.isEmpty || g != w || g.get._1 != n)
        Some(j -> s"window ($lo, $hi]: target $g, source $w, inserted $n rows")
      else None
    }.toMap ++ (if (stray > 0) Map(windows.last._1 -> s"$stray target rows outside every window")
                else Map.empty)
  }

  def hwmStoreBytes: Long = dirBytes(storeRoot)
  def teardown(): Unit = dropDerby(db)
}

/** Curation ingest: each job is one drop of JSONL files on an SFTP
  * server. An incremental `FileDownloader` pulls the new files, then
  * exact and MinHash dedup against persisted indexes, a parquet append of
  * the survivors, and index appends of their fingerprints and bands. */
final class CurationIngest(c: Ctx, filesPerDrop: Int, docsPerFile: Int,
                           historyDocs: Int, warmDrops: Int) extends BaseWorkload(c) {
  private val serverRoot = dir("sftp")
  private val landing = dir("landing")
  private val target = dir("curated")
  private val storeRoot = dir("curation_hwm")
  private val fpTable = s"pb_fp_r${c.rep}"
  private val mhTable = s"pb_mh_r${c.rep}"
  private val HwmName = "curation.incoming"
  private val corpus = new Corpus(c.seed, filesPerDrop, docsPerFile)
  private val landed = ArrayBuffer.empty[String]
  /** drop index -> (job, ids the dedup must keep) */
  private val expectedByDrop = scala.collection.mutable.Map.empty[Int, (Int, Set[Long])]
  private var drops = 0
  private var server: MiniSftpServer = _
  private var sftp: SftpFileConnection = _

  private val DocSchema = StructType(Seq(StructField("id", LongType),
    StructField("drop", IntegerType), StructField("src", StringType),
    StructField("text", StringType)))

  private def client(traced: Boolean): FileConnection =
    if (traced) new TracedFileConnection(sftp) else sftp

  def stage(): Seq[Double] = {
    Files.createDirectories(java.nio.file.Paths.get(serverRoot, "incoming"))
    server = new MiniSftpServer(java.nio.file.Paths.get(serverRoot))
    sftp = new SftpFileConnection(() => new TcpSftpTransport(server.host, server.port))
    val docs = corpus.history(historyDocs)
    docs.foreach(d => digest.add(d.jsonLine))
    val hist = spark.createDataFrame(
      docs.map(d => org.apache.spark.sql.Row(d.id, d.drop, d.src, d.text)).asJava, DocSchema)
    Dedup.buildFingerprintIndexTable(hist, "text", fpTable, buckets = c.cores)
    Dedup.buildMinHashIndexTable(hist, "id", "text", mhTable, buckets = c.cores)
    Nil
  }

  def warmUp(): Unit = (1 to warmDrops).foreach { w =>
    job(-w, traced = false).failure.foreach(f =>
      throw new IllegalStateException(s"warm-up drop: $f"))
  }

  /** Lands the next drop's files in the directory the server serves, as
    * the producer writing to the SFTP host would. */
  private def land(j: Int): Drop = {
    val drop = corpus.drop(drops)
    drops += 1
    drop.files.zipWithIndex.foreach { case (docs, i) =>
      val name = f"drop-${drop.index}%05d-part-$i%02d.jsonl"
      docs.foreach(d => digest.add(d.jsonLine))
      Files.write(java.nio.file.Paths.get(serverRoot, "incoming", name), docs.map(_.jsonLine).asJava)
      landed += s"/incoming/$name"
    }
    expectedByDrop(drop.index) = (j, drop.expectedIds)
    drop
  }

  def job(j: Int, traced: Boolean): JobResult = {
    val drop = land(j)
    val store = hwmStore(storeRoot, traced)
    val conn = client(traced)
    val (kept, secs) = timed(j) {
      val fetched = Strategy.using(new IncrementalStrategy(store = store)) {
        Tracer.span("files.downloader_run")(FileDownloader(conn, "/incoming", landing,
          workers = c.cores, hwmName = Some(HwmName)).run().raiseIfFailed())
      }
      val docs = Tracer.span("filedf.read_plan")(
        FileDFReader(spark, JsonLine(), landing, Some(DocSchema)).run(fetched.successful))
      val exact = Tracer.span("operators.dedup_exact")(
        Dedup.exactDedupAgainstIndexTable(docs, "id", "text", fpTable).localCheckpoint())
      val kept = Tracer.span("operators.dedup_near")(
        Dedup.minhashDedupAgainstIndexTable(exact, "id", "text", mhTable).localCheckpoint())
      Tracer.span("filedf.write")(FileDFWriter(Parquet(), target, DirIfExists.Append).run(kept))
      Tracer.span("operators.index_append") {
        Dedup.appendToFingerprintIndexTable(kept, "text", fpTable, buckets = c.cores)
        Dedup.appendToMinHashIndexTable(kept, "id", "text", mhTable, buckets = c.cores)
      }
      kept
    }
    val failure = checking {
      val want = corpus.keptSoFar
      val fp = spark.table(fpTable).count()
      val sh = spark.table(s"${mhTable}_shingles").count()
      val stored = new YamlHwmStore(storeRoot).get(HwmName) match {
        case Some(h: FileListHwm) => h.value
        case other => Set(other.toString)
      }
      if (fp != want || sh != want) Some(s"index rows fp=$fp shingles=$sh, want $want")
      else if (stored != landed.toSet)
        Some(s"stored file HWM holds ${stored.size} paths, ${landed.size} landed")
      else None
    }
    JobResult(secs, None, drop.expectedIds.size.toLong, drop.docs.size.toLong, failure)
  }

  /** Survivors of every drop must be exactly the generator's fresh ids. */
  def finalCheck(): Map[Int, String] = {
    val got = spark.read.parquet(target).groupBy("drop")
      .agg(collect_list(col("id"))).collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    expectedByDrop.toSeq.flatMap { case (d, (j, want)) =>
      val ids = got.getOrElse(d, Nil)
      if (ids.size != want.size || ids.toSet != want)
        Some(j -> (s"drop $d: ${ids.size} survivors, ${want.size} expected, " +
          s"${(want -- ids).size} missing, ${(ids.toSet -- want).size} unexpected"))
      else None
    }.toMap
  }

  def hwmStoreBytes: Long = dirBytes(storeRoot)

  def teardown(): Unit = {
    Seq(fpTable, s"${mhTable}_bands", s"${mhTable}_shingles")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    if (server != null) server.stop()
  }
}
