package perfbench

import java.io.InputStream
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import graft.connections.{FileTableConnection, IfExists, JdbcConnection, JdbcOptions, JdbcPartitioning}
import graft.core.{Hwm, HwmStore}
import graft.dialects.Dialect
import graft.files.{FileConnection, PathStat, RemoteEntry}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Benchmark-side decorators at the graft layer boundaries. Each one
  * records a span around the call and delegates; none changes behaviour,
  * so a traced job runs exactly the library code an untraced job runs. */
final class TracedHwmStore(inner: HwmStore) extends HwmStore {
  def get(name: String): Option[Hwm] = Tracer.span("core.hwm_get")(inner.get(name))
  def set(hwm: Hwm): Unit = Tracer.span("core.hwm_set")(inner.set(hwm))
}

/** Delegating file client. `walk` is deliberately not overridden: the
  * trait's own walk then lists through this wrapper's `listDir`. */
final class TracedFileConnection(inner: FileConnection) extends FileConnection {
  def check(): this.type = { Tracer.span("files.other")(inner.check()); this }
  def exists(path: String): Boolean = Tracer.span("files.stat")(inner.exists(path))
  def isDir(path: String): Boolean = Tracer.span("files.stat")(inner.isDir(path))
  def stat(path: String): PathStat = Tracer.span("files.stat")(inner.stat(path))
  def listDir(path: String): Seq[RemoteEntry] = Tracer.span("files.list") {
    val entries = inner.listDir(path)
    Tracer.count("files.listed_files", entries.count(!_.isDir).toDouble)
    entries
  }
  def mkdirs(path: String): Unit = Tracer.span("files.other")(inner.mkdirs(path))
  def removeFile(path: String): Unit = Tracer.span("files.other")(inner.removeFile(path))
  def removeDir(path: String, recursive: Boolean): Unit =
    Tracer.span("files.other")(inner.removeDir(path, recursive))
  def renameFile(source: String, target: String): Unit =
    Tracer.span("files.other")(inner.renameFile(source, target))
  def downloadFile(remote: String, local: Path): Unit = Tracer.span("files.download") {
    inner.downloadFile(remote, local)
    Tracer.count("files.download_bytes", Files.size(local).toDouble)
  }
  def uploadFile(local: Path, remote: String): Unit =
    Tracer.span("files.other")(inner.uploadFile(local, remote))
  def open(path: String): InputStream = Tracer.span("files.other")(inner.open(path))
}

/** JDBC connection whose probes, read planning and writes are spans; the
  * partitioned read's bound probe goes through the overridden
  * `getMinMaxValues`, so it nests under `connections.read_plan`. */
final class TracedJdbcConnection(spark: SparkSession, dialect: Dialect,
                                 options: JdbcOptions,
                                 partitioning: Option[JdbcPartitioning])
  extends JdbcConnection(spark, dialect, options, partitioning) {
  override def readSourceAsDf(source: String, columns: Seq[String],
                              where: Seq[String], hint: Option[String],
                              limit: Option[Int],
                              dfSchema: Option[StructType]): DataFrame =
    Tracer.span("connections.read_plan")(
      super.readSourceAsDf(source, columns, where, hint, limit, dfSchema))
  override def getMinMaxValues(source: String, expression: String,
                               where: Seq[String]): (Option[Any], Option[Any]) =
    Tracer.span("connections.minmax")(super.getMinMaxValues(source, expression, where))
  override def getDfSchema(source: String, columns: Seq[String]): StructType =
    Tracer.span("connections.schema_probe")(super.getDfSchema(source, columns))
  override def writeDfToTarget(df: DataFrame, target: String, ifExists: IfExists,
                               writeOptions: Map[String, String]): Unit =
    Tracer.span("connections.write")(
      super.writeDfToTarget(df, target, ifExists, writeOptions))
}

final class TracedFileTableConnection(spark: SparkSession, root: String)
  extends FileTableConnection(spark, root) {
  override def writeDfToTarget(df: DataFrame, target: String, ifExists: IfExists,
                               options: Map[String, String]): Unit =
    Tracer.span("connections.write")(super.writeDfToTarget(df, target, ifExists, options))
}

/** Engine counters per benchmark job, keyed by the `perfbench.job` local
  * property the client sets around each job's timed part. */
final class EngineListener extends SparkListener {
  private val stageJob = TrieMap.empty[Int, Int]
  private val counters = TrieMap.empty[(Int, String), AtomicLong]
  private val started = new AtomicLong; private val ended = new AtomicLong

  private def add(job: Int, key: String, v: Long): Unit =
    counters.getOrElseUpdate((job, key), new AtomicLong).addAndGet(v)

  private def jobOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(EngineListener.JobProperty))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    jobOf(e.properties).foreach(j => add(j, "jobs", 1))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    jobOf(e.properties).foreach { j =>
      stageJob.put(e.stageInfo.stageId, j)
      add(j, "stages", 1)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageJob.get(e.stageId).foreach { j =>
      add(j, "tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add(j, "executor_run_ms", m.executorRunTime)
        add(j, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      }
    }

  /** Wait (bounded) until every started Spark job has been seen ending;
    * the bus delivers a job's task ends before its end. */
  def drain(timeoutMs: Long): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (ended.get < started.get && System.currentTimeMillis() < until) Thread.sleep(20)
  }

  /** Per-job totals of one counter over `jobs`. */
  def perJob(jobs: Seq[Int], key: String): Seq[Long] =
    jobs.map(j => counters.get((j, key)).map(_.get).getOrElse(0L))
}

object EngineListener {
  val JobProperty = "perfbench.job"
}

/** JVM counters read around the measured loop. */
object Jvm {
  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakBytes: Long = heapPools.map(_.getPeakUsage.getUsed).sum
}
