package graft.metrics

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Aggregated metrics of Spark commands executed while a recorder was
  * attached. Mirrors the reference's SparkCommandMetrics shape
  * (onetl/_metrics/command.py, input.py, output.py, executor.py). */
final case class SparkCommandMetrics(inputRows: Long, inputBytes: Long,
                                     outputRows: Long, outputBytes: Long,
                                     runTimeMillis: Long, cpuTimeNanos: Long,
                                     diskSpillBytes: Long, memorySpillBytes: Long,
                                     peakExecutionMemory: Long) {
  def isEmpty: Boolean = inputRows == 0 && outputRows == 0 && runTimeMillis == 0
}

/** A listener that sees only the tasks of Spark jobs submitted inside its
  * own [[measure]] call: `measure` tags the calling thread with a scope
  * local property (threads it starts inherit it), and the listener counts
  * only stages whose job carries that scope. A job another thread runs on
  * the same SparkContext meanwhile is not counted. */
private[metrics] abstract class ScopedListener extends SparkListener {
  private val scope = ScopedListener.next.incrementAndGet().toString
  private val stages = ConcurrentHashMap.newKeySet[Int]()

  /** One ended task of a stage this listener's scope submitted. */
  protected def onScopedTaskEnd(taskEnd: SparkListenerTaskEnd): Unit

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (Option(e.properties).flatMap(p => Option(p.getProperty(ScopedListener.Property)))
        .exists(_.split(',').contains(scope))) stages.add(e.stageInfo.stageId)

  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit =
    if (stages.contains(taskEnd.stageId)) onScopedTaskEnd(taskEnd)

  /** Attach, run `body` under this listener's scope (nested inside any
    * enclosing scope), drain the async listener bus so every task-end
    * event has arrived, detach. */
  def measure[A](spark: SparkSession)(body: => A): A = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(ScopedListener.Property)
    sc.addSparkListener(this)
    sc.setLocalProperty(ScopedListener.Property,
      Option(outer).fold(scope)(o => s"$o,$scope"))
    try {
      val result = body
      org.apache.spark.GraftSparkBridge.waitListenerBus(sc, 30000L)
      result
    } finally {
      sc.setLocalProperty(ScopedListener.Property, outer)
      sc.removeSparkListener(this)
    }
  }
}

private object ScopedListener {
  val Property = "graft.metrics.scope"
  private val next = new AtomicLong
}

/** `SparkListener`-based metrics capture around a read/write command.
  *
  * Reference implements this through a Py4J callback server
  * (onetl/_metrics/recorder.py:15-26, listener/listener.py:19-133); on the
  * JVM it is a plain listener. Usage:
  * {{{
  *   val metrics = MetricsRecorder.record(spark) { df.write.parquet(p) }
  * }}}
  */
final class MetricsRecorder private extends ScopedListener {
  private val inputRows = new LongAdder; private val inputBytes = new LongAdder
  private val outputRows = new LongAdder; private val outputBytes = new LongAdder
  private val runTime = new LongAdder; private val cpuTime = new LongAdder
  private val diskSpill = new LongAdder; private val memSpill = new LongAdder
  private val peakMem = new AtomicLong(0)

  protected def onScopedTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    val m = taskEnd.taskMetrics
    if (m != null) {
      inputRows.add(m.inputMetrics.recordsRead)
      inputBytes.add(m.inputMetrics.bytesRead)
      outputRows.add(m.outputMetrics.recordsWritten)
      outputBytes.add(m.outputMetrics.bytesWritten)
      runTime.add(m.executorRunTime)
      cpuTime.add(m.executorCpuTime)
      diskSpill.add(m.diskBytesSpilled)
      memSpill.add(m.memoryBytesSpilled)
      peakMem.updateAndGet(p => math.max(p, m.peakExecutionMemory))
    }
  }

  def snapshot: SparkCommandMetrics = SparkCommandMetrics(
    inputRows.sum, inputBytes.sum, outputRows.sum, outputBytes.sum,
    runTime.sum, cpuTime.sum, diskSpill.sum, memSpill.sum, peakMem.get)
}

object MetricsRecorder {
  /** Run `body` and return (result, metrics of the jobs `body` ran). */
  def record[A](spark: SparkSession)(body: => A): (A, SparkCommandMetrics) = {
    val rec = new MetricsRecorder
    (rec.measure(spark)(body), rec.snapshot)
  }
}
