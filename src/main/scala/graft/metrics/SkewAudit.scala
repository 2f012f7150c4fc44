package graft.metrics

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-stage task skew report: max/median ratios of task duration and
  * shuffle-read volume. */
final case class StageSkew(stageId: Int, tasks: Int,
                           maxDurationMs: Long, medianDurationMs: Long,
                           maxShuffleReadBytes: Long, medianShuffleReadBytes: Long,
                           maxShuffleReadRecords: Long = 0L,
                           medianShuffleReadRecords: Long = 0L) {
  def shuffleSkew: Double =
    if (medianShuffleReadBytes <= 0) 0.0
    else maxShuffleReadBytes.toDouble / medianShuffleReadBytes
  /** Records are the compression-independent straggler measure: repetitive
    * synthetic keys can compress a hot partition's bytes below a uniform
    * one's, hiding real row-count skew. */
  def recordSkew: Double =
    if (medianShuffleReadRecords <= 0) 0.0
    else maxShuffleReadRecords.toDouble / medianShuffleReadRecords
}

/** Listener that turns task metrics into a per-stage skew report.
  *
  * At 100 TB the failure mode is rarely "the job is slow" — it is one
  * straggler task holding a 1000-executor stage hostage because a join or
  * groupBy key is hot. The bench can't show that at sf0.1, but this
  * listener makes it measurable in production and in targeted specs:
  * `SkewAudit.audit(spark) { ... }` returns every stage's
  * max/median task duration and shuffle-read ratios; stages past a
  * threshold are candidates for salting or AQE skew-join tuning.
  */
final class SkewAudit private extends ScopedListener {
  private val durations = TrieMap.empty[Int, ArrayBuffer[Long]]
  private val shuffleReads = TrieMap.empty[Int, ArrayBuffer[Long]]
  private val shuffleRecords = TrieMap.empty[Int, ArrayBuffer[Long]]

  protected def onScopedTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    val m = taskEnd.taskMetrics
    if (m != null) {
      durations.getOrElseUpdate(taskEnd.stageId, ArrayBuffer.empty)
        .synchronized {
          durations(taskEnd.stageId) += taskEnd.taskInfo.duration
          shuffleReads.getOrElseUpdate(taskEnd.stageId, ArrayBuffer.empty) +=
            m.shuffleReadMetrics.totalBytesRead
          shuffleRecords.getOrElseUpdate(taskEnd.stageId, ArrayBuffer.empty) +=
            m.shuffleReadMetrics.recordsRead
        }
    }
  }

  private def stats(xs: Seq[Long]): (Long, Long) =
    if (xs.isEmpty) (0L, 0L)
    else {
      val sorted = xs.sorted
      (sorted.last, sorted(sorted.size / 2))
    }

  def snapshot: Seq[StageSkew] =
    durations.keySet.toSeq.sorted.map { sid =>
      val (maxD, medD) = stats(durations(sid).toSeq)
      val (maxS, medS) = stats(shuffleReads.getOrElse(sid, ArrayBuffer.empty).toSeq)
      val (maxR, medR) = stats(shuffleRecords.getOrElse(sid, ArrayBuffer.empty).toSeq)
      StageSkew(sid, durations(sid).size, maxD, medD, maxS, medS, maxR, medR)
    }
}

object SkewAudit {
  /** Run `body`; returns (result, skew report of the stages `body` ran). */
  def audit[A](spark: SparkSession)(body: => A): (A, Seq[StageSkew]) = {
    val rec = new SkewAudit
    (rec.measure(spark)(body), rec.snapshot)
  }
}
