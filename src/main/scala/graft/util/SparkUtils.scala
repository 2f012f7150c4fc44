package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Small Spark utilities ported from the reference's _util/spark.py. */
object SparkUtils {

  /** Ensure a compute-bound stage gets at least the cluster's default
    * parallelism. A small input (one parquet file, a filtered dim table)
    * arrives in 1-2 partitions, and any O(n²) join or heavy per-row scan
    * downstream then runs nearly single-threaded no matter how many cores
    * exist. At real scale inputs already carry ≥ parallelism partitions
    * and this is a no-op — the shuffle is only paid when it buys cores.
    *
    * Decided from the unexecuted plan: counting `df.rdd` partitions would
    * run an adaptive plan's shuffle stages once just to count them. An
    * input that already shuffles (an exchange in its plan; adaptive
    * execution wraps only such plans, or ones with subqueries) is left as
    * it is; a leaf input's count is that of its physical plan's RDD, whose
    * building runs no job. */
  def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val plan = df.queryExecution.executedPlan
    val shuffles = plan match {
      case _: AdaptiveSparkPlanExec => true
      case p => p.exists(n => n.isInstanceOf[Exchange] || n.subqueries.nonEmpty)
    }
    if (shuffles || plan.execute().getNumPartitions >= target) df else df.repartition(target)
  }

  /** Label jobs in the Spark UI for the duration of `body`, restoring the
    * previous description (reference _util/spark.py:204
    * `override_job_description`). */
  def withJobDescription[A](spark: SparkSession, description: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(description)
    try body finally sc.setJobDescription(prev)
  }

  /** Rough in-memory size estimate of a frame's plan output (reference
    * _util/spark.py:132 `estimate_dataframe_size` uses the same
    * SizeEstimator idea); here we use Catalyst's logical plan statistics,
    * which also power broadcast decisions — i.e. the number that actually
    * matters for planning. */
  def estimateDataFrameBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes
}
