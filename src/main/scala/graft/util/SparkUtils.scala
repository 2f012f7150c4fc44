package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Small Spark utilities ported from the reference's _util/spark.py. */
object SparkUtils {

  /** Ensure a compute-bound stage gets at least the cluster's default
    * parallelism. A small input (one parquet file, a filtered dim table)
    * arrives in 1-2 partitions, and any O(n²) join or heavy per-row scan
    * downstream then runs nearly single-threaded no matter how many cores
    * exist. At real scale inputs already carry ≥ parallelism partitions
    * and this is a no-op — the shuffle is only paid when it buys cores. */
  def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
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

  /** Total executor cores available to the app (reference
    * _util/spark.py:149 `get_executor_total_cores`). In local[N] mode this
    * is N. */
  def executorTotalCores(spark: SparkSession): Int =
    spark.sparkContext.defaultParallelism

  /** Rough in-memory size estimate of a frame's plan output (reference
    * _util/spark.py:132 `estimate_dataframe_size` uses the same
    * SizeEstimator idea); here we use Catalyst's logical plan statistics,
    * which also power broadcast decisions — i.e. the number that actually
    * matters for planning. */
  def estimateDataFrameBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes
}
