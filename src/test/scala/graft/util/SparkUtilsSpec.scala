package graft.util

import graft.SparkSpec
import org.apache.spark.GraftSparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.functions.col

class SparkUtilsSpec extends SparkSpec {

  /** `body`'s result and the number of Spark jobs it launched. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftSparkBridge.waitListenerBus(sc, 30000L)
    sc.addSparkListener(listener)
    try {
      val a = body
      GraftSparkBridge.waitListenerBus(sc, 30000L)
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def repartitioned(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[Repartition]

  test("widen decides from the unexecuted plan: it runs no job") {
    val target = spark.sparkContext.defaultParallelism
    assert(target > 1)
    // an input that already shuffles is left as it is, its shuffle not run
    val grouped = spark.range(0, 1000, 1, 2).groupBy((col("id") % 3).as("k")).count()
    val (g, gJobs) = jobsOf(SparkUtils.widen(grouped))
    assert(gJobs == 0)
    assert(g eq grouped)
    // a leaf input narrower than the default parallelism is spread
    val (narrow, nJobs) = jobsOf(SparkUtils.widen(spark.range(0, 100, 1, 1).toDF()))
    assert(nJobs == 0)
    assert(repartitioned(narrow))
    // a leaf input already as wide is left as it is
    val wide = spark.range(0, 100, 1, target).toDF()
    val (w, wJobs) = jobsOf(SparkUtils.widen(wide))
    assert(wJobs == 0)
    assert(w eq wide)
  }
}
