package graft

import graft.metrics.SkewAudit
import org.apache.spark.sql.functions._

class MetricsSkewSpec extends SparkSpec {
  import spark.implicits._

  test("SkewAudit flags a hot-key shuffle and clears a uniform one") {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // ~99% of rows land on key 0 → one reduce task reads almost everything
      val skewed = spark.range(100000)
        .withColumn("k", when($"id" % 100 === 0, $"id").otherwise(lit(0L)))
      val (_, hotReport) = SkewAudit.audit(spark) {
        skewed.repartition(8, $"k").rdd.count()
      }
      val hot = hotReport.filter(s => s.tasks >= 8 && s.maxShuffleReadBytes > 0)
      assert(hot.nonEmpty, s"no shuffle stage captured: $hotReport")
      assert(hot.exists(_.shuffleSkew > 5.0),
        s"hot key must show shuffle skew: ${hot.map(_.shuffleSkew)}")

      // uniform keys → balanced reads
      val uniform = spark.range(100000).withColumn("k", $"id")
      val (_, evenReport) = SkewAudit.audit(spark) {
        uniform.repartition(8, $"k").rdd.count()
      }
      val even = evenReport.filter(s => s.tasks >= 8 && s.maxShuffleReadBytes > 0)
      assert(even.nonEmpty && even.forall(_.shuffleSkew < 2.0),
        s"uniform keys must stay balanced: ${even.map(_.shuffleSkew)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("DbWriter.run counts only its own jobs while another thread writes") {
    import graft.connections.{FileTableConnection, IfExists}
    val root = tmpDir("metrics-scope")
    val go = new java.util.concurrent.CountDownLatch(1)
    @volatile var otherFailure: Option[Throwable] = None
    // started BEFORE the measured call; its 1000-row write runs entirely
    // inside the measured window (released by the measured write)
    val other = new Thread(() =>
      try {
        go.await()
        spark.range(1000).coalesce(1).write.parquet(s"$root/other")
      } catch { case t: Throwable => otherFailure = Some(t) })
    other.start()
    val conn = new FileTableConnection(spark, root) {
      override def writeDfToTarget(df: org.apache.spark.sql.DataFrame,
                                   target: String, ifExists: IfExists,
                                   options: Map[String, String]): Unit = {
        super.writeDfToTarget(df, target, ifExists, options)
        go.countDown()
        other.join()
      }
    }
    val metrics = graft.operators.DbWriter(conn, "mine")
      .run(spark.range(10).toDF("id").coalesce(1))
    assert(otherFailure.isEmpty, otherFailure)
    assert(spark.read.parquet(s"$root/other").count() === 1000L)
    assert(metrics.outputRows === 10L, metrics)
  }

  test("saltedJoin: identical result to plain join, spread over salts") {
    import graft.operators.Joins
    // 10k rows all on key 1 (hot) + 100 spread keys, joined to a small dim
    val big = spark.range(10100)
      .withColumn("k", when($"id" < 10000, lit(1L)).otherwise($"id" % 100))
      .withColumn("v", $"id" * 2)
    val dim = (0L until 100L).map(k => (k, s"name$k")).toDF("dk", "name")
    val plain = big.join(dim, big("k") === dim("dk"))
      .select($"id", $"name").as[(Long, String)].collect().toSet
    val salted = Joins.saltedJoin(big, dim, Seq("k"), Seq("dk"), factor = 8)
      .select($"id", $"name").as[(Long, String)].collect().toSet
    assert(salted == plain)
    // left join keeps unmatched big rows exactly once
    val bigWithMiss = big.withColumn("k",
      when($"id" === 0, lit(-1L)).otherwise($"k"))
    val leftS = Joins.saltedJoin(bigWithMiss, dim, Seq("k"), Seq("dk"),
      factor = 4, joinType = "left")
    assert(leftS.count() == bigWithMiss.join(dim,
      bigWithMiss("k") === dim("dk"), "left").count())
  }
}
