package graft

import graft.connections.FileTableConnection
import graft.hooks.{GraftListener, GraftListeners}
import graft.metrics.SparkCommandMetrics
import graft.operators.{DbReader, DbWriter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan audits: at 100 TB the plan IS the product. These specs
  * pin the properties that make the engine scale — predicate pushdown into
  * the parquet scan, column pruning, broadcast joins for small dims — so a
  * regression in any operator's plan fails CI, not a cluster bill. */
class PlanAuditSpec extends SparkSpec {
  import spark.implicits._

  private lazy val conn = new FileTableConnection(spark, "/root/testdata/sf0.001")

  private def formatted(df: DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }

  test("DbReader filters are pushed into the parquet scan") {
    val df = DbReader(conn, "lineitem",
      columns = Seq("l_orderkey", "l_quantity"),
      where = Seq("l_quantity <= 25", "l_returnflag = 'A'")).run()
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("PushedFilters:") &&
      scan.contains("LessThanOrEqual(l_quantity,25.0)"), scan)
  }

  test("DbReader column projection prunes the read schema") {
    val df = DbReader(conn, "lineitem", columns = Seq("l_orderkey", "l_quantity")).run()
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"projection must reach the scan, got: $scan")
  }

  test("HWM window predicate reaches the scan as a pushed filter") {
    import graft.core._
    val store = new InMemoryHwmStore
    store.set(IntHwm("orders.o_orderkey", "orders", "o_orderkey", Some(500L)))
    val df = Strategy.using(new IncrementalStrategy(store = store)) {
      DbReader(conn, "orders", hwm = Some(graft.operators.HwmColumn("o_orderkey"))).run()
    }
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("GreaterThan(o_orderkey,500)"), scan)
  }

  test("small dimension joins broadcast (no shuffle of the big side)") {
    val li = DbReader(conn, "lineitem").run()
    val supp = DbReader(conn, "supplier").run()
    val joined = li.join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
      .groupBy($"s_name").agg(sum($"l_quantity"))
    val plan = formatted(joined)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("aggregations are partial (map-side combine) before the shuffle") {
    val df = DbReader(conn, "lineitem").run()
      .groupBy($"l_returnflag").agg(sum($"l_quantity"))
    val plan = formatted(df)
    // HashAggregate(partial) -> Exchange -> HashAggregate(final)
    assert(plan.contains("partial_sum"), plan)
  }

  test("custom expressions compile into whole-stage generated code") {
    val df = DbReader(conn, "documents").run()
      .select(
        graft.expressions.GraftExpressions.fingerprint64($"text").as("fp"),
        graft.expressions.GraftExpressions.simhash64(
          graft.functions.TextFunctions.tokens($"text")).as("sh"))
    val code = df.queryExecution.debug.codegenToSeq().map(_._2).mkString
    // the static helper calls must appear in the generated Java — i.e. the
    // expressions codegen'd rather than falling back to interpreted eval
    assert(code.contains("graft.expressions.TextHashImpl.fnv1a64"), "fingerprint64 fell out of codegen")
    assert(code.contains("graft.expressions.TextHashImpl.simhash"), "simhash64 fell out of codegen")
    // PQ hot path: encode + ADC scoring must stay inside codegen too.
    // Inputs derive from the row id — all-literal children would be
    // constant-folded away before codegen and vacuously "pass".
    import org.apache.spark.sql.functions.{array, lit}
    val cb = Array.fill(4)(Array.fill(4)(Array.fill(2)(0.1)))
    val pqDf = spark.range(3)
      .select(array((0 until 8).map(i => $"id" * lit(i * 0.5)): _*).as("v"))
      .select(graft.expressions.GraftExpressions.pqEncode($"v", cb).as("code"))
      .select($"code", array((0 until 16).map(i => ($"code" + lit(i)).cast("double")): _*).as("tbl"))
      .select(graft.expressions.GraftExpressions.pqAdcScore($"code", $"tbl",
        m = 4, ks = 4).as("s"))
    val pqCode = pqDf.queryExecution.debug.codegenToSeq().map(_._2).mkString
    assert(pqCode.contains("graft.expressions.VectorImpl.pqEncode"), "pq_encode fell out of codegen")
    assert(pqCode.contains("graft.expressions.VectorImpl.pqAdc"), "pq_adc_score fell out of codegen")
    // `*(n)` prefixes mark operators inside a WholeStageCodegen stage
    assert(formatted(df).linesIterator.exists(l =>
      l.contains("*(") && l.contains("Project")), formatted(df))
  }

  test("estimateDataFrameBytes tracks plan statistics and column pruning") {
    val full = DbReader(conn, "lineitem").run()
    val pruned = DbReader(conn, "lineitem", columns = Seq("l_orderkey")).run()
    val fullB = graft.util.SparkUtils.estimateDataFrameBytes(full)
    val prunedB = graft.util.SparkUtils.estimateDataFrameBytes(pruned)
    assert(fullB > 0 && prunedB > 0 && prunedB < fullB,
      s"pruned estimate must shrink: $prunedB vs $fullB")
  }

  test("listeners fire around reads and writes, afterRead may rewrite") {
    var events = List.empty[String]
    val tagger = new GraftListener {
      override def beforeRead(source: String): Unit = events ::= s"br:$source"
      override def afterRead(source: String, df: DataFrame): DataFrame = {
        events ::= s"ar:$source"
        df.withColumn("tagged", lit(true))
      }
      override def beforeWrite(target: String, df: DataFrame): Unit =
        events ::= s"bw:$target"
      override def afterWrite(target: String, m: SparkCommandMetrics): Unit =
        events ::= s"aw:$target:${m.outputRows}"
    }
    val out = new FileTableConnection(spark, tmpDir("listener"))
    GraftListeners.withListener(tagger) {
      val df = DbReader(conn, "region").run()
      assert(df.columns.contains("tagged"), "afterRead rewrite applied")
      DbWriter(out, "region_copy").run(df)
    }
    assert(events.reverse.take(3) == List("br:region", "ar:region", "bw:region_copy"))
    assert(events.head.startsWith("aw:region_copy:5"), events.head)
    assert(GraftListeners.active.isEmpty, "withListener must unregister")
  }

  test("deterministic sampling is map-only: no exchange, filter fused in codegen") {
    val docs = DbReader(conn, "documents").run()
    val sampled = graft.operators.Sampling.stratifiedSampleByKey(
      docs, "doc_id", "source", Map("src0" -> 0.5), default = 0.1)
    val plan = formatted(sampled)
    assert(!plan.contains("Exchange"), s"sampling must not shuffle:\n$plan")
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("Filter")),
      s"sampling filter must stay inside WholeStageCodegen:\n$plan")
  }

  test("packChunks plans one shuffle on the group key, window after it") {
    val docs = DbReader(conn, "documents").run()
      .select($"doc_id", $"source",
        graft.functions.TextFunctions.tokenCount($"text").as("n_tokens"))
    val packed = graft.operators.Packing.packChunks(
      docs, Seq("source"), "doc_id", "n_tokens", 512L)
    val plan = formatted(packed)
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected exactly one shuffle (group key), got $exchanges:\n$plan")
    assert(plan.contains("Window"), plan)
  }

  test("ngram jaccard length filter is part of the join, not a post-filter") {
    val docs = DbReader(conn, "documents").run()
    val pairs = graft.operators.Dedup.ngramJaccardDupPairs(
      docs, "doc_id", "text", shingleSize = 3, threshold = 0.7)
    // the pruning predicate must sit in the join condition so pairs die
    // before the per-pair aggregation; SortMergeJoin prints it in its
    // condition, and no separate Filter on n_sh may appear above the join
    val plan = formatted(pairs)
    assert(plan.contains("Join") || plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("n_sh"), s"length filter missing from plan:\n$plan")
  }
}
