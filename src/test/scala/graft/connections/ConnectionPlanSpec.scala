package graft.connections

import graft.dialects._
import org.scalatest.funsuite.AnyFunSuite

/** Golden tests for the pure read planners — the parts of the JDBC/Kafka/
  * Mongo connections that decide what SQL/offsets/pipelines reach the
  * remote engine (no live databases in this environment). */
class JdbcReadPlanSpec extends AnyFunSuite {
  private def bounds = (Some(100L): Option[Any], Some(200L): Option[Any])

  test("no partitioning: pushdown subquery") {
    val p = JdbcReadPlan.plan(PostgresDialect, "public.t",
      Seq("id", "name"), Seq("id > 5"), None, None, None, bounds)
    assert(p.options == Map("dbtable" -> "(SELECT id, name FROM public.t WHERE id > 5) T"))
    assert(p.dropColumns.isEmpty)
  }

  test("range partitioning with explicit bounds") {
    val p = JdbcReadPlan.plan(PostgresDialect, "t", Nil, Nil, None, None,
      Some(JdbcPartitioning(8, "id", PartitioningMode.Range, Some(0L), Some(1000L))),
      sys.error("must not probe bounds"))
    assert(p.options("partitionColumn") == "id")
    assert(p.options("lowerBound") == "0" && p.options("upperBound") == "1000")
    assert(p.options("numPartitions") == "8")
  }

  test("range partitioning auto-detects missing bounds via MIN/MAX") {
    val p = JdbcReadPlan.plan(PostgresDialect, "t", Nil, Nil, None, None,
      Some(JdbcPartitioning(4, "id")), bounds)
    assert(p.options("lowerBound") == "100" && p.options("upperBound") == "200")
  }

  test("range bounds render as strings Spark's JDBC partitioner parses") {
    val p = JdbcReadPlan.plan(PostgresDialect, "t", Nil, Nil, None, None,
      Some(JdbcPartitioning(4, "ts")),
      (Some(java.time.Instant.parse("2024-03-15T12:30:45Z")),
       Some(java.time.LocalDate.parse("2024-03-16"))))
    assert(p.options("lowerBound") == "2024-03-15T12:30:45Z")
    assert(p.options("upperBound") == "2024-03-16")
    // a decimal rounds outward to the integers Spark parses for numbers
    assert(JdbcReadPlan.boundString(BigDecimal("-2.5"), up = false) == "-3")
    assert(JdbcReadPlan.boundString(new java.math.BigDecimal("7.25"), up = true) == "8")
    assert(JdbcReadPlan.boundString(42L, up = true) == "42")
  }

  test("hash partitioning synthesizes an aliased bucket column and drops it") {
    val p = JdbcReadPlan.plan(PostgresDialect, "t", Seq("id", "name"), Nil,
      None, None, Some(JdbcPartitioning(8, "id", PartitioningMode.Hash)),
      sys.error("hash mode must not probe bounds"))
    val alias = JdbcReadPlan.generatedAlias("id", PartitioningMode.Hash)
    assert(p.options("dbtable") ==
      s"(SELECT id, name, abs(hashtext(id::text)) % 8 AS $alias FROM t) T")
    assert(p.options("partitionColumn") == alias)
    assert(p.options("lowerBound") == "0" && p.options("upperBound") == "8")
    assert(p.dropColumns == Seq(alias))
  }

  test("mod partitioning per dialect") {
    val p = JdbcReadPlan.plan(OracleDialect, "t", Nil, Nil, None, None,
      Some(JdbcPartitioning(4, "id", PartitioningMode.Mod)),
      sys.error("no probe"))
    val alias = JdbcReadPlan.generatedAlias("id", PartitioningMode.Mod)
    // Oracle expands bare * to t.* when mixed with expressions
    assert(p.options("dbtable") == s"(SELECT t.*, ABS(MOD(id, 4)) AS $alias FROM t) T")
  }

  test("window + hint + limit compose in the pushdown SQL") {
    val p = JdbcReadPlan.plan(MssqlDialect, "t", Seq("a"),
      Seq("a > 1", "ts >= CAST('2024-01-01T00:00:00' AS datetime2)"),
      Some("INDEX(i)"), Some(10), None, bounds)
    assert(p.options("dbtable") ==
      "(SELECT TOP 10 /*+ INDEX(i) */ a FROM t WHERE (a > 1) AND " +
        "(ts >= CAST('2024-01-01T00:00:00' AS datetime2))) T")
  }

  test("prohibited passthrough options are rejected (jdbc options.py:22-33)") {
    intercept[IllegalArgumentException](
      JdbcOptions("jdbc:derby:memory:x", extra = Map("url" -> "jdbc:evil")))
    intercept[IllegalArgumentException](
      JdbcOptions("jdbc:derby:memory:x", extra = Map("partitionColumn" -> "id")))
    // benign driver tuning keys still pass through
    JdbcOptions("jdbc:derby:memory:x", extra = Map("ssl" -> "true"))
    JdbcOptions.requireAllowed(Map("batchsize" -> "10000"), "w")
    intercept[IllegalArgumentException](
      JdbcOptions.requireAllowed(Map("DBTABLE" -> "t2"), "w"))
  }
}

class KafkaPlannerSpec extends AnyFunSuite {
  test("offset window json; missing partitions default to 0") {
    assert(KafkaPlanner.offsetsJson("top", Map(0 -> 5L, 1 -> 9L)) ==
      """{"top": {"0": 5, "1": 9}}""")
    assert(KafkaPlanner.offsetsJson("top", Map(1 -> 9L), fillFrom = Set(0, 1)) ==
      """{"top": {"0": 0, "1": 9}}""")
  }
  test("read options: earliest/latest defaults, explicit windows") {
    assert(KafkaPlanner.readOptions("t", None, None) ==
      Map("subscribe" -> "t", "startingOffsets" -> "earliest",
        "endingOffsets" -> "latest"))
    val opts = KafkaPlanner.readOptions("t", Some(Map(0 -> 3L)), Some(Map(0 -> 7L, 1 -> 2L)))
    assert(opts("startingOffsets") == """{"t": {"0": 3, "1": 0}}""")
    assert(opts("endingOffsets") == """{"t": {"0": 7, "1": 2}}""")
  }
  test("write column contract") {
    KafkaPlanner.validateWriteColumns(Seq("key", "value"))
    intercept[IllegalArgumentException](KafkaPlanner.validateWriteColumns(Seq("key")))
    intercept[IllegalArgumentException](
      KafkaPlanner.validateWriteColumns(Seq("value", "oops")))
  }
  test("headers column requires includeHeaders=true (kafka/connection.py:312-314)") {
    KafkaPlanner.validateWriteColumns(Seq("value", "headers"), includeHeaders = true)
    intercept[IllegalArgumentException](
      KafkaPlanner.validateWriteColumns(Seq("value", "headers"), includeHeaders = false))
  }
  test("fixed read schema matches the kafka source contract") {
    assert(KafkaPlanner.readSchema.fieldNames.toSeq ==
      Seq("key", "value", "topic", "partition", "offset", "timestamp", "timestampType"))
  }

  test("clampWindow: offsets clamp into the topic's live range (connection.py:498-553)") {
    val beginning = Map(0 -> 100L, 1 -> 0L)
    val end = Map(0 -> 900L, 1 -> 50L)
    // stored p0 offset 40 predates retention (beginning 100) -> snaps to 100;
    // stop asking past the live end (2000) -> clamps to 900
    val (mins, maxs) = KafkaPlanner.clampWindow(beginning, end,
      windowStart = Some(Map(0 -> 40L, 1 -> 10L)),
      windowStop = Some(Map(0 -> 2000L)))
    assert(mins == Map(0 -> 100L, 1 -> 10L))
    assert(maxs == Map(0 -> 900L, 1 -> 50L))
    // no window at all -> live bounds verbatim
    assert(KafkaPlanner.clampWindow(beginning, end, None, None) ==
      (beginning, end))
  }

  test("consumer-admin min/max across two runs feeds KeyValueHwm; added partition surfaces (connection.py:498-553)") {
    import graft.core.KeyValueIntHwm
    // run 1: no stored window — min/max are the live bounds verbatim
    var hwm = KeyValueIntHwm("hwm_mm", "events")
    val probe1 = KafkaPlanner.minMaxOffsets(
      beginning = Map(0 -> 0L, 1 -> 0L), end = Map(0 -> 120L, 1 -> 45L))
    assert(probe1 == Map(0 -> ((0L, 120L)), 1 -> ((0L, 45L))))
    assert(KafkaPlanner.hasData(probe1))
    hwm = hwm.withValue(probe1.view.mapValues(_._2).toMap)
      .asInstanceOf[KeyValueIntHwm]

    // run 2: partition 2 created since run 1, p0 advanced, p1 idle, and
    // p0's early offsets expired (beginning 30). Window start = stored
    // HWM: p0 resumes at 120, p1's window is empty (45,45), p2 appears
    // only in the live probe -> full live range (0, 30)
    val probe2 = KafkaPlanner.minMaxOffsets(
      beginning = Map(0 -> 30L, 1 -> 0L, 2 -> 0L),
      end = Map(0 -> 200L, 1 -> 45L, 2 -> 30L),
      windowStart = Some(hwm.value))
    assert(probe2 == Map(0 -> ((120L, 200L)), 1 -> ((45L, 45L)), 2 -> ((0L, 30L))))
    assert(KafkaPlanner.hasData(probe2))
    hwm = hwm.withValue(probe2.view.mapValues(_._2).toMap)
      .asInstanceOf[KeyValueIntHwm]
    assert(hwm.value == Map(0 -> 200L, 1 -> 45L, 2 -> 30L))

    // stored offsets past retention snap FORWARD to beginning (no
    // under-read), and a fully drained topic reports no data
    val expired = KafkaPlanner.minMaxOffsets(
      beginning = Map(0 -> 500L), end = Map(0 -> 500L),
      windowStart = Some(Map(0 -> 200L)))
    assert(expired == Map(0 -> ((500L, 500L))))
    assert(!KafkaPlanner.hasData(expired))
  }

  test("incremental KeyValueIntHwm stepping across two runs, new partition defaults to 0") {
    import graft.core.KeyValueIntHwm
    // run 1: empty HWM, topic has 2 partitions. The reference fills every
    // ending partition absent from the (empty) start side with offset 0
    // (kafka/connection.py:272-276), so run 1 reads [0, end) explicitly.
    var hwm = KeyValueIntHwm("hwm_events", "events")
    val (opts1, maxs1) = KafkaPlanner.planIncremental("events",
      hwm.value, beginning = Map(0 -> 0L, 1 -> 0L), end = Map(0 -> 120L, 1 -> 45L))
    assert(opts1("startingOffsets") == """{"events": {"0": 0, "1": 0}}""")
    assert(opts1("endingOffsets") == """{"events": {"0": 120, "1": 45}}""")
    hwm = hwm.withValue(maxs1).asInstanceOf[KeyValueIntHwm]
    assert(hwm.value == Map(0 -> 120L, 1 -> 45L))

    // run 2: topic grew a partition (2) and both old partitions advanced.
    // New partition appears only on the stop side -> start defaults to 0;
    // old partitions resume exactly at the stored offsets.
    val (opts2, maxs2) = KafkaPlanner.planIncremental("events",
      hwm.value, beginning = Map(0 -> 0L, 1 -> 0L, 2 -> 0L),
      end = Map(0 -> 200L, 1 -> 45L, 2 -> 30L))
    assert(opts2("startingOffsets") == """{"events": {"0": 120, "1": 45, "2": 0}}""")
    assert(opts2("endingOffsets") == """{"events": {"0": 200, "1": 45, "2": 30}}""")
    hwm = hwm.withValue(maxs2).asInstanceOf[KeyValueIntHwm]
    assert(hwm.value == Map(0 -> 200L, 1 -> 45L, 2 -> 30L))

    // a later stale/partial update must neither erase partitions nor
    // move any offset backwards (etl-entities KeyValueIntHWM.update)
    hwm = hwm.withValue(Map(0 -> 150L)).asInstanceOf[KeyValueIntHwm]
    assert(hwm.value == Map(0 -> 200L, 1 -> 45L, 2 -> 30L))
  }
}

class IcebergPlannerSpec extends AnyFunSuite {
  import graft.connections.IcebergPlanner._
  import graft.connections.IfExists

  test("V2 write-mode matrix matches iceberg/connection.py:448-473") {
    val modes = Seq(IfExists.Append, IfExists.Error, IfExists.Ignore,
      IfExists.ReplaceOverlappingPartitions, IfExists.ReplaceEntireTable)
    // missing table: every mode creates (reference always routes through
    // _save_as_table -> createOrReplace when the target doesn't exist)
    modes.foreach(m => assert(plan(tableExists = false, m) == CreateOrReplace, m))
    // existing table: the five modes map to the five distinct actions
    assert(plan(tableExists = true, IfExists.Append) == Append)
    assert(plan(tableExists = true, IfExists.Error) == Reject)
    assert(plan(tableExists = true, IfExists.Ignore) == Noop)
    assert(plan(tableExists = true, IfExists.ReplaceOverlappingPartitions) ==
      OverwritePartitions)
    assert(plan(tableExists = true, IfExists.ReplaceEntireTable) == CreateOrReplace)
  }
}

class MongoDialectSpec extends AnyFunSuite {
  import graft.core.Edge

  test("window edges render as $gt/$gte/$lt/$lte json") {
    assert(MongoDialect.edgeToJson("id", Edge.exclusive(10L), isStart = true)
      .contains("""{"id": {"$gt": 10}}"""))
    assert(MongoDialect.edgeToJson("id", Edge.inclusive(10L), isStart = false)
      .contains("""{"id": {"$lte": 10}}"""))
  }
  test("datetime values render as $date") {
    val t = java.time.Instant.parse("2024-01-02T03:04:05Z")
    assert(MongoDialect.serializeJsonValue(t) ==
      """{"$date": "2024-01-02T03:04:05Z"}""")
  }
  test("match stage conjunction") {
    assert(MongoDialect.matchStage(Seq("""{"a": 1}""")).contains(
      """{"$match": {"a": 1}}"""))
    assert(MongoDialect.matchStage(Seq("""{"a": 1}""", """{"b": 2}""")).contains(
      """{"$match": {"$and": [{"a": 1}, {"b": 2}]}}"""))
  }
  test("min/max $group pipeline") {
    assert(MongoDialect.minMaxPipeline("hwm", Nil) ==
      """[{"$group": {"_id": 1, "min": {"$min": "$hwm"}, "max": {"$max": "$hwm"}}}]""")
  }

  test("incremental window flows through applyWindow as valid $match JSON") {
    // the DbReader path calls dialect.applyWindow — for Mongo the edge
    // conjuncts must be JSON fragments (not SQL like `id > 10`), and the
    // assembled $match stage must parse as JSON
    val w = graft.core.Window("id", Edge.exclusive(10L), Edge.inclusive(100L))
    val conjuncts = MongoDialect.applyWindow(Seq("""{"kind": "click"}"""), Some(w))
    assert(conjuncts == Seq("""{"kind": "click"}""",
      """{"id": {"$gt": 10}}""", """{"id": {"$lte": 100}}"""))
    val stage = MongoDialect.matchStage(conjuncts).get
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(stage)
    assert(parsed.path("$match").path("$and").size() == 3)
    assert(parsed.path("$match").path("$and").get(1)
      .path("id").path("$gt").asLong() == 10L)
  }

  test("where rejects pipeline stage operators; filters pass (dialect.py:161-175)") {
    // plain filters and $and/$or/$eq operators are fine
    MongoDialect.validateWhere("""{"col": {"$eq": 1}}""")
    MongoDialect.validateWhere("""{"$and": [{"a": 1}, {"b": {"$gt": 2}}]}""")
    // $match double-wraps (the engine adds the stage itself)
    val m = intercept[IllegalArgumentException](
      MongoDialect.validateWhere("""{"$match": {"a": 1}}"""))
    assert(m.getMessage.contains("$match"))
    // stage operators would smuggle pipeline stages ($out even WRITES)
    // through a read filter
    Seq("$group", "$out", "$merge", "$lookup", "$unionWith").foreach { op =>
      val e = intercept[IllegalArgumentException](
        MongoDialect.validateWhere(s"""{"$op": {"x": 1}}"""))
      assert(e.getMessage.contains(op))
    }
    // NESTED occurrences are legal (e.g. a field literally matching a
    // stage name inside $elemMatch) — only top-level keys are stages
    MongoDialect.validateWhere("""{"tags": {"$elemMatch": {"$group": "x"}}}""")
  }

  test("where validation is not bypassable with JSON escape sequences") {
    // build the payload programmatically: a literal $ in Scala source
    // would be decoded by the COMPILER, not exercise the validator.
    // "{"$out": "other_coll"}" decodes to $out in any JSON parser —
    // the validator must normalize escapes before checking, or the write
    // stage smuggles in
    val smuggledOut = "{\"" + "\\u0024" + "out\": \"other_coll\"}"
    val e = intercept[IllegalArgumentException](
      MongoDialect.validateWhere(smuggledOut))
    assert(e.getMessage.contains("$out"))
    val smuggledMatch = "{\"" + "\\u0024" + "match\": {\"a\": 1}}"
    val m = intercept[IllegalArgumentException](
      MongoDialect.validateWhere(smuggledMatch))
    assert(m.getMessage.contains("$match"))
    // escaped characters inside ordinary field names decode correctly
    // and remain legal
    MongoDialect.validateWhere("""{"a\"b\\cA": {"$eq": 1}}""")
    assert(MongoDialect.topLevelKeys("""{"a\"b\\cA": 1, "$x": 2}""")
      === Seq("a\"b\\cA", "$x"))
  }

  test("hint renders into the mongodb read options (connection.py:422-426)") {
    val spark = graft.TestSpark.spark
    val c = new MongoDbConnection(spark, "mongodb://h:27017", "db")
    val opts = c.readOptions("events", """[{"$match": {"a": 1}}]""",
      hint = Some("""{"user_id": 1}"""))
    assert(opts("collection") == "events")
    assert(opts("aggregation.pipeline") == """[{"$match": {"a": 1}}]""")
    assert(opts("hint") == """{"user_id": 1}""")
    assert(opts("connection.uri") == "mongodb://h:27017")
    assert(!c.readOptions("events", "[]").contains("hint"))
  }

  test("min/max pipeline under a window is valid JSON with $match before $group") {
    val w = graft.core.Window("hwm", Edge.exclusive(5L), Edge.inclusive(9L))
    val pipeline = MongoDialect.minMaxPipeline("hwm",
      MongoDialect.applyWindow(Nil, Some(w)))
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(pipeline)
    assert(parsed.isArray && parsed.size() == 2)
    assert(parsed.get(0).has("$match") && parsed.get(1).has("$group"))
  }
}

class HiveConnectionSpec extends graft.SparkSpec {
  import spark.implicits._

  test("saveAsTable + append + column realignment + replace partitions") {
    val conn = new HiveConnection(spark).check()
    val df = Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("id", "name", "part")
    conn.write(df, "hive_t", HiveWriteOptions(partitionBy = Seq("part")))
    assert(spark.table("hive_t").count() == 2)

    // append with SHUFFLED column order — realignment must fix positions
    val shuffled = Seq(("c", 3L, "p1")).toDF("name", "id", "part")
    conn.write(shuffled, "hive_t", HiveWriteOptions(ifExists = IfExists.Append))
    val rows = spark.table("hive_t").orderBy($"id").collect()
    assert(rows.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L, 3L))
    assert(rows.map(_.getAs[String]("name")).toSeq == Seq("a", "b", "c"))

    // replace only partition p2
    val patch = Seq((9L, "z", "p2")).toDF("id", "name", "part")
    conn.write(patch, "hive_t",
      HiveWriteOptions(ifExists = IfExists.ReplaceOverlappingPartitions))
    val after = spark.table("hive_t")
    assert(after.filter($"part" === "p2").count() == 1)
    assert(after.filter($"part" === "p1").count() == 2)

    // missing column rejected
    intercept[IllegalArgumentException] {
      conn.write(Seq(1L).toDF("id"), "hive_t",
        HiveWriteOptions(ifExists = IfExists.Append))
    }

    // reader path via connection.sql + DbReader
    val got = graft.operators.DbReader(conn, "hive_t",
      columns = Seq("id", "name"), where = Seq("part = 'p1'")).run()
    assert(got.count() == 2)
    assert(conn.sql("SELECT count(*) AS n FROM hive_t").head().getLong(0) == 3)
    spark.sql("DROP TABLE hive_t")
  }
}
