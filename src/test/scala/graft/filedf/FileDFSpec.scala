package graft.filedf

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class FileDFSpec extends SparkSpec {
  import spark.implicits._

  private def sample = Seq(
    (1L, "alpha", "2024-01-01"), (2L, "beta", "2024-01-02"),
    (3L, "gamma", "2024-01-02"), (4L, "delta", "2024-01-03"))
    .toDF("id", "name", "day")

  test("csv roundtrip with explicit schema") {
    val dir = tmpDir("csv")
    FileDFWriter(Csv.withHeader(), dir, DirIfExists.ReplaceEntireDirectory).run(sample)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("day", StringType)))
    val back = FileDFReader(spark, Csv.withHeader(), dir, Some(schema)).run()
    assert(back.count() == 4)
    assert(back.schema == schema)
    assert(back.orderBy($"id").collect().map(_.getString(1)).toSeq ==
      Seq("alpha", "beta", "gamma", "delta"))
  }

  test("jsonline + orc + parquet roundtrip") {
    for (fmt <- Seq(JsonLine(), Orc(), Parquet())) {
      val dir = tmpDir(fmt.name)
      FileDFWriter(fmt, dir, DirIfExists.ReplaceEntireDirectory).run(sample)
      val back = FileDFReader(spark, fmt, dir).run()
      assert(back.count() == 4, fmt)
    }
  }

  test("avro roundtrip (Spark 4 ships the source in spark-sql)") {
    val dir = tmpDir("avro")
    FileDFWriter(Avro(), dir, DirIfExists.ReplaceEntireDirectory).run(sample)
    val back = FileDFReader(spark, Avro(), dir).run()
    assert(back.count() == 4)
    assert(back.orderBy($"id").collect().map(_.getString(1)).toSeq ==
      Seq("alpha", "beta", "gamma", "delta"))
  }

  test("avro column codecs roundtrip binary payloads") {
    // Avro binary carries no schema — the reader must use the WRITER's
    // record schema, which for a nullable string field is a union type
    val schema = graft.expressions.AvroCodecs.writerSchemaJson(
      sample.select(struct($"id", $"name")).schema.fields(0).dataType)
    val enc = sample.select($"id", $"name",
      ColumnCodecs.serializeAvroColumn(struct($"id", $"name")).as("bin"))
    assert(enc.schema("bin").dataType == BinaryType)
    val dec = enc.select(ColumnCodecs.parseAvroColumn($"bin", schema).as("r"))
      .select($"r.id", $"r.name").orderBy($"id")
    assert(dec.as[(Long, String)].collect().toSeq ==
      Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "delta")))
  }

  test("xml roundtrip (Spark 4 native)") {
    val dir = tmpDir("xml")
    FileDFWriter(Xml("row"), dir, DirIfExists.ReplaceEntireDirectory).run(sample)
    val back = FileDFReader(spark, Xml("row"), dir).run()
    assert(back.count() == 4)
  }

  test("multiline Json format is read-only") {
    intercept[IllegalArgumentException] {
      FileDFWriter(Json(), tmpDir("json"), DirIfExists.Error).run(sample)
    }
  }

  test("prohibited option guard") {
    intercept[IllegalArgumentException](Csv(Map("path" -> "/evil")))
  }

  test("explicit file list read with basePath keeps partition columns") {
    val dir = tmpDir("list")
    FileDFWriter(Parquet(), dir, DirIfExists.ReplaceEntireDirectory,
      partitionBy = Seq("day")).run(sample)
    val files = new java.io.File(s"$dir/day=2024-01-02").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq
    val back = FileDFReader(spark, Parquet(), dir).run(files)
    assert(back.columns.contains("day"), "basePath must preserve partition column")
    assert(back.count() == 2)
  }

  test("ifExists modes: append / skip / error / replace_overlapping_partitions") {
    val dir = tmpDir("modes")
    val w = FileDFWriter(Parquet(), dir, DirIfExists.ReplaceEntireDirectory,
      partitionBy = Seq("day"))
    w.run(sample)
    FileDFWriter(Parquet(), dir, DirIfExists.Append, Seq("day")).run(sample)
    assert(FileDFReader(spark, Parquet(), dir).run().count() == 8)
    FileDFWriter(Parquet(), dir, DirIfExists.SkipEntireDirectory, Seq("day")).run(sample)
    assert(FileDFReader(spark, Parquet(), dir).run().count() == 8)
    intercept[Exception] {
      FileDFWriter(Parquet(), dir, DirIfExists.Error, Seq("day")).run(sample)
    }
    // dynamic overwrite: replace only day=2024-01-03, keep others
    val patch = Seq((99L, "omega", "2024-01-03")).toDF("id", "name", "day")
    FileDFWriter(Parquet(), dir, DirIfExists.ReplaceOverlappingPartitions,
      Seq("day")).run(patch)
    val back = FileDFReader(spark, Parquet(), dir).run()
    assert(back.filter($"day" === "2024-01-03").count() == 1)
    assert(back.filter($"day" === "2024-01-01").count() == 2)
    // conf restored afterwards
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static") != "dynamic")
  }

  test("replace modes override the session's partitionOverwriteMode and leave it alone") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val patch = Seq((99L, "omega", "2024-01-03")).toDF("id", "name", "day")
    def days(dir: String): Set[String] =
      FileDFReader(spark, Parquet(), dir).run().select($"day").as[String].collect().toSet
    try {
      for ((session, ifExists, left) <- Seq(
             ("dynamic", DirIfExists.ReplaceEntireDirectory, Set("2024-01-03")),
             ("static", DirIfExists.ReplaceOverlappingPartitions,
              Set("2024-01-01", "2024-01-02", "2024-01-03")))) {
        spark.conf.set(key, session)
        val dir = tmpDir(s"overwrite-$session")
        FileDFWriter(Parquet(), dir, DirIfExists.ReplaceEntireDirectory, Seq("day")).run(sample)
        FileDFWriter(Parquet(), dir, ifExists, Seq("day")).run(patch)
        assert(days(dir) == left, s"$ifExists under a $session session")
        assert(spark.conf.get(key) == session)
      }
    } finally spark.conf.unset(key)
  }

  test("column codecs: from/to csv + json + xml") {
    val schema = StructType(Seq(StructField("a", IntegerType), StructField("b", StringType)))
    val df = Seq("1,x", "2,y").toDF("raw")
      .withColumn("parsed", ColumnCodecs.parseCsvColumn($"raw", schema))
    assert(df.select($"parsed.a").as[Int].collect().toSeq == Seq(1, 2))
    val back = df.select(ColumnCodecs.serializeCsvColumn($"parsed").as("csv"))
    assert(back.as[String].collect().toSeq == Seq("1,x", "2,y"))

    val jdf = Seq("""{"a":5,"b":"z"}""").toDF("raw")
      .withColumn("parsed", ColumnCodecs.parseJsonColumn($"raw", schema))
    assert(jdf.select($"parsed.a").as[Int].head() == 5)
    assert(jdf.select(ColumnCodecs.serializeJsonColumn(struct(lit(7).as("a"))))
      .as[String].head() == """{"a":7}""")

    val xdf = Seq("<r><a>3</a><b>w</b></r>").toDF("raw")
      .withColumn("parsed", ColumnCodecs.parseXmlColumn($"raw", schema))
    assert(xdf.select($"parsed.a").as[Int].head() == 3)
  }
}
