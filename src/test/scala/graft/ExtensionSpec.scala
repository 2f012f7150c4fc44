package graft

import graft.expressions.GraftExpressions

class ExtensionSpec extends SparkSpec {

  test("custom expressions are callable from SQL after registration") {
    GraftExpressions.register(spark)
    val r = spark.sql(
      """SELECT fingerprint64('hello world') AS fp,
        |       simhash64(array('a','b','c')) AS sh,
        |       cosine_similarity(array(1.0, 0.0), array(1.0, 0.0)) AS cos
        |""".stripMargin).head()
    assert(r.getLong(0) == graft.expressions.TextHashImpl.fnv1a64(
      org.apache.spark.unsafe.types.UTF8String.fromString("hello world")))
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
    val r2 = spark.sql(
      """SELECT unicode_normalize('café') AS nfc,
        |       percent_normalize('a%7eb%3f') AS pn,
        |       idn_ascii('münchen.de') AS idn,
        |       compression_ratio('xyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxy') AS cr,
        |       size(random_project(array(1.0, 2.0, 3.0), 8)) AS rp
        |""".stripMargin).head()
    assert(r2.getString(0) === "café")
    assert(r2.getString(1) === "a~b%3F")
    assert(r2.getString(2) === "xn--mnchen-3ya.de")
    assert(r2.getDouble(3) < 0.6)
    assert(r2.getInt(4) === 8)
  }

  test("GraftSparkExtension injects functions into a fresh session") {
    org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.extensions", "graft.GraftSparkExtension")
      .getOrCreate()
    // getOrCreate may return the existing session (extensions then applied
    // at builder time only for new ones) — register() covers that path in
    // the other test; here we at least prove the class wires up.
    val ext = new GraftSparkExtension
    ext.apply(new org.apache.spark.sql.SparkSessionExtensions)
    val df = spark.sql("SELECT word_shingles('a b c d', 2) AS sh")
    assert(df.head().getSeq[String](0) == Seq("a b", "b c", "c d"))
  }

  test("vector_moments / int8 SQL functions work end to end") {
    val ext = new GraftSparkExtension
    ext.apply(new org.apache.spark.sql.SparkSessionExtensions)
    graft.expressions.GraftExpressions.register(spark)
    import spark.implicits._
    Seq((1L, Array(1.0f, 3.0f)), (2L, Array(3.0f, 1.0f)))
      .toDF("id", "v").createOrReplaceTempView("vm_docs")
    val m = spark.sql(
      "SELECT vector_moments(v) AS m FROM vm_docs").head().getStruct(0)
    assert(m.getLong(0) == 2L)
    assert(m.getSeq[Double](1) == Seq(4.0, 4.0))
    val q = spark.sql(
      "SELECT int8_quantize(v) AS c, int8_scale(v) AS s FROM vm_docs " +
        "WHERE id = 1").head()
    assert(q.getSeq[Byte](0).last == 127.toByte) // max component pins 127
    assert(math.abs(q.getDouble(1) - 3.0 / 127) < 1e-12)
  }

  test("minhash/shingle-hash/topk SQL functions work end to end") {
    GraftExpressions.register(spark)
    val r = spark.sql(
      """SELECT size(minhash_signature(word_shingle_hashes('a b c d e', 3), 16)) AS k,
        |       word_shingle_hashes('a b', 2)[0] AS h
        |""".stripMargin).head()
    assert(r.getInt(0) == 16)
    assert(r.getLong(1) == graft.expressions.TextHashImpl.xx64(
      org.apache.spark.unsafe.types.UTF8String.fromString("a b"), 42L))
    val tk = spark.sql(
      """SELECT topk_sketch(s, 2, 8) AS tk FROM VALUES ('x'),('x'),('y') t(s)
        |""".stripMargin).head().getSeq[org.apache.spark.sql.Row](0)
    assert(tk.map(r => (r.getString(0), r.getLong(1))) == Seq(("x", 2L), ("y", 1L)))
  }
}
