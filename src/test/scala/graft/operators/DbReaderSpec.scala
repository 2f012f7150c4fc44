package graft.operators

import graft.SparkSpec
import graft.connections.{FileTableConnection, IfExists}
import graft.core._

class DbReaderSpec extends SparkSpec {
  import spark.implicits._

  private def freshConn(): FileTableConnection = {
    val dir = tmpDir("dbreader")
    new FileTableConnection(spark, dir)
  }

  private def writeRows(conn: FileTableConnection, table: String,
                        rows: Seq[(Long, String)]): Unit =
    rows.toDF("id", "name").write.mode("overwrite")
      .parquet(conn.tablePath(table))

  test("snapshot read with columns/where/limit") {
    val conn = freshConn()
    writeRows(conn, "t", (1L to 100L).map(i => (i, s"n$i")))
    val df = DbReader(conn, "t", columns = Seq("id"), where = Seq("id <= 10")).run()
    assert(df.columns.toSeq == Seq("id"))
    assert(df.count() == 10)
  }

  test("hwm without strategy scope / strategy without hwm both fail") {
    val conn = freshConn()
    writeRows(conn, "t", Seq((1L, "a")))
    intercept[IllegalArgumentException] {
      DbReader(conn, "t", hwm = Some(HwmColumn("id"))).run()
    }
    intercept[IllegalArgumentException] {
      Strategy.using(IncrementalStrategy()) { DbReader(conn, "t").run() }
    }
  }

  test("incremental: first run reads all and saves max; second reads only new") {
    val conn = freshConn()
    val store = new InMemoryHwmStore
    writeRows(conn, "inc", (1L to 50L).map(i => (i, s"n$i")))
    val reader = DbReader(conn, "inc", hwm = Some(HwmColumn("id")))

    val df1 = Strategy.using(new IncrementalStrategy(store = store)) { reader.run() }
    assert(df1.count() == 50)
    assert(store.get("inc.id").get.valueOpt.contains(50L))

    // no new data → empty frame
    val df2 = Strategy.using(new IncrementalStrategy(store = store)) { reader.run() }
    assert(df2.count() == 0)

    // append 25 new rows → only they are read, HWM advances
    (51L to 75L).map(i => (i, s"n$i")).toDF("id", "name")
      .write.mode("append").parquet(conn.tablePath("inc"))
    val df3 = Strategy.using(new IncrementalStrategy(store = store)) { reader.run() }
    assert(df3.agg(org.apache.spark.sql.functions.min($"id")).head().getLong(0) == 51L)
    assert(df3.count() == 25)
    assert(store.get("inc.id").get.valueOpt.contains(75L))
  }

  test("incremental: failed run does not advance the stored HWM") {
    val conn = freshConn()
    val store = new InMemoryHwmStore
    store.set(IntHwm("f.id", "f", "id", Some(10L)))
    writeRows(conn, "f", (1L to 30L).map(i => (i, "x")))
    intercept[RuntimeException] {
      Strategy.using(new IncrementalStrategy(store = store)) {
        DbReader(conn, "f", hwm = Some(HwmColumn("id"))).run()
        throw new RuntimeException("job failed")
      }
    }
    assert(store.get("f.id").get.valueOpt.contains(10L))
  }

  test("incremental with offset re-reads the tail") {
    val conn = freshConn()
    val store = new InMemoryHwmStore
    store.set(IntHwm("off.id", "off", "id", Some(40L)))
    writeRows(conn, "off", (1L to 50L).map(i => (i, "x")))
    val df = Strategy.using(new IncrementalStrategy(offset = Some(5L), store = store)) {
      DbReader(conn, "off", hwm = Some(HwmColumn("id"))).run()
    }
    assert(df.agg(org.apache.spark.sql.functions.min($"id")).head().getLong(0) == 36L)
    assert(df.count() == 15)
  }

  test("empty source returns an empty frame, not an unfiltered one") {
    val conn = freshConn()
    writeRows(conn, "e", Seq.empty[(Long, String)])
    val df = Strategy.using(new IncrementalStrategy(store = new InMemoryHwmStore)) {
      DbReader(conn, "e", hwm = Some(HwmColumn("id"))).run()
    }
    assert(df.count() == 0)
  }

  test("snapshot-batch covers the full range in disjoint batches, no HWM saved") {
    val conn = freshConn()
    val store = new InMemoryHwmStore
    writeRows(conn, "sb", (1L to 95L).map(i => (i, "x")))
    val b = new SnapshotBatchStrategy(30L, store = store)
    val reader = DbReader(conn, "sb", hwm = Some(HwmColumn("id")))
    val counts = Strategy.using(b) {
      b.foreachBatch(reader.run().count())
    }
    assert(counts.sum == 95, s"batches: $counts")
    assert(counts.length >= 3, "step 30 over 1..95 needs >=3 batches")
    assert(counts.forall(_ > 0))
    assert(store.get("sb.id").isEmpty, "snapshot-batch must not persist HWM")
  }

  test("snapshot-batch honors explicit start/stop without min/max probe") {
    val conn = freshConn()
    writeRows(conn, "sbe", (1L to 100L).map(i => (i, "x")))
    val b = new SnapshotBatchStrategy(25L, Some(10L), Some(60L))
    val counts = Strategy.using(b) {
      b.foreachBatch(DbReader(conn, "sbe", hwm = Some(HwmColumn("id"))).run().count())
    }
    // [10,35], (35,60] → 26 + 25
    assert(counts == Seq(26, 25))
  }

  test("incremental-batch starts at stored HWM and persists per batch") {
    val conn = freshConn()
    val store = new InMemoryHwmStore
    store.set(IntHwm("ib.id", "ib", "id", Some(20L)))
    writeRows(conn, "ib", (1L to 100L).map(i => (i, "x")))
    val b = new IncrementalBatchStrategy(40L, store = store)
    val counts = Strategy.using(b) {
      b.foreachBatch(DbReader(conn, "ib", hwm = Some(HwmColumn("id"))).run().count())
    }
    // start=20 came from the STORED HWM, so row 20 was already consumed:
    // windows (20,60], (60,100] — 80 rows, not 81 (reference
    // hwm_strategy.py:24-31: current edge exclusive when HWM is set)
    assert(counts.sum == 80, s"batches: $counts")
    assert(store.get("ib.id").get.valueOpt.contains(100L))
  }

  test("a strategy skips a save of the HWM it last saved: a downloader in " +
       "a scope sets once, a 3-window incremental-batch loop three times") {
    final class CountingStore extends HwmStore {
      private val inner = new InMemoryHwmStore
      @volatile var sets = 0
      def get(name: String): Option[Hwm] = inner.get(name)
      def set(hwm: Hwm): Unit = { sets += 1; inner.set(hwm) }
    }
    val (src, dst) = (tmpDir("hwmsave-src"), tmpDir("hwmsave-dst"))
    Seq("a.json", "b.json").foreach(n =>
      java.nio.file.Files.write(java.nio.file.Paths.get(src, n), "{}".getBytes))
    val fileStore = new CountingStore
    val landed = Strategy.using(new IncrementalStrategy(store = fileStore)) {
      graft.files.FileDownloader(new graft.files.LocalFileConnection, src, dst,
        hwmName = Some("drop.files")).run()
    }
    assert(landed.successful.size == 2)
    // the downloader's own save; the scope exit finds nothing new
    assert(fileStore.sets == 1)
    assert(fileStore.get("drop.files").get.valueOpt.map(_.asInstanceOf[Set[_]].size)
      .contains(2))

    val conn = freshConn()
    writeRows(conn, "hs", (1L to 120L).map(i => (i, "x")))
    val batchStore = new CountingStore
    val b = new IncrementalBatchStrategy(40L, store = batchStore)
    val counts = Strategy.using(b) {
      b.foreachBatch(DbReader(conn, "hs", hwm = Some(HwmColumn("id"))).run().count())
    }
    assert(counts == Seq(41L, 40L, 39L))
    // one save per window; the scope exit repeats the last one
    assert(batchStore.sets == 3)
    assert(batchStore.get("hs.id").get.valueOpt.contains(120L))
  }

  test("incremental-batch with the stored HWM at the source max reads nothing") {
    val dir = tmpDir("dbreader-covered")
    val reads = Seq.newBuilder[(Seq[String], Option[Int])]
    val conn = new FileTableConnection(spark, dir) {
      override def readSourceAsDf(source: String, columns: Seq[String],
                                  where: Seq[String], hint: Option[String],
                                  limit: Option[Int],
                                  dfSchema: Option[org.apache.spark.sql.types.StructType]) = {
        reads += ((where, limit))
        super.readSourceAsDf(source, columns, where, hint, limit, dfSchema)
      }
    }
    writeRows(conn, "cv", (1L to 100L).map(i => (i, "x")))
    val store = new InMemoryHwmStore
    store.set(IntHwm("cv.id", "cv", "id", Some(100L)))
    val b = new IncrementalBatchStrategy(40L, store = store)
    val counts = Strategy.using(b) {
      b.foreachBatch(DbReader(conn, "cv", hwm = Some(HwmColumn("id"))).run().count())
    }
    assert(counts == Seq(0L))
    // no window (100, 100] pushed to the source: an empty read, limit 0
    assert(reads.result() == Seq((Seq.empty[String], Some(0))))
    assert(store.get("cv.id").get.valueOpt.contains(100L))
  }

  test("incremental-batch runaway guard: a step of 1 over 150 keys stops " +
       "at the iteration cap") {
    val conn = freshConn()
    writeRows(conn, "rg", (1L to 150L).map(i => (i, "x")))
    val b = new IncrementalBatchStrategy(1L, store = new InMemoryHwmStore)
    val reader = DbReader(conn, "rg", hwm = Some(HwmColumn("id")))
    val e = intercept[IllegalStateException] {
      Strategy.using(b) { b.foreachBatch(reader.run()) }
    }
    assert(e.getMessage.startsWith(
      s"batch strategy exceeded ${b.MaxIterations} iterations"), e.getMessage)
    assert(b.iterations == b.MaxIterations + 1)
  }

  test("timestamp HWM: incremental over event time") {
    val conn = freshConn()
    val store = new InMemoryHwmStore
    val dir = conn.tablePath("ev")
    val rows = (0 until 48).map { h =>
      (h.toLong, java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(h * 3600L)))
    }
    rows.toDF("id", "ts").write.mode("overwrite").parquet(dir)
    val reader = DbReader(conn, "ev", hwm = Some(HwmColumn("ts")))
    val df1 = Strategy.using(new IncrementalStrategy(store = store)) { reader.run() }
    assert(df1.count() == 48)
    val hwm = store.get("ev.ts").get
    assert(hwm.valueOpt.contains(java.time.Instant.parse("2024-01-02T23:00:00Z")))
    val df2 = Strategy.using(new IncrementalStrategy(store = store)) { reader.run() }
    assert(df2.count() == 0)
  }

  test("hasData respects the stored window") {
    val conn = freshConn()
    val store = new InMemoryHwmStore
    writeRows(conn, "hd", (1L to 10L).map(i => (i, "x")))
    store.set(IntHwm("hd.id", "hd", "id", Some(10L)))
    Strategy.using(new IncrementalStrategy(store = store)) {
      val r = DbReader(conn, "hd", hwm = Some(HwmColumn("id")))
      assert(!r.hasData)
      intercept[IllegalStateException](r.raiseIfNoData())
    }
    store.set(IntHwm("hd.id", "hd", "id", Some(5L)))
    Strategy.using(new IncrementalStrategy(store = store)) {
      assert(DbReader(conn, "hd", hwm = Some(HwmColumn("id"))).hasData)
    }
  }

  test("hasData checks the batch window run() reads") {
    val conn = freshConn()
    writeRows(conn, "hb", (1L to 100L).map(i => (i, "x")))
    val reader = DbReader(conn, "hb", hwm = Some(HwmColumn("id")))
    // an explicit range past every key: each batch reads nothing
    val beyond = new SnapshotBatchStrategy(25L, Some(200L), Some(300L))
    val counts = Strategy.using(beyond) {
      assert(!reader.hasData)
      beyond.foreachBatch(reader.run().count())
    }
    assert(counts.nonEmpty && counts.forall(_ == 0), s"batches: $counts")
    val inside = new SnapshotBatchStrategy(25L, Some(10L), Some(60L))
    Strategy.using(inside) { assert(reader.hasData) }
  }

  /** A file-table connection that counts its schema and MIN/MAX probes. */
  private class ProbeCounting(dir: String) extends FileTableConnection(spark, dir) {
    val schemaProbes = new java.util.concurrent.atomic.AtomicInteger
    val minMaxProbes = new java.util.concurrent.atomic.AtomicInteger
    override def getDfSchema(source: String, columns: Seq[String]) = {
      schemaProbes.incrementAndGet()
      super.getDfSchema(source, columns)
    }
    override def getMinMaxValues(source: String, expression: String,
                                 where: Seq[String]): (Option[Any], Option[Any]) = {
      minMaxProbes.incrementAndGet()
      super.getMinMaxValues(source, expression, where)
    }
  }

  test("a 3-window batch loop probes the source schema once") {
    val conn = new ProbeCounting(tmpDir("dbreader-schema"))
    writeRows(conn, "s3", (1L to 90L).map(i => (i, "x")))
    val b = new SnapshotBatchStrategy(30L, Some(1L), Some(90L))
    val counts = Strategy.using(b) {
      b.foreachBatch(DbReader(conn, "s3", hwm = Some(HwmColumn("id"))).run().count())
    }
    assert(counts == Seq(31L, 30L, 29L))
    assert(conn.schemaProbes.get == 1)
  }

  test("hasData then run() probes MIN/MAX once") {
    val conn = new ProbeCounting(tmpDir("dbreader-minmax"))
    writeRows(conn, "hr", (1L to 40L).map(i => (i, "x")))
    val store = new InMemoryHwmStore
    store.set(IntHwm("hr.id", "hr", "id", Some(10L)))
    val n = Strategy.using(new IncrementalStrategy(store = store)) {
      val r = DbReader(conn, "hr", hwm = Some(HwmColumn("id")))
      if (r.hasData) r.run().count() else -1L
    }
    assert(n == 30L)
    assert(conn.minMaxProbes.get == 1)
    assert(store.get("hr.id").get.valueOpt.contains(40L))
  }

  test("hasData plans afresh each call; only the same reader's run() takes its plan") {
    val conn = new ProbeCounting(tmpDir("dbreader-poll"))
    writeRows(conn, "hp", (1L to 20L).map(i => (i, "x")))
    val store = new InMemoryHwmStore
    store.set(IntHwm("hp.id", "hp", "id", Some(20L)))
    Strategy.using(new IncrementalStrategy(store = store)) {
      val r = DbReader(conn, "hp", hwm = Some(HwmColumn("id")))
      assert(!r.hasData)
      (21L to 30L).map(i => (i, "x")).toDF("id", "name").write.mode("append")
        .parquet(conn.tablePath("hp"))
      assert(r.hasData, "rows appended after a false hasData must show")
      // another filter is another query: it plans its own window (20, 25]
      assert(r.copy(where = Seq("id <= 25")).run().count() == 5L)
      assert(r.run().count() == 5L)
    }
    assert(conn.minMaxProbes.get == 4)
    assert(store.get("hp.id").get.valueOpt.contains(30L))
  }

  test("writer: ifExists modes on file tables + metrics") {
    val conn = freshConn()
    writeRows(conn, "w", (1L to 10L).map(i => (i, "x")))
    val df = DbReader(conn, "w").run()

    val m = DbWriter(conn, "w2", IfExists.Append).run(df)
    assert(m.outputRows == 10)
    DbWriter(conn, "w2", IfExists.Append).run(df)
    assert(DbReader(conn, "w2").run().count() == 20)
    DbWriter(conn, "w2", IfExists.ReplaceEntireTable).run(df)
    assert(DbReader(conn, "w2").run().count() == 10)
    DbWriter(conn, "w2", IfExists.Ignore).run(df)
    assert(DbReader(conn, "w2").run().count() == 10)
    // Ignore writes a missing table
    DbWriter(conn, "w3", IfExists.Ignore).run(df)
    assert(DbReader(conn, "w3").run().count() == 10)
    intercept[Exception] { DbWriter(conn, "w2", IfExists.Error).run(df) }
  }

  test("runObservingHwm: single-pass HWM capture, no MIN/MAX probe job") {
    val dir = tmpDir("dbreader-obs")
    // a connection that refuses the probe proves the observed path never
    // plans the separate MIN/MAX query
    val conn = new FileTableConnection(spark, dir) {
      override def getMinMaxValues(source: String, expression: String,
                                   where: Seq[String]): (Option[Any], Option[Any]) =
        sys.error("runObservingHwm must not run a MIN/MAX probe")
    }
    writeRows(new FileTableConnection(spark, dir), "t",
      (1L to 50L).map(i => (i, s"n$i")))
    val store = new graft.core.InMemoryHwmStore
    val reader = DbReader(conn, "t", hwm = Some(HwmColumn("id")))

    val n1 = graft.core.Strategy.using(
      new graft.core.IncrementalStrategy(store = store)) {
      reader.runObservingHwm(_.count())
    }
    assert(n1 == 50L)
    assert(store.get("t.id").get.valueOpt.contains(50L),
      "HWM == max of the rows the action processed")

    // second run: only the delta beyond the stored HWM
    writeRows(new FileTableConnection(spark, dir), "t",
      (1L to 80L).map(i => (i, s"n$i")))
    val seen = graft.core.Strategy.using(
      new graft.core.IncrementalStrategy(store = store)) {
      reader.runObservingHwm(df =>
        df.select($"id").as[Long].collect().toSet)
    }
    assert(seen == (51L to 80L).toSet)
    assert(store.get("t.id").get.valueOpt.contains(80L))

    // an action that materializes nothing leaves the HWM unchanged
    val t0 = System.nanoTime()
    graft.core.Strategy.using(
      new graft.core.IncrementalStrategy(store = store)) {
      reader.runObservingHwm(_ => ())
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 5.0, s"runObservingHwm with no query took $secs s")
    assert(store.get("t.id").get.valueOpt.contains(80L))
  }

  test("runObservingHwm outside an incremental scope is a usage error") {
    val conn = freshConn()
    writeRows(conn, "t", Seq((1L, "a")))
    intercept[IllegalArgumentException] {
      DbReader(conn, "t", hwm = Some(HwmColumn("id"))).runObservingHwm(_.count())
    }
  }
}
