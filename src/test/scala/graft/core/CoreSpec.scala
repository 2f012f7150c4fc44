package graft.core

import java.time.{Duration, Instant, LocalDate}

import org.scalatest.funsuite.AnyFunSuite

class HwmValueZoneSpec extends AnyFunSuite {
  test("LocalDateTime (NTZ) is interpreted in the given zone, not hard-coded UTC") {
    val wall = java.time.LocalDateTime.of(2024, 3, 1, 12, 0, 0)
    assert(HwmValue.toInstant(wall, java.time.ZoneOffset.UTC) ===
      Instant.parse("2024-03-01T12:00:00Z"))
    // same wall clock in New York (EST, UTC-5 on this date) is 5h later in UTC
    assert(HwmValue.toInstant(wall, java.time.ZoneId.of("America/New_York")) ===
      Instant.parse("2024-03-01T17:00:00Z"))
  }

  test("no active Spark session falls back to UTC; an active session's TZ wins") {
    // these core specs run without a SparkSession — fallback path
    if (org.apache.spark.sql.SparkSession.getActiveSession.isEmpty)
      assert(HwmValue.sessionZone === java.time.ZoneOffset.UTC)
    else // suite ordering gave us a session: it must reflect the conf
      assert(HwmValue.sessionZone.getId ===
        org.apache.spark.sql.SparkSession.getActiveSession.get
          .conf.get("spark.sql.session.timeZone"))
  }
}

class WindowMathSpec extends AnyFunSuite {
  test("long stepping") {
    assert(WindowMath.add(10L, 5L) == 15L)
    assert(WindowMath.min(10L, 5L) == 5L)
    assert(WindowMath.lt(5L, 10L))
  }
  test("decimal stepping") {
    assert(WindowMath.add(BigDecimal("1.5"), BigDecimal("0.5")) == BigDecimal(2))
  }
  test("date stepping by days") {
    assert(WindowMath.add(LocalDate.of(2024, 1, 31), 1L) == LocalDate.of(2024, 2, 1))
  }
  test("instant stepping by duration") {
    val t = Instant.parse("2024-01-01T00:00:00Z")
    assert(WindowMath.add(t, Duration.ofHours(2)) == Instant.parse("2024-01-01T02:00:00Z"))
  }
  test("min(a+step, stop) is monotone (property)") {
    val rnd = new scala.util.Random(42)
    (1 to 500).foreach { _ =>
      val a = rnd.nextLong() % 100000
      val step = math.abs(rnd.nextInt(1000)).toLong + 1
      val stop = a + math.abs(rnd.nextLong() % 100000)
      val next = WindowMath.min(WindowMath.add(a, step), stop)
      assert(WindowMath.compare(next, a) >= 0 && WindowMath.compare(next, stop) <= 0)
    }
  }
  test("incompatible types throw") {
    intercept[IllegalArgumentException](WindowMath.add("a", 1L))
    intercept[IllegalArgumentException](WindowMath.compare(1L, LocalDate.now()))
  }
}

class HwmStoreSpec extends AnyFunSuite {
  test("in-memory roundtrip + raise-only semantics") {
    val store = new InMemoryHwmStore
    store.set(IntHwm("h1", "t", "id", Some(42L)))
    assert(store.get("h1").get.valueOpt.contains(42L))
    assert(store.get("missing").isEmpty)
  }

  test("yaml store round-trips an unset value; odd names stay inside the root") {
    val dir = java.nio.file.Files.createTempDirectory("hwm").toString
    val store = new YamlHwmStore(dir)
    store.set(IntHwm("empty", "t", "id", None))
    assert(store.get("empty").get.valueOpt.isEmpty)
    // name sanitization: weird chars don't escape the directory
    store.set(IntHwm("sch ema//t@ble#id", "t", "id", Some(1L)))
    assert(store.get("sch ema//t@ble#id").get.valueOpt.contains(1L))
    val root = java.nio.file.Paths.get(dir)
    assert(store.fileFor("sch ema//t@ble#id").getParent == root)
    // atomic writes leave no temp file behind: one .yml per name
    val names = new java.io.File(dir).list().sorted
    assert(names.length == 2 && names.forall(_.endsWith(".yml")), names.mkString(", "))
  }

  test("yaml store keeps every save; a manual reset to a lower value wins") {
    val dir = java.nio.file.Files.createTempDirectory("hwm_hist").toString
    val store = new YamlHwmStore(dir)
    store.set(IntHwm("h", "t", "id", Some(100L)))
    store.set(IntHwm("h", "t", "id", Some(250L)))
    store.set(IntHwm("h", "t", "id", Some(175L))) // e.g. after a manual reset
    assert(store.get("h").get.valueOpt.contains(175L))
    val hist = store.history("h").map(_.valueOpt.get)
    assert(hist.length == 3 && hist.head == 175L)
    assert(hist.toSet == Set(100L, 250L, 175L))
  }

  test("paths with control, quote and non-ASCII chars round-trip in both stores") {
    System.setProperty("derby.system.home", System.getProperty("java.io.tmpdir"))
    val hwm = FileListHwm("paths", "dir", "file_list", Set(
      "/in/new\nline.csv", "/in/nul\u0000.csv", "/in/\"quoted\".csv",
      "/in/tab\there.csv", "/in/back\\slash.csv", "/in/données/日本語.csv"))
    val yaml = new YamlHwmStore(
      java.nio.file.Files.createTempDirectory("hwm_paths").toString)
    val jdbc = new JdbcHwmStore("jdbc:derby:memory:graft_hwm_paths;create=true")
    Seq(yaml, jdbc).foreach { store =>
      store.set(hwm)
      assert(store.get("paths").contains(hwm), store.getClass.getSimpleName)
    }
  }

  test("yaml store roundtrips every HWM type; latest set wins") {
    val dir = java.nio.file.Files.createTempDirectory("hwm_yaml").toString
    val store = new YamlHwmStore(dir)
    val hwms = Seq(
      IntHwm("db.t.id", "t", "id", Some(7L)),
      DecimalHwm("d", "t", "amount", Some(BigDecimal("12.34"))),
      DateHwm("dt", "t", "day", Some(LocalDate.of(2024, 3, 1))),
      DateTimeHwm("ts", "t", "ts", Some(Instant.parse("2024-03-01T12:00:00Z"))),
      KeyValueIntHwm("kv", "topic", "offset", Map(0 -> 5L, 1 -> 9L)),
      FileListHwm("fl", "dir", "file_list", Set("/a/b.csv", "/a/c.csv")),
      FileMTimeHwm("fm", "dir", "modified_time", Some(Instant.parse("2024-01-01T00:00:00Z"))))
    hwms.foreach(store.set)
    hwms.foreach { h => assert(store.get(h.name).contains(h), h.name) }
    store.set(IntHwm("db.t.id", "t", "id", Some(9L)))
    assert(store.get("db.t.id").get.valueOpt.contains(9L))
    assert(store.history("db.t.id").length == 2)
    // special characters in values survive the quoted-scalar escaping
    store.set(FileListHwm("esc", "dir", "file_list", Set("/p/a \"q\"\tb.csv")))
    assert(store.get("esc").contains(
      FileListHwm("esc", "dir", "file_list", Set("/p/a \"q\"\tb.csv"))))
  }

  test("yaml store emits the reference's file layout (yaml_hwm_store.py:56-216)") {
    val dir = java.nio.file.Files.createTempDirectory("hwm_yaml_fmt").toString
    val store = new YamlHwmStore(dir)
    // cleanup_file_name (yaml_hwm_store.py:192-199): delimiters #@| -> __,
    // prohibited =:/\ -> _, collapse runs
    store.set(IntHwm("id#db.table@proto://instance", "t", "id", Some(1000L)))
    val f = store.fileFor("id#db.table@proto://instance")
    assert(f.getFileName.toString == "id__db.table__proto_instance.yml")
    val text = java.nio.file.Files.readString(f)
    // a YAML block list of flat mappings, value as quoted scalar
    assert(text.startsWith("- name: \"id#db.table@proto://instance\"\n"))
    assert(text.contains("\n  type: \"int\"\n"))
    assert(text.contains("\n  value: \"1000\"\n"))
    // a keyvalue HWM nests a mapping under value
    store.set(KeyValueIntHwm("kv2", "topic", "offset", Map(0 -> 120L, 1 -> 45L)))
    val kvText = java.nio.file.Files.readString(store.fileFor("kv2"))
    assert(kvText.contains("\n  value:\n    0: 120\n    1: 45\n"))
  }

  test("FileMTimeHwm.withValue keeps the max") {
    val h = FileMTimeHwm("m", "d", value = Some(Instant.parse("2024-06-01T00:00:00Z")))
    val older = h.withValue(Instant.parse("2024-01-01T00:00:00Z"))
    assert(older.asInstanceOf[FileMTimeHwm].value.contains(Instant.parse("2024-06-01T00:00:00Z")))
  }
}

class StrategySpec extends AnyFunSuite {
  test("default strategy is snapshot") {
    assert(Strategy.current == SnapshotStrategy)
  }

  test("incremental saves HWM only on clean exit") {
    val store = new InMemoryHwmStore
    val s1 = new IncrementalStrategy(store = store)
    Strategy.using(s1) {
      s1.fetchHwm(IntHwm("h", "t", "id"))
      s1.updateHwm(100L)
    }
    assert(store.get("h").get.valueOpt.contains(100L))

    val s2 = new IncrementalStrategy(store = store)
    intercept[RuntimeException] {
      Strategy.using(s2) {
        s2.fetchHwm(IntHwm("h", "t", "id"))
        s2.updateHwm(999L)
        throw new RuntimeException("boom")
      }
    }
    assert(store.get("h").get.valueOpt.contains(100L), "failed run must not persist")
  }

  test("updateHwm is raise-only") {
    val s = new IncrementalStrategy(store = new InMemoryHwmStore)
    s.fetchHwm(IntHwm("h", "t", "id", Some(50L)))
    s.updateHwm(40L)
    assert(s.hwm.get.valueOpt.contains(50L))
    s.updateHwm(60L)
    assert(s.hwm.get.valueOpt.contains(60L))
  }

  test("one strategy scope serves exactly one HWM") {
    val s = new IncrementalStrategy(store = new InMemoryHwmStore)
    s.fetchHwm(IntHwm("a", "t", "id"))
    intercept[IllegalStateException](s.fetchHwm(IntHwm("b", "t", "other")))
  }

  test("stored HWM type mismatch is rejected") {
    val store = new InMemoryHwmStore
    store.set(DateHwm("h", "t", "day", Some(LocalDate.now())))
    val s = new IncrementalStrategy(store = store)
    intercept[IllegalStateException](s.fetchHwm(IntHwm("h", "t", "day")))
  }

  test("incremental offset widens the window") {
    val s = new IncrementalStrategy(offset = Some(10L), store = new InMemoryHwmStore)
    s.fetchHwm(IntHwm("h", "t", "id", Some(100L)))
    assert(s.startEdge == Edge.exclusive(90L))
  }

  test("batch windows: [start, s+step], then half-open, capped at stop") {
    val b = SnapshotBatchStrategy(step = 10L)
    b.initialize(0L, 25L)
    assert(b.currentWindow("id") == Window("id", Edge.inclusive(0L), Edge.inclusive(10L)))
    assert(!b.advance("id"))
    assert(b.currentWindow("id") == Window("id", Edge.exclusive(10L), Edge.inclusive(20L)))
    assert(!b.advance("id"))
    assert(b.currentWindow("id") == Window("id", Edge.exclusive(20L), Edge.inclusive(25L)))
    assert(b.advance("id"), "third advance covers the range")
  }

  test("snapshot-batch never persists HWM") {
    val store = new InMemoryHwmStore
    val b = new SnapshotBatchStrategy(10L, store = store)
    Strategy.using(b) {
      b.fetchHwm(IntHwm("sb", "t", "id"))
      b.initialize(0L, 5L)
      b.updateHwm(5L)
    }
    assert(store.get("sb").isEmpty)
  }

  test("incremental-batch persists HWM per batch") {
    val store = new InMemoryHwmStore
    val b = new IncrementalBatchStrategy(10L, store = store)
    b.fetchHwm(IntHwm("ib", "t", "id"))
    b.initialize(0L, 30L)
    b.updateHwm(10L)
    b.advance("id")
    assert(store.get("ib").get.valueOpt.contains(10L))
  }

  test("runaway batch guard") {
    val b = SnapshotBatchStrategy(step = 1L)
    b.initialize(0L, 1000000L)
    intercept[IllegalStateException] {
      var done = false
      while (!done) done = b.advance("id")
    }
  }
}

class JdbcHwmStoreSpec extends org.scalatest.funsuite.AnyFunSuite {
  System.setProperty("derby.system.home", System.getProperty("java.io.tmpdir"))
  private val url = "jdbc:derby:memory:graft_hwmstore;create=true"
  private lazy val store = new graft.core.JdbcHwmStore(url)

  test("every HWM type round-trips through the database") {
    import graft.core._
    val samples: Seq[Hwm] = Seq(
      IntHwm("jdbc.int", "t", "c", Some(42L)),
      DecimalHwm("jdbc.dec", "t", "c", Some(BigDecimal("12.750"))),
      DateHwm("jdbc.date", "t", "c", Some(java.time.LocalDate.parse("2024-02-29"))),
      DateTimeHwm("jdbc.dt", "t", "c", Some(java.time.Instant.parse("2024-01-01T12:34:56.789Z"))),
      KeyValueIntHwm("jdbc.kv", "topic", "offset", Map(0 -> 10L, 3 -> 7L)),
      FileListHwm("jdbc.fl", "dir", "paths", Set("/a/b.csv", "/c d.csv")),
      FileMTimeHwm("jdbc.mt", "dir", "mtime", Some(java.time.Instant.parse("2024-06-01T00:00:00Z"))),
      IntHwm("jdbc.empty", "t", "c", None))
    samples.foreach(store.set)
    samples.foreach(h => assert(store.get(h.name).contains(h), h.name))
  }

  test("get returns the newest save; history is newest-first") {
    import graft.core._
    store.set(IntHwm("jdbc.hist", "t", "c", Some(1L)))
    store.set(IntHwm("jdbc.hist", "t", "c", Some(2L)))
    store.set(IntHwm("jdbc.hist", "t", "c", Some(3L)))
    assert(store.get("jdbc.hist").flatMap(_.valueOpt) == Some(3L))
    assert(store.history("jdbc.hist").flatMap(_.valueOpt) == Seq(3L, 2L, 1L))
  }

  test("a second store over the same database sees saved state (shared resume)") {
    import graft.core._
    store.set(IntHwm("jdbc.shared", "t", "c", Some(99L)))
    val other = new graft.core.JdbcHwmStore(url)
    assert(other.get("jdbc.shared").flatMap(_.valueOpt) == Some(99L))
  }

  test("the store drives an incremental strategy end-to-end") {
    import graft.core._
    store.set(IntHwm("orders.o_orderkey", "orders", "o_orderkey", Some(7500L)))
    val s = new IncrementalStrategy(store = store)
    // strategy reads the persisted HWM as its exclusive window start
    s.fetchHwm(IntHwm("orders.o_orderkey", "orders", "o_orderkey", None))
    assert(s.startEdge.value.contains(7500L) && !s.startEdge.including)
  }
}
