package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.{Instant, LocalDate}
import scala.collection.concurrent.TrieMap
import scala.util.DynamicVariable

/** Persistent store for high-watermarks.
  *
  * Mirrors reference onetl/hwm/store/yaml_hwm_store.py:56-216 (one file per
  * HWM qualified name, latest value wins) plus the context-stacked store
  * selection of HWMStoreStackManager (reference hwm_strategy.py:13).
  */
trait HwmStore {
  def get(name: String): Option[Hwm]
  def set(hwm: Hwm): Unit

  /** Loan-pattern store selection, like `with YAMLHWMStore(...)`. */
  def using[A](body: => A): A = HwmStore.stack.withValue(this)(body)
}

object HwmStore {
  private val default = new InMemoryHwmStore
  private[core] val stack = new DynamicVariable[HwmStore](default)
  def current: HwmStore = stack.value
}

final class InMemoryHwmStore extends HwmStore {
  private val map = TrieMap.empty[String, Hwm]
  def get(name: String): Option[Hwm] = map.get(name)
  def set(hwm: Hwm): Unit = map.put(hwm.name, hwm)
}

/** YAML-file store matching the reference's on-disk format
  * (yaml_hwm_store.py:56-216): one `<sanitized-name>.yml` per HWM holding
  * a YAML LIST of serialized records, newest first; `get` returns the
  * newest by `modified`. Name sanitization follows cleanup_file_name
  * (yaml_hwm_store.py:192-199): item delimiters `#@|` → `__`, prohibited
  * `=:/\` → `_`, runs of `_` collapsed to `__`.
  *
  * The emitter writes plain YAML (block list of flat mappings; the
  * keyvalue HWM nests a mapping, filelist nests a string list) with
  * double-quoted scalars, so any YAML 1.1/1.2 parser — including the
  * reference's yaml.safe_load — reads these files. The bundled parser
  * handles that same subset. */
final class YamlHwmStore(rootDir: String) extends HwmStore {
  private val root: Path = Paths.get(rootDir)
  Files.createDirectories(root)

  private[core] def fileFor(name: String): Path =
    root.resolve(YamlHwmStore.cleanupFileName(name) + ".yml")

  /** Full saved history for `name`, newest first. */
  def history(name: String): Seq[Hwm] = {
    val f = fileFor(name)
    if (!Files.exists(f)) Nil
    else YamlHwmStore.parseRecords(
        new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
      .sortBy(r => r.scalars.get("modified").map(Instant.parse(_).toEpochMilli)
        .getOrElse(Long.MinValue))(Ordering[Long].reverse)
      .map(YamlHwmStore.decode)
  }

  def get(name: String): Option[Hwm] = history(name).headOption

  def set(hwm: Hwm): Unit = {
    val f = fileFor(hwm.name)
    val prior =
      if (Files.exists(f))
        new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
      else ""
    val body = YamlHwmStore.emitRecord(hwm, Instant.now()) + prior
    val tmp = Files.createTempFile(root, ".hwm", ".tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, f, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
}

/** The HWM record codec of both persistent stores: [[YamlHwmStore]] keeps
  * a list of these records per file, [[JdbcHwmStore]] one record per row. */
private[core] object YamlHwmStore {
  /** One parsed YAML list entry: flat string fields plus the two
    * structured `value` shapes. */
  final case class Record(scalars: Map[String, String],
                          valueMap: Map[Int, Long],
                          valueList: Seq[String])

  def cleanupFileName(name: String): String =
    name.replaceAll("[#@|]+", "__").replaceAll("[=:/\\\\]+", "_")
      .replaceAll("_{2,}", "__")

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def unquote(s: String): String = {
    val t = s.trim
    if (!t.startsWith("\"")) t
    else {
      val b = new StringBuilder
      var i = 1
      while (i < t.length - 1) {
        t.charAt(i) match {
          case '\\' =>
            i += 1
            t.charAt(i) match {
              case 'n' => b += '\n'
              case 'r' => b += '\r'
              case 't' => b += '\t'
              case 'u' => b += Integer.parseInt(t.substring(i + 1, i + 5), 16).toChar; i += 4
              case c => b += c
            }
          case c => b += c
        }
        i += 1
      }
      b.result()
    }
  }

  def emitRecord(hwm: Hwm, modified: Instant): String = {
    val b = new StringBuilder
    def field(k: String, v: String): Unit =
      b.append("  ").append(k).append(": ").append(quote(v)).append('\n')
    b.append("- name: ").append(quote(hwm.name)).append('\n')
    field("entity", hwm.entity)
    field("expression", hwm.expression)
    field("modified", modified.toString)
    hwm match {
      case h: IntHwm =>
        field("type", "int"); field("value", h.value.map(_.toString).getOrElse(""))
      case h: DecimalHwm =>
        field("type", "decimal"); field("value", h.value.map(_.toString).getOrElse(""))
      case h: DateHwm =>
        field("type", "date"); field("value", h.value.map(_.toString).getOrElse(""))
      case h: DateTimeHwm =>
        field("type", "datetime"); field("value", h.value.map(_.toString).getOrElse(""))
      case h: FileMTimeHwm =>
        field("type", "filemtime"); field("value", h.value.map(_.toString).getOrElse(""))
      case h: KeyValueIntHwm =>
        field("type", "keyvalue")
        if (h.value.isEmpty) b.append("  value: {}\n")
        else {
          b.append("  value:\n")
          h.value.toSeq.sorted.foreach { case (k, v) =>
            b.append("    ").append(k).append(": ").append(v).append('\n')
          }
        }
      case h: FileListHwm =>
        field("type", "filelist")
        if (h.value.isEmpty) b.append("  value: []\n")
        else {
          b.append("  value:\n")
          h.value.toSeq.sorted.foreach(p =>
            b.append("    - ").append(quote(p)).append('\n'))
        }
    }
    b.result()
  }

  /** Parse the emitted subset: a block list of flat mappings where `value`
    * may nest one level of mapping (int: long) or string list. */
  def parseRecords(text: String): Seq[Record] = {
    val entries = scala.collection.mutable.ArrayBuffer.empty[Record]
    var scalars = Map.empty[String, String]
    var vmap = Map.empty[Int, Long]
    var vlist = Vector.empty[String]
    var open = false
    def close(): Unit = {
      if (open) entries += Record(scalars, vmap, vlist)
      scalars = Map.empty; vmap = Map.empty; vlist = Vector.empty
    }
    def scalar(body: String): Unit = {
      val i = body.indexOf(':')
      if (i > 0) {
        val v = body.substring(i + 1).trim
        if (v.nonEmpty && v != "{}" && v != "[]")
          scalars += (body.substring(0, i).trim -> unquote(v))
        else if (v.isEmpty) scalars += (body.substring(0, i).trim -> "")
      }
    }
    text.linesIterator.foreach { line =>
      if (line.startsWith("- ")) { close(); open = true; scalar(line.substring(2)) }
      else if (line.startsWith("    - ")) vlist :+= unquote(line.substring(6))
      else if (line.startsWith("    ")) {
        val i = line.indexOf(':')
        if (i > 0) vmap += (line.substring(0, i).trim.toInt ->
          line.substring(i + 1).trim.toLong)
      }
      else if (line.startsWith("  ")) scalar(line.substring(2))
    }
    close()
    entries.toSeq
  }

  def decode(r: Record): Hwm = {
    val name = r.scalars("name"); val entity = r.scalars("entity")
    val expr = r.scalars("expression")
    val v = r.scalars.get("value").filter(_.nonEmpty)
    r.scalars("type") match {
      case "int"      => IntHwm(name, entity, expr, v.map(_.toLong))
      case "decimal"  => DecimalHwm(name, entity, expr, v.map(BigDecimal(_)))
      case "date"     => DateHwm(name, entity, expr, v.map(LocalDate.parse))
      case "datetime" => DateTimeHwm(name, entity, expr, v.map(Instant.parse))
      case "filemtime" => FileMTimeHwm(name, entity, expr, v.map(Instant.parse))
      case "keyvalue" => KeyValueIntHwm(name, entity, expr, r.valueMap)
      case "filelist" => FileListHwm(name, entity, expr, r.valueList.toSet)
      case other => throw new IllegalArgumentException(s"unknown HWM type: $other")
    }
  }
}

/** JDBC-backed HWM store — beyond the reference's memory/YAML pair: teams
  * running many pipelines persist watermarks in a shared database so any
  * driver host can resume any pipeline. Append-only history table (one
  * row per save, IDENTITY-sequenced); `get` returns the newest record,
  * matching [[YamlHwmStore]]'s newest-first contract. Each row's payload
  * is one record of the YAML store's list, written and read by the same
  * codec, so a value that round-trips through one store round-trips
  * through the other.
  *
  * Plain `java.sql.DriverManager` on the driver — the same channel as
  * JdbcConnection.fetch/execute; no Spark job is involved in HWM I/O.
  * Works against any ANSI JDBC database; live-tested on embedded Derby.
  */
final class JdbcHwmStore(url: String, table: String = "graft_hwm")
  extends HwmStore {
  import java.sql.{Connection, DriverManager}

  private def withConn[A](f: Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  // Derby has no CREATE TABLE IF NOT EXISTS: create and swallow the
  // "already exists" state (X0Y32), racing creators included
  withConn { c =>
    try {
      val st = c.createStatement()
      try st.executeUpdate(
        s"""CREATE TABLE $table (
           |  seq BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
           |  hwm_name VARCHAR(512) NOT NULL,
           |  payload CLOB NOT NULL)""".stripMargin)
      finally st.close()
    } catch {
      case e: java.sql.SQLException if e.getSQLState == "X0Y32" => // exists
    }
  }

  def set(hwm: Hwm): Unit = withConn { c =>
    val ps = c.prepareStatement(
      s"INSERT INTO $table (hwm_name, payload) VALUES (?, ?)")
    try {
      ps.setString(1, hwm.name)
      ps.setString(2, YamlHwmStore.emitRecord(hwm, Instant.now()))
      ps.executeUpdate()
    } finally ps.close()
  }

  def get(name: String): Option[Hwm] = history(name, limit = 1).headOption

  /** Saved history for `name`, newest first. */
  def history(name: String, limit: Int = Int.MaxValue): Seq[Hwm] = withConn { c =>
    val ps = c.prepareStatement(
      s"""SELECT payload FROM $table WHERE hwm_name = ?
         |ORDER BY seq DESC FETCH FIRST $limit ROWS ONLY""".stripMargin)
    try {
      ps.setString(1, name)
      val rs = ps.executeQuery()
      val out = Seq.newBuilder[Hwm]
      while (rs.next())
        out ++= YamlHwmStore.parseRecords(rs.getString(1)).map(YamlHwmStore.decode)
      rs.close()
      out.result()
    } finally ps.close()
  }
}
