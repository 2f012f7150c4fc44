package graft.filedf

import org.apache.spark.sql.{Column, DataFrameReader, DataFrameWriter}

/** File formats for FileDFReader/FileDFWriter.
  *
  * Mirrors reference onetl/file/format/: each format is a validated bag of
  * Spark options plus its `format(...)` name (file_format.py:29-70), with a
  * prohibited-option guard (file_format.py:17-26) — options that would
  * silently change WHAT is read (path, schema) rather than HOW.
  */
sealed trait FileFormat {
  def name: String
  def options: Map[String, String]
  def canRead: Boolean = true
  def canWrite: Boolean = true

  protected val prohibited: Set[String] = Set("path", "paths")
  require(options.keySet.map(_.toLowerCase).intersect(prohibited).isEmpty,
    s"options ${prohibited.mkString("/")} are prohibited on $name — pass the path to the reader/writer")

  def applyToReader(r: DataFrameReader): DataFrameReader =
    r.format(name).options(options)
  def applyToWriter[T](w: DataFrameWriter[T]): DataFrameWriter[T] = {
    require(canWrite, s"$name is a read-only format")
    w.format(name).options(options)
  }
}

/** reference csv.py:37 */
final case class Csv(options: Map[String, String] = Map.empty) extends FileFormat {
  def name = "csv"
}
object Csv {
  /** header=true + inferSchema, the common interactive shape. */
  def withHeader(extra: (String, String)*): Csv =
    Csv(Map("header" -> "true") ++ extra)
}

/** Multiline JSON documents — read-only, like the reference
  * (json.py:35 ReadOnlyFileFormat): writing one giant JSON array from
  * executors can't parallelize. */
final case class Json(options: Map[String, String] = Map.empty) extends FileFormat {
  def name = "json"
  override def canWrite = false
  override def applyToReader(r: DataFrameReader): DataFrameReader =
    r.format(name).option("multiLine", "true").options(options)
}

/** Newline-delimited JSON (reference jsonline.py:22 — Spark's native
  * "json" format IS json-lines). */
final case class JsonLine(options: Map[String, String] = Map.empty) extends FileFormat {
  def name = "json"
}

final case class Orc(options: Map[String, String] = Map.empty) extends FileFormat {
  def name = "orc"
}

final case class Parquet(options: Map[String, String] = Map.empty) extends FileFormat {
  def name = "parquet"
}

/** reference avro.py:51 — Spark 4 ships the Avro source inside spark-sql
  * (AvroFileFormat), so this is a live format here, no external package
  * needed. Spark's short-name lookup still hard-errors on "avro" (it
  * assumes the external module), so reads/writes go through the bundled
  * file-format class directly. An explicit record schema passes through
  * as `avroSchema`. */
final case class Avro(options: Map[String, String] = Map.empty) extends FileFormat {
  def name = "avro"
  private def impl = org.apache.spark.sql.avro.GraftAvroBridge.fileFormatClass
  override def applyToReader(r: DataFrameReader): DataFrameReader =
    r.format(impl).options(options)
  override def applyToWriter[T](w: DataFrameWriter[T]): DataFrameWriter[T] =
    w.format(impl).options(options)
}

/** reference xml.py:34 — Spark 4 ships XML natively. rowTag is required. */
final case class Xml(rowTag: String,
                     options: Map[String, String] = Map.empty) extends FileFormat {
  def name = "xml"
  override def applyToReader(r: DataFrameReader): DataFrameReader =
    r.format(name).option("rowTag", rowTag).options(options)
  override def applyToWriter[T](w: DataFrameWriter[T]): DataFrameWriter[T] =
    w.format(name).option("rowTag", rowTag).options(options)
}

/** Plain text: one row per line, single `value: string` column on read;
  * writes exactly one string column per row. The natural format for raw
  * document corpora (reference has no equivalent; Spark's built-in
  * `text` source). `lineSep` etc. pass through as options. */
final case class Text(options: Map[String, String] = Map.empty) extends FileFormat {
  def name = "text"
}

/** reference excel.py:28 — needs the spark-excel package. Impossibility
  * proof for this container (checked round 4): none of the 287 jars in
  * /opt/spark/jars nor the offline dependency cache contain an
  * org.apache.poi or spark-excel class, and the build has zero egress, so
  * no DataSource can resolve `excel`. Kept for API parity: fails at load
  * time with Spark's ClassNotFound path, exactly like the reference
  * without its `maven:com.crealytics:spark-excel` package. */
final case class Excel(options: Map[String, String] = Map.empty) extends FileFormat {
  def name = "excel"
}

/** Column-level codecs: parse/serialize a string/binary column holding a
  * serialized document (reference csv.py:475-553, json.py:328-404,
  * xml.py:426). All are thin, codegen-friendly wrappers over
  * `org.apache.spark.sql.functions` — no UDFs. */
object ColumnCodecs {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.{DataType, StructType}
  import scala.jdk.CollectionConverters._

  private def j(m: Map[String, String]): java.util.Map[String, String] = m.asJava

  def parseCsvColumn(col: Column, schema: StructType,
                     options: Map[String, String] = Map.empty): Column =
    from_csv(col, schema, options)
  def serializeCsvColumn(col: Column,
                         options: Map[String, String] = Map.empty): Column =
    to_csv(col, j(options))

  def parseJsonColumn(col: Column, schema: DataType,
                      options: Map[String, String] = Map.empty): Column =
    from_json(col, schema, options)
  def serializeJsonColumn(col: Column,
                          options: Map[String, String] = Map.empty): Column =
    to_json(col, options)

  def parseXmlColumn(col: Column, schema: StructType,
                     options: Map[String, String] = Map.empty): Column =
    from_xml(col, schema, j(options))

  /** Avro codecs (reference avro.py:326,430) over a binary column; the
    * Avro writer record schema is the usual JSON record definition. Built
    * on graft's own expressions — Spark's to_avro/from_avro functions
    * error out without the external spark-avro module. */
  def parseAvroColumn(col: Column, jsonSchema: String): Column =
    graft.expressions.AvroCodecs.fromAvroBinary(col, jsonSchema)
  def serializeAvroColumn(col: Column): Column =
    graft.expressions.AvroCodecs.toAvroBinary(col)
}
