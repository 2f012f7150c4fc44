package graft.connections

import graft.dialects.{Dialect, SparkSqlDialect}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, max => smax, min => smin}
import org.apache.spark.sql.types.StructType

/** Connector-style connection over a directory of file-backed tables
  * (`<root>/<name>.parquet` or any Spark file format).
  *
  * Architecturally this is the reference's Greenplum/Mongo connector path
  * (greenplum/connection.py:320-352): the source takes no SQL, so
  * projection/filter/limit are applied as DataFrame ops immediately after
  * `load()` — Catalyst then pushes the filters and pruning down into the
  * scan, which `.explain` confirms (`PushedFilters`, `ReadSchema`). At
  * 100 TB this is the difference between scanning one column of one
  * partition and scanning the lake.
  */
class FileTableConnection(val spark: SparkSession,
                                val root: String,
                                val format: String = "parquet")
  extends DbConnection {

  val dialect: Dialect = SparkSqlDialect

  def tablePath(source: String): String = {
    require(!source.contains("/") && !source.contains(".."),
      s"source must be a bare table name, got: $source")
    s"$root/$source.$format"
  }

  def check(): this.type = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(root), spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(root)), s"root $root does not exist")
    this
  }

  private def load(source: String, dfSchema: Option[StructType]): DataFrame = {
    val path = tablePath(source)
    dfSchema.orElse(FileTableConnection.cachedSchema(spark, path, format)) match {
      case Some(st) => spark.read.format(format).schema(st).load(path)
      case None =>
        val df = spark.read.format(format).load(path)
        FileTableConnection.putSchema(spark, path, format, df.schema)
        df
    }
  }

  def readSourceAsDf(source: String, columns: Seq[String], where: Seq[String],
                     hint: Option[String], limit: Option[Int],
                     dfSchema: Option[StructType]): DataFrame = {
    var df = load(source, dfSchema)
    // filter-first so Catalyst pushes predicates into the scan, then prune
    // columns, then limit — same order as the reference's connector path
    // (greenplum/connection.py:341-348).
    df = where.foldLeft(df)((d, c) => d.filter(expr(c)))
    if (columns.nonEmpty) df = df.selectExpr(columns: _*)
    df = hint.fold(df)(h => df.hint(h))
    limit.fold(df)(df.limit)
  }

  def writeDfToTarget(df: DataFrame, target: String, ifExists: IfExists,
                      options: Map[String, String]): Unit = {
    val path = tablePath(target)
    val mode = ifExists match {
      case IfExists.Append => "append"
      case IfExists.ReplaceEntireTable | IfExists.ReplaceOverlappingPartitions => "overwrite"
      case IfExists.Error => "error"
      // Spark skips the write when the path exists
      case IfExists.Ignore => "ignore"
    }
    df.write.format(format).options(options).mode(mode).save(path)
    // the write may have changed the table's schema; drop the cached
    // entry explicitly (the stat check would also catch it, but not a
    // same-millisecond rewrite on a filesystem with coarse mtimes)
    FileTableConnection.invalidate(path, format)
  }

  def getDfSchema(source: String, columns: Seq[String]): StructType = {
    val df = load(source, None)
    (if (columns.nonEmpty) df.selectExpr(columns: _*) else df).schema
  }

  def getMinMaxValues(source: String, expression: String,
                      where: Seq[String]): (Option[Any], Option[Any]) = {
    val df = where.foldLeft(load(source, None))((d, c) => d.filter(expr(c)))
    val row = df.agg(smin(expr(expression)).as("min"),
                     smax(expr(expression)).as("max")).head()
    (Option(row.get(0)), Option(row.get(1)))
  }
}

object FileTableConnection {
  /** JVM-wide inferred-schema cache keyed by (path, format), validated
    * against the file/dir's (modificationTime, length) on EVERY lookup
    * — a stat (sub-ms) instead of a schema-inference pass (for parquet,
    * a real Spark job even on one file). Every connection constructed
    * over the same immutable input re-paid that job once per table per
    * run before this cache; across a few hundred queries × min-of-N
    * benchmark runs the inference jobs alone summed to tens of seconds.
    * A write through ANY connection bumps the mtime (and
    * [[FileTableConnection.invalidate]] drops the entry explicitly for
    * same-millisecond rewrites), so stale hits require an out-of-band
    * writer racing inside the mtime granularity — the standard contract
    * of a stat-validated metadata cache. */
  private val schemaCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), (Long, Long, StructType)]

  private def statOf(spark: SparkSession, path: String): Option[(Long, Long)] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p)
      Some((st.getModificationTime, st.getLen))
    } catch { case _: java.io.IOException => None }

  private[connections] def cachedSchema(spark: SparkSession, path: String,
                                        format: String): Option[StructType] =
    for {
      (mtime, len, schema) <- schemaCache.get((path, format))
      (m, l) <- statOf(spark, path) if m == mtime && l == len
    } yield schema

  private[connections] def putSchema(spark: SparkSession, path: String,
                                     format: String,
                                     schema: StructType): Unit =
    statOf(spark, path).foreach { case (m, l) =>
      schemaCache.put((path, format), (m, l, schema))
    }

  private[connections] def invalidate(path: String, format: String): Unit =
    schemaCache.remove((path, format))
}
