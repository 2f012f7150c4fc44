package graft.filedf

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Directory-exists behavior for [[FileDFWriter]]
  * (reference file_df_writer/options.py:21-28,197-227). */
sealed trait DirIfExists
object DirIfExists {
  case object Append extends DirIfExists
  /** Overwrite only the partitions present in the DataFrame
    * (dynamic partitionOverwriteMode). */
  case object ReplaceOverlappingPartitions extends DirIfExists
  case object ReplaceEntireDirectory extends DirIfExists
  case object SkipEntireDirectory extends DirIfExists
  case object Error extends DirIfExists
}

/** Spark-read a directory or an explicit file list with a [[FileFormat]].
  *
  * Recipe from reference spark_file_df_connection.py:67-100: format →
  * `basePath` option (so partition discovery yields the same columns for a
  * file-list read as for a directory read) → user schema → load(urls).
  * Always pass an explicit `schema` for production reads at scale —
  * inference is a full extra pass over 100 TB.
  */
final case class FileDFReader(spark: SparkSession,
                              format: FileFormat,
                              sourcePath: String,
                              schema: Option[StructType] = None,
                              options: Map[String, String] = Map.empty) {
  require(format.canRead, s"${format.name} cannot be read")

  /** Read the whole directory, or only `files` (paths relative to
    * `sourcePath` or absolute beneath it). */
  def run(files: Seq[String] = Nil): DataFrame = {
    var r = format.applyToReader(spark.read)
      .option("basePath", sourcePath)
      .options(options)
    schema.foreach(s => r = r.schema(s))
    val urls =
      if (files.isEmpty) Seq(sourcePath)
      else files.map(f => if (f.startsWith(sourcePath)) f
                          else s"${sourcePath.stripSuffix("/")}/$f")
    r.load(urls: _*)
  }
}

/** Spark-write a DataFrame as files
  * (reference file_df_writer.py:99-161, spark_file_df_connection.py:103-127). */
final case class FileDFWriter(format: FileFormat,
                              targetPath: String,
                              ifExists: DirIfExists = DirIfExists.Append,
                              partitionBy: Seq[String] = Nil,
                              options: Map[String, String] = Map.empty) {

  def run(df: DataFrame): Unit = {
    require(!df.isStreaming, "FileDFWriter is batch-only; use graft.streaming for streams")
    // a per-write option, not the session conf: concurrent writers on one
    // session must not see each other's overwrite mode
    val (mode, overwriteMode) = ifExists match {
      case DirIfExists.Append => ("append", None)
      case DirIfExists.ReplaceOverlappingPartitions => ("overwrite", Some("dynamic"))
      case DirIfExists.ReplaceEntireDirectory => ("overwrite", Some("static"))
      case DirIfExists.SkipEntireDirectory => ("ignore", None)
      case DirIfExists.Error => ("error", None)
    }
    var w = format.applyToWriter(df.write).options(options).mode(mode)
    overwriteMode.foreach(m => w = w.option("partitionOverwriteMode", m))
    if (partitionBy.nonEmpty) w = w.partitionBy(partitionBy: _*)
    w.save(targetPath)
  }
}
