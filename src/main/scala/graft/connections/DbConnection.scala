package graft.connections

import graft.core.Bounds
import graft.dialects.Dialect
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Target-exists behavior for writers (reference
  * onetl/connection/db_connection/jdbc_connection/options.py:83-101,
  * hive/options.py:22, file_df_writer/options.py:21-28). */
sealed trait IfExists
object IfExists {
  case object Append extends IfExists
  case object ReplaceEntireTable extends IfExists
  case object ReplaceOverlappingPartitions extends IfExists
  case object Error extends IfExists
  case object Ignore extends IfExists
}

/** One source/target storage connection.
  *
  * Mirrors the reference's BaseDBConnection SPI
  * (onetl/base/base_db_connection.py:124-139): a connection encapsulates
  * where the data lives, its SQL/pipeline dialect, and how a read plan
  * (columns/where/hint/limit + HWM window conjuncts) becomes a DataFrame.
  * Transform stays 100% Spark — connections never own row processing.
  */
trait DbConnection {
  def spark: SparkSession
  def dialect: Dialect

  /** Connectivity probe (reference jdbc_connection/connection.py:90-107). */
  def check(): this.type

  /** Plan + execute a read of one table/collection/topic.
    * `where` is a list of conjuncts already rendered in this dialect. */
  def readSourceAsDf(source: String,
                     columns: Seq[String] = Nil,
                     where: Seq[String] = Nil,
                     hint: Option[String] = None,
                     limit: Option[Int] = None,
                     dfSchema: Option[StructType] = None): DataFrame

  /** [[readSourceAsDf]] of a window whose MIN/MAX the caller already
    * knows: `bounds`, from the strategy's plan. A connection that plans a
    * read from the source's MIN/MAX (a range-partitioned JDBC read) takes
    * them instead of probing; the default ignores them. */
  def readSourceAsDf(source: String, columns: Seq[String], where: Seq[String],
                     hint: Option[String], limit: Option[Int],
                     dfSchema: Option[StructType],
                     bounds: Option[Bounds]): DataFrame =
    readSourceAsDf(source, columns, where, hint, limit, dfSchema)

  def writeDfToTarget(df: DataFrame, target: String,
                      ifExists: IfExists = IfExists.Append,
                      options: Map[String, String] = Map.empty): Unit

  /** Schema probe without reading data (JDBC uses a `LIMIT 0` driver query,
    * reference jdbc_connection/connection.py:257-276). */
  def getDfSchema(source: String, columns: Seq[String] = Nil): StructType

  /** MIN/MAX of an expression under a window — drives strategy bound
    * auto-detection. Fetched with both edges INCLUSIVE; exclusivity is
    * applied only in the final read (reference db_reader.py:741-746). */
  def getMinMaxValues(source: String, expression: String,
                      where: Seq[String] = Nil): (Option[Any], Option[Any])

  /** Run a user SELECT on executors (reference
    * jdbc_connection/connection.py:109-159, hive/connection.py:192). */
  def sql(query: String): DataFrame =
    throw new UnsupportedOperationException(s"$getClass does not support sql()")
}
