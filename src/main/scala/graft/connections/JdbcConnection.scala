package graft.connections

import java.sql.{Connection, DriverManager, ResultSet}
import java.util.Properties

import graft.core.Bounds
import graft.dialects.Dialect
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** JDBC connectivity options (reference
  * onetl/connection/db_connection/jdbc_connection/options.py). `fetchsize`
  * defaults to 100k — the JDBC driver default of ~10 rows/round-trip is
  * unusable for bulk extraction (options.py:200-214). */
final case class JdbcOptions(url: String,
                             user: Option[String] = None,
                             password: Option[String] = None,
                             driver: Option[String] = None,
                             fetchsize: Int = 100000,
                             queryTimeoutSec: Option[Int] = None,
                             sessionInitStatement: Option[String] = None,
                             extra: Map[String, String] = Map.empty) {
  // connection identity and partitioning are modelled as typed fields; a
  // passthrough key would silently override them (reference
  // jdbc_connection/options.py:22-33 GENERIC_PROHIBITED_OPTIONS)
  JdbcOptions.requireAllowed(extra, "JdbcOptions.extra")
}

object JdbcOptions {
  /** Spark JDBC option keys a user must not smuggle through a passthrough
    * map (case-insensitive, like Spark's own option handling). */
  val ProhibitedPassthrough: Set[String] = Set(
    "user", "password", "driver", "url", "table", "dbtable", "query",
    "properties", "partitioncolumn", "lowerbound", "upperbound",
    "numpartitions", "partitioningmode")

  def requireAllowed(opts: Map[String, String], where: String): Unit = {
    val bad = opts.keySet.filter(k => ProhibitedPassthrough(k.toLowerCase))
    require(bad.isEmpty,
      s"options ${bad.mkString(", ")} are not allowed in $where — they are " +
        "owned by the connection/partitioning configuration")
  }
}

/** Parallel-read partitioning (reference jdbc_connection/options.py:104-400).
  *
  *  - Range: Spark's native stride partitioning on a numeric, date or
  *    timestamp column; missing bounds come from the reader's window plan
  *    when the column is its HWM expression, else from a MIN/MAX query
  *    (connection.py:340-391).
  *  - Hash/Mod: for non-monotonic or skewed keys — a synthesized
  *    `hash(col) % N` column is added to the SELECT under a generated
  *    alias, used as the partition column with bounds [0, N), then dropped
  *    after load (connection.py:188-230). Every executor task then opens
  *    its own connection and pulls exactly one bucket: this is what makes a
  *    100 TB extraction parallel instead of a single-socket drain.
  */
sealed trait PartitioningMode
object PartitioningMode {
  case object Range extends PartitioningMode
  case object Hash extends PartitioningMode
  case object Mod extends PartitioningMode
}

final case class JdbcPartitioning(numPartitions: Int,
                                  partitionColumn: String,
                                  mode: PartitioningMode = PartitioningMode.Range,
                                  lowerBound: Option[Long] = None,
                                  upperBound: Option[Long] = None)

/** The fully-planned Spark read: pure data, unit-testable without a DB. */
final case class JdbcReadPlan(options: Map[String, String],
                              dropColumns: Seq[String])

object JdbcReadPlan {
  /** Synthesized-column alias, mirroring the reference's `generated_<hex>`
    * naming (connection.py:205) but deterministic per column/mode. */
  def generatedAlias(column: String, mode: PartitioningMode): String =
    f"generated_${Integer.toHexString((column + mode.toString).hashCode)}%s"

  /** `v` as a bound Spark's JDBC partitioner parses for a numeric, date or
    * timestamp partition column. A decimal rounds outward to an integer
    * (`up` for the upper bound); an `Instant` renders as ISO-8601 in UTC. */
  def boundString(v: Any, up: Boolean): String = v match {
    case d: BigDecimal => boundString(d.bigDecimal, up)
    case d: java.math.BigDecimal =>
      d.setScale(0, if (up) java.math.RoundingMode.CEILING else java.math.RoundingMode.FLOOR)
        .toPlainString
    case other => other.toString
  }

  def plan(dialect: Dialect,
           source: String,
           columns: Seq[String],
           where: Seq[String],
           hint: Option[String],
           limit: Option[Int],
           partitioning: Option[JdbcPartitioning],
           bounds: => (Option[Any], Option[Any])): JdbcReadPlan = {
    val baseCols = if (columns.isEmpty) Seq("*") else columns

    partitioning match {
      case None =>
        val sql = dialect.getSqlQuery(source, baseCols, where, hint, limit)
        JdbcReadPlan(Map("dbtable" -> s"($sql) T"), Nil)

      case Some(p) if p.mode == PartitioningMode.Range =>
        val (lo, hi) = (p.lowerBound, p.upperBound) match {
          case (Some(l), Some(u)) => (l.toString, u.toString)
          case _ =>
            val (mn, mx) = bounds
            (p.lowerBound.map(_.toString).orElse(mn.map(boundString(_, up = false))).getOrElse("0"),
             p.upperBound.map(_.toString).orElse(mx.map(boundString(_, up = true))).getOrElse("0"))
        }
        val sql = dialect.getSqlQuery(source, baseCols, where, hint, limit)
        JdbcReadPlan(Map(
          "dbtable" -> s"($sql) T",
          "partitionColumn" -> p.partitionColumn,
          "lowerBound" -> lo, "upperBound" -> hi,
          "numPartitions" -> p.numPartitions.toString), Nil)

      case Some(p) =>
        val expr = p.mode match {
          case PartitioningMode.Hash =>
            dialect.partitionColumnHash(p.partitionColumn, p.numPartitions)
          case _ =>
            dialect.partitionColumnMod(p.partitionColumn, p.numPartitions)
        }
        val alias = generatedAlias(p.partitionColumn, p.mode)
        val sql = dialect.getSqlQuery(source,
          baseCols :+ dialect.aliased(expr, alias), where, hint, limit)
        JdbcReadPlan(Map(
          "dbtable" -> s"($sql) T",
          "partitionColumn" -> alias,
          "lowerBound" -> "0",
          "upperBound" -> p.numPartitions.toString,
          "numPartitions" -> p.numPartitions.toString), Seq(alias))
    }
  }
}

/** JDBC connection: executor-distributed reads via `format("jdbc")` with a
  * dialect-generated pushdown subquery, plus an eager DRIVER-side channel
  * (`fetch`/`execute`) for schema probes, MIN/MAX planning queries, and
  * DDL/DML — exactly the reference's split
  * (jdbc_connection/connection.py + jdbc_mixin/connection.py). Being in the
  * JVM, the reference's Py4J contortions (jdbc_mixin/connection.py:497-546)
  * collapse to a plain ResultSet→Row loop. */
class JdbcConnection(val spark: SparkSession,
                     val dialect: Dialect,
                     val options: JdbcOptions,
                     val partitioning: Option[JdbcPartitioning] = None)
  extends DbConnection {

  protected def connectionProperties: Properties = {
    val p = new Properties()
    options.user.foreach(p.setProperty("user", _))
    options.password.foreach(p.setProperty("password", _))
    options.extra.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  protected def sparkJdbcBaseOptions: Map[String, String] =
    Map("url" -> options.url, "fetchsize" -> options.fetchsize.toString) ++
      options.user.map("user" -> _) ++
      options.password.map("password" -> _) ++
      options.driver.map("driver" -> _) ++
      options.sessionInitStatement.map("sessionInitStatement" -> _) ++
      options.extra

  def check(): this.type = { fetch(dialect.checkQuery); this }

  /** The bounds passed to the read running on this thread, for the
    * six-argument [[readSourceAsDf]]: the hook a subclass wraps. */
  private val passedBounds = new ThreadLocal[Option[Bounds]] {
    override def initialValue(): Option[Bounds] = None
  }

  override def readSourceAsDf(source: String, columns: Seq[String], where: Seq[String],
                              hint: Option[String], limit: Option[Int],
                              dfSchema: Option[StructType],
                              bounds: Option[Bounds]): DataFrame = {
    val outer = passedBounds.get
    passedBounds.set(bounds)
    try readSourceAsDf(source, columns, where, hint, limit, dfSchema)
    finally passedBounds.set(outer)
  }

  /** A Range-partitioned read takes its missing bounds from the bounds
    * passed for its partition column, else from a MIN/MAX probe. */
  def readSourceAsDf(source: String, columns: Seq[String], where: Seq[String],
                     hint: Option[String], limit: Option[Int],
                     dfSchema: Option[StructType]): DataFrame = {
    require(dfSchema.isEmpty,
      "JDBC sources infer their schema from the database — df_schema is not supported")
    val known = passedBounds.get
      .filter(b => partitioning.exists(_.partitionColumn == b.expression))
    var boundsProbed = false
    val plan = JdbcReadPlan.plan(dialect, source, columns, where, hint, limit,
      partitioning, known.map(b => (Some(b.min), Some(b.max))).getOrElse {
        boundsProbed = true
        getMinMaxValues(source, partitioning.get.partitionColumn, where)
      })
    // after a driver-side bound probe the init statement has already run
    // once; drop it from the executor read (reference connection.py:384-386)
    val base =
      if (boundsProbed) sparkJdbcBaseOptions - "sessionInitStatement"
      else sparkJdbcBaseOptions
    val df = spark.read.format("jdbc")
      .options(base ++ plan.options).load()
    plan.dropColumns.foldLeft(df)(_ drop _)
  }

  def writeDfToTarget(df: DataFrame, target: String, ifExists: IfExists,
                      writeOptions: Map[String, String]): Unit = {
    JdbcOptions.requireAllowed(writeOptions, "DbWriter options")
    val mode = ifExists match {
      case IfExists.Append => "append"
      case IfExists.ReplaceEntireTable | IfExists.ReplaceOverlappingPartitions => "overwrite"
      case IfExists.Error => "error"
      case IfExists.Ignore => "ignore"
    }
    df.write.format("jdbc")
      .options(sparkJdbcBaseOptions ++ writeOptions + ("dbtable" -> target))
      .mode(mode).save()
  }

  /** `LIMIT 0` schema probe on the driver connection
    * (reference jdbc_connection/connection.py:257-276), read off the
    * result set's metadata. */
  def getDfSchema(source: String, columns: Seq[String]): StructType = {
    val cols = if (columns.isEmpty) Seq("*") else columns
    driverQuery(dialect.getSqlQuery(source, cols, limit = Some(0)))(new ResultSetReader(_).schema)
  }

  /** MIN/MAX probe on the driver connection, read off its one result row. */
  def getMinMaxValues(source: String, expression: String,
                      where: Seq[String]): (Option[Any], Option[Any]) =
    driverQuery(dialect.getMinMaxQuery(source, expression, where)) { rs =>
      val reader = new ResultSetReader(rs)
      if (!rs.next()) (None, None)
      else { val r = reader.row(); (Option(r(0)), Option(r(1))) }
    }

  /** Lazy, executor-side user SELECT
    * (reference jdbc_connection/connection.py:109-159). */
  override def sql(query: String): DataFrame =
    spark.read.format("jdbc")
      .options(sparkJdbcBaseOptions + ("dbtable" -> s"($query) T")).load()

  /** Eager SELECT **on the driver** — short-lived connection, results into a
    * local DataFrame (reference jdbc_mixin/connection.py:143-210). */
  def fetch(query: String): DataFrame = driverQuery(query)(resultSetToDf)

  /** `sql` run on a short-lived driver connection; `read` consumes its
    * result set. */
  private def driverQuery[A](sql: String)(read: ResultSet => A): A = withConnection { conn =>
    val st = conn.prepareStatement(clearStatement(sql),
      ResultSet.TYPE_FORWARD_ONLY, ResultSet.CONCUR_READ_ONLY)
    try {
      st.setFetchSize(options.fetchsize)
      options.queryTimeoutSec.foreach(st.setQueryTimeout)
      read(st.executeQuery())
    } finally st.close()
  }

  /** Eager DDL/DML/procedure on the driver; returns a DataFrame when the
    * statement produced a ResultSet (reference jdbc_mixin:212-282). */
  def execute(statement: String): Option[DataFrame] = withConnection { conn =>
    val st = conn.prepareCall(clearStatement(statement))
    try {
      options.queryTimeoutSec.foreach(st.setQueryTimeout)
      if (st.execute()) Option(st.getResultSet).map(resultSetToDf) else None
    } finally st.close()
  }

  /** Strip trailing `;` and dedent (reference _util/sql.py:3). */
  protected def clearStatement(s: String): String =
    s.trim.stripSuffix(";").trim

  protected def withConnection[A](body: Connection => A): A = {
    options.driver.foreach(Class.forName)
    val conn = DriverManager.getConnection(options.url, connectionProperties)
    try {
      options.sessionInitStatement.foreach { init =>
        val st = conn.createStatement(); try st.execute(init) finally st.close()
      }
      body(conn)
    } finally conn.close()
  }

  /** ResultSet → local DataFrame, through [[ResultSetReader]]. */
  protected def resultSetToDf(rs: ResultSet): DataFrame = {
    val reader = new ResultSetReader(rs)
    val rows = new java.util.ArrayList[Row]()
    while (rs.next()) rows.add(Row.fromSeq(reader.row()))
    spark.createDataFrame(rows, reader.schema)
  }

  /** Reads a driver-channel ResultSet as Spark-typed values: the one owner
    * of this connection's JDBC → Spark type map. Covers the common SQL
    * types; BYO mapping for vendor exotica (reference relies on
    * Spark-internal JdbcUtils, jdbc_mixin/connection.py:497-546 —
    * reimplemented here because those APIs are private[sql]). */
  private final class ResultSetReader(rs: ResultSet) {
    val schema: StructType = {
      import java.sql.Types._
      val md = rs.getMetaData
      StructType((1 to md.getColumnCount).map { i =>
        val dt = md.getColumnType(i) match {
          case BIT | BOOLEAN => BooleanType
          case TINYINT | SMALLINT => ShortType
          case INTEGER => IntegerType
          case BIGINT => LongType
          case FLOAT | REAL => FloatType
          case DOUBLE => DoubleType
          case NUMERIC | DECIMAL =>
            val p = math.max(1, math.min(38, md.getPrecision(i)))
            DecimalType(p, math.max(0, math.min(p, md.getScale(i))))
          case DATE => DateType
          case TIME | TIMESTAMP | TIMESTAMP_WITH_TIMEZONE => TimestampType
          case BINARY | VARBINARY | LONGVARBINARY | BLOB => BinaryType
          case _ => StringType
        }
        StructField(md.getColumnLabel(i), dt, md.isNullable(i) != 0)
      })
    }

    /** The current row's values; SQL NULL is null. */
    def row(): Seq[Any] = schema.fields.indices.map { c =>
      val i = c + 1
      val v: Any = schema.fields(c).dataType match {
        case BooleanType => rs.getBoolean(i)
        case ShortType => rs.getShort(i)
        case IntegerType => rs.getInt(i)
        case LongType => rs.getLong(i)
        case FloatType => rs.getFloat(i)
        case DoubleType => rs.getDouble(i)
        case _: DecimalType => rs.getBigDecimal(i)
        case DateType => rs.getDate(i)
        case TimestampType => rs.getTimestamp(i)
        case BinaryType => rs.getBytes(i)
        case _ => rs.getString(i)
      }
      if (rs.wasNull()) null else v
    }
  }
}

/** Connection-count guard for sources with hard parallel-connection limits
  * (reference greenplum/connection.py:185-186,544-607: warn ≥ 31 parallel
  * connections, fail ≥ 100 — a 1000-executor cluster must NOT open 1000
  * sockets to one Greenplum master). */
class GreenplumConnection(spark: SparkSession,
                          options: JdbcOptions,
                          partitioning: Option[JdbcPartitioning] = None)
  extends JdbcConnection(spark, graft.dialects.GreenplumDialect, options,
    partitioning) {

  val ConnectionsWarningLimit = 31
  val ConnectionsExceptionLimit = 100

  override def readSourceAsDf(source: String, columns: Seq[String],
                              where: Seq[String], hint: Option[String],
                              limit: Option[Int],
                              dfSchema: Option[StructType]): DataFrame = {
    val parallel = partitioning.map(_.numPartitions)
      .getOrElse(spark.sparkContext.defaultParallelism)
    if (parallel >= ConnectionsExceptionLimit)
      throw new IllegalStateException(
        s"$parallel parallel connections would exceed the Greenplum limit " +
          s"($ConnectionsExceptionLimit); reduce numPartitions")
    if (parallel >= ConnectionsWarningLimit)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$parallel parallel Greenplum connections — consider reducing numPartitions")
    super.readSourceAsDf(source, columns, where, hint, limit, dfSchema)
  }
}
