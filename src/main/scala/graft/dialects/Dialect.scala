package graft.dialects

import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import graft.core.{Edge, Hwm, SparkTypeToHwm, Window}
import org.apache.spark.sql.types.StructField

/** Per-storage SQL dialect — the pushdown "query compiler".
  *
  * Re-expresses the behavior of the reference's DBDialect
  * (onetl/connection/db_connection/db_connection/dialect.py:22-147) and its
  * per-storage subclasses as a Scala trait hierarchy. The generated SQL is
  * what executors push to the remote engine, so at 100 TB this layer decides
  * how much data ever leaves the source: WHERE windows, column pruning, and
  * LIMIT all happen source-side.
  */
trait Dialect {
  def name: String

  // ---- capabilities (reference dialect_mixins/*.py) -----------------------
  def supportsHint: Boolean = false

  def escapeColumn(ident: String): String = "\"" + ident + "\""
  def aliased(expression: String, alias: String): String = s"$expression AS $alias"

  /** Connectivity probe (reference jdbc_connection/connection.py:86
    * `CHECK_QUERY`; Oracle overrides with `FROM dual`). */
  def checkQuery: String = "SELECT 1"

  def maxValue(expression: String): String = s"MAX($expression)"
  def minValue(expression: String): String = s"MIN($expression)"

  /** Single-line SELECT generation.
    * Behavior from reference dialect.py:22-69: `limit == 0` becomes
    * `WHERE 1 = 0` (LIMIT 0 is not valid everywhere); multiple conjuncts are
    * parenthesized and AND-joined; hint renders as an optimizer comment.
    */
  def getSqlQuery(table: String,
                  columns: Seq[String] = Nil,
                  where: Seq[String] = Nil,
                  hint: Option[String] = None,
                  limit: Option[Int] = None): String = {
    val hintStr = hint.filter(_ => supportsHint).map(h => s" /*+ $h */").getOrElse("")
    val cols = if (columns.isEmpty) "*" else columns.mkString(", ")
    val effWhere = if (limit.contains(0)) Seq("1 = 0") else where
    val whereStr = effWhere match {
      case Nil => ""
      case Seq(one) => s" WHERE $one"
      case many => " WHERE " + many.map(c => s"($c)").mkString(" AND ")
    }
    val limitStr = limit.filter(_ > 0).map(n => s" LIMIT $n").getOrElse("")
    s"SELECT$hintStr $cols FROM $table$whereStr$limitStr"
  }

  /** MIN/MAX probe used for window bound auto-detection
    * (reference jdbc_connection/connection.py:278-318). Both edges fetched
    * inclusively; the exclusive `>` is applied only in the final read
    * (reference db_reader.py:741-746). */
  def getMinMaxQuery(table: String, expression: String,
                     where: Seq[String] = Nil): String =
    getSqlQuery(table,
      columns = Seq(aliased(minValue(expression), escapeColumn("min")),
                    aliased(maxValue(expression), escapeColumn("max"))),
      where = where)

  /** AND-combine a user condition with HWM window edges
    * (reference dialect.py:71-81). */
  def applyWindow(where: Seq[String], window: Option[Window]): Seq[String] =
    where ++ window.toSeq.flatMap { w =>
      Seq(edgeToWhere(w.expression, w.startFrom, isStart = true),
          edgeToWhere(w.expression, w.stopAt, isStart = false)).flatten
    }

  /** `expr {>,>=,<,<=} literal` (reference dialect.py:103-121). */
  def edgeToWhere(expression: String, edge: Edge, isStart: Boolean): Option[String] =
    edge.value.map { v =>
      val op = (isStart, edge.including) match {
        case (true, true) => ">="
        case (true, false) => ">"
        case (false, true) => "<="
        case (false, false) => "<"
      }
      s"$expression $op ${serializeValue(v)}"
    }

  def serializeValue(v: Any): String = v match {
    case t: Instant => serializeDatetime(LocalDateTime.ofInstant(t, ZoneOffset.UTC))
    case t: java.sql.Timestamp => serializeDatetime(t.toLocalDateTime)
    case t: LocalDateTime => serializeDatetime(t)
    case d: LocalDate => serializeDate(d)
    case d: java.sql.Date => serializeDate(d.toLocalDate)
    case s: String => "'" + s.replace("'", "''") + "'"
    case other => other.toString
  }

  protected def serializeDatetime(v: LocalDateTime): String =
    "'" + v.format(DateTimeFormatter.ISO_LOCAL_DATE_TIME) + "'"
  protected def serializeDate(v: LocalDate): String = s"'$v'"

  /** Partitioning-column synthesis for parallel JDBC reads
    * (reference jdbc_connection/connection.py:188-230 + per-dialect
    * expressions). Both must return a value in [0, numPartitions). */
  def partitionColumnHash(column: String, numPartitions: Int): String =
    s"ABS(HASH($column)) % $numPartitions"
  def partitionColumnMod(column: String, numPartitions: Int): String =
    s"ABS($column % $numPartitions)"

  /** DataType → HWM template (reference dialect.py:19-20). */
  def detectHwmClass(name: String, entity: String, expression: String,
                     field: StructField): Hwm =
    SparkTypeToHwm.detect(name, entity, expression, field.dataType)

  protected def isoMicros(v: LocalDateTime): String =
    v.format(DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
}

/** ANSI-ish default used by generic JDBC sources. */
object GenericDialect extends Dialect { val name = "generic" }

/** reference postgres/dialect.py — hashtext ~3-5× faster than MD5. */
object PostgresDialect extends Dialect {
  val name = "postgres"
  override def partitionColumnHash(c: String, n: Int): String =
    s"abs(hashtext($c::text)) % $n"
  override def partitionColumnMod(c: String, n: Int): String = s"abs($c % $n)"
  override protected def serializeDatetime(v: LocalDateTime): String =
    "'" + v.format(DateTimeFormatter.ISO_LOCAL_DATE_TIME) + "'::timestamp"
  override protected def serializeDate(v: LocalDate): String = s"'$v'::date"
}

/** reference oracle/dialect.py — ROWNUM instead of LIMIT; `t.*` when mixing
  * star with expressions; ora_hash yields [0, N] so N-1 keeps balance. */
object OracleDialect extends Dialect {
  val name = "oracle"
  override def supportsHint: Boolean = true
  override def checkQuery: String = "SELECT 1 FROM dual"
  override def getSqlQuery(table: String, columns: Seq[String], where: Seq[String],
                           hint: Option[String], limit: Option[Int]): String = {
    val cols =
      if (columns.size > 1) columns.map(c => if (c.trim == "*") s"$table.*" else c)
      else columns
    val (effWhere, effLimit) = limit match {
      case Some(0) => (Seq("1 = 0"), None)
      case Some(n) => (where :+ s"ROWNUM <= $n", None)
      case None => (where, None)
    }
    super.getSqlQuery(table, cols, effWhere, hint, effLimit)
  }
  override def partitionColumnHash(c: String, n: Int): String =
    s"ora_hash($c, ${n - 1})"
  override def partitionColumnMod(c: String, n: Int): String =
    s"ABS(MOD($c, $n))"
  override protected def serializeDatetime(v: LocalDateTime): String = {
    val s = v.format(DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    s"TO_DATE('$s', 'YYYY-MM-DD HH24:MI:SS')"
  }
  override protected def serializeDate(v: LocalDate): String =
    s"TO_DATE('$v', 'YYYY-MM-DD')"
}

/** reference clickhouse/dialect.py — maxOrNull/minOrNull because max() on an
  * empty table returns 0, not NULL. */
object ClickhouseDialect extends Dialect {
  val name = "clickhouse"
  override def maxValue(e: String): String = s"maxOrNull($e)"
  override def minValue(e: String): String = s"minOrNull($e)"
  override def partitionColumnHash(c: String, n: Int): String =
    s"sipHash64($c) % $n"
  override def partitionColumnMod(c: String, n: Int): String = s"abs($c % $n)"
  override protected def serializeDatetime(v: LocalDateTime): String =
    s"toDateTime64('${isoMicros(v)}', 6)"
  override protected def serializeDate(v: LocalDate): String = s"toDate('$v')"
}

/** reference mysql/dialect.py — backtick escaping; MD5→CONV hash. */
object MySqlDialect extends Dialect {
  val name = "mysql"
  override def supportsHint: Boolean = true
  override def escapeColumn(ident: String): String = s"`$ident`"
  override def partitionColumnHash(c: String, n: Int): String =
    s"CAST(CONV(RIGHT(MD5($c), 16), 16, 10) AS UNSIGNED) % $n"
  override def partitionColumnMod(c: String, n: Int): String = s"ABS($c % $n)"
  override protected def serializeDatetime(v: LocalDateTime): String =
    s"STR_TO_DATE('${isoMicros(v)}', '%Y-%m-%d %H:%i:%s.%f')"
  override protected def serializeDate(v: LocalDate): String =
    s"STR_TO_DATE('$v', '%Y-%m-%d')"
}

/** reference mssql/dialect.py — SELECT TOP n; BINARY_CHECKSUM ~5× MD5. */
object MssqlDialect extends Dialect {
  val name = "mssql"
  override def supportsHint: Boolean = true
  override def getSqlQuery(table: String, columns: Seq[String], where: Seq[String],
                           hint: Option[String], limit: Option[Int]): String = {
    val base = super.getSqlQuery(table, columns, where, hint,
      if (limit.contains(0)) Some(0) else None)
    limit.filter(_ > 0).map(n => base.replaceFirst("SELECT", s"SELECT TOP $n"))
      .getOrElse(base)
  }
  override def partitionColumnHash(c: String, n: Int): String =
    s"ABS(BINARY_CHECKSUM($c)) % $n"
  override def partitionColumnMod(c: String, n: Int): String = s"ABS($c % $n)"
  override protected def serializeDatetime(v: LocalDateTime): String =
    s"CAST('${v.format(DateTimeFormatter.ISO_LOCAL_DATE_TIME)}' AS datetime2)"
  override protected def serializeDate(v: LocalDate): String =
    s"CAST('$v' AS date)"
}

/** reference greenplum/dialect.py — no hint, connector applies filters
  * post-load, plain CAST literals. */
object GreenplumDialect extends Dialect {
  val name = "greenplum"
  override protected def serializeDatetime(v: LocalDateTime): String =
    s"cast('${v.format(DateTimeFormatter.ISO_LOCAL_DATE_TIME)}' as timestamp)"
  override protected def serializeDate(v: LocalDate): String =
    s"cast('$v' as date)"
}

/** Apache Derby (ANSI): `FETCH FIRST n ROWS ONLY` instead of LIMIT, `MOD()`
  * function (no `%` operator), `VALUES 1` probe. Not in the reference's
  * storage list — included because Derby ships with Spark, giving the JDBC
  * read/write/fetch/execute path a live in-process integration target. */
object DerbyDialect extends Dialect {
  val name = "derby"
  override def checkQuery: String = "VALUES 1"
  override def getSqlQuery(table: String, columns: Seq[String], where: Seq[String],
                           hint: Option[String], limit: Option[Int]): String = {
    // `SELECT *, expr` is invalid in Derby (as in Oracle — oracle/dialect.py
    // rewrites to `t.*`); hit by the synthesized partition column
    val cols =
      if (columns.size > 1) columns.map(c => if (c.trim == "*") s"$table.*" else c)
      else columns
    val base = super.getSqlQuery(table, cols, where, hint,
      if (limit.contains(0)) Some(0) else None)
    limit.filter(_ > 0).map(n => s"$base FETCH FIRST $n ROWS ONLY").getOrElse(base)
  }
  override def partitionColumnHash(c: String, n: Int): String =
    partitionColumnMod(c, n) // Derby has no SQL-visible hash function
  override def partitionColumnMod(c: String, n: Int): String =
    s"MOD(ABS($c), $n)"
  override protected def serializeDatetime(v: LocalDateTime): String =
    s"TIMESTAMP('${v.format(DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))}')"
  override protected def serializeDate(v: LocalDate): String = s"DATE('$v')"
}

/** Spark-SQL dialect shared by Hive/Iceberg/file-table connections
  * (reference hive/dialect.py:25-26 — backtick escaping). Literal forms are
  * Spark SQL; window predicates from this dialect go into `df.filter`. */
object SparkSqlDialect extends Dialect {
  val name = "spark"
  override def supportsHint: Boolean = true
  override def escapeColumn(ident: String): String = s"`$ident`"
  override def partitionColumnHash(c: String, n: Int): String =
    s"pmod(xxhash64($c), $n)"
  override def partitionColumnMod(c: String, n: Int): String =
    s"abs($c % $n)"
  override protected def serializeDatetime(v: LocalDateTime): String =
    s"TIMESTAMP '${isoMicros(v)}'"
  override protected def serializeDate(v: LocalDate): String = s"DATE '$v'"
}
