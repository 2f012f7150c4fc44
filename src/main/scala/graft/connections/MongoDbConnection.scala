package graft.connections

import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import graft.core.{Edge, Window}
import graft.dialects.{Dialect, GenericDialect}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** MongoDB dialect: predicates are JSON pipeline fragments, not SQL
  * (reference mongodb/dialect.py:125-155). */
object MongoDialect extends Dialect {
  val name = "mongodb"

  /** HWM window edges render as Mongo JSON fragments, not SQL — this is
    * what `Dialect.applyWindow` composes, so DbReader windows flow into
    * `$match` pipelines as valid JSON (reference mongodb/dialect.py:115-160). */
  override def edgeToWhere(expression: String, edge: Edge, isStart: Boolean): Option[String] =
    edgeToJson(expression, edge, isStart)

  /** `{"expr": {"$gt": value}}` window fragments. */
  def edgeToJson(expression: String, edge: Edge, isStart: Boolean): Option[String] =
    edge.value.map { v =>
      val op = (isStart, edge.including) match {
        case (true, true) => "$gte"
        case (true, false) => "$gt"
        case (false, true) => "$lte"
        case (false, false) => "$lt"
      }
      s"""{"$expression": {"$op": ${serializeJsonValue(v)}}}"""
    }

  def serializeJsonValue(v: Any): String = v match {
    case t: Instant => s"""{"$$date": "${DateTimeFormatter.ISO_INSTANT.format(t)}"}"""
    case t: java.sql.Timestamp => serializeJsonValue(t.toInstant)
    case d: LocalDate =>
      serializeJsonValue(d.atStartOfDay(ZoneOffset.UTC).toInstant)
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case other => other.toString
  }

  def matchStage(conjuncts: Seq[String]): Option[String] =
    if (conjuncts.isEmpty) None
    else if (conjuncts.size == 1) Some(s"""{"$$match": ${conjuncts.head}}""")
    else Some(s"""{"$$match": {"$$and": [${conjuncts.mkString(", ")}]}}""")

  /** Aggregation-pipeline STAGE operators, which must not appear at the
    * top level of a `where` filter document (reference
    * mongodb/dialect.py:17-58 `_upper_level_operators`). */
  private val StageOperators = Set(
    "$addFields", "$bucket", "$bucketAuto", "$changeStream", "$collStats",
    "$count", "$currentOp", "$densify", "$documents", "$facet", "$fill",
    "$geoNear", "$graphLookup", "$group", "$indexStats", "$limit",
    "$listLocalSessions", "$listSessions", "$lookup", "$merge", "$out",
    "$planCacheStats", "$project", "$redact", "$replaceRoot", "$replaceWith",
    "$sample", "$search", "$searchMeta", "$set", "$setWindowFields",
    "$shardedDataDistribution", "$skip", "$sort", "$sortByCount",
    "$unionWith", "$unset", "$unwind")

  /** `where` must be a FILTER document ({"col": {"$eq": 1}}, $and/$or...),
    * never a pipeline stage: a $match wrapper double-wraps (the engine
    * adds its own), and stage operators like $group/$out would smuggle
    * arbitrary pipeline stages — $out even writes — through what callers
    * believe is a read filter (reference mongodb/dialect.py:161-175). */
  def validateWhere(fragment: String): String = {
    topLevelKeys(fragment).foreach { k =>
      if (k == "$match")
        throw new IllegalArgumentException(
          "'where' must not wrap the filter in $match — pass the filter " +
            "document itself; the $match stage is added by the engine")
      if (StageOperators.contains(k))
        throw new IllegalArgumentException(
          s"pipeline stage operator '$k' is not allowed in 'where' — " +
            "only filtering operators ($eq/$gt/$and/...) may appear")
    }
    fragment
  }

  /** First-level keys of a JSON object literal: depth-tracked scan (the
    * JDK has no JSON parser and this validation needs no full parse).
    * Escape sequences are DECODED, not stripped: `"$out"` must
    * yield the key `$out`, or the stage-operator check above is
    * bypassable with unicode escapes (the reference parses real JSON,
    * so escapes are normalized before validation). */
  private[connections] def topLevelKeys(json: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var i = 0
    var inString = false
    val sb = new StringBuilder
    var lastString: String = null
    while (i < json.length) {
      val c = json.charAt(i)
      if (inString) {
        if (c == '\\' && i + 1 < json.length) {
          json.charAt(i + 1) match {
            case 'u' if i + 5 < json.length =>
              val hex = json.substring(i + 2, i + 6)
              try { sb.append(Integer.parseInt(hex, 16).toChar); i += 5 }
              catch { case _: NumberFormatException => sb.append('u'); i += 1 }
            case 'n' => sb.append('\n'); i += 1
            case 't' => sb.append('\t'); i += 1
            case 'r' => sb.append('\r'); i += 1
            case 'b' => sb.append('\b'); i += 1
            case 'f' => sb.append('\f'); i += 1
            case e => sb.append(e); i += 1 // \" \\ \/ and any other pass-through
          }
        }
        else if (c == '"') { inString = false; lastString = sb.toString; sb.clear() }
        else sb.append(c)
      } else c match {
        case '"' => inString = true
        case '{' | '[' => depth += 1
        case '}' | ']' => depth -= 1
        case ':' if depth == 1 && lastString != null =>
          out += lastString; lastString = null
        case _ =>
      }
      i += 1
    }
    out.result()
  }

  /** `$group` min/max pipeline (reference mongodb/connection.py:404-414). */
  def minMaxPipeline(expression: String, conjuncts: Seq[String]): String = {
    val group =
      s"""{"$$group": {"_id": 1, "min": {"$$min": "$$$expression"}, "max": {"$$max": "$$$expression"}}}"""
    "[" + (matchStage(conjuncts).toSeq :+ group).mkString(", ") + "]"
  }
}

/** MongoDB connection (reference mongodb/connection.py). The mongo-spark
  * connector is not shipped in this environment; pipeline planning is pure
  * and unit-tested, `load()` needs the package at runtime. */
final class MongoDbConnection(val spark: SparkSession,
                              connectionUri: String,
                              database: String)
  extends DbConnection {

  val dialect: Dialect = MongoDialect

  private def base = Map(
    "connection.uri" -> connectionUri,
    "database" -> database)

  def check(): this.type = this

  def readSourceAsDf(source: String, columns: Seq[String], where: Seq[String],
                     hint: Option[String], limit: Option[Int],
                     dfSchema: Option[StructType]): DataFrame = {
    require(dfSchema.nonEmpty,
      "MongoDB requires an explicit df_schema (reference dialect_mixins/requires_df_schema.py)")
    where.foreach(MongoDialect.validateWhere)
    var df = pipeline(source,
      "[" + MongoDialect.matchStage(where).getOrElse("") + "]",
      dfSchema, hint)
    if (columns.nonEmpty) df = df.selectExpr(columns: _*)
    limit.fold(df)(df.limit)
  }

  /** The exact option map handed to the mongodb source — pure, so the
    * hint/pipeline wiring is golden-testable without a live server
    * (reference mongodb/connection.py:422-426 renders hint the same way). */
  def readOptions(collection: String, pipelineJson: String,
                  hint: Option[String] = None): Map[String, String] =
    base ++ Map("collection" -> collection,
      "aggregation.pipeline" -> pipelineJson) ++
      hint.map("hint" -> _)

  /** Raw aggregation pipeline, distributed
    * (reference mongodb/connection.py:223-360). */
  def pipeline(collection: String, pipelineJson: String,
               schema: Option[StructType] = None,
               hint: Option[String] = None): DataFrame = {
    var r = spark.read.format("mongodb")
      .options(readOptions(collection, pipelineJson, hint))
    schema.foreach(s => r = r.schema(s))
    r.load()
  }

  def writeDfToTarget(df: DataFrame, target: String, ifExists: IfExists,
                      options: Map[String, String]): Unit = {
    val mode = ifExists match {
      case IfExists.Append => "append"
      case IfExists.ReplaceEntireTable => "overwrite"
      case IfExists.Error => "error"
      case IfExists.Ignore => "ignore"
      case other => throw new IllegalArgumentException(s"unsupported mode $other")
    }
    df.write.format("mongodb").options(base ++ options)
      .option("collection", target).mode(mode).save()
  }

  def getDfSchema(source: String, columns: Seq[String]): StructType =
    throw new UnsupportedOperationException(
      "MongoDB schema must be supplied explicitly (requires_df_schema)")

  def getMinMaxValues(source: String, expression: String,
                      where: Seq[String]): (Option[Any], Option[Any]) = {
    val row = pipeline(source, MongoDialect.minMaxPipeline(expression, where)).head()
    (Option(row.getAs[Any]("min")), Option(row.getAs[Any]("max")))
  }
}
