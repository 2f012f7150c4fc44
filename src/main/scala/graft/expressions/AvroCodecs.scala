package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.avro.GraftAvroBridge
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{BinaryType, DataType, StructType}

/** Column-level Avro codecs (reference avro.py:326,430).
  *
  * Spark 4 bundles the Avro file source but not the codec expressions
  * (see [[org.apache.spark.sql.avro.GraftAvroBridge]]), so these are
  * original implementations over the bundled serializer machinery. The
  * encoder/decoder instance rides into generated code as a bound
  * reference, so the call stays inside whole-stage codegen — same shape
  * as graft's text-hash expressions.
  */

/** struct column → Avro binary; the writer schema derives from the input
  * struct type, so round-trips are self-consistent by construction. */
case class ToAvroBinary(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "to_avro_binary"

  private lazy val jsonSchema =
    GraftAvroBridge.avroJsonFor(child.dataType, child.nullable)
  @transient private lazy val enc =
    new GraftAvroBridge.RowEncoder(child.dataType, jsonSchema)

  protected override def nullSafeEval(input: Any): Any = enc.encode(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val codec = ctx.addReferenceObj("avroEnc", enc,
      classOf[GraftAvroBridge.RowEncoder].getName)
    defineCodeGen(ctx, ev, c => s"$codec.encode($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): ToAvroBinary =
    copy(child = newChild)
}

/** Avro binary → struct column, given the writer's record schema JSON.
  * Record schemas only (the reference's parse_column contract): the
  * Catalyst type must come out a struct so codegen can type the slot. */
case class FromAvroBinary(child: Expression, jsonSchema: String)
  extends UnaryExpression {
  override lazy val dataType: DataType = {
    val t = GraftAvroBridge.sqlTypeFor(jsonSchema)
    require(t.isInstanceOf[StructType],
      s"from_avro_binary needs a record schema, got catalyst type $t")
    t
  }
  override def nullable: Boolean = true
  override def prettyName: String = "from_avro_binary"

  @transient private lazy val dec =
    new GraftAvroBridge.RowDecoder(jsonSchema, dataType)

  protected override def nullSafeEval(input: Any): Any =
    dec.decode(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val codec = ctx.addReferenceObj("avroDec", dec,
      classOf[GraftAvroBridge.RowDecoder].getName)
    defineCodeGen(ctx, ev,
      c => s"(org.apache.spark.sql.catalyst.InternalRow) $codec.decode($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): FromAvroBinary =
    copy(child = newChild)
}

object AvroCodecs {
  private def col(e: Expression): Column = GraftColumnBridge.column(e)
  private def expr(c: Column): Expression = GraftColumnBridge.expression(c)

  def toAvroBinary(c: Column): Column = col(ToAvroBinary(expr(c)))
  def fromAvroBinary(c: Column, jsonSchema: String): Column =
    col(FromAvroBinary(expr(c), jsonSchema))

  /** The Avro record schema JSON that [[toAvroBinary]] writes for a given
    * struct type — hand this to readers of the encoded column. */
  def writerSchemaJson(dataType: DataType, nullable: Boolean = false): String =
    GraftAvroBridge.avroJsonFor(dataType, nullable)
}
