package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Bridge.{toColumn => column, toExpression => expression}
import org.apache.spark.sql.types._

import graft.model.ProtoWire.MessageDesc

/** Typed protobuf decode as a Catalyst expression.
  *
  * `proto_decode(bytes, desc)` parses a proto3 payload into a struct in one
  * step — the wire reader ([[graft.model.ProtoWire]]) writes Catalyst
  * values directly (UTF8String / GenericInternalRow), so there is no
  * intermediate message object and no Encoder round-trip. The expression
  * participates in whole-stage codegen: the generated code calls the
  * descriptor's compiled `decode` through a reference object (same
  * technique Spark's own `from_protobuf`/`from_avro` use), so surrounding
  * filters and projections stay in one codegen stage.
  *
  * Corrupt payloads yield NULL (PERMISSIVE) — mirroring the reference's
  * count-and-drop (reference: readers/common/src/main/java/.../reader/
  * GarmadonReader.java:169-192).
  */
object ProtoExpressions {

  case class ProtoDecode(child: Expression, desc: MessageDesc) extends UnaryExpression {
    override def dataType: DataType = desc.schema
    override def nullable: Boolean = true
    override def prettyName: String = s"proto_decode_${desc.name}"
    // prettyName already names the descriptor; its full field list would be
    // printed into every plan string, and Spark retains one per SQL execution
    override protected def stringArgs: Iterator[Any] = Iterator(child)

    override def nullSafeEval(v: Any): Any = desc.decode(v.asInstanceOf[Array[Byte]])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val descRef = ctx.addReferenceObj("protoDesc", desc, classOf[MessageDesc].getName)
      nullSafeCodeGen(ctx, ev, v => {
        s"""
           |${ev.value} = $descRef.decode($v);
           |if (${ev.value} == null) ${ev.isNull} = true;
         """.stripMargin
      })
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Decode a binary column as `desc`'s struct; NULL on corrupt payloads. */
  def proto_decode(bytes: Column, desc: MessageDesc): Column =
    column(ProtoDecode(expression(bytes), desc))
}
