package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types.{DataType, LongType}

/**
 * A non-null Long that is constant within one query but changes from one
 * query to the next, such as a micro-batch id. `lit(x)` would put the value
 * into the generated Java as the text `xL`, so every new value is new
 * source, a codegen cache miss and a Janino compile. This expression reads
 * its value from the generated class's references array instead, so every
 * batch reuses the class compiled for the first one. It is not foldable,
 * so constant folding cannot turn it back into a `Literal`.
 */
case class BatchConstant(value: Long) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("batchConstant", value, "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
}

object BatchConstant {
  def column(value: Long): Column = GraftBridge.column(BatchConstant(value))
}
