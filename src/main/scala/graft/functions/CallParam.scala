package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.Bridge.column
import org.apache.spark.sql.types.{DataType, LongType}

/** A per-call long that generated code reads at run time instead of
  * inlining: a long `Literal` is written into the Java source
  * (`== 4L`), so a plan that is rebuilt with a new batch id or new
  * corpus stats compiles new classes every call, and Spark's class
  * cache ([[graft.GraftSession.CodegenCacheEntries]]) keys on that
  * source text. Here the value goes into the stage's `references`
  * array (`ctx.addReferenceObj`), so the source is the same for every
  * value and the class compiled for the first call serves them all.
  *
  * Not foldable, so the optimizer keeps it as it is: an expression over
  * it is evaluated per row (a few arithmetic ops) instead of folded
  * once. For the same reason a filter on it does NOT push down into a
  * scan (parquet row-group or partition pruning needs a literal): use
  * it only on predicates that read small, already-selected data.
  */
case class CallParam(value: Long) extends LeafExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", Long.box(value), "java.lang.Long")
    ev.copy(code = code"long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
}

object CallParam {
  /** Column API: a long the generated code reads at run time. */
  def param(v: Long): Column = column(CallParam(v))
}
