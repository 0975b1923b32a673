package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType}

/** Morton (Z-order) bit interleave of two bucketed coordinates as a
  * single codegen'd expression. The composable form —
  * [[graft.sources.ZOrder.zValue]]'s fold of 2·bits shift/mask/or
  * Columns — is semantically identical but materializes a ~64-node
  * expression tree per call site; this expression is one fused loop
  * (codegen emits a call into [[MortonOps.interleave]]), keeping plans
  * small when the z-key appears in several places (partitioner, sort,
  * min/max stats probe). Bits are fixed at planning time. */
case class MortonExpr(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {
  require(bits >= 1 && bits <= 31,
    s"morton bits must be in [1, 31] (2*bits+1 must stay below 64): $bits")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "morton"

  override protected def nullSafeEval(x: Any, y: Any): Any =
    MortonOps.interleave(x.asInstanceOf[Long], y.asInstanceOf[Long], bits)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.MortonOps.interleave($a, $b, $bits)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): MortonExpr =
    copy(left = newLeft, right = newRight)
}

object MortonOps {
  /** Interleave the low `bits` bits: x on even positions, y on odd. */
  def interleave(x: Long, y: Long, bits: Int): Long = {
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((x >> i) & 1L) << (2 * i) | ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }
}

object MortonFunctions {
  /** The third argument must be a foldable integer literal (bits are fixed
    * at planning time); accept any integral width (`morton(x, y, 16)` and
    * `morton(x, y, CAST(16 AS BIGINT))` both plan) and fail with a plain
    * message instead of an opaque ClassCastException otherwise. */
  private[functions] def bitsLiteral(e: Expression): Int = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"morton bits must be a literal, got non-foldable: ${e.sql}")
    e.eval(null) match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"morton bits must be an integer literal, got: $other")
    }
  }

  def morton(x: Column, y: Column, bits: Int): Column =
    call_function("morton", x, y,
      org.apache.spark.sql.functions.lit(bits))
}
