package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType}
import org.apache.spark.unsafe.types.UTF8String

/** uint256-hex → DECIMAL(38,0) conversion.
  *
  * The reference decodes EVM hex quantities with Python's arbitrary-precision
  * `int(x, 16)` (/root/reference/src/transform/etl_pipeline.py:86,97,148-151).
  * Spark's `conv(x, 16, 10)` is 64-bit and silently wraps, so token amounts
  * (routinely 1e18-scaled) need a custom path. DECIMAL(38,0) covers all
  * realistic on-chain amounts (< 1e38); larger values yield null (documented
  * deviation — the reference silently loses precision to float64 instead,
  * SURVEY.md §7.3 item 6).
  *
  * Implemented as a Catalyst Expression with codegen (not a Scala UDF) so it
  * stays inside whole-stage codegen: the generated code is a single static
  * call into [[HexConv.convert]], no Row boxing, null-safe.
  */
case class HexToDecimal(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DecimalType(38, 0)
  override def nullable: Boolean = true
  override def prettyName: String = "hex_to_decimal"

  override protected def nullSafeEval(input: Any): Any =
    HexConv.convert(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.HexConv.convert($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): HexToDecimal =
    copy(child = newChild)
}

/** Static helper the generated code calls (scalac emits a static forwarder on
  * the `HexConv` class, so Janino resolves `graft.functions.HexConv.convert`).
  */
object HexConv {
  def convert(u: UTF8String): Decimal = {
    if (u == null) return null
    var s = u.toString.trim
    if (s.startsWith("0x") || s.startsWith("0X")) s = s.substring(2)
    if (s.isEmpty) return null
    try {
      val bi = new java.math.BigInteger(s, 16)
      val d = Decimal(scala.math.BigDecimal(bi))
      if (d.changePrecision(38, 0)) d else null
    } catch { case _: NumberFormatException => null }
  }
}
