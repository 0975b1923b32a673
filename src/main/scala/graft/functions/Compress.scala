package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Compression-ratio quality signal — the Gopher/CCNet-style filter
  * dimension the quality family lacked: machine-generated and boilerplate
  * text compresses far better than natural prose, and a near-incompressible
  * document is often binary junk in a text field. The signal is the
  * DEFLATE output size of the UTF-8 text at a FIXED level/strategy, exposed
  * as a codegen'd Catalyst expression (`deflate_len`), with the ratio
  * derived downstream in exact integer ppm.
  *
  * Determinism: level 6, default strategy, no dictionary, a fresh Deflater
  * per value, single `finish()`ed stream — a pure function of the bytes on
  * a given zlib build. zlib's output is not pinned across library versions,
  * so the driver gate records this family rows-only (like the binary
  * multimodal entries) and the semantic properties are spec-proven
  * (`CompressSpec`): repetition compresses below prose, ratio bounds,
  * determinism, concat monotonicity.
  */
object Compress {

  /** DEFLATE (raw, nowrap=false) output length in bytes for the UTF-8
    * encoding of `s`, level 6. */
  def deflateLen(s: String): Int = {
    val in = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val d = new java.util.zip.Deflater(6)
    try {
      d.setInput(in)
      d.finish()
      val buf = new Array[Byte](math.max(64, in.length + 64))
      var total = 0
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }
}

/** Catalyst expression: DEFLATE output byte count of a string column. */
case class DeflateLenExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "deflate_len"

  override protected def nullSafeEval(input: Any): Any =
    Compress.deflateLen(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Compress.deflateLen($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): DeflateLenExpr =
    copy(child = newChild)
}

object CompressFunctions {
  def deflateLen(c: Column): Column = call_function("deflate_len", c)
}
