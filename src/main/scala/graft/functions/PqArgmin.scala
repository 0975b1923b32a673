package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit, typedlit}
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Nearest-code argmin for PQ/IVF encode: over a driver-side codebook of K
  * float vectors, returns the 1-based index of the code minimizing the
  * fixed-point score fd(c,c) − 2·fd(emb[offset..offset+|c|), c), ties to
  * the SMALLEST index — exactly
  *   `array_position(scores, array_min(scores))` over
  *   `transform(codebookLit, c => fixed_dot(c,c) − 2·fixed_dot(slice(emb,
  *      offset+1, |c|), c))`
  * which ran as an interpreted higher-order function per corpus row (the
  * HOF is CodegenFallback, so even the inner fixed_dot codegen expressions
  * evaluated interpreted): 8 subspaces × 16 codes × 2 dot folds per row in
  * [[graft.sim.ProductQuantization]]'s encode. The fd(c,c) self-terms are
  * constants per code and precompute on the driver through the SAME
  * [[FixedDotOps.dot]] twin, so every score long is bit-identical to the
  * composable form; the slice semantics (offset past the end → empty →
  * score = fd(c,c)) are reproduced by clamping the loop bound.
  *
  * The codebook rides the expression as constructor data (like a literal);
  * instances compare by reference, which only costs missed CSE across
  * identical calls — each encode column is built once. */
case class PqArgminExpr(child: Expression, offset: Int,
    codebook: Array[Array[Float]]) extends UnaryExpression {
  require(codebook.nonEmpty, "empty codebook")
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "pq_argmin"

  // fd(c,c) per code, via the driver twin of the distributed fold
  private lazy val selfDots: Array[Long] =
    codebook.map(c => FixedDotOps.dot(c, c))

  @transient private lazy val ops = new PqArgminOps(offset, codebook, selfDots)

  override protected def nullSafeEval(a: Any): Any =
    ops.argmin(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val opsRef = ctx.addReferenceObj("pqArgminOps", ops,
      classOf[PqArgminOps].getName)
    defineCodeGen(ctx, ev, a => s"$opsRef.argmin($a)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqArgminExpr =
    copy(child = newChild)
}

/** The fused per-row loop, held as a codegen reference object so the
  * codebook floats live once per task, not once per generated method. */
final class PqArgminOps(offset: Int, codebook: Array[Array[Float]],
    selfDots: Array[Long]) extends Serializable {
  private val Scale = 1e12

  def argmin(emb: ArrayData): Int = {
    val embLen = emb.numElements()
    var best = 0L
    var bestK = 0
    var k = 0
    while (k < codebook.length) {
      val c = codebook(k)
      // slice semantics: elements offset..offset+|c|-1, clamped at the end
      val n = math.min(c.length, math.max(0, embLen - offset))
      var acc = 0L
      var i = 0
      while (i < n) {
        val p = emb.getFloat(offset + i).toDouble * c(i).toDouble * Scale
        acc += (if (p >= 0) Math.floor(p + 0.5) else Math.ceil(p - 0.5)).toLong
        i += 1
      }
      val score = selfDots(k) - 2L * acc
      if (k == 0 || score < best) { best = score; bestK = k }
      k += 1
    }
    bestK + 1 // array_position is 1-based; first-min tie-break by iteration order
  }
}

object PqArgminFunctions {
  def pqArgmin(emb: Column, offset: Int,
               codebook: Array[Array[Float]]): Column =
    call_function("pq_argmin", emb, lit(offset),
      typedlit(codebook.toIndexedSeq.map(_.toIndexedSeq)))
}
