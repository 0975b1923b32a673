package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Fixed-point dot product of two float arrays: Σ round(aᵢ·bᵢ·1e12) as a
  * long (see [[graft.sim.VectorOps]] for why fixed-point: long addition is
  * associative, so the value is evaluation-order independent and
  * bit-identical to the DuckDB oracle's unnest+SUM form).
  *
  * Exists because the composable form — `aggregate(zip_with(a, b, …))` —
  * runs as interpreted higher-order functions and allocates an intermediate
  * array per row; this expression is a single fused multiply-round-
  * accumulate loop over the two ArrayData buffers, with codegen emitting a
  * call into [[FixedDotOps.dot]]. Measured ~3× on the embedding pair join.
  */
case class FixedDotExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "fixed_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    FixedDotOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.FixedDotOps.dot($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): FixedDotExpr = copy(left = newLeft, right = newRight)
}

object FixedDotOps {
  private val Scale = 1e12

  /** Fused loop over the shorter length (zip_with semantics would pad with
    * null; embeddings are equal-length so this never triggers). Rounding is
    * half-away-from-zero (floor(x+0.5) / ceil(x−0.5)) — the FixedDotOps
    * convention, validated against the DuckDB oracle over every fixed_dot
    * entry. (Not a universal guarantee: Spark's ROUND goes through
    * BigDecimal.valueOf — the decimal-string value — which can differ from
    * the binary floor(x+0.5) on rare doubles like 0.49999999999999994;
    * Math.round would additionally differ on exact negative .5
    * boundaries.) */
  def dot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val p = a.getFloat(i).toDouble * b.getFloat(i).toDouble * Scale
      acc += (if (p >= 0) Math.floor(p + 0.5) else Math.ceil(p - 0.5)).toLong
      i += 1
    }
    acc
  }

  /** Driver-side twin of [[dot]] over plain arrays — the identical op
    * sequence, so constants derived on the driver (IVF centroid norms,
    * probe-cell scores) match the distributed expression bit-for-bit. */
  def dot(a: Array[Float], b: Array[Float]): Long = {
    val n = math.min(a.length, b.length)
    var acc = 0L
    var i = 0
    while (i < n) {
      val p = a(i).toDouble * b(i).toDouble * Scale
      acc += (if (p >= 0) Math.floor(p + 0.5) else Math.ceil(p - 0.5)).toLong
      i += 1
    }
    acc
  }
}

object FixedDotFunctions {
  def fixedDot(a: Column, b: Column): Column = call_function("fixed_dot", a, b)
}

/** Fixed-point squared euclidean distance of a float-array embedding
  * against a double-array centroid: Σ round((aᵢ−cᵢ)²·1e12) as a long —
  * the codegen'd form of `VectorOps.centroidDist`'s
  * `aggregate(zip_with(emb, cent, (x, c) => round((x−c)²·1e12).cast(long)))`
  * fold, which ran as interpreted higher-order functions (HOFs are
  * CodegenFallback) and dominated every centroid-scored query: the k-fold
  * projection was a single 2.7 s stage in sim_silhouette at sf0.1.
  *
  * Null/length semantics mirror the zip_with form exactly: a length
  * mismatch pads the shorter side with nulls there, the lambda maps them
  * to null, and the long fold null-propagates — so ANY mismatch or null
  * element makes the whole sum null here too. Rounding is the
  * [[FixedDotOps.dot]] convention (half-away-from-zero on the double
  * product — matching Spark's and DuckDB's ROUND over the fixtures, as
  * the oracle-green fixed_dot entries established). */
case class FixedSqDistExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "fixed_sqdist"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    FixedSqDistOps.dist(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, c) =>
      s"""
         |java.lang.Long ${ev.value}_r = graft.functions.FixedSqDistOps.dist($a, $c);
         |if (${ev.value}_r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}_r.longValue();
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): FixedSqDistExpr = copy(left = newLeft, right = newRight)
}

object FixedSqDistOps {
  private val Scale = 1e12

  /** Fused (embedding, centroid) loop — see [[FixedSqDistExpr]] for the
    * exact semantics this mirrors. Returns null (boxed) on length mismatch
    * or a null element, like the zip_with fold it replaces. */
  def dist(a: ArrayData, c: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != c.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || c.isNullAt(i)) return null
      val d = a.getFloat(i).toDouble - c.getDouble(i)
      val p = d * d * Scale
      acc += (if (p >= 0) Math.floor(p + 0.5) else Math.ceil(p - 0.5)).toLong
      i += 1
    }
    acc
  }
}

object FixedSqDistFunctions {
  def fixedSqDist(a: Column, b: Column): Column =
    call_function("fixed_sqdist", a, b)
}

/** Integer dot product of two int arrays: Σ (long)(aᵢ·bᵢ) with the multiply
  * in 32-bit space (wrapping) and the accumulation in 64-bit — the codegen'd
  * form of `aggregate(zip_with(a, b, (x,y) => (x*y).cast(long)), 0L, _+_)`,
  * which ran as interpreted higher-order functions (CodegenFallback) in the
  * quantized-similarity hot projections ([[graft.sim.VectorOps.sqTopK]]).
  * The multiply stays in 32-bit space like the composable form's (x*y).
  * Overflow divergence, stated honestly: under ANSI (the session default)
  * the composable form THROWS on int overflow while this wraps — but the
  * inputs are int8-quantized codes (|v| ≤ 127), so per-element products are
  * ≤ 16 129 and overflow is unreachable at any realistic dimension; inside
  * that domain the two forms are bit-identical (FusedExprSpec). The
  * squared-norm fold `aggregate(transform(c, x => (x*x).cast(long)), …)`
  * is exactly `int_dot(c, c)`.
  *
  * Null/length semantics mirror the zip_with form: a length mismatch pads
  * with nulls there → null products → the long fold null-propagates; so ANY
  * mismatch or null element yields null here too. Empty arrays yield 0. */
case class IntDotExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "int_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    IntDotOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |java.lang.Long ${ev.value}_r = graft.functions.IntDotOps.dot($a, $b);
         |if (${ev.value}_r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}_r.longValue();
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): IntDotExpr = copy(left = newLeft, right = newRight)
}

object IntDotOps {
  /** See [[IntDotExpr]] for the exact semantics this mirrors. Returns null
    * (boxed) on length mismatch or a null element. */
  def dot(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += (a.getInt(i) * b.getInt(i)).toLong
      i += 1
    }
    acc
  }
}

object IntDotFunctions {
  def intDot(a: Column, b: Column): Column = call_function("int_dot", a, b)
}

/** int8 scalar quantization of a float-array embedding in one fused pass:
  * qᵢ = (int) round(xᵢ / s), s = max|xᵢ| / 127 (s = 1 when the vector is
  * all-zero) — the codegen'd form of [[graft.sim.VectorOps.sqTopK]]'s
  *   mx    = aggregate(emb, 0.0, (acc, x) => greatest(acc, abs(x.cast(double))))
  *   scale = when(mx === 0.0, 1.0).otherwise(mx / 127.0)
  *   qv    = transform(emb, x => round(x.cast(double) / scale).cast(int))
  * which ran as three nested interpreted higher-order functions per row.
  *
  * Value semantics are mirrored exactly: the max fold SKIPS null elements
  * (`greatest` ignores nulls), rounding is Spark's ROUND over doubles —
  * BigDecimal.valueOf(p).setScale(0, HALF_UP), the decimal-string
  * convention, NOT floor(p+0.5) — and the int cast is the JVM double→int
  * conversion Spark's non-ANSI cast applies. A null element quantizes to a
  * null element (transform semantics); a null array yields null. */
case class SqQuantizeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "sq_quantize"

  override protected def nullSafeEval(a: Any): Any =
    SqQuantizeOps.quantize(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SqQuantizeOps.quantize($a)")

  override protected def withNewChildInternal(newChild: Expression): SqQuantizeExpr =
    copy(child = newChild)
}

object SqQuantizeOps {
  def quantize(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var mx = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val v = math.abs(a.getFloat(i).toDouble)
        if (v > mx) mx = v
      }
      i += 1
    }
    val scale = if (mx == 0.0) 1.0 else mx / 127.0
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val r = java.math.BigDecimal.valueOf(a.getFloat(i).toDouble / scale)
          .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
        out(i) = r.toInt
      }
      i += 1
    }
    ArrayData.toArrayData(out)
  }
}

object SqQuantizeFunctions {
  def sqQuantize(a: Column): Column = call_function("sq_quantize", a)
}
