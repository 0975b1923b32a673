package graft.functions

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** HyperLogLog as a Catalyst aggregate in its determinism-friendly form —
  * the mergeable distinct-count sketch (reference analog: the DISTINCT
  * counting surface of `/root/reference/src/transform/etl_pipeline.py`'s
  * hourly metrics, A7 in SURVEY §2.4).
  *
  * Spark ships `approx_count_distinct` (HLL++), but its xxHash64 stream
  * and register encoding are engine-private — the driver oracle cannot
  * recompute the estimate (`q_approx_distinct` therefore hashes the
  * exact count plus a TRUE-pinned tolerance verdict on the estimate). This sketch hashes with md5, like
  * [[CountMinAgg]] and [[KmvSketchAgg]]: a value's 60-bit hash is its
  * first 15 md5 hex digits; the top `p` bits pick a register, and the
  * register keeps the max over values of rho = (leading zeros of the
  * remaining 60-p bits) + 1. Every register is therefore a pure function
  * of the input SET (update is max, merge is elementwise max — idempotent,
  * associative, commutative), so any partitioning, order, duplication, or
  * merge tree yields the bit-identical register array, and a DuckDB twin
  * rebuilds it register-by-register with a GROUP BY .. MAX. Memory is
  * 2^p bytes, fixed.
  *
  * Standard guarantees (proven in `HllSketchSpec`): relative error
  * ~1.04/sqrt(2^p) on the raw estimator; the small-range regime uses
  * linear counting over the empty-register count, with the classic
  * 2.5·m crossover. The estimator arithmetic lives in
  * [[HllFunctions.estimateColumns]] so the registry query and the DuckDB
  * twin share one documented IEEE op order.
  *
  * eval() returns the 2^p register array as array<int>.
  */
case class HllSketchAgg(
    child: Expression,
    precision: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]]
  with ImplicitCastInputTypes {

  require(precision >= 4 && precision <= 16,
    "hll precision must be in [4, 16] (2^p byte registers)")

  private val m = 1 << precision

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullable: Boolean = false
  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "hll_sketch"

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val (bucket, rho) =
        HllFunctions.bucketRho(v.asInstanceOf[UTF8String].toString, precision)
      if (rho > buffer(bucket)) buffer(bucket) = rho.toByte
    }
    buffer
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) {
      if (other(i) > buffer(i)) buffer(i) = other(i)
      i += 1
    }
    buffer
  }

  override def eval(buffer: Array[Byte]): Any = {
    val out = new Array[Any](m)
    var i = 0
    while (i < m) { out(i) = buffer(i).toInt; i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer

  override def deserialize(storage: Array[Byte]): Array[Byte] = storage

  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HllSketchAgg =
    copy(child = newChildren.head)
}

object HllFunctions {
  /** 2^12 = 4096 byte registers: ~1.6% relative error, the size HLL is
    * actually deployed at for per-key cardinality columns. */
  val DefaultPrecision = 12

  /** (register index, rho) of a value: h60 = first 15 md5 hex digits as a
    * 60-bit integer (15 digits, not 16, so the DuckDB twin's signed-BIGINT
    * shift arithmetic never touches the sign bit); bucket = top p bits;
    * rho = leading zeros of the remaining (60-p)-bit field, plus 1 —
    * in [1, 61-p]. */
  private[graft] def bucketRho(value: String, p: Int): (Int, Int) = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(value.getBytes(StandardCharsets.UTF_8))
    // first 7.5 bytes of the digest == first 15 hex digits
    var h60 = 0L
    var i = 0
    while (i < 7) { h60 = (h60 << 8) | (d(i) & 0xffL); i += 1 }
    h60 = (h60 << 4) | ((d(7) & 0xf0L) >> 4)
    val wBits = 60 - p
    val bucket = (h60 >>> wBits).toInt
    val w = h60 & ((1L << wBits) - 1)
    val rho =
      if (w == 0L) wBits + 1
      else wBits - (64 - java.lang.Long.numberOfLeadingZeros(w)) + 1
    (bucket, rho)
  }

  /** The 2^p register array of a string column. */
  def hllSketch(c: Column, precision: Int = DefaultPrecision): Column =
    call_function("hll_sketch", c, lit(precision))

  /** (v_empty, t_harmonic, hll_est) columns derived from a register-array
    * column. t_harmonic = Σ_j 2^((61-p) - M_j) is the harmonic-mean
    * numerator kept in exact integer form (max 2^p · 2^(61-p) = 2^61,
    * always in Long range); the float estimate then costs ONE division of
    * exact integers plus the alpha constant, and the linear-counting
    * branch one log — the identical IEEE sequence the DuckDB twin
    * ([[graft.queries.Sketches]]) writes out, so even the estimate column
    * is hash-exact under round(·, 2). */
  def estimateColumns(regs: Column, p: Int): (Column, Column, Column) = {
    import org.apache.spark.sql.functions._
    val shiftBase = 61 - p
    val vEmpty = size(filter(regs, r => r === lit(0))).cast("long")
    val tHarmonic = aggregate(regs, lit(0L),
      (acc, r) => acc + call_function("shiftleft", lit(1L),
        lit(shiftBase) - r))
    (vEmpty, tHarmonic, estimateFromCols(vEmpty, tHarmonic, p))
  }

  /** The estimate expression from already-aggregated (v_empty,
    * t_harmonic) columns — the form a sketch CUBE consumer needs, where
    * the register maxima were merged relationally (e.g. an hour→type
    * roll-up) and never re-assembled into an array. Identical IEEE
    * sequence to [[estimateColumns]]. */
  def estimateFromCols(vEmpty: Column, tHarmonic: Column, p: Int): Column = {
    import org.apache.spark.sql.functions._
    val m = 1 << p
    val md = m.toDouble
    val shiftBase = 61 - p
    val raw = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(md)) *
      lit(md) * lit(md) * pow(lit(2.0), lit(shiftBase.toDouble)) /
      tHarmonic.cast("double")
    val lin = lit(md) * log(lit(md) / vEmpty.cast("double"))
    round(
      when(raw <= lit(2.5 * m) && vEmpty > lit(0L), lin).otherwise(raw), 2)
  }

  /** Driver-side estimate from a collected register array — the exact
    * mirror of [[estimateColumns]] for tests. */
  def estimateFrom(regs: Seq[Int], p: Int): Double = {
    val m = 1 << p
    val md = m.toDouble
    val shiftBase = 61 - p
    val vEmpty = regs.count(_ == 0)
    val t = regs.map(r => 1L << (shiftBase - r)).sum
    val raw = 0.7213 / (1.0 + 1.079 / md) * md * md *
      math.pow(2.0, shiftBase.toDouble) / t.toDouble
    if (raw <= 2.5 * m && vEmpty > 0) md * math.log(md / vEmpty.toDouble)
    else raw
  }
}
