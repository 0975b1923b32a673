package graft.functions

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** KMV (k-minimum-values) distinct-count sketch as a Catalyst aggregate.
  *
  * Spark's approx_count_distinct (HLL++) is engine-specific: its estimate
  * cannot be reproduced by another engine, so the driver oracle can only do
  * a rows-check on it. KMV is the determinism-friendly alternative: keep
  * the k smallest DISTINCT md5 digests of the values; then
  *
  *   distinct ≈ (k−1) / h_(k)   with h_(k) = the kth smallest digest
  *                              mapped into (0,1)
  *
  * Every piece is exactly reproducible anywhere md5 exists (the DuckDB twin
  * is a row_number window over distinct digests), so the CONTRACT check is
  * hash-exact, not approximate — while still being a genuinely mergeable,
  * bounded-memory sketch: the buffer is ≤ k digests, `merge` is a set-union
  * + truncate (associative and commutative, so partial aggregation and any
  * shuffle order give identical results — unlike a float SUM). Standard
  * error ≈ 1/√(k−2) (~6% at k=256).
  *
  * Returns the sorted k-minimum digest array; [[KmvFunctions.kmvDistinct]]
  * turns it into the scalar estimate (exact count when fewer than k
  * distincts were seen).
  */
case class KmvSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[String]]
  with ImplicitCastInputTypes {

  require(k >= 2, "kmv sketch needs k >= 2")

  override def children: Seq[Expression] = Seq(child)
  // analysis-time coercion to string (md5 hashes the string form, like the
  // oracle's md5(CAST(x AS VARCHAR))) — without this a bigint column would
  // pass analysis and then ClassCastException per task at runtime
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "kmv_sketch"

  override def createAggregationBuffer(): java.util.TreeSet[String] =
    new java.util.TreeSet[String]()

  private def md5Hex(s: String): String = KmvFunctions.md5Hex(s)

  override def update(buffer: java.util.TreeSet[String],
                      input: InternalRow): java.util.TreeSet[String] = {
    val v = child.eval(input)
    if (v != null) {
      val h = md5Hex(v.asInstanceOf[UTF8String].toString)
      // only admit digests that can belong to the k minimum
      if (buffer.size < k || h < buffer.last()) {
        buffer.add(h)
        if (buffer.size > k) buffer.pollLast()
      }
    }
    buffer
  }

  override def merge(buffer: java.util.TreeSet[String],
                     other: java.util.TreeSet[String]): java.util.TreeSet[String] = {
    buffer.addAll(other)
    while (buffer.size > k) buffer.pollLast()
    buffer
  }

  override def eval(buffer: java.util.TreeSet[String]): Any = {
    val arr = new Array[Any](buffer.size)
    val it = buffer.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(arr)
  }

  override def serialize(buffer: java.util.TreeSet[String]): Array[Byte] =
    String.join(",", buffer).getBytes(StandardCharsets.UTF_8)

  override def deserialize(storage: Array[Byte]): java.util.TreeSet[String] = {
    val buf = createAggregationBuffer()
    val s = new String(storage, StandardCharsets.UTF_8)
    if (s.nonEmpty) s.split(",").foreach(buf.add)
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvSketchAgg =
    copy(child = newChildren.head)
}

object KmvFunctions {
  val DefaultK = 256

  /** Lowercase-hex md5 of a string — the digest the sketch keeps mins of,
    * and the one driver-side md5-hex helper (A-ES keys in
    * [[graft.streaming.StreamingEtl.runningWeightedSample]], the LSH and JL
    * matrices in [[graft.sim.VectorOps]]). */
  private[graft] def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = "0123456789abcdef".toCharArray
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      val v = d(i) & 0xff
      out(2 * i) = hex(v >>> 4); out(2 * i + 1) = hex(v & 0xf)
      i += 1
    }
    new String(out)
  }

  /** The scalar estimate from a SORTED k-min digest list — the exact
    * driver/streaming twin of [[kmvDistinct]]'s column form: exact count
    * below k, else (k−1)·16^12 / prefix48(h_(k)). */
  private[graft] def estimateFromSorted(sorted: Seq[String], k: Int): Double =
    if (sorted.size < k) sorted.size.toDouble
    else {
      val v = java.lang.Long.parseLong(sorted(k - 1).substring(0, 12), 16)
      if (v == 0L) Double.NaN else (k - 1).toDouble * FracScale / v.toDouble
    }

  /** 16^12 — the scale of the 12-hex-digit digest prefix used as the (0,1)
    * fraction. 48-bit values are exact in double on every engine. */
  val FracScale: Double = 281474976710656.0

  /** The sorted k-minimum digest array of a string column. */
  def kmvSketch(c: Column, k: Int = DefaultK): Column =
    call_function("kmv_sketch", c, lit(k))

  /** Distinct-count estimate from the sketch: exact when the group had
    * fewer than k distinct values, else (k−1)·16^12 / prefix48(h_(k)).
    * `conv` parses the 12-hex prefix into an exact-in-double integer, so
    * the whole estimate is bit-reproducible by any engine with md5. */
  def kmvDistinct(c: Column, k: Int = DefaultK): Column = {
    import org.apache.spark.sql.functions._
    val arr = kmvSketch(c, k)
    val kth = element_at(arr, k)
    val v = conv(substring(kth, 1, 12), 16, 10).cast("double")
    when(size(arr) < k, size(arr).cast("double"))
      .otherwise(lit((k - 1).toDouble * FracScale) / nullif(v, lit(0.0)))
  }
}
