package graft.functions

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch as a Catalyst aggregate — the mergeable approximate
  * frequency table (hot-key detection, join-skew probes, streaming token
  * counts) in its determinism-friendly form.
  *
  * Spark ships `count_min_sketch`, but its xxHash seeds and binary layout
  * are engine-specific — the driver oracle could only rows-check it. This
  * sketch hashes with md5 (row i's column = the first 8 hex digits of
  * md5("i|" + value) mod width), so every cell is reproducible by any
  * engine with md5, and — unlike KLL — the whole sketch is a PURE FUNCTION
  * OF THE INPUT MULTISET: update adds 1 to d cells, merge is elementwise
  * Long addition (associative + commutative), so any partitioning, order,
  * or merge tree yields the bit-identical matrix, and the DuckDB twin can
  * recompute it cell-by-cell with a GROUP BY. Memory is d·w longs, fixed.
  *
  * Standard guarantees (proven in `CountMinSpec`): est(x) ≥ tf(x) always
  * (only collisions inflate, never deflate), and over-estimate ≤ 2n/w
  * with probability 1 − (1/2)^d per the classic Markov argument.
  *
  * eval() returns the d×w count matrix as array<array<bigint>>;
  * [[CountMinFunctions.estimateFrom]] reads point estimates out of it.
  */
case class CountMinAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with ImplicitCastInputTypes {

  require(depth >= 1 && depth <= 16, "count-min depth must be in [1, 16]")
  require(width >= 2, "count-min width must be >= 2")

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullable: Boolean = false
  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)
  override def prettyName: String = "count_min"

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String].toString
      var i = 0
      while (i < depth) {
        buffer(i * width + CountMinFunctions.cell(i, s, width)) += 1L
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buffer.length) { buffer(i) += other(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Long]): Any = {
    val rows = new Array[Any](depth)
    var i = 0
    while (i < depth) {
      val row = new Array[Any](width)
      var j = 0
      while (j < width) { row(j) = buffer(i * width + j); j += 1 }
      rows(i) = new GenericArrayData(row)
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(buffer.length * 8)
    buffer.foreach(out.putLong)
    out.array()
  }

  override def deserialize(storage: Array[Byte]): Array[Long] = {
    val in = java.nio.ByteBuffer.wrap(storage)
    Array.fill(depth * width)(in.getLong())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CountMinAgg =
    copy(child = newChildren.head)
}

object CountMinFunctions {
  val DefaultDepth = 4
  val DefaultWidth = 512

  /** Row-i cell of a value: first 32 bits of md5("i|" + value), mod width
    * — the first 8 hex digits, so `conv(substring(md5(...), 1, 8), 16,
    * 10)` in Spark SQL and the per-digit power sum in DuckDB rebuild the
    * identical index. */
  private[graft] def cell(i: Int, value: String, width: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$i|$value".getBytes(StandardCharsets.UTF_8))
    val u = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (u % width).toInt
  }

  /** The d×w count matrix of a string column. */
  def countMin(c: Column, depth: Int = DefaultDepth,
               width: Int = DefaultWidth): Column =
    call_function("count_min", c, lit(depth), lit(width))

  /** Point estimate from a collected matrix: min over rows of the value's
    * cell — ≥ the true count always, inflated only by collisions. */
  def estimateFrom(matrix: Seq[Seq[Long]], value: String): Long = {
    val width = matrix.head.length
    matrix.zipWithIndex.map { case (row, i) => row(cell(i, value, width)) }.min
  }
}
