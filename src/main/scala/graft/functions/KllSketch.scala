package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** Mergeable KLL/Munro–Paterson rank sketch with DETERMINISTIC compaction
  * — the streaming/windowed quantile a 100 TB pipeline deploys where the
  * exact two-phase rank ([[graft.queries.DistributedRank]]) is a batch
  * job it can't afford per window.
  *
  * Structure: levels of value buffers; level t items carry weight 2^t.
  * When a level reaches `k` items it compacts: sort, keep every other
  * item (the kept parity ALTERNATES with the level's compaction count —
  * the derandomized coin that keeps the one-sided drift of always-keep-
  * even bounded), promote survivors to level t+1. A dropped item's weight
  * folds into the surviving total by construction (each survivor doubles),
  * so Σ weight == #updates EXACTLY at all times — `KllSketchSpec` pins
  * this conservation plus the rank-error bound.
  *
  * Error: each level-t compaction perturbs any rank by ≤ 2^t; a run of n
  * updates triggers ≤ n/(k·2^t) compactions at level t, so the total rank
  * error is ≤ Σ_t (n/(k·2^t))·2^t = (L+1)·n/k with L = top level ≈
  * log2(n/k). The CONTENT of the buffer depends on arrival order (unlike
  * [[KmvSketchAgg]] the sketch is not a pure function of the multiset —
  * the registry's oracle-exact form is the canonical-order tree in
  * [[graft.queries.Sketches]]); the BOUND holds for every order and
  * partitioning, which is what the spec proves.
  *
  * merge() concatenates per-level buffers then re-compacts bottom-up —
  * associative in the bound (both orders of a 3-way merge satisfy the
  * same guarantee), bounded memory (≤ k items per level, ≤ ~64 levels).
  *
  * eval() returns the weighted items as array<struct<v double, w long>>
  * sorted by (v, w) — [[KllFunctions.kllQuantileOf]] reads a φ-quantile
  * estimate out of it.
  */
case class KllSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllBuffer]
  with ImplicitCastInputTypes {

  require(k >= 8 && k % 2 == 0, "kll sketch needs even k >= 8")

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[DataType] = Seq(DoubleType)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("v", DoubleType, nullable = false),
      StructField("w", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "kll_sketch"

  override def createAggregationBuffer(): KllBuffer = new KllBuffer(k)

  override def update(buffer: KllBuffer, input: InternalRow): KllBuffer = {
    val v = child.eval(input)
    if (v != null) buffer.update(v.asInstanceOf[Double])
    buffer
  }

  override def merge(buffer: KllBuffer, other: KllBuffer): KllBuffer = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: KllBuffer): Any = {
    val items = buffer.weightedItems // sorted (v, w)
    val arr = new Array[Any](items.length)
    var i = 0
    while (i < items.length) {
      arr(i) = InternalRow(items(i)._1, items(i)._2)
      i += 1
    }
    new GenericArrayData(arr)
  }

  override def serialize(buffer: KllBuffer): Array[Byte] = buffer.serialize()
  override def deserialize(storage: Array[Byte]): KllBuffer =
    KllBuffer.deserialize(k, storage)

  override def withNewMutableAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KllSketchAgg =
    copy(child = newChildren.head)
}

/** Level-structured sketch state. Not thread-safe (Spark aggregates are
  * single-threaded per buffer). */
final class KllBuffer(k: Int) {
  private[functions] var levels: ArrayBuffer[ArrayBuffer[Double]] =
    ArrayBuffer(ArrayBuffer.empty[Double])
  private[functions] var parities: ArrayBuffer[Int] = ArrayBuffer(0)

  def update(v: Double): Unit = {
    levels(0) += v
    if (levels(0).length >= k) compact(0)
  }

  /** Sort level t, promote alternating items to t+1 (parity flips per
    * compaction), keep one leftover when the count is odd. */
  private def compact(t: Int): Unit = {
    if (t + 1 >= levels.length) {
      levels += ArrayBuffer.empty[Double]
      parities += 0
    }
    val buf = levels(t)
    val sorted = buf.sorted
    val start = parities(t) % 2
    parities(t) += 1
    val odd = sorted.length % 2 == 1
    // an odd count can't pair fully: hold the last item back at level t
    // (keeps Σ 2^level·count == n exact — promoting it would double-count)
    val promoteUpTo = if (odd) sorted.length - 1 else sorted.length
    val next = levels(t + 1)
    var i = start
    while (i < promoteUpTo) { next += sorted(i); i += 2 }
    buf.clear()
    if (odd) buf += sorted(promoteUpTo)
    if (next.length >= k) compact(t + 1)
  }

  def merge(other: KllBuffer): Unit = {
    var t = 0
    while (t < other.levels.length) {
      if (t >= levels.length) {
        levels += ArrayBuffer.empty[Double]
        parities += 0
      }
      levels(t) ++= other.levels(t)
      t += 1
    }
    t = 0
    while (t < levels.length) {
      if (levels(t).length >= k) compact(t)
      t += 1
    }
  }

  /** All (value, weight=2^level) items, sorted by (v, w). */
  def weightedItems: Array[(Double, Long)] = {
    val out = ArrayBuffer.empty[(Double, Long)]
    var t = 0
    while (t < levels.length) {
      val w = 1L << t
      levels(t).foreach(v => out += ((v, w)))
      t += 1
    }
    out.sortBy(identity).toArray
  }

  def serialize(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(levels.length)
    var t = 0
    while (t < levels.length) {
      out.writeInt(parities(t))
      out.writeInt(levels(t).length)
      levels(t).foreach(out.writeDouble)
      t += 1
    }
    out.flush()
    bos.toByteArray
  }
}

object KllBuffer {
  def deserialize(k: Int, bytes: Array[Byte]): KllBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new KllBuffer(k)
    buf.levels = ArrayBuffer.empty
    buf.parities = ArrayBuffer.empty
    val nLevels = in.readInt()
    var t = 0
    while (t < nLevels) {
      buf.parities += in.readInt()
      val n = in.readInt()
      val lvl = new ArrayBuffer[Double](n)
      var i = 0
      while (i < n) { lvl += in.readDouble(); i += 1 }
      buf.levels += lvl
      t += 1
    }
    buf
  }
}

object KllFunctions {
  val DefaultK = 256

  /** The weighted-item sketch array of a double column. */
  def kllSketch(c: Column, k: Int = DefaultK): Column =
    call_function("kll_sketch", c, lit(k))

  /** φ-quantile estimate from an eval()'d sketch: the smallest v whose
    * cumulative weight reaches ceil(φ·n), computed driver-side from the
    * ≤ k·L item array. */
  def kllQuantileOf(items: Seq[(Double, Long)], phi: Double): Double = {
    val n = items.map(_._2).sum
    val target = math.ceil(phi * n).toLong
    var cum = 0L
    items.foreach { case (v, w) =>
      cum += w
      if (cum >= target) return v
    }
    Double.NaN
  }
}
