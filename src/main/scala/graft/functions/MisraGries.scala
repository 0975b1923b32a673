package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries frequent-items ("heavy hitters") sketch as a mergeable
  * Catalyst aggregate.
  *
  * Exact token frequencies over a 100 TB corpus need a shuffle keyed by
  * token — fine once, but the common production question is only "which
  * items exceed φ·n?" (stopword mining, hot-key detection before a join,
  * vocabulary pruning). Misra–Gries answers it in one pass with a bounded
  * k-entry buffer and NO shuffle of the raw tokens: each partition keeps at
  * most k counters, `merge` sums two summaries and subtracts the (k+1)-th
  * largest count from every survivor (Agarwal et al., "Mergeable summaries",
  * PODS'12), so partial aggregation and tree-merge give the same guarantee
  * as the sequential algorithm:
  *
  *    f(x) − n/(k+1)  ≤  est(x)  ≤  f(x)
  *
  * — every item with true frequency above n/(k+1) is present in the final
  * summary, and its estimate undercounts by at most n/(k+1). The guarantee
  * (NOT the exact counter values, which depend on merge order like any
  * non-commutative fold) is what the engine promises; MisraGriesSpec
  * asserts it against exact counts under several partitionings.
  *
  * The counter values themselves are merge-order dependent, so this surface
  * is ScalaTest-verified (like HLL/engine-specific sketches) rather than
  * DuckDB-oracle-checked; the oracle-checked exact twin is the
  * `text_heavy_hitters` registry query.
  *
  * Returns a map<string,bigint> of surviving items → lower-bound estimates.
  */
case class MisraGriesAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashMap[String, Long]]
  with ImplicitCastInputTypes {

  require(k >= 1, "misra_gries needs k >= 1")

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullable: Boolean = false
  override def dataType: DataType =
    MapType(StringType, LongType, valueContainsNull = false)
  override def prettyName: String = "misra_gries"

  override def createAggregationBuffer(): java.util.HashMap[String, Long] =
    new java.util.HashMap[String, Long]()

  /** Subtract `delta` from every counter, dropping non-positives — the MG
    * eviction step, shared by update overflow and merge truncation. */
  private def debit(buffer: java.util.HashMap[String, Long], delta: Long): Unit = {
    val it = buffer.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val nv = e.getValue - delta
      if (nv <= 0L) it.remove() else e.setValue(nv)
    }
  }

  override def update(buffer: java.util.HashMap[String, Long],
                      input: InternalRow): java.util.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String].toString
      val cur = buffer.get(s)
      if (cur != 0L || buffer.containsKey(s)) buffer.put(s, cur + 1L)
      else if (buffer.size < k) buffer.put(s, 1L)
      else debit(buffer, 1L) // the unseen item and k counters all decrement
    }
    buffer
  }

  override def merge(buffer: java.util.HashMap[String, Long],
                     other: java.util.HashMap[String, Long]): java.util.HashMap[String, Long] = {
    val it = other.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur = buffer.get(e.getKey)
      buffer.put(e.getKey, cur + e.getValue)
    }
    if (buffer.size > k) {
      // subtract the (k+1)-th largest count: at most k survive, and every
      // counter loses ≤ what the sequential algorithm could have lost
      val counts = new Array[Long](buffer.size)
      val vit = buffer.values().iterator()
      var i = 0
      while (vit.hasNext) { counts(i) = vit.next(); i += 1 }
      java.util.Arrays.sort(counts)
      debit(buffer, counts(counts.length - k - 1))
    }
    buffer
  }

  override def eval(buffer: java.util.HashMap[String, Long]): Any = {
    // deterministic key order in the returned map literal
    val keys = new java.util.ArrayList[String](buffer.keySet())
    java.util.Collections.sort(keys)
    val ks = new Array[Any](keys.size)
    val vs = new Array[Any](keys.size)
    var i = 0
    while (i < keys.size) {
      ks(i) = UTF8String.fromString(keys.get(i))
      vs(i) = buffer.get(keys.get(i))
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
  }

  override def serialize(buffer: java.util.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.size)
    val it = buffer.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out.writeUTF(e.getKey); out.writeLong(e.getValue)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(storage: Array[Byte]): java.util.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(storage))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) { buf.put(in.readUTF(), in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesAgg =
    copy(child = newChildren.head)
}

object MisraGriesFunctions {
  val DefaultK = 64

  /** map<item,count_lower_bound> of at most k candidate heavy hitters. */
  def misraGries(c: Column, k: Int = DefaultK): Column =
    call_function("misra_gries", c, lit(k))
}
