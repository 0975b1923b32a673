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

/** Bloom filter as a Catalyst aggregate with md5-derived bit positions —
  * the membership leg of the mergeable-sketch family (KMV = distinct,
  * Count-Min = frequency, KLL = rank, this = set membership; the
  * bloom-join / decontamination-probe primitive).
  *
  * Spark's own `BloomFilterAggregate` (used by `q_runtime_filter` as the
  * optimizer's runtime prune) hashes with xxHash64 and serializes an
  * engine-specific blob — correct for pruning, opaque to the oracle. This
  * aggregate derives bit i of a value from the first 32 bits of
  * md5("i|" + value) mod m, update ORs d bits in, and merge is elementwise
  * Long OR — associative, commutative, idempotent — so the filter words
  * are a pure function of the input SET (duplicates are absorbed) and a
  * DuckDB GROUP BY over (i, position) rebuilds the identical filter.
  * The classic guarantee holds by construction: membership probes have NO
  * false negatives; false positives occur at ≈ (1 − e^(−dn/m))^d.
  *
  * eval() returns the filter as array<bigint> of m/64 words;
  * [[BloomSetFunctions.mightContain]] probes it as a codegen expression
  * (shift/AND over the literal words), and the word layout (bit p lives
  * at word p div 64, bit p mod 64) is part of the public contract the
  * oracle twin mirrors.
  */
case class BloomSetAgg(
    child: Expression,
    bits: Int,
    hashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with ImplicitCastInputTypes {

  require(bits >= 64 && bits % 64 == 0, "bloom bits must be a multiple of 64")
  require(hashes >= 1 && hashes <= 16, "bloom hash count must be in [1, 16]")

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bloom_set"

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](bits / 64)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String].toString
      var i = 0
      while (i < hashes) {
        val p = BloomSetFunctions.position(i, s, bits)
        buffer(p >>> 6) |= (1L << (p & 63))
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buffer.length) { buffer(i) |= other(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Long]): Any =
    new GenericArrayData(buffer.map(x => x: Any))

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(buffer.length * 8)
    buffer.foreach(out.putLong)
    out.array()
  }

  override def deserialize(storage: Array[Byte]): Array[Long] = {
    val in = java.nio.ByteBuffer.wrap(storage)
    Array.fill(bits / 64)(in.getLong())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomSetAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomSetAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomSetAgg =
    copy(child = newChildren.head)
}

object BloomSetFunctions {
  val DefaultBits = 4096
  val DefaultHashes = 3

  /** Bit position i of a value: first 32 bits of md5("i|" + value) mod m
    * — same hex-prefix construction as [[CountMinFunctions.cell]], so
    * both engines rebuild it from `md5` alone. */
  private[functions] def position(i: Int, value: String, bits: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$i|$value".getBytes(StandardCharsets.UTF_8))
    val u = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (u % bits).toInt
  }

  /** The m/64-word filter of a string column. */
  def bloomSet(c: Column, bits: Int = DefaultBits,
               hashes: Int = DefaultHashes): Column =
    call_function("bloom_set", c, lit(bits), lit(hashes))

  /** Codegen membership probe of `value` against a COLLECTED filter
    * (literal words): true iff all d bit positions are set. */
  def mightContain(words: IndexedSeq[Long], value: Column,
                   bits: Int = DefaultBits,
                   hashes: Int = DefaultHashes): Column = {
    import org.apache.spark.sql.functions._
    (0 until hashes).map { i =>
      val p = conv(substring(md5(concat(lit(s"$i|"), value)), 1, 8), 16, 10)
        .cast("long") % bits
      val word = element_at(typedlit(words), (p / 64).cast("int") + 1)
      word.bitwiseAND(call_function("shiftleft", lit(1L),
        (p % 64).cast("int"))) =!= 0L
    }.reduce(_ && _)
  }

  /** Driver-side probe (specs, small key sets). */
  def mightContainLocal(words: Array[Long], value: String,
                        bits: Int = DefaultBits,
                        hashes: Int = DefaultHashes): Boolean =
    (0 until hashes).forall { i =>
      val p = position(i, value, bits)
      (words(p >>> 6) & (1L << (p & 63))) != 0L
    }
}
