package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Keccak-256 (the pre-NIST-padding SHA-3 variant Ethereum uses) and the
  * EIP-55 checksum address encoding built on it.
  *
  * Spark ships sha2 but not keccak (SURVEY.md §4.2), and the reference
  * depends on it twice: event-topic constants (keccak of the event
  * signature, /root/reference/src/transform/etl_pipeline.py:30-38) and
  * checksum-cased addresses (`Web3.to_checksum_address`,
  * etl_pipeline.py:81-82). The topic constants are fixed by the standard;
  * this implementation closes the remaining gap so decoded addresses can be
  * EIP-55-cased exactly like the reference's output.
  *
  * Pure-JVM implementation of the public Keccak-f[1600] permutation (FIPS
  * 202 structure with the original 0x01 domain padding Ethereum retained).
  */
object Keccak256 {

  private val RoundConstants: Array[Long] = Array(
    0x0000000000000001L, 0x0000000000008082L, 0x800000000000808aL,
    0x8000000080008000L, 0x000000000000808bL, 0x0000000080000001L,
    0x8000000080008081L, 0x8000000000008009L, 0x000000000000008aL,
    0x0000000000000088L, 0x0000000080008009L, 0x000000008000000aL,
    0x000000008000808bL, 0x800000000000008bL, 0x8000000000008089L,
    0x8000000000008003L, 0x8000000000008002L, 0x8000000000000080L,
    0x000000000000800aL, 0x800000008000000aL, 0x8000000080008081L,
    0x8000000000008080L, 0x0000000080000001L, 0x8000000080008008L)

  private val RotationOffsets: Array[Int] = Array(
    0, 1, 62, 28, 27, 36, 44, 6, 55, 20, 3, 10, 43, 25, 39, 41, 45, 15,
    21, 8, 18, 2, 61, 56, 14)

  private def keccakF(state: Array[Long]): Unit = {
    val c = new Array[Long](5)
    val b = new Array[Long](25)
    var round = 0
    while (round < 24) {
      // θ
      var x = 0
      while (x < 5) {
        c(x) = state(x) ^ state(x + 5) ^ state(x + 10) ^ state(x + 15) ^ state(x + 20)
        x += 1
      }
      x = 0
      while (x < 5) {
        val d = c((x + 4) % 5) ^ java.lang.Long.rotateLeft(c((x + 1) % 5), 1)
        var y = 0
        while (y < 5) { state(x + 5 * y) ^= d; y += 1 }
        x += 1
      }
      // ρ and π
      x = 0
      while (x < 5) {
        var y = 0
        while (y < 5) {
          b(y + 5 * ((2 * x + 3 * y) % 5)) =
            java.lang.Long.rotateLeft(state(x + 5 * y), RotationOffsets(x + 5 * y))
          y += 1
        }
        x += 1
      }
      // χ
      x = 0
      while (x < 5) {
        var y = 0
        while (y < 5) {
          state(x + 5 * y) =
            b(x + 5 * y) ^ (~b((x + 1) % 5 + 5 * y) & b((x + 2) % 5 + 5 * y))
          y += 1
        }
        x += 1
      }
      // ι
      state(0) ^= RoundConstants(round)
      round += 1
    }
  }

  private val Rate = 136 // bytes, for 256-bit output

  /** keccak256 digest of raw bytes. */
  def hash(input: Array[Byte]): Array[Byte] = {
    val state = new Array[Long](25)
    // absorb with multi-rate padding 0x01 … 0x80 (Ethereum/legacy Keccak)
    val padded = {
      val padLen = Rate - (input.length % Rate)
      val out = java.util.Arrays.copyOf(input, input.length + padLen)
      out(input.length) = 0x01.toByte
      out(out.length - 1) = (out(out.length - 1) | 0x80).toByte
      out
    }
    var offset = 0
    while (offset < padded.length) {
      var i = 0
      while (i < Rate / 8) {
        var lane = 0L
        var j = 0
        while (j < 8) {
          lane |= (padded(offset + i * 8 + j).toLong & 0xff) << (8 * j)
          j += 1
        }
        state(i) ^= lane
        i += 1
      }
      keccakF(state)
      offset += Rate
    }
    // squeeze 32 bytes
    val out = new Array[Byte](32)
    var i = 0
    while (i < 4) {
      var j = 0
      while (j < 8) { out(i * 8 + j) = ((state(i) >>> (8 * j)) & 0xff).toByte; j += 1 }
      i += 1
    }
    out
  }

  private val HexChars = "0123456789abcdef".toCharArray

  // table-driven, not per-byte String.format: this runs twice per decoded
  // row in the hot path, and the formatter was ~20 µs/call vs ~0.2 µs here
  private def toHex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val v = bytes(i) & 0xff
      out(2 * i) = HexChars(v >>> 4)
      out(2 * i + 1) = HexChars(v & 0xf)
      i += 1
    }
    new String(out)
  }

  /** keccak256 of a UTF-8 string, 0x-prefixed hex (Web3.keccak(text=...)). */
  def hashHex(text: String): String = "0x" + toHex(hash(text.getBytes("UTF-8")))

  /** EIP-55 checksum casing: hex digit i is uppercased iff bit 4·i of
    * keccak256(lowercase-address-without-0x) is set. */
  def toChecksumAddress(address: String): String = {
    val lower = address.toLowerCase.stripPrefix("0x")
    val digest = hash(lower.getBytes("UTF-8"))
    val out = new Array[Char](2 + lower.length)
    out(0) = '0'; out(1) = 'x'
    var i = 0
    while (i < lower.length) {
      val c = lower.charAt(i)
      // digest nibble i without materializing the hex string
      val nibble =
        if ((i & 1) == 0) (digest(i >> 1) >> 4) & 0xf else digest(i >> 1) & 0xf
      out(i + 2) = if (c >= 'a' && c <= 'f' && nibble >= 8) (c - 32).toChar else c
      i += 1
    }
    new String(out)
  }
}

/** Catalyst expression: keccak256 hex digest of a string column. */
case class Keccak256Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "keccak256"

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      Keccak256.hashHex(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.Keccak256.hashHex($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): Keccak256Expr =
    copy(child = newChild)
}

/** Catalyst expression: EIP-55 checksum casing of a hex address column. */
case class ChecksumAddressExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "checksum_address"

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      Keccak256.toChecksumAddress(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.Keccak256.toChecksumAddress($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): ChecksumAddressExpr =
    copy(child = newChild)
}

object KeccakFunctions {
  def keccak256(c: Column): Column = call_function("keccak256", c)
  def checksumAddress(c: Column): Column = call_function("checksum_address", c)
}
