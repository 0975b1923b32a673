package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** The four non-overlapping 32-bit windows of md5(input), as unsigned
  * longs — the MinHash hash-window trick's draw extractor, fused: exactly
  * the values of
  *   `transform(sequence(0,3), w -> conv(substr(md5(s), w*8+1, 8), 16, 10)
  *      .cast(long))`
  * but computed straight from the digest bytes. The composable form
  * materializes the 32-char hex string per digest and then runs four
  * substrings and four string-to-long parses per row — in the ×B=99
  * permutation-replicate stage (25 digests per event row) that string
  * machinery was a measurable slice of the stage's 2.8 s wall at sf0.1.
  * Big-endian byte order matches hex-window semantics by construction,
  * so the values are bit-identical to the conv form (the DuckDB twin
  * keeps computing the hex-substring form — both engines agree on md5).
  */
case class Md5Windows32Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "md5_windows32"

  override protected def nullSafeEval(s: Any): Any =
    Md5WindowsOps.windows(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5WindowsOps.windows($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Windows32Expr =
    copy(child = newChild)
}

object Md5WindowsOps {
  // One MessageDigest per task thread: DigestUtils.md5 constructs a fresh
  // MessageDigest per call (MessageDigest.getInstance walks the provider
  // table), and the ×B=99 permutation-replicate stage calls this 25 times
  // per event row — millions of allocations per task. digest() resets the
  // instance, so reuse is value-identical.
  private val localMd = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Digest the UTF-8 bytes (the same bytes Spark's `md5` hashes after its
    * implicit string→binary cast) and slice the 16 digest bytes into four
    * big-endian unsigned 32-bit values. */
  def windows(s: UTF8String): ArrayData = {
    val d = localMd.get().digest(s.getBytes)
    val out = new Array[Long](4)
    var w = 0
    while (w < 4) {
      out(w) = ((d(4 * w) & 0xffL) << 24) |
        ((d(4 * w + 1) & 0xffL) << 16) |
        ((d(4 * w + 2) & 0xffL) << 8) |
        (d(4 * w + 3) & 0xffL)
      w += 1
    }
    ArrayData.toArrayData(out)
  }
}

object Md5WindowsFunctions {
  def md5Windows32(s: Column): Column = call_function("md5_windows32", s)
}
