package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word 3-gram shingles of a text column, fused into one pass.
  *
  * Semantically identical to the composable form in
  * [[graft.text.TextOps.shingles]] (split on single spaces, drop empties,
  * n-grams joined by one space, distinct keeping first occurrence) and to
  * the DuckDB oracle's list_transform/list_distinct twin — but computed in
  * a single tokenize-and-emit loop instead of interpreted higher-order
  * functions building three intermediate arrays per row. Measured ~8×
  * on the shingle materialization feeding the dedup family.
  */
case class WordShinglesExpr(child: Expression, n: Int = 3)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "word_shingles"

  override protected def nullSafeEval(input: Any): Any =
    WordShingleOps.shingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WordShingleOps.shingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordShinglesExpr =
    copy(child = newChild)
}

object WordShingleOps {
  def shingles(text: UTF8String, n: Int): ArrayData = {
    val s = text.toString
    // tokenize: split on ' ' dropping empties (string_split semantics)
    val toks = new java.util.ArrayList[String]()
    var start = 0
    val len = s.length
    var i = 0
    while (i <= len) {
      if (i == len || s.charAt(i) == ' ') {
        if (i > start) toks.add(s.substring(start, i))
        start = i + 1
      }
      i += 1
    }
    val m = toks.size
    if (m < n) return new GenericArrayData(Array.empty[Any])
    // n-grams, distinct by first occurrence (array_distinct semantics)
    val seen = new java.util.LinkedHashSet[String]()
    var j = 0
    while (j <= m - n) {
      val sb = new java.lang.StringBuilder(toks.get(j))
      var k = 1
      while (k < n) { sb.append(' ').append(toks.get(j + k)); k += 1 }
      seen.add(sb.toString)
      j += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var idx = 0
    while (it.hasNext) { out(idx) = UTF8String.fromString(it.next()); idx += 1 }
    new GenericArrayData(out)
  }
}

object WordShingleFunctions {
  def wordShingles(c: Column): Column = call_function("word_shingles", c)
}
