package graft

import org.apache.spark.sql.functions._
import graft.functions.{FixedSqDistFunctions, IntDotFunctions,
  Md5WindowsFunctions, SqQuantizeFunctions}

/** The r13 fused codegen expressions against the composable forms they
  * replaced — every value and null case must be bit-identical, because the
  * registry queries they back are oracle-hash-checked on those values.
  *
  *  - [[graft.functions.FixedSqDistExpr]] vs
  *    `aggregate(zip_with(emb, cent, (x,c) -> round((x−c)²·1e12).cast(long)))`
  *  - [[graft.functions.Md5Windows32Expr]] vs
  *    `transform(sequence(0,3), w -> conv(substr(md5(s), w*8+1, 8), 16, 10)
  *       .cast(long))`
  */
class FusedExprSpec extends SparkSpec {
  import spark.implicits._

  private def sqDistLambda = aggregate(
    zip_with(col("emb"), col("cent"), (x, cc) =>
      round((x.cast("double") - cc) * (x.cast("double") - cc) * lit(1e12),
        0).cast("long")),
    lit(0L), (acc, v) => acc + v)

  test("fixed_sqdist == composable zip_with/aggregate fold, incl. edge values") {
    val rows = Seq(
      (Array(0.0f, 0.5f, -1.0f), Array(0.0, 0.25, 1.0)),
      (Array(1.0f, 1.0f), Array(1.0, 1.0)),                 // exact zero
      (Array(0.1f, -0.2f, 0.3f), Array(-0.4, 0.5, -0.6)),
      (Array(2.0f), Array(-2.0)),                           // max magnitude
      (Array.empty[Float], Array.empty[Double]),            // empty → 0
      (Array(1e-7f, -1e-7f), Array(0.0, 0.0)),              // sub-ulp terms
      (Array(0.123456f, 0.654321f, 0.9999999f),
        Array(0.123456, 0.654321, 1.0000001)))
      .toDF("emb", "cent")
    val got = rows.select(
      FixedSqDistFunctions.fixedSqDist(col("emb"), col("cent")).as("fused"),
      sqDistLambda.as("lambda")).collect()
    got.foreach(r => assert(r.get(0) == r.get(1), r.toString))
  }

  test("fixed_sqdist length-mismatch and null-input are null, like zip_with") {
    val rows = Seq(
      (Some(Array(1.0f, 2.0f)), Some(Array(1.0))),          // len mismatch
      (Some(Array(1.0f)), Some(Array(1.0, 2.0))),           // other side
      (None: Option[Array[Float]], Some(Array(1.0))),       // null input
      (Some(Array(1.0f)), None: Option[Array[Double]]))
      .toDF("emb", "cent")
    val got = rows.select(
      FixedSqDistFunctions.fixedSqDist(col("emb"), col("cent")).as("fused"),
      sqDistLambda.as("lambda")).collect()
    got.foreach { r =>
      assert(r.isNullAt(0) && r.isNullAt(1), r.toString)
    }
  }

  test("fixed_sqdist random fuzz vs lambda (1000 rows, dim 64)") {
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(1000)((
      Array.fill(64)(rnd.nextFloat() * 4 - 2),
      Array.fill(64)(rnd.nextDouble() * 4 - 2)))
      .toDF("emb", "cent")
    val bad = rows.select(
      FixedSqDistFunctions.fixedSqDist(col("emb"), col("cent")).as("fused"),
      sqDistLambda.as("lambda"))
      .filter(!(col("fused") <=> col("lambda"))).count()
    assert(bad == 0L)
  }

  private def convWindows = transform(sequence(lit(0), lit(3)),
    w => conv(md5(col("s")).substr(w * lit(8) + 1, lit(8)), 16, 10)
      .cast("long"))

  test("md5_windows32 == conv-chain on fixed and fuzzed strings") {
    val rnd = new scala.util.Random(7)
    val fixed = Seq("", "a", "0|1", "12|999999", "pfs|42",
      "é世界|x", "long" * 100)
    val fuzz = Seq.fill(500)(rnd.alphanumeric.take(rnd.nextInt(40)).mkString
      + "|" + rnd.nextLong())
    val rows = (fixed ++ fuzz).toDF("s")
    val bad = rows.select(
      Md5WindowsFunctions.md5Windows32(col("s")).as("fused"),
      convWindows.as("chain"))
      .filter(!(col("fused") <=> col("chain"))).count()
    assert(bad == 0L)
  }

  test("md5_windows32 null propagates") {
    val rows = Seq(Option.empty[String], Some("x")).toDF("s")
    val got = rows.select(
      Md5WindowsFunctions.md5Windows32(col("s")).as("fused")).collect()
    assert(got.exists(_.isNullAt(0)) && got.exists(!_.isNullAt(0)))
  }

  // --- r14 fused expressions: int_dot / sq_quantize ------------------------

  private def intDotLambda(a: org.apache.spark.sql.Column,
                           b: org.apache.spark.sql.Column) = aggregate(
    zip_with(a, b, (x, y) => (x * y).cast("long")),
    lit(0L), (acc, v) => acc + v)

  test("int_dot == composable zip_with/aggregate fold, incl. edges") {
    // no overflow rows here: under ANSI (the session default) the
    // composable (x*y) THROWS on int overflow, so the comparable domain is
    // the non-overflowing one — which the int8-quantized inputs (|v| ≤ 127,
    // dim ≤ thousands) can never leave
    val rows = Seq(
      (Array(1, 2, 3), Array(4, 5, 6)),
      (Array(127, -127), Array(127, -127)),
      (Array.empty[Int], Array.empty[Int]),                 // empty → 0
      (Array.fill(4096)(127), Array.fill(4096)(-127)),      // big dim
      (Array(-46340), Array(46340)))                        // near int edge
      .toDF("a", "b")
    val got = rows.select(
      IntDotFunctions.intDot(col("a"), col("b")).as("fused"),
      intDotLambda(col("a"), col("b")).as("lambda")).collect()
    got.foreach(r => assert(r.get(0) == r.get(1), r.toString))
  }

  test("int_dot length-mismatch and null-input are null, like zip_with") {
    val rows = Seq(
      (Some(Array(1, 2)), Some(Array(1))),
      (Some(Array(1)), Some(Array(1, 2))),
      (None: Option[Array[Int]], Some(Array(1))),
      (Some(Array(1)), None: Option[Array[Int]]))
      .toDF("a", "b")
    val got = rows.select(
      IntDotFunctions.intDot(col("a"), col("b")).as("fused"),
      intDotLambda(col("a"), col("b")).as("lambda")).collect()
    got.foreach(r => assert(r.isNullAt(0) && r.isNullAt(1), r.toString))
  }

  test("int_dot random fuzz vs lambda (1000 rows, dim 64)") {
    val rnd = new scala.util.Random(29)
    val rows = Seq.fill(1000)((
      Array.fill(64)(rnd.nextInt(255) - 127),
      Array.fill(64)(rnd.nextInt(255) - 127)))
      .toDF("a", "b")
    val bad = rows.select(
      IntDotFunctions.intDot(col("a"), col("b")).as("fused"),
      intDotLambda(col("a"), col("b")).as("lambda"))
      .filter(!(col("fused") <=> col("lambda"))).count()
    assert(bad == 0L)
  }

  private def sqQuantizeLambda(e: org.apache.spark.sql.Column) = {
    val mx = aggregate(e, lit(0.0),
      (acc, x) => greatest(acc, abs(x.cast("double"))))
    val scale = when(mx === lit(0.0), lit(1.0)).otherwise(mx / lit(127.0))
    transform(e, x => round(x.cast("double") / scale).cast("int"))
  }

  test("sq_quantize == composable max/round/transform chain, incl. edges") {
    val rows = Seq(
      Array(0.0f, 0.5f, -1.0f),
      Array(0.0f, 0.0f),                                    // all-zero → s=1
      Array(1.5f),                                          // lone max → ±127
      Array(0.105f, -0.21f, 0.4199999f),
      Array.empty[Float],
      Array(1e-30f, -1e-30f))                               // tiny magnitudes
      .toDF("e")
    val got = rows.select(
      SqQuantizeFunctions.sqQuantize(col("e")).as("fused"),
      sqQuantizeLambda(col("e")).as("lambda")).collect()
    got.foreach(r => assert(r.getSeq[Int](0) == r.getSeq[Int](1), r.toString))
  }

  test("sq_quantize null array is null") {
    val rows = Seq(Option.empty[Array[Float]], Some(Array(1.0f))).toDF("e")
    val got = rows.select(
      SqQuantizeFunctions.sqQuantize(col("e")).as("fused")).collect()
    assert(got.exists(_.isNullAt(0)) && got.exists(!_.isNullAt(0)))
  }

  test("sq_quantize random fuzz vs lambda (1000 rows, dim 64)") {
    val rnd = new scala.util.Random(31)
    val rows = Seq.fill(1000)(Array.fill(64)(rnd.nextFloat() * 4 - 2))
      .toDF("e")
    val bad = rows.select(
      SqQuantizeFunctions.sqQuantize(col("e")).as("fused"),
      sqQuantizeLambda(col("e")).as("lambda"))
      .filter(!(col("fused") <=> col("lambda"))).count()
    assert(bad == 0L)
  }

  test("pq_argmin == composable transform/array_min/array_position chain") {
    val rnd = new scala.util.Random(41)
    val w = 8
    val cb = Array.fill(16)(Array.fill(w)(rnd.nextFloat() * 4 - 2))
    def composable(offset: Int) = {
      val cbLit = typedlit(cb.toIndexedSeq.map(_.toIndexedSeq))
      val fd = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
        graft.functions.FixedDotFunctions.fixedDot(a, b)
      val scores = transform(cbLit, c => fd(c, c) - lit(2L) *
        fd(slice(col("emb"), lit(offset + 1), lit(w)), c))
      array_position(scores, array_min(scores)).cast("int")
    }
    // dims 64 (full), 60 (slice clamps at the end), 4 (offset past end for
    // high subspaces → empty slice → score = fd(c,c))
    for (dim <- Seq(64, 60, 4); offset <- Seq(0, 8, 56)) {
      val rows = Seq.fill(300)(Array.fill(dim)(rnd.nextFloat() * 4 - 2))
        .toDF("emb")
      val bad = rows.select(
        graft.functions.PqArgminFunctions.pqArgmin(col("emb"), offset, cb)
          .as("fused"),
        composable(offset).as("chain"))
        .filter(!(col("fused") <=> col("chain"))).count()
      assert(bad == 0L, s"dim=$dim offset=$offset")
    }
    // null array → null
    val nulls = Seq(Option.empty[Array[Float]], Some(Array.fill(64)(0.5f)))
      .toDF("emb")
    val got = nulls.select(
      graft.functions.PqArgminFunctions.pqArgmin(col("emb"), 0, cb)).collect()
    assert(got.exists(_.isNullAt(0)) && got.exists(!_.isNullAt(0)))
  }

  test("int_dot(c, c) == the squared-norm transform fold") {
    val rnd = new scala.util.Random(37)
    val rows = Seq.fill(500)(Array.fill(64)(rnd.nextInt(255) - 127))
      .toDF("c")
    val normLambda = aggregate(
      transform(col("c"), x => (x * x).cast("long")), lit(0L),
      (acc, v) => acc + v)
    val bad = rows.select(
      IntDotFunctions.intDot(col("c"), col("c")).as("fused"),
      normLambda.as("lambda"))
      .filter(!(col("fused") <=> col("lambda"))).count()
    assert(bad == 0L)
  }
}
