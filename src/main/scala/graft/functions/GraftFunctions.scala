package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function

/** The function catalog: the one list that binds each graft SQL function
  * name to its expression builder. [[GraftExtensions]] injects it when a
  * session is built; [[install]] registers the same values on a session
  * that was built without the extension. Adding a function is one entry
  * here — both paths pick it up.
  *
  * Every entry is created once, so registering it again is a no-op: Spark's
  * registry compares the stored (info, builder) pair with `equals`, which
  * for these values is reference equality, and stays silent on a match.
  */
object GraftFunctions {
  type Entry = (FunctionIdentifier, ExpressionInfo, FunctionBuilder)

  private def fn(name: String, cls: Class[_])(build: FunctionBuilder): Entry =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** Optional foldable int argument `i` (a sketch size), else `default`. */
  private def intArg(exprs: Seq[Expression], i: Int, default: Int): Int =
    exprs.lift(i).map(_.eval(null).asInstanceOf[Int]).getOrElse(default)

  val catalog: Seq[Entry] = Seq(
    fn("hex_to_decimal", classOf[HexToDecimal])(e => HexToDecimal(e.head)),
    fn("keccak256", classOf[Keccak256Expr])(e => Keccak256Expr(e.head)),
    fn("checksum_address", classOf[ChecksumAddressExpr])(
      e => ChecksumAddressExpr(e.head)),
    fn("fixed_dot", classOf[FixedDotExpr])(e => FixedDotExpr(e(0), e(1))),
    fn("fixed_sqdist", classOf[FixedSqDistExpr])(e => FixedSqDistExpr(e(0), e(1))),
    fn("int_dot", classOf[IntDotExpr])(e => IntDotExpr(e(0), e(1))),
    fn("sq_quantize", classOf[SqQuantizeExpr])(e => SqQuantizeExpr(e.head)),
    // (emb, offset literal, codebook literal): the literals are evaluated at
    // analysis into the expression's constructor data
    fn("pq_argmin", classOf[PqArgminExpr]) { e =>
      val cb = e(2).eval().asInstanceOf[ArrayData]
      PqArgminExpr(e(0), e(1).eval().asInstanceOf[Int],
        Array.tabulate(cb.numElements())(i => cb.getArray(i).toFloatArray()))
    },
    fn("md5_windows32", classOf[Md5Windows32Expr])(e => Md5Windows32Expr(e.head)),
    fn("word_shingles", classOf[WordShinglesExpr])(e => WordShinglesExpr(e.head)),
    fn("morton", classOf[MortonExpr])(e => MortonExpr(e(0), e(1),
      e.lift(2).map(MortonFunctions.bitsLiteral).getOrElse(16))),
    fn("deflate_len", classOf[DeflateLenExpr])(e => DeflateLenExpr(e.head)),
    fn("kmv_sketch", classOf[KmvSketchAgg])(
      e => KmvSketchAgg(e.head, intArg(e, 1, KmvFunctions.DefaultK))),
    fn("misra_gries", classOf[MisraGriesAgg])(
      e => MisraGriesAgg(e.head, intArg(e, 1, MisraGriesFunctions.DefaultK))),
    fn("count_min", classOf[CountMinAgg])(e => CountMinAgg(e.head,
      intArg(e, 1, CountMinFunctions.DefaultDepth),
      intArg(e, 2, CountMinFunctions.DefaultWidth))),
    fn("bloom_set", classOf[BloomSetAgg])(e => BloomSetAgg(e.head,
      intArg(e, 1, BloomSetFunctions.DefaultBits),
      intArg(e, 2, BloomSetFunctions.DefaultHashes))),
    fn("hll_sketch", classOf[HllSketchAgg])(
      e => HllSketchAgg(e.head, intArg(e, 1, HllFunctions.DefaultPrecision))),
    fn("kll_sketch", classOf[KllSketchAgg])(
      e => KllSketchAgg(e.head, intArg(e, 1, KllFunctions.DefaultK))),
    // Spark's runtime-filter pair, callable by name so a query can place
    // the bloom filter the InjectRuntimeFilter rule would (q_runtime_filter).
    // Spark 4.1.2's own BloomFilterMightContain codegen fails to compile
    // ("java.lang.Long" is not an rvalue, logged as ERROR CodeGenerator)
    // when the probe is a negative long literal, e.g. xxhash64('a') folded
    // to -8582455328737087284, or -5L; Spark then evaluates it interpreted,
    // with the right answer. A column probe, as in q_runtime_filter, and a
    // positive literal compile cleanly.
    fn("graft_bloom_agg", classOf[BloomFilterAggregate])(
      e => new BloomFilterAggregate(e.head)),
    fn("graft_might_contain", classOf[BloomFilterMightContain])(
      e => BloomFilterMightContain(e(0), e(1))))

  /** Registers the catalog on `spark`; silent and idempotent (see above).
    * Call it once at the top of any method that uses a column helper, so
    * sessions built without [[GraftExtensions]] resolve the names too. */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    catalog.foreach { case (id, info, build) => registry.registerFunction(id, info, build) }
  }

  /** Column-API form; resolves on a session built with [[GraftExtensions]]
    * or one that ran [[install]]. */
  def hexToDecimal(c: Column): Column = call_function("hex_to_decimal", c)
}
