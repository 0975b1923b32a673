package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** Distributed as-of (point-in-time) join — for every left row, the payload
  * of the LATEST right row with `rightTs <= leftTs` under the same key
  * (backward, inclusive; the feature-store / market-data lookup the
  * reference's Pandas `merge_asof` users reach for).
  *
  * NOT a join in the Spark plan at all: a per-row range probe (the naive
  * `l JOIN r ON key AND r.ts <= l.ts` + max) explodes to O(|l|·|r|) per key
  * before aggregation. Instead both sides are UNIONED, tagged, and sorted
  * once per key — `last(payload, ignoreNulls)` over a running window
  * propagates the most recent right payload onto each left row:
  *
  *  - one shuffle of (left ∪ right) by key, one sort within partitions —
  *    the minimum any time-ordered merge needs;
  *  - the window is KEY-partitioned, never global (PlanSpec-asserted — at
  *    1000 executors each key's timeline merges locally);
  *  - right rows sort BEFORE left rows at equal timestamps, so an exact-ts
  *    quote matches its own trade (inclusive semantics, same as DuckDB's
  *    `ASOF JOIN ... ON l.ts >= r.ts`);
  *  - among equal-(key, ts) right rows the struct-greatest payload wins —
  *    deterministic without requiring pre-deduped input (callers wanting a
  *    different tiebreak dedupe upstream).
  *
  * Column contract: output = every left column, plus `rightTs+suffix` and
  * each payload column suffixed. `__ts/__side/__p/__m` are reserved working
  * names. `toleranceUs` (timestamp columns only) voids matches older than
  * the given staleness — rows keep nulls, like `merge_asof(tolerance=...)`.
  */
object AsOfJoin {

  def backward(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String, payload: Seq[String],
               suffix: String = "_r",
               toleranceUs: Option[Long] = None): DataFrame = {
    require(keys.nonEmpty, "as-of join requires at least one equality key")
    val pStruct = struct((col(rightTs) +: payload.map(col)): _*)
    val rSide = right.select(
      keys.map(col) :+ col(rightTs).as("__ts") :+ pStruct.as("__p"): _*)
      .withColumn("__side", lit(0))
    val lSide = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1))
    val unioned = lSide.unionByName(rSide, allowMissingColumns = true)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__side").asc, col("__p").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = unioned
      .withColumn("__m", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    val gated = toleranceUs match {
      case Some(tol) => matched.withColumn("__m",
        when(unix_micros(col("__ts")) -
          unix_micros(col(s"__m.$rightTs")) <= tol, col("__m")))
      case None => matched
    }
    gated.select(ArraySeq.unsafeWrapArray(left.columns.map(col) ++
      (rightTs +: payload).map(c => col(s"__m.$c").as(c + suffix))): _*)
  }
}
