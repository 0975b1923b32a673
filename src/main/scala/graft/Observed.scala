package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.logging.log4j.LogManager
import org.apache.spark.sql.{Column, DataFrame, Row}

/** An eager `localCheckpoint` that also returns a small aggregate of the
  * checkpointed rows. The aggregate rides the checkpoint job as an
  * `observe` metric, so it costs no job of its own. When Spark does not
  * deliver the metric (a miss), the same aggregate runs over the
  * checkpointed blocks: one extra small job, logged and counted in
  * [[misses]]. Iterative operators use this once per round for their
  * convergence or normalization scalars. */
object Observed {
  private val logger = LogManager.getLogger(getClass.getName.stripSuffix("$"))
  private val missCount = new AtomicLong

  /** Observed-metric misses in this JVM so far. */
  def misses: Long = missCount.get

  /** `df` checkpointed, and the row of `aggs` (each aliased) over it. A
    * field is null where the aggregate is, e.g. a sum over no rows. */
  def checkpoint(df: DataFrame, metric: String,
                 aggs: Column*): (DataFrame, Row) = {
    val observed = df.observe(metric, aggs.head, aggs.tail: _*)
    val out = observed.transform(Materialize.checkpoint)
    val row = observed.queryExecution.observedMetrics.getOrElse(metric, {
      missCount.incrementAndGet()
      logger.warn(s"[graft] observed-metric miss: $metric - " +
        "aggregating the checkpointed frame instead")
      out.agg(aggs.head, aggs.tail: _*).collect()(0)
    })
    (out, row)
  }
}
