package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap

/** Session-scoped store of materialized pipeline artifacts. A composed
  * pipeline's expensive intermediates (near-dup clusters, a passage graph,
  * LPA labels, shingle counts) are computed ONCE per (application, input)
  * and every downstream consumer reads the materialized leaf instead of
  * re-deriving the DAG — at 100 TB the same discipline is a parquet
  * hand-off between the producing and consuming jobs; the store is its
  * single-session form so the registry behaves identically without a
  * filesystem round-trip.
  *
  * The cache contract of every graft operator, stated once:
  *  - an intermediate with several consumers in one plan is `persist`ed
  *    and stays cached until `spark.catalog.clearCache()` — Bench and
  *    Verify call it after every entry, and a long-lived caller calls it
  *    between uses;
  *  - `localCheckpoint` blocks are freed by Spark's ContextCleaner once
  *    their frame is unreachable (`Dataset.unpersist` does not free them);
  *  - artifacts in this store are checkpoints, so they survive
  *    `clearCache()`; [[clear]] drops them, and the ContextCleaner then
  *    frees their blocks.
  *
  * Keys include the application id (a fresh SparkContext never sees a
  * stale frame); callers put the input identifier and every
  * content-changing parameter in the key string. */
object FrameStore {
  private val store = TrieMap.empty[(String, String), DataFrame]

  /** Fetch the artifact for `key`, or compute, publish, and return it.
    * First publication wins: deterministic `compute` ⇒ consumers' results
    * do not depend on who produced the entry. */
  def getOrCompute(spark: SparkSession, key: String)
                  (compute: => DataFrame): DataFrame =
    store.getOrElseUpdate((spark.sparkContext.applicationId, key),
      compute.localCheckpoint(true))

  /** True when `key` is already published (spec hook). */
  def contains(spark: SparkSession, key: String): Boolean =
    store.contains((spark.sparkContext.applicationId, key))

  /** Drop every artifact of this application (test hygiene). */
  def clear(spark: SparkSession): Unit = {
    val app = spark.sparkContext.applicationId
    store.keys.filter(_._1 == app).foreach(store.remove)
  }
}
