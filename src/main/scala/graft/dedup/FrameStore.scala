package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap
import graft.Materialize

/** Session-scoped store of materialized pipeline artifacts. A composed
  * pipeline's expensive intermediates (near-dup clusters, a passage graph,
  * LPA labels, shingle counts) are computed ONCE per (application, input)
  * and every downstream consumer reads the materialized leaf instead of
  * re-deriving the DAG — at 100 TB the same discipline is a parquet
  * hand-off between the producing and consuming jobs; the store is its
  * single-session form so the registry behaves identically without a
  * filesystem round-trip.
  *
  * Block lifetimes follow [[graft.Materialize]]: an artifact is a
  * checkpoint owned by the store, outside the caller's scope, until
  * [[clear]] frees it; the intermediates `compute` makes belong to the
  * caller's scope, which may free them because the artifact's own
  * checkpoint has already cut their lineage.
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
    store.getOrElseUpdate((spark.sparkContext.applicationId, key), {
      val df = compute
      Materialize.unscoped(df.transform(Materialize.checkpoint))
    })

  /** True when `key` is already published (spec hook). */
  def contains(spark: SparkSession, key: String): Boolean =
    store.contains((spark.sparkContext.applicationId, key))

  /** The checkpoint RDD ids of this application's artifacts. */
  def heldIds(spark: SparkSession): Set[Int] =
    frames(spark).values.map(Materialize.rddId).toSet

  /** Drop every artifact of this application and free its blocks now. */
  def clear(spark: SparkSession): Unit =
    frames(spark).foreach { case (k, df) =>
      store.remove(k)
      Materialize.free(spark.sparkContext, Materialize.rddId(df))
    }

  private def frames(spark: SparkSession) = {
    val app = spark.sparkContext.applicationId
    store.filter(_._1._1 == app)
  }
}
