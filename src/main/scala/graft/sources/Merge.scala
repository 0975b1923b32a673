package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** Batch MERGE (SCD1 upsert): `updates` rows replace target rows sharing
  * the key, unmatched update rows insert — the warehouse write pattern
  * behind every dimension refresh (Delta/Iceberg `MERGE INTO`, rebuilt
  * from a primitive Spark join). Whole-row replace semantics: a matched
  * key takes every column from the update row, including its nulls (a
  * per-column coalesce would silently resurrect stale target values).
  *
  * One full-outer shuffle join on the key is the whole cost; at scale the
  * target side is typically bucketed on the key ([[Bucketing]]), which
  * drops the target's exchange and leaves only the (small) update side
  * shuffling.
  */
object Merge {

  /** Upsert `updates` into `target` on `key`; both frames must share the
    * target's schema. */
  def upsert(target: DataFrame, updates: DataFrame, key: String): DataFrame = {
    val cols = target.columns
    val t = target.as("t")
    val u = updates.select(ArraySeq.unsafeWrapArray(cols.map(col)): _*).as("u")
    val takeUpdate = col(s"u.$key").isNotNull
    t.join(u, col(s"t.$key") === col(s"u.$key"), "full_outer")
      .select(ArraySeq.unsafeWrapArray(cols.map(c =>
        when(takeUpdate, col(s"u.$c")).otherwise(col(s"t.$c")).as(c))): _*)
  }
}
