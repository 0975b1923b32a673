package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** Salted equi-join for skewed key distributions.
  *
  * A plain shuffle join sends every row of a key to ONE reducer; with a
  * zipf-distributed key (one user, one contract, one null-ish bucket owning
  * 20% of 100 TB) that reducer is a straggler or an OOM while 999 executors
  * idle. Salting rewrites the join so the hot key's rows spread over `r`
  * reducers:
  *
  *  - LEFT (large, skewed): each row gets a deterministic salt in [0, r)
  *    hashed from the whole row — a single key's rows fan out across salts;
  *  - RIGHT (smaller): replicated r times, once per salt value;
  *  - equi-join on (keys…, salt) — row-identical to the plain join (each
  *    left row meets exactly the one right replica carrying its salt).
  *
  * Cost: r× replication of the right side's shuffle volume — the knob
  * trades right-side duplication against left-side parallelism, so size
  * `r` to the skew factor, not the cluster. AQE's skew-join split handles
  * moderate sort-merge skew at runtime; explicit salting remains the tool
  * when the skew is known and extreme, when the join is hash-based, or
  * when a deterministic plan is required.
  */
object SkewJoin {

  def salted(left: DataFrame, right: DataFrame, keys: Seq[String],
             r: Int): DataFrame = {
    require(r > 0, "salt fan-out must be positive")
    require(keys.nonEmpty, "salted join requires equality keys")
    val lsalt = left.withColumn("__salt",
      pmod(xxhash64(ArraySeq.unsafeWrapArray(left.columns.map(col)): _*), lit(r.toLong)))
    val rsalt = right.withColumn("__salt",
      explode(sequence(lit(0L), lit(r.toLong - 1))))
    lsalt.join(rsalt, keys :+ "__salt").drop("__salt")
  }
}
