package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

package object queries {
  /** A registry builder: the session and the directory of the driver's
    * parquet tables in, the entry's result frame out. */
  type Q = (SparkSession, String) => DataFrame

  /** Driver-finish row bound (guide §1.2/§2.4). Each distributed round or
    * level of an iterative builder is at least one Spark job, so on a
    * small input the rounds schedule more than they compute. An input of
    * at most this many rows is collected once ([[collectAtMost]]) and its
    * exact algebra is replayed on the driver, so the whole iteration costs
    * the collect. Above the bound the distributed shape runs unchanged,
    * which is the shape that holds at 100 TB. At the bound the driver holds
    * ~1-3 MB of narrow rows.
    *
    *  - [[Sketches.kllCanonical]]: the (v, id) rows of the halving tree.
    *    Above the bound, the tree's distributed levels also stop once their
    *    row bound is under this constant, and the remaining levels (a fixed
    *    number of the smallest ones at any scale) finish on the driver.
    *  - q_kcore ([[Relational6]]): the doc graph's (u, v) edge list and its
    *    four H-index rounds. */
  private[graft] val DriverFinishRows: Long = 1L << 16

  /** The rows of `df` when it has at most `maxRows` of them, else None.
    * One `limit(maxRows + 1)` collect, so the driver never holds more than
    * maxRows + 1 rows whatever the input's size. */
  private[graft] def collectAtMost(df: DataFrame, maxRows: Long)
      : Option[Array[Row]] = {
    val rows = df.limit(Math.toIntExact(maxRows + 1)).collect()
    if (rows.length > maxRows) None else Some(rows)
  }
}
