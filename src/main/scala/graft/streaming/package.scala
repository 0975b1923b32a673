package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object streaming {
  /** The parquet state table at `path`, or `empty` before its first merge. */
  private[streaming] def readOr(spark: SparkSession, path: String)
                               (empty: => DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      spark.read.parquet(path)
    else empty
  }
}
