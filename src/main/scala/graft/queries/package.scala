package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object queries {
  /** A registry builder: the session and the directory of the driver's
    * parquet tables in, the entry's result frame out. */
  type Q = (SparkSession, String) => DataFrame
}
