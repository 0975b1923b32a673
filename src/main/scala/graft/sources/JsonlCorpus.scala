package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import scala.collection.immutable.ArraySeq

/** JSONL corpus ingestion with corrupt-record quarantine — the shape web
  * corpora actually arrive in (one JSON document per line, a tail of
  * truncated/garbled lines from crawler restarts). The contract at 100 TB:
  * a bad line must never kill the job OR silently vanish; it lands in a
  * quarantine frame carrying the raw line for replay/audit.
  *
  * Built as text-source → `from_json` (not `spark.read.json`) so the
  * parse is one codegen'd projection with explicit schema — no sampling
  * inference pass over the corpus, and the raw line stays available for
  * the quarantine split without a second read. Both outputs share the one
  * scan; Spark plans the split as two filters over the same cached-free
  * projection (lines are only held in the scan, never duplicated).
  */
object JsonlCorpus {

  /** Read `path` as JSONL against `schema`. Returns (good, quarantine):
    * `good` has the schema's columns; `quarantine` has the raw `line`.
    * A line is quarantined iff it fails to parse as a JSON object —
    * fields merely missing from an otherwise-valid object are nulls in
    * `good` (schema drift is data, not corruption). */
  def read(spark: SparkSession, path: String,
           schema: StructType): (DataFrame, DataFrame) = {
    // PERMISSIVE from_json yields an all-null row for garbage; the
    // _corrupt_record passthrough distinguishes "null because the object
    // was empty" from "null because the line didn't parse"
    val withCorrupt = schema.add("_corrupt_record", StringType)
    val parsed = spark.read.textFile(path).toDF("line")
      .filter(length(trim(col("line"))) > 0)
      .withColumn("j", from_json(col("line"), withCorrupt,
        Map("columnNameOfCorruptRecord" -> "_corrupt_record")))
    val good = parsed
      .filter(col("j._corrupt_record").isNull)
      .select(ArraySeq.unsafeWrapArray(schema.fieldNames.map(f => col(s"j.$f").as(f))): _*)
    val quarantine = parsed
      .filter(col("j._corrupt_record").isNotNull)
      .select(col("line"))
    (good, quarantine)
  }
}
