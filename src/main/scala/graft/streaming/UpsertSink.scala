package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DataType, StructType}
import scala.collection.immutable.ArraySeq

/** Streaming upsert ("latest row per key") sink over plain parquet — the
  * reference's warehouse sink upgraded to streaming semantics: each
  * micro-batch merges into a compacted state table where the newest row
  * per key wins.
  *
  * Shape per micro-batch: union(current state, batch) → one key-partitioned
  * window keeping (max ts, then max tie-break) → crash-safe swap of the
  * state directory. The swap never deletes the prior state before the new
  * one is in place: write to `<path>__stage`, rename the live table aside
  * to `<path>__old`, rename the stage in, and drop the aside copy last. A
  * crash (or foreachBatch retry) at any point leaves the prior state in
  * either `<path>` or `<path>__old`; [[mergeBatch]] restores it on entry
  * before reading, so a retried batch re-merges into the full prior state
  * instead of silently truncating it. The one remaining non-atomic window
  * is between the two renames — a concurrent reader in that instant sees
  * no table (never a half-written one); a missing-table retry on the read
  * side covers it, as single-directory parquet swaps cannot do better
  * without a manifest-pointer layout (Delta/Iceberg territory, see below).
  *
  * The current state is read with the schema of its first part-file in
  * path order (the file `spark.read.parquet` infers from), taken from that
  * file's footer on the driver, so reading it runs no Spark job (the
  * schema inference of `spark.read.parquet` is one). A state table whose
  * columns differ from the batch's still fails the `unionByName`.
  *
  * Scale note: rewriting full state per batch is the plain-parquet
  * trade-off — correct and shuffle-minimal (one exchange on the key), but
  * O(state) I/O per batch. At 100 TB state you'd swap this class for a
  * transactional table format (Delta/Iceberg/Hudi MERGE) and keep the
  * identical dedup transform; state here is the compacted KEYS table
  * (dimensions, feature snapshots), not the raw stream.
  */
object UpsertSink {

  /** Newest row per key; equal-timestamp ties break on the caller's
    * `tieBreak` columns (descending) when given, else on a content hash
    * of the whole row — deterministic under any partitioning either way
    * (a physical row id would not be). */
  def latestPerKey(df: DataFrame, key: String, tsCol: String,
                   tieBreak: Seq[org.apache.spark.sql.Column] = Nil)
      : DataFrame = {
    val tie = if (tieBreak.nonEmpty) tieBreak.map(_.desc)
              else Seq(xxhash64(ArraySeq.unsafeWrapArray(df.columns.map(col)): _*).asc)
    val w = Window.partitionBy(col(key))
      .orderBy((col(tsCol).desc +: tie): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  private[graft] def mergeBatch(batch: DataFrame, path: String,
                                key: String, tsCol: String): Unit =
    mergeBatchWith(batch, path, latestPerKey(_, key, tsCol))

  /** The crash-safe merge generalized over the compaction: `compact` maps
    * union(current state, batch) to the new state. Any IDEMPOTENT
    * compaction (latest-per-key, min-per-key, distinct) makes the whole
    * merge replay-safe: a foreachBatch retry re-merges the same rows and
    * compacts to the identical table. */
  private[streaming] def mergeBatchWith(batch: DataFrame, path: String,
                                        compact: DataFrame => DataFrame): Unit = {
    val spark = batch.sparkSession
    val target = new Path(path)
    val stage = new Path(path + "__stage")
    val aside = new Path(path + "__old")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = target.getFileSystem(conf)
    // Crash recovery: a previous swap can die between "rename target aside"
    // and "rename stage in", leaving the only copy of the prior state in
    // `__old`. Restore it before reading; the retried batch then re-merges
    // into the full state (the merge is idempotent — latestPerKey keeps one
    // row per key regardless of how often a batch is replayed). If the swap
    // completed but the cleanup delete didn't, the aside copy is stale —
    // drop it. A leftover stage dir is always stale (possibly half-written):
    // the overwrite below replaces it.
    if (fs.exists(aside)) {
      if (!fs.exists(target)) {
        if (!fs.rename(aside, target))
          throw new java.io.IOException(s"recovery failed: $aside -> $target")
      } else fs.delete(aside, true)
    }
    val current =
      if (fs.exists(target))
        spark.read.schema(firstFileSchema(fs, target, conf)).parquet(path)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], batch.schema)
    compact(current.unionByName(batch))
      .write.mode("overwrite").parquet(stage.toString)
    // Swap, never holding zero copies of the prior state: aside, in, drop.
    if (fs.exists(target) && !fs.rename(target, aside))
      throw new java.io.IOException(s"swap failed: $target -> $aside")
    if (!fs.rename(stage, target)) {
      // roll back so the state stays readable; if even the rollback fails,
      // say where the only surviving copy actually sits (the aside dir) —
      // the next mergeBatch's recovery preamble restores it from there
      if (fs.rename(aside, target))
        throw new java.io.IOException(s"swap failed: $stage -> $target")
      else
        throw new java.io.IOException(
          s"swap failed: $stage -> $target; rollback also failed - " +
          s"prior state remains at $aside (recovered on next mergeBatch)")
    }
    fs.delete(aside, true)
  }

  /** The schema `spark.read.parquet(dir)` infers without schema merging —
    * the Spark schema stored in the footer of the first part-file in path
    * order — read on the driver. The state is always written by Spark, so
    * the footer carries it. */
  private def firstFileSchema(fs: FileSystem, dir: Path,
                              conf: Configuration): StructType = {
    val first = fs.listStatus(dir)
      .filter { f => val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".") }
      .minByOption(_.getPath.toString)
      .getOrElse(throw new java.io.IOException(s"no part-file in $dir"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(first, conf))
    val meta = try reader.getFooter.getFileMetaData finally reader.close()
    val json = Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .getOrElse(throw new java.io.IOException(s"no Spark schema in the footer of $first"))
    DataType.fromJson(json).asInstanceOf[StructType]
  }

  /** Start the streaming upsert into `path`, keyed by `key`, newest by
    * `tsCol`. */
  def start(stream: DataFrame, path: String, checkpoint: String,
            key: String, tsCol: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeBatch(batch, path, key, tsCol)
      }
      .start()
}
