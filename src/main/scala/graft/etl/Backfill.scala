package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Historical backfill (E0/S4): the reference walks a block range in
  * batches of 100 through the pipeline
  * (/root/reference/scripts/backfill.py:44-78). Here "batching" is
  * partitioning: the whole range is one declarative plan over the envelope
  * source filtered to [startBlock, endBlock], and Spark splits the work by
  * input partitions — no driver-side loop. `batchSize` survives as the
  * partition granularity hint for a deliberately sized shuffle-free run.
  */
object Backfill {

  case class BackfillSummary(blocks: Long, transfers: Long, swaps: Long,
    transactions: Long)

  def run(envelopes: DataFrame, startBlock: Long, endBlock: Long,
          batchSize: Int = 100): BackfillSummary = {
    val slice = envelopes
      .filter(col("block_number").between(startBlock, endBlock))
    val nBlocks = endBlock - startBlock + 1
    val partitions = math.max(1, (nBlocks / batchSize).toInt)
    val repartitioned =
      slice.repartitionByRange(partitions, col("block_number"))
    val result = BlockchainEtlPipeline.run(repartitioned)
    BackfillSummary(
      slice.select("block_number").distinct().count(),
      result.transfers.count(),
      result.swaps.count(),
      result.transactions.count())
  }
}
