package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.{Failure, Success, Try}

/** The reference's "sqlglot surface" re-expressed Spark-native
  * (SURVEY.md §2.11). The reference authors canonical Postgres SQL and
  * *transpiles it to text* for 7 external warehouses
  * (/root/reference/src/transform/etl_pipeline.py:259-373) — it never
  * executes locally. Here the canonical queries are authored once in Spark
  * SQL and executed by Catalyst; `spark` was already one of the reference's
  * target dialects (etl_pipeline.py:365), so this is the same surface with
  * the translation concern collapsed to the native engine.
  */
object CanonicalQueries {

  /** Hourly transfer volume (TRANSFER_VOLUME_SQL, etl_pipeline.py:267-282).
    * `:now` is parameterized for determinism (SURVEY.md §7.3 item 4). */
  val TransferVolumeSql: String =
    """SELECT
      |    DATE_TRUNC('hour', block_timestamp)    AS hour_bucket,
      |    contract                               AS token_contract,
      |    standard                               AS token_standard,
      |    chain_id,
      |    COUNT(*)                               AS transfer_count,
      |    SUM(amount / 1e18)                     AS volume_normalized,
      |    COUNT(DISTINCT `from`)                 AS unique_senders,
      |    COUNT(DISTINCT `to`)                   AS unique_receivers
      |FROM token_transfers
      |WHERE block_timestamp >= :now - INTERVAL '24' HOUR
      |  AND standard = 'ERC-20'
      |GROUP BY 1, 2, 3, 4
      |ORDER BY hour_bucket DESC""".stripMargin

  /** Swap price impact (SWAP_PRICE_IMPACT_SQL, etl_pipeline.py:284-297).
    * Postgres STDDEV = sample stddev = Spark `stddev_samp`. */
  val SwapPriceImpactSql: String =
    """SELECT
      |    pool,
      |    protocol,
      |    chain_id,
      |    AVG(price)                             AS avg_price,
      |    STDDEV_SAMP(price)                     AS price_volatility,
      |    SUM(amount0_in + amount0_out)          AS total_volume_token0,
      |    COUNT(*)                               AS swap_count
      |FROM defi_swaps
      |WHERE block_timestamp >= :now - INTERVAL '1' HOUR
      |GROUP BY 1, 2, 3
      |HAVING COUNT(*) > 5""".stripMargin

  /** Execute the hourly transfer-volume query against a decoded transfers
    * DataFrame. `now` defaults to the data's max timestamp so results are
    * reproducible (no wall clock in the plan). */
  def transferVolume(transfers: DataFrame, now: Option[java.sql.Timestamp] = None): DataFrame = {
    val nowTs = now.getOrElse(
      transfers.agg(max(col("block_timestamp"))).collect()(0).getTimestamp(0))
    BoundSql.run(transfers.sparkSession, TransferVolumeSql, Map("now" -> nowTs))(
      "token_transfers" -> transfers)
  }

  /** Execute the swap price-impact query against parsed swaps. */
  def swapPriceImpact(swaps: DataFrame, now: Option[java.sql.Timestamp] = None): DataFrame = {
    val nowTs = now.getOrElse(
      swaps.agg(max(col("block_timestamp"))).collect()(0).getTimestamp(0))
    BoundSql.run(swaps.sparkSession, SwapPriceImpactSql, Map("now" -> nowTs))(
      "defi_swaps" -> swaps)
  }

  /** Programmatic block-range query builder (Q2, etl_pipeline.py:329-351):
    * the DataFrame API *is* the typed AST builder. */
  def blockRangeQuery(spark: SparkSession, table: String,
                      startBlock: Long, endBlock: Long): DataFrame =
    spark.table(table)
      .filter(col("block_number").between(startBlock, endBlock))
      .orderBy("block_number")

  /** SQL validation (Q3, etl_pipeline.py:353-361): Catalyst's parser as the
    * validator — parse errors come back as strings, valid SQL → Nil. */
  def validateSql(spark: SparkSession, sql: String): List[String] =
    Try(spark.sessionState.sqlParser.parsePlan(sql)) match {
      case Success(_) => Nil
      case Failure(e) => List(e.getMessage)
    }
}
