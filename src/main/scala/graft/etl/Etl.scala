package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.schema.Envelope

/** Envelope deserialization (S3): JSON text → typed envelope rows.
  * Mirror of `parse_raw_message` (/root/reference/src/transform/etl_pipeline.py:54-58),
  * but as a single `from_json` projection over a Dataset of strings — the
  * same transform works verbatim on a Kafka `value` column in streaming.
  */
object Ingest {
  /** The one-element explode is a deliberate Generator barrier: project
    * collapse + filter pushdown would otherwise substitute the `from_json`
    * into EVERY downstream field reference and predicate, parsing each
    * envelope several times per row (measured 2-3× on the decode path). A
    * Generator is a pushdown fence, so the JSON parses exactly once; it
    * stays codegen'd and works identically on streaming frames. */
  def parseRaw(raw: Dataset[String]): DataFrame =
    raw.select(explode(array(from_json(col("value"), Envelope.schema))).as("e"))
      .select("e.*")

  def parseRaw(spark: SparkSession, messages: Seq[String]): DataFrame = {
    import spark.implicits._
    parseRaw(messages.toDS())
  }
}

/** ERC-20 / ERC-721 Transfer-log decoder
  * (/root/reference/src/transform/etl_pipeline.py:65-130) as a declarative
  * DataFrame transform: topic filter → address slicing → standard
  * discrimination on topic count → uint256 decode via the codegen'd
  * hex_to_decimal expression. One narrow projection, no per-row closures —
  * the whole decode stays inside whole-stage codegen and scales linearly.
  *
  * Semantics notes vs the reference:
  *  - addresses are EIP-55 checksum-cased exactly like the reference's
  *    `Web3.to_checksum_address` (etl_pipeline.py:81-82), via the pure-JVM
  *    keccak in [[graft.functions.Keccak256]].
  *  - `amount` is float64 exactly like the reference's cast
  *    (etl_pipeline.py:129); `amount_raw` additionally keeps the exact value.
  */
object TokenTransferDecoder {

  def decode(envelopes: DataFrame): DataFrame = {
    GraftFunctions.install(envelopes.sparkSession)
    val hex = GraftFunctions.hexToDecimal _
    val topics = col("payload.topics")
    val addr = (t: Column) => graft.functions.KeccakFunctions.checksumAddress(
      concat(lit("0x"), lower(substring(t, -40, 40))))

    envelopes
      .filter(col("event_type").isin("token_transfer", "log"))
      .filter(size(topics) >= 3 &&
        element_at(topics, 1) === lit(Envelope.Erc20TransferTopic))
      .select(
        when(size(topics) >= 4, lit("ERC-721")).otherwise(lit("ERC-20")).as("standard"),
        col("payload.contract").as("contract"),
        addr(element_at(topics, 2)).as("from"),
        addr(element_at(topics, 3)).as("to"),
        // token_id is DECIMAL(38,0) like amount_raw: real uint256 token ids
        // routinely exceed 2^63 (hash-derived ENS names), and the round-1
        // long cast nulled them out and silently dropped the row. Full
        // uint256 can still exceed 10^38 (any decimal's ceiling), so
        // token_id_hex keeps the LOSSLESS id — the reference's arbitrary-
        // precision int(topics[3],16) maps to (decimal when it fits, hex
        // always); only genuinely invalid hex drops the row (below)
        when(size(topics) >= 4, hex(element_at(topics, 4)))
          .otherwise(lit(null).cast("decimal(38,0)")).as("token_id"),
        // canonicalize unconditionally — the 0x prefix is optional and
        // int(x, 16) tolerates surrounding whitespace, so '0123', '0x0123'
        // and ' 0x123' must all canonicalize to '123' or ids for the same
        // token would fail to join/dedup
        when(size(topics) >= 4,
          coalesce(nullif(
            regexp_replace(lower(trim(element_at(topics, 4))), "^(0x)?0*", ""),
            lit("")), lit("0")))
          .otherwise(lit(null).cast("string")).as("token_id_hex"),
        // empty/absent data decodes to 0 (etl_pipeline.py:97); data that is
        // *present but not valid hex* must DROP the row like the reference's
        // int(data, 16) → ValueError → None path, so it stays null here and
        // is filtered below rather than coalesced to 0
        when(size(topics) >= 4, lit(java.math.BigDecimal.ONE).cast("decimal(38,0)"))
          .otherwise(when(col("payload.data").isNull ||
              col("payload.data").isin("", "0x"), lit(0).cast("decimal(38,0)"))
            .otherwise(hex(col("payload.data"))))
          .as("amount_raw"),
        col("block_number"),
        timestamp_seconds(col("block_timestamp")).as("block_timestamp"),
        col("payload.tx_hash").as("tx_hash"),
        col("chain_id"))
      // decode failures (invalid amount hex, invalid ERC-721 tokenId) drop
      // the row, mirroring the reference's except-return-None
      // (etl_pipeline.py:106-108). Overflow of the DECIMAL(38,0) token_id is
      // NOT a decode failure — the lossless hex id keeps the row alive
      .filter(col("amount_raw").isNotNull &&
        !(col("standard") === "ERC-721" &&
          !col("token_id_hex").rlike("^[0-9a-f]*$")))
      .withColumn("amount", col("amount_raw").cast("double"))
  }
}

/** Uniswap V2 Swap parser (/root/reference/src/transform/etl_pipeline.py:137-188).
  * ABI data layout is static (4 × 32-byte big-endian uint256), so the decode
  * is fixed-offset substring slicing + hex_to_decimal — no ABI interpreter.
  *
  * The price fallback chain reproduces the reference's Python semantics
  * exactly (etl_pipeline.py:159): `a1out/a0in if a0in else (a0out/a1in or 1)`
  * — including the ZeroDivisionError when both denominators are 0, which
  * drops the row there (caught by its except) and yields null→filtered here.
  */
object DeFiSwapParser {

  def parse(envelopes: DataFrame): DataFrame = {
    GraftFunctions.install(envelopes.sparkSession)
    val hex = GraftFunctions.hexToDecimal _
    val topics = col("payload.topics")
    // strip 0x, then 4 fixed 64-hex-char words
    val raw = regexp_replace(col("payload.data"), "^0[xX]", "")
    def word(i: Int): Column =
      hex(substring(raw, i * 64 + 1, 64)).as(s"w$i")

    val a0in  = col("amount0_in").cast("double")
    val a1in  = col("amount1_in").cast("double")
    val a0out = col("amount0_out").cast("double")
    val a1out = col("amount1_out").cast("double")

    envelopes
      .filter(size(topics) >= 1 &&
        element_at(topics, 1) === lit(Envelope.UniswapV2SwapTopic))
      .filter(length(raw) >= 256)
      .select(
        lit("uniswap_v2").as("protocol"),
        col("payload.contract").as("pool"),
        word(0).as("amount0_in"),
        word(1).as("amount1_in"),
        word(2).as("amount0_out"),
        word(3).as("amount1_out"),
        col("block_number"),
        timestamp_seconds(col("block_timestamp")).as("block_timestamp"),
        col("chain_id"),
        coalesce(col("payload.tx_hash"), lit("")).as("tx_hash"))
      .withColumn("price",
        when(a0in =!= 0.0, a1out / a0in)
          .when(a1in =!= 0.0, coalesce(nullif(a0out / a1in, lit(0.0)), lit(1.0)))
          .otherwise(lit(null).cast("double")))
      .filter(col("price").isNotNull)
      .select("protocol", "pool", "amount0_in", "amount1_in", "amount0_out",
        "amount1_out", "price", "block_number", "block_timestamp", "chain_id",
        "tx_hash")
  }
}

/** Transaction feature engineering
  * (/root/reference/src/transform/etl_pipeline.py:195-252).
  *
  * The rolling gas p90 (etl_pipeline.py:227-232: sort by block_number,
  * window=100, min_periods=1, q=0.9) is an exact interpolated percentile
  * over a 100-row frame. The reference's global sort becomes a Spark window;
  * `orderCols` lets callers add a unique tiebreaker so frames are
  * deterministic under block_number ties (pandas' stable sort equivalent).
  *
  * The global-order window is computed DISTRIBUTED by default (halo
  * exchange, [[graft.queries.DistributedRolling]]) — bit-identical to the
  * single-partition `Window.orderBy` form, but parallel; the empty
  * `Window.partitionBy()` plan was the engine's #1 scale-killer (one task,
  * O(n·w) exact-percentile recompute). Pass `partitionCols` (e.g. chain_id
  * or a date bucket) when the DOMAIN semantics shard the frame, or
  * `distribute = false` for the plain global window (streaming-safe /
  * tiny-data; also chosen automatically for streaming frames, which cannot
  * run the eager rank pass).
  */
object TransactionFeatureEngineer {

  val RollingWindow = 100

  /** Per-row derived features only (no window) — the cheap prefix of
    * [[engineer]]. Callers that never read `gas_p90`/`is_high_priority`
    * (per-block aggregation, MEV scoring) use this to keep the rolling
    * window out of their plan entirely. */
  def engineerBase(tx: DataFrame): DataFrame = {
    // Mirror the reference's column-presence gating (etl_pipeline.py:203-233):
    // each feature is derived only when its source column exists.
    val cols = tx.columns.toSet
    if (cols.isEmpty) return tx
    var df = tx
    if (cols("gas_price"))
      df = df.withColumn("gas_price_gwei", col("gas_price").cast("double") / 1e9)
    if (cols("value_wei"))
      df = df.withColumn("value_eth", col("value_wei").cast("double") / 1e18)
    if (cols("to"))
      df = df.withColumn("is_contract_deploy", col("to").isNull)
    if (cols("input"))
      df = df
        .withColumn("fn_selector", substring(col("input"), 1, 10))
        .withColumn("fn_name",
          coalesce(element_at(typedlit(Envelope.TokenStandards), col("fn_selector")),
            lit("unknown")))
        .withColumn("is_defi_tx", col("fn_name") =!= "unknown")
    df
  }

  def engineer(tx: DataFrame, orderCols: Seq[String] = Seq("block_number", "nonce"),
               partitionCols: Seq[String] = Nil,
               distribute: Boolean = true): DataFrame = {
    val cols = tx.columns.toSet
    if (cols.isEmpty) return tx
    var df = engineerBase(tx)
    if (cols("gas_price")) {
      val order = orderCols.filter(cols)
      def features(w: org.apache.spark.sql.expressions.WindowSpec) = Seq(
        "gas_p90" -> percentile(col("gas_price_gwei"), lit(0.9)).over(w),
        "is_high_priority" -> (col("gas_price_gwei") > col("gas_p90")))
      df =
        if (partitionCols.isEmpty && distribute && !tx.isStreaming && order.nonEmpty)
          graft.queries.DistributedRolling.withRolling(df, order, RollingWindow)(features)
        else {
          val w0 = if (partitionCols.isEmpty) Window.partitionBy()
                   else Window.partitionBy(partitionCols.map(col): _*)
          val w = w0.orderBy(order.map(col): _*)
            .rowsBetween(-(RollingWindow - 1), Window.currentRow)
          features(w).foldLeft(df) { case (d, (name, c)) => d.withColumn(name, c) }
        }
    }
    df
  }

  /** Per-block aggregation (A1, etl_pipeline.py:238-252): one hash aggregate,
    * partial+final combine — the shuffle key is block_number. */
  def aggregateByBlock(tx: DataFrame): DataFrame =
    tx.groupBy("block_number").agg(
      count(col("hash")).as("tx_count"),
      sum(col("value_eth")).as("total_eth_volume"),
      avg(col("gas_price_gwei")).as("avg_gas_price_gwei"),
      max(col("gas_price_gwei")).as("max_gas_price_gwei"),
      sum(col("is_defi_tx").cast("long")).as("defi_tx_count"),
      sum(col("is_contract_deploy").cast("long")).as("contract_deploys"))
    .orderBy("block_number")
}

/** End-to-end batch orchestrator
  * (`BlockchainETLPipeline.run`, /root/reference/src/transform/etl_pipeline.py:397-446).
  * Where the reference *exports* its two analytical queries as dialect SQL
  * text for an external warehouse, this engine executes them natively — see
  * [[graft.sql.CanonicalQueries]].
  */
case class EtlResult(transfers: DataFrame, swaps: DataFrame,
  transactions: DataFrame, blockAgg: DataFrame,
  transferSql: String, swapSql: String)

object BlockchainEtlPipeline {

  def runRaw(rawMessages: Dataset[String]): EtlResult =
    run(Ingest.parseRaw(rawMessages))

  def run(envelopes: DataFrame): EtlResult = {
    val transfers = TokenTransferDecoder.decode(envelopes)
    val swaps = DeFiSwapParser.parse(envelopes)
    val tx = envelopes
      .filter(col("event_type") === "transaction")
      .select(col("payload.*"), col("block_number"),
        col("block_timestamp"), col("chain_id"))
    val engineered = TransactionFeatureEngineer.engineer(tx)
    val blockAgg = TransactionFeatureEngineer.aggregateByBlock(engineered)
    EtlResult(transfers, swaps, engineered, blockAgg,
      graft.sql.CanonicalQueries.TransferVolumeSql,
      graft.sql.CanonicalQueries.SwapPriceImpactSql)
  }
}
