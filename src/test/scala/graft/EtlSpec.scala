package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import graft.etl._
import graft.functions.GraftFunctions

/** Ports of the reference's ETL unit tests
  * (/root/reference/tests/test_etl_pipeline.py:86-246). */
class ParseRawMessageSpec extends SparkSpec {
  test("envelope json parses: event_type and chain_id") {
    val df = Ingest.parseRaw(spark, Seq(Fixtures.transferMessage()))
    val row = df.select("event_type", "chain_id").collect()(0)
    assert(row.getString(0) == "token_transfer")
    assert(row.getInt(1) == 1)
  }
}

class HexToDecimalSpec extends SparkSpec {
  import spark.implicits._

  test("decodes uint256 beyond 64 bits (codegen path)") {
    val df = Seq("0x" + (BigInt(10) * BigInt(10).pow(18)).toString(16),
      "0xde0b6b3a7640000", "ff", "0x", "zz", null)
      .toDF("h")
      .select(GraftFunctions.hexToDecimal(col("h")).as("d"))
    val got = df.collect().map(r => Option(r.getDecimal(0)).map(_.toBigInteger))
    assert(got(0).contains(new java.math.BigInteger("10000000000000000000")))
    assert(got(1).contains(new java.math.BigInteger("1000000000000000000")))
    assert(got(2).contains(java.math.BigInteger.valueOf(255)))
    assert(got(3).isEmpty) // "0x" → null (decoder coalesces to 0)
    assert(got(4).isEmpty) // invalid hex → null
    assert(got(5).isEmpty)
  }

  test("values beyond DECIMAL(38,0) yield null") {
    val big = "0x" + BigInt(10).pow(39).toString(16)
    val got = Seq(big).toDF("h")
      .select(GraftFunctions.hexToDecimal(col("h")).as("d")).collect()(0)
    assert(got.isNullAt(0))
  }
}

class TokenTransferDecoderSpec extends SparkSpec {

  private def decode(msgs: Seq[String]) =
    TokenTransferDecoder.decode(Ingest.parseRaw(spark, msgs))

  test("erc20 decode: standard and amount") {
    val df = decode(Seq(Fixtures.transferMessage("ERC-20")))
    val row = df.select("standard", "amount").collect()(0)
    assert(row.getString(0) == "ERC-20")
    assert(row.getDouble(1) == 10.0 * 1e18)
  }

  test("erc721 decode: standard, token_id, amount=1") {
    val df = decode(Seq(Fixtures.transferMessage("ERC-721")))
    val row = df.select("standard", "token_id", "amount").collect()(0)
    assert(row.getString(0) == "ERC-721")
    assert(row.getDecimal(1).longValueExact() == 1L)
    assert(row.getDouble(2) == 1.0)
  }

  test("erc721 token ids beyond 2^63 survive (decimal when it fits)") {
    // 2^63 < id < 10^38: representable as DECIMAL(38,0), was nulled+dropped
    // by the round-1 long cast
    val big = BigInt(2).pow(80) + 12345
    val df = decode(Seq(Fixtures.transferMessage("ERC-721", tokenId = big)))
    val row = df.select("token_id", "token_id_hex").collect()(0)
    assert(BigInt(row.getDecimal(0).toBigInteger) == big)
    assert(BigInt(row.getString(1), 16) == big)
  }

  test("erc721 hash-derived ids beyond 10^38 keep the row via lossless hex") {
    // full-width uint256 (ENS-style namehash) exceeds every decimal type;
    // the row must survive with token_id null and token_id_hex exact
    val huge = (BigInt(2).pow(256) - 1) - 987654321
    val df = decode(Seq(Fixtures.transferMessage("ERC-721", tokenId = huge)))
    val row = df.select("token_id", "token_id_hex").collect()(0)
    assert(row.isNullAt(0))
    assert(BigInt(row.getString(1), 16) == huge)
  }

  test("token_id_hex canonicalizes unprefixed and whitespace-padded topics") {
    // int(x, 16) accepts '0123', '0x0123' and ' 0x123' as the same value;
    // the canonical hex id must agree or joins/dedup on it would split
    val prefixed = "0x" + "0" * 61 + "123"
    val msg = Fixtures.transferMessage("ERC-721", tokenId = BigInt(0x123))
    assert(msg.contains(prefixed))
    val variants = Seq(msg,
      msg.replace(prefixed, "0" * 61 + "123"),
      msg.replace(prefixed, " " + prefixed))
    for (m <- variants) {
      val row = decode(Seq(m)).select("token_id_hex").collect()(0)
      assert(row.getString(0) == "123", m.take(80))
    }
  }

  test("erc721 corrupt token-id hex still drops the row") {
    val msg = Fixtures.transferMessage("ERC-721")
    val corrupt = msg.replace("0x" + "0" * 63 + "1", "0xZZnothex")
    assert(decode(Seq(corrupt)).count() == 0)
  }

  test("empty messages produce empty frame") {
    assert(decode(Nil).count() == 0)
  }

  test("block_timestamp is a timestamp column") {
    val df = decode(Seq(Fixtures.transferMessage()))
    assert(df.schema("block_timestamp").dataType == TimestampType)
  }

  test("empty data decodes to amount 0; corrupt hex drops the row") {
    val empty = Fixtures.transferMessage() // data present & valid
    val zero = empty.replace("\"0x" + (BigInt(10) * BigInt(10).pow(18)).toString(16) + "\"",
      "\"0x\"")
    val corrupt = empty.replace("\"0x" + (BigInt(10) * BigInt(10).pow(18)).toString(16) + "\"",
      "\"0xzz\"")
    val dfZero = decode(Seq(zero))
    assert(dfZero.count() == 1)
    assert(dfZero.select("amount").collect()(0).getDouble(0) == 0.0)
    // reference: int("0xzz", 16) raises → decode_log returns None → dropped
    assert(decode(Seq(corrupt)).count() == 0)
  }

  test("non-transfer topics are filtered out") {
    val df = decode(Seq(Fixtures.swapMessage(amount0In = 5)))
    assert(df.count() == 0)
  }

  test("addresses sliced from topics and EIP-55 checksum-cased") {
    val df = decode(Seq(Fixtures.transferMessage()))
    val row = df.select("from", "to").collect()(0)
    assert(row.getString(0) ==
      graft.functions.Keccak256.toChecksumAddress("0x" + "a" * 40))
    assert(row.getString(1) ==
      graft.functions.Keccak256.toChecksumAddress("0x" + "b" * 40))
    assert(row.getString(0).toLowerCase == "0x" + "a" * 40)
  }
}

class DeFiSwapParserSpec extends SparkSpec {

  private def parse(msgs: Seq[String]) =
    DeFiSwapParser.parse(Ingest.parseRaw(spark, msgs))

  private val e18 = BigInt(10).pow(18)

  test("v2 swap decodes 4 uint256 words and price") {
    val df = parse(Seq(Fixtures.swapMessage(
      amount0In = BigInt(2) * e18, amount1Out = BigInt(6) * e18)))
    val row = df.select("protocol", "amount0_in", "amount1_out", "price").collect()(0)
    assert(row.getString(0) == "uniswap_v2")
    assert(BigInt(row.getDecimal(1).toBigInteger) == BigInt(2) * e18)
    assert(BigInt(row.getDecimal(2).toBigInteger) == BigInt(6) * e18)
    assert(row.getDouble(3) == 3.0)
  }

  test("price fallback: a0in=0 uses a0out/a1in") {
    val df = parse(Seq(Fixtures.swapMessage(
      amount1In = BigInt(4) * e18, amount0Out = BigInt(2) * e18)))
    assert(df.select("price").collect()(0).getDouble(0) == 0.5)
  }

  test("price fallback: a0out/a1in == 0 falls to 1 (python `or 1`)") {
    val df = parse(Seq(Fixtures.swapMessage(amount1In = BigInt(4) * e18)))
    assert(df.select("price").collect()(0).getDouble(0) == 1.0)
  }

  test("both denominators zero drops the row (python ZeroDivisionError)") {
    val df = parse(Seq(Fixtures.swapMessage(amount0Out = BigInt(2) * e18)))
    assert(df.count() == 0)
  }
}

class TransactionFeatureEngineerSpec extends SparkSpec {

  private def txDf(n: Int = 5) = {
    val msgs = (0 until n).map(i =>
      Fixtures.transactionMessage(gasPriceGwei = 50 + i * 10, nonce = i.toLong))
    Ingest.parseRaw(spark, msgs)
      .filter(col("event_type") === "transaction")
      .select(col("payload.*"), col("block_number"), col("block_timestamp"),
        col("chain_id"))
  }

  test("engineer adds derived columns") {
    val result = TransactionFeatureEngineer.engineer(txDf())
    val cols = result.columns.toSet
    assert(cols("gas_price_gwei") && cols("value_eth") && cols("fn_name") &&
      cols("gas_p90") && cols("is_high_priority"))
  }

  test("erc20 selector detected for all rows") {
    val result = TransactionFeatureEngineer.engineer(txDf())
    assert(result.filter(col("fn_name") === "ERC20.transfer").count() == 5)
    assert(result.filter(col("is_defi_tx")).count() == 5)
  }

  test("gwei and eth normalization") {
    val result = TransactionFeatureEngineer.engineer(txDf(1))
    val row = result.select("gas_price_gwei", "value_eth").collect()(0)
    assert(row.getDouble(0) == 50.0)
    assert(row.getDouble(1) == 1.0)
  }

  test("contract deploy detection on null to") {
    val msgs = Seq(Fixtures.transactionMessage(to = None),
      Fixtures.transactionMessage())
    val tx = Ingest.parseRaw(spark, msgs)
      .select(col("payload.*"), col("block_number"), col("chain_id"))
    val result = TransactionFeatureEngineer.engineer(tx)
    assert(result.filter(col("is_contract_deploy")).count() == 1)
  }

  test("rolling gas p90: window 100, min_periods 1 (pandas parity)") {
    // 5 rows, gas 50,60,70,80,90 → expanding p90 via linear interpolation:
    // numpy quantile of [50], [50,60], ... at 0.9
    val result = TransactionFeatureEngineer.engineer(txDf())
      .select("nonce", "gas_p90").orderBy("nonce").collect()
    val expected = Seq(50.0, 59.0, 68.0, 77.0, 86.0)
    result.zip(expected).foreach { case (r, e) =>
      assert(math.abs(r.getDouble(1) - e) < 1e-9, s"nonce ${r.getLong(0)}")
    }
  }

  test("aggregate_by_block summarizes per block") {
    val agg = TransactionFeatureEngineer.aggregateByBlock(
      TransactionFeatureEngineer.engineer(txDf(10)))
    assert(agg.count() == 1)
    val row = agg.collect()(0)
    assert(row.getAs[Long]("tx_count") == 10)
  }

  test("empty schemaless frame passes through") {
    val empty = spark.emptyDataFrame
    assert(TransactionFeatureEngineer.engineer(empty).columns.isEmpty)
  }
}

class PipelineSpec extends SparkSpec {

  private def batch = Seq(
    Fixtures.transferMessage("ERC-20", blockNumber = 18000000L),
    Fixtures.transferMessage("ERC-721", blockNumber = 18000001L),
    Fixtures.transactionMessage(gasPriceGwei = 80, blockNumber = 18000000L),
    Fixtures.transactionMessage(gasPriceGwei = 120, blockNumber = 18000001L))

  test("run returns all result frames") {
    import spark.implicits._
    val r = BlockchainEtlPipeline.runRaw(batch.toDS())
    assert(r.transfers.count() == 2)
    assert(r.swaps.count() == 0)
    assert(r.transactions.count() == 2)
    assert(r.blockAgg.count() == 2)
    assert(r.transferSql.contains("token_transfers"))
    assert(r.swapSql.contains("defi_swaps"))
  }

  test("mixed batch: swaps parsed alongside transfers") {
    import spark.implicits._
    val e18 = BigInt(10).pow(18)
    val r = BlockchainEtlPipeline.runRaw(
      (batch :+ Fixtures.swapMessage(amount0In = e18, amount1Out = e18 * 2)).toDS())
    assert(r.swaps.count() == 1)
    assert(r.transfers.count() == 2)
  }
}

class CanonicalQueriesSpec extends SparkSpec {
  import graft.sql.CanonicalQueries

  test("transfer volume canonical SQL executes natively") {
    val transfers = TokenTransferDecoder.decode(Ingest.parseRaw(spark,
      Fixtures.syntheticTransferMessages(50)))
    val out = CanonicalQueries.transferVolume(transfers)
    assert(out.columns.toSeq == Seq("hour_bucket", "token_contract",
      "token_standard", "chain_id", "transfer_count", "volume_normalized",
      "unique_senders", "unique_receivers"))
    assert(out.count() > 0)
    // only ERC-20 rows qualify
    assert(out.filter(col("token_standard") =!= "ERC-20").count() == 0)
  }

  test("swap price impact canonical SQL executes natively") {
    val e18 = BigInt(10).pow(18)
    val msgs = (0 until 12).map(i => Fixtures.swapMessage(
      amount0In = e18, amount1Out = e18 * (i + 1),
      blockNumber = 18000000L + i, ts = Fixtures.FixedNow + i))
    val swaps = DeFiSwapParser.parse(Ingest.parseRaw(spark, msgs))
    val out = graft.sql.CanonicalQueries.swapPriceImpact(swaps)
    assert(out.count() == 1) // one pool with 12 > 5 swaps within the hour
    assert(out.columns.contains("price_volatility"))
  }

  test("block range query builder filters and orders") {
    val transfers = TokenTransferDecoder.decode(Ingest.parseRaw(spark,
      Fixtures.syntheticTransferMessages(50)))
    transfers.createOrReplaceTempView("transfers_v")
    val out = CanonicalQueries.blockRangeQuery(spark, "transfers_v",
      19000000L, 19000100L)
    assert(out.count() == 11)
  }

  test("validate sql: catalyst parser as validator") {
    assert(CanonicalQueries.validateSql(spark,
      "SELECT 1 FROM foo WHERE bar = 1").isEmpty)
    // Spark parses `SELECT FROM FROM` (FROM is a valid identifier); use
    // unambiguously broken syntax for the negative case.
    assert(CanonicalQueries.validateSql(spark, "SELECT ( FROM t").nonEmpty)
  }
}
