package graft.api

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.etl._
import graft.model.{HistoricalVaR, ImpermanentLossModel, MEVExposureModel}

/** API read path (E2): the reference's Flask endpoints
  * (/root/reference/api/server.py:48-85 → api/data_service.py) re-expressed
  * as typed result builders — each endpoint is a DataFrame query plus a
  * collect-to-case-class boundary, the engine capability without the HTTP
  * server. Rounding mirrors the reference's JSON shaping.
  */
case class VarPoint(label: String, price: Double, varUsd: Option[Double],
  cvarUsd: Option[Double])
case class VarSummary(var95: Double, cvar95: Double, positionUsd: Double,
  returnsUsed: Long, method: String)
case class StressRow(shockPct: Double, pnlUsd: Double, positionRemaining: Double)
case class VarData(points: Seq[VarPoint], summary: VarSummary,
  stress: Seq[StressRow])

case class IlPoint(ratio: Double, ilPct: Double, lpValue: Double, holdValue: Double)
case class IlData(points: Seq[IlPoint], keyPoints: Map[String, IlPoint])

case class MevRow(block: String, score: Double, sandwich: Double,
  frontrun: Double, backrun: Int, band: String)
case class MevSummary(avgScore: Double, maxScore: Double, highRiskBlocks: Long,
  blocksAnalyzed: Long)
case class MevData(rows: Seq[MevRow], summary: MevSummary)

case class TransferPoint(hourLabel: String, erc20Vol: Double, erc721Cnt: Long)
case class TransferSummary(totalTransfers: Long, erc20Transfers: Long,
  erc721Transfers: Long, uniqueContracts: Long, totalVolumeEth: Double)
case class TopContract(contract: String, volumeEth: Double)
case class TransferData(points: Seq[TransferPoint], summary: TransferSummary,
  topContracts: Seq[TopContract])

class DataService(spark: SparkSession) {
  import spark.implicits._

  private def round2(x: Double) = math.rint(x * 100) / 100

  /** GET /api/var equivalent (data_service.py:118-170): seeded returns →
    * rolling 30-window VaR/CVaR series + full-series summary + stress. */
  def varData(positionSize: Double = 1000000.0, n: Int = 90,
              seed: Long = 42L): VarData = {
    val rng = new scala.util.Random(seed)
    val returns = (0 until n).map(_ => 0.001 + 0.032 * rng.nextGaussian())
    val prices = returns.scanLeft(2200.0)((p, r) => p * (1 + r)).drop(1)
    val labels = (0 until n).map(i =>
      java.time.LocalDate.of(2024, 1, 1).plusDays(i).toString)

    val df = returns.zipWithIndex.map { case (r, i) => (i.toLong, r) }.toDF("idx", "r")
    val model = new HistoricalVaR(df, "r", positionSize)
    // rolling series: same Window spec as the reference's per-i loop (W5) —
    // returns[i-30:i], 30 rows ending at i-1. The tail mean must condition
    // every window row on the CURRENT row's window quantile q_i, not each
    // row's own rolling q_j, so the window is collected per row and both
    // q_i and the tail mean are computed over that one array (a window
    // aggregate's argument would re-evaluate per frame row — wrong frame).
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("idx").rowsBetween(-30, -1)
    val arr = col("arr")
    val wlen = size(arr)
    val hPos = (wlen - 1).cast("double") * lit(0.05) // numpy linear interpolation
    val lo = floor(col("h")).cast("int")
    val qExpr = element_at(arr, lo + 1) +
      (col("h") - lo.cast("double")) *
        (element_at(arr, least(lo + 2, wlen)) - element_at(arr, lo + 1))
    val tailArr = filter(arr, x => x <= col("q"))
    val rolling = df
      .withColumn("arr", array_sort(collect_list(col("r")).over(w)))
      .withColumn("h", hPos)
      // gate on the full window before indexing: the first rows' frames are
      // short/empty and lo+1 would hit index 0 (CaseWhen only evaluates the
      // taken branch, so the guard is also the bounds check)
      .withColumn("q", when(wlen >= 30, qExpr))
      .withColumn("tail",
        aggregate(tailArr, lit(0.0), (acc, x) => acc + x) / size(tailArr))
      .select(col("idx"),
        when(wlen >= 30, round(-col("q") * positionSize, 2)).as("var_usd"),
        when(wlen >= 30, round(-col("tail") * positionSize, 2)).as("cvar_usd"))
      .orderBy("idx").collect()

    val points = rolling.map { row =>
      val i = row.getLong(0).toInt
      VarPoint(labels(i), round2(prices(i)),
        if (row.isNullAt(1)) None else Some(row.getDouble(1)),
        if (row.isNullAt(2)) None else Some(row.getDouble(2)))
    }.toSeq
    val s = model.compute(0.95)
    val stress = model.stressTest(Seq(-0.10, -0.20, -0.30, -0.50))
      .orderBy(desc("shock_pct")).collect()
      .map(r => StressRow(r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSeq
    VarData(points,
      VarSummary(round2(s.varUsd), round2(s.cvarUsd), positionSize,
        s.returnsUsed, s.method),
      stress)
  }

  /** GET /api/il equivalent (data_service.py:174-206). */
  def ilData(initialUsd: Double = 10000.0): IlData = {
    val ratios = (2 to 100).map(r => math.rint(r * 0.05 * 100) / 100)
    val df = ImpermanentLossModel.scanPriceRange(spark, 2000.0, initialUsd, ratios)
      .orderBy("price_ratio").collect()
    val points = df.map(r => IlPoint(r.getDouble(0),
      math.rint(r.getAs[Double]("il_pct") * 1000) / 1000,
      round2(r.getAs[Double]("lp_value")),
      round2(r.getAs[Double]("hold_value")))).toSeq
    val keys = Seq(0.5, 1.0, 2.0, 3.0, 5.0).flatMap { k =>
      points.find(p => p.ratio == k).map(p => s"${k}x" -> p)
    }.toMap
    IlData(points, keys)
  }

  /** GET /api/mev equivalent (data_service.py:210-261): full E1 pipeline on
    * synthetic txs, synthetic swaps, score, last-48 tail. */
  def mevData(): MevData = {
    val result = BlockchainEtlPipeline.runRaw(
      Fixtures.syntheticTxMessages(120).toDS())
    val tx = result.transactions
    val rng = new scala.util.Random(7)
    val blocks = tx.select("block_number").distinct()
      .orderBy("block_number").collect().map(_.getLong(0))
    val swapRows = blocks.flatMap { b =>
      (0 until (1 + rng.nextInt(4))).map { _ =>
        (b, s"0xpool${1 + rng.nextInt(3)}", "uniswap_v2")
      }
    }.toSeq
    val swaps = swapRows.toDF("block_number", "pool", "protocol")
    val scores = new MEVExposureModel(tx, Some(swaps)).scoreAllBlocks()
      .orderBy(desc("block_number")).limit(48).orderBy("block_number").collect()
    def band(s: Double) = if (s > 66) "high" else if (s > 33) "medium" else "low"
    val rows = scores.map { r =>
      // band derives from the SAME rounded value the row reports — banding
      // the raw score would let 66.01 round to 66.0 yet display "high"
      val score = math.rint(r.getDouble(1) * 10) / 10
      MevRow(s"#${r.getLong(0)}",
        score, math.rint(r.getDouble(2) * 10) / 10,
        math.rint(r.getDouble(3) * 10) / 10, r.getInt(4), band(score))
    }.toSeq
    val summary = MevSummary(
      math.rint(rows.map(_.score).sum / rows.length * 10) / 10,
      rows.map(_.score).max,
      rows.count(_.score > 66),
      rows.length)
    MevData(rows, summary)
  }

  /** GET /api/transfers equivalent (data_service.py:265-318): decode →
    * hour×standard agg → hour-spine align → top-4 contracts. */
  def transferData(): TransferData = {
    val df = TokenTransferDecoder.decode(Ingest.parseRaw(spark,
      Fixtures.syntheticTransferMessages(200)))
    val hourly = df
      .groupBy(date_trunc("hour", col("block_timestamp")).as("hour"), col("standard"))
      .agg(sum(col("amount")).as("volume"), count(lit(1)).as("cnt"))
    val spine = df.select(date_trunc("hour", col("block_timestamp")).as("hour"))
      .distinct()
    val erc20 = hourly.filter(col("standard") === "ERC-20")
      .select(col("hour"), col("volume"))
    val erc721 = hourly.filter(col("standard") === "ERC-721")
      .select(col("hour"), col("cnt"))
    val points = spine
      .join(erc20, Seq("hour"), "left").join(erc721, Seq("hour"), "left")
      .select(
        // label formatted engine-side in the session timezone — a JVM-side
        // SimpleDateFormat would silently render in the host's default TZ
        date_format(col("hour"), "HH:mm").as("label"),
        col("hour"),
        round(coalesce(col("volume"), lit(0.0)) / 1e18, 2).as("vol"),
        coalesce(col("cnt"), lit(0L)).as("n721"))
      .orderBy("hour").collect()
      .map(r => TransferPoint(r.getString(0), r.getDouble(2), r.getLong(3))).toSeq

    val summaryRow = df.agg(
      count(lit(1)).as("total"),
      sum(when(col("standard") === "ERC-20", 1).otherwise(0)).as("n20"),
      sum(when(col("standard") === "ERC-721", 1).otherwise(0)).as("n721"),
      countDistinct(col("contract")).as("uniq"),
      sum(when(col("standard") === "ERC-20", col("amount")).otherwise(0.0)).as("vol"))
      .collect()(0)
    val top = df.filter(col("standard") === "ERC-20")
      .groupBy("contract").agg(sum(col("amount")).as("vol"))
      .orderBy(desc("vol"), col("contract")).limit(4).collect()
      .map(r => TopContract(r.getString(0).take(10) + "...",
        round2(r.getDouble(1) / 1e18))).toSeq
    TransferData(points,
      TransferSummary(summaryRow.getLong(0), summaryRow.getLong(1),
        summaryRow.getLong(2), summaryRow.getLong(3),
        round2(summaryRow.getDouble(4) / 1e18)),
      top)
  }
}
