package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.etl.{DeFiSwapParser, Ingest, TokenTransferDecoder}
import graft.functions.{CountMinFunctions, GraftFunctions, HllFunctions,
  KllFunctions, KmvFunctions, MisraGriesFunctions}

/** Structured Streaming slice (SURVEY.md §2.9): the reference's ingestion is
  * a 2-second poll loop feeding micro-batches
  * (/root/reference/src/ingestion/kafka_producer.py:129-148) — exactly
  * Structured Streaming's model. The same decode transforms run verbatim on
  * a streaming frame; this module adds the event-time machinery the
  * reference lacks (watermarks, tumbling windows, keyed state).
  *
  * Source-agnostic: callers pass any streaming DataFrame of envelope-JSON
  * strings (Kafka `value`, file source, MemoryStream in tests) — swap in
  * `readStream.format("kafka")` without touching the transforms.
  */
object StreamingEtl {
  /** `c`, or a query failure with `msg` on a null: the keyed-state
    * operators' tuple encoders would otherwise die on a null as an opaque
    * NPE, and the running aggregates would group a null key or skip a null
    * value silently. */
  private def nonNull(c: Column, msg: String): Column =
    when(c.isNull, raise_error(lit(msg))).otherwise(c)

  /** Decode a streaming Dataset of raw envelope JSON into token transfers —
    * identical transform as batch ([[TokenTransferDecoder.decode]]). */
  def decodeTransfers(raw: Dataset[String]): DataFrame =
    TokenTransferDecoder.decode(Ingest.parseRaw(raw))

  /** Incremental hourly transfer volume — the streaming twin of the
    * canonical TRANSFER_VOLUME query (A2/A6): 1-hour tumbling window with a
    * 10-minute watermark. COUNT(DISTINCT) is not incrementally computable
    * with bounded state, so unique senders/receivers are md5 HLL estimates
    * ([[graft.functions.HllSketchAgg]], `hll_sketch` at p = 12: ~1.6%
    * relative error, 4 KB of state per window group and column), rounded to
    * a long. The registers are a pure function of the window's address set,
    * so the streamed windows are bit-identical to this transform run as a
    * batch query, under any micro-batch slicing, and a driver or DuckDB twin
    * recomputes them from the addresses ([[HllFunctions.estimateFrom]]).
    * The sketch runs as one binary buffer under ObjectHashAggregate, where
    * Spark's HLL++ `approx_count_distinct` falls out of whole-stage codegen
    * and rebuilds interpreted projections in every aggregation task. */
  def hourlyTransferVolume(transfers: DataFrame,
                           watermark: String = "10 minutes"): DataFrame = {
    GraftFunctions.install(transfers.sparkSession)
    def estimate(c: String) =
      round(HllFunctions.estimateColumns(col(c), HllFunctions.DefaultPrecision)._3)
        .cast("long")
    transfers
      .withWatermark("block_timestamp", watermark)
      .groupBy(
        window(col("block_timestamp"), "1 hour").as("hour_window"),
        col("standard"))
      .agg(
        count(lit(1)).as("transfer_count"),
        sum(col("amount") / 1e18).as("volume_normalized"),
        HllFunctions.hllSketch(col("from")).as("senders"),
        HllFunctions.hllSketch(col("to")).as("receivers"))
      .select(col("hour_window.start").as("hour_bucket"), col("standard"),
        col("transfer_count"), col("volume_normalized"),
        estimate("senders").as("unique_senders"),
        estimate("receivers").as("unique_receivers"))
  }

  /** Exact-distinct streaming hourly volume — replaces
    * [[hourlyTransferVolume]]'s `hll_sketch` estimates (p = 12, ~1.6%
    * error, 4 KB of state per window group and column, bit-identical to
    * the batch twin) with exact counts from a TWO-LEVEL
    * windowed aggregation (Spark 3.4+ chained stateful operators):
    *
    *  - level 1 keys on (window, standard, role, address) — each transfer
    *    contributes a sender-role row and a receiver-role row, so state per
    *    key is one counter, bounded by the watermark like any windowed agg;
    *  - level 2 re-windows on `window_time` and COUNTS the level-1 rows per
    *    role: the count of distinct (role, addr) groups IS the exact
    *    distinct-address count. transfer_count/volume ride along on the
    *    sender rows only (each transfer has exactly one sender row).
    *
    * Multiple stateful operators require append output, so rows emit once
    * the watermark passes the window end (the batch-equivalence test
    * advances the watermark with a late flush message). */
  def hourlyTransferVolumeExact(transfers: DataFrame,
                                watermark: String = "10 minutes"): DataFrame = {
    val roles = transfers
      .withWatermark("block_timestamp", watermark)
      .select(col("block_timestamp"), col("standard"), col("amount"),
        explode(array(
          struct(lit("s").as("role"), col("from").as("addr")),
          struct(lit("r").as("role"), col("to").as("addr")))).as("ra"))
      .select(col("block_timestamp"), col("standard"), col("amount"),
        col("ra.role").as("role"), col("ra.addr").as("addr"))
    val perAddr = roles
      .groupBy(window(col("block_timestamp"), "1 hour").as("w"),
        col("standard"), col("role"), col("addr"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("role") === "s", col("amount") / 1e18).otherwise(0.0))
          .as("vol"))
    perAddr
      .groupBy(window(window_time(col("w")), "1 hour").as("hour_window"),
        col("standard"))
      .agg(
        sum(when(col("role") === "s", col("cnt")).otherwise(0L))
          .as("transfer_count"),
        sum(col("vol")).as("volume_normalized"),
        // null-address groups still carry counts/volume above, but must not
        // count as a distinct address — batch COUNT(DISTINCT) ignores NULLs
        sum(when(col("role") === "s" && col("addr").isNotNull, 1L)
          .otherwise(0L)).as("unique_senders"),
        sum(when(col("role") === "r" && col("addr").isNotNull, 1L)
          .otherwise(0L)).as("unique_receivers"))
      .select(col("hour_window.start").as("hour_bucket"), col("standard"),
        col("transfer_count"), col("volume_normalized"),
        col("unique_senders"), col("unique_receivers"))
  }

  /** Decode a streaming Dataset of raw envelope JSON into DeFi swaps —
    * identical transform as batch ([[DeFiSwapParser.parse]]). */
  def parseSwaps(raw: Dataset[String]): DataFrame =
    DeFiSwapParser.parse(Ingest.parseRaw(raw))

  /** Incremental swap price impact — the streaming twin of the canonical
    * SWAP_PRICE_IMPACT query (A3): per-pool 1-hour tumbling window with
    * sample stddev and the `HAVING COUNT(*) > 5` cut applied to each closed
    * window. avg/stddev are declarative aggregates with partial buffers, so
    * state per (window, pool) is a constant-size moment sketch — bounded by
    * the watermark like any windowed agg. Where the batch form selects "the
    * hour before :now", the streaming form emits each (hour, pool) row once
    * the watermark passes the window end (append mode). */
  def hourlySwapPriceImpact(swaps: DataFrame,
                            watermark: String = "10 minutes"): DataFrame =
    swaps
      .withWatermark("block_timestamp", watermark)
      .groupBy(window(col("block_timestamp"), "1 hour").as("hour_window"),
        col("pool"), col("protocol"), col("chain_id"))
      .agg(
        avg(col("price")).as("avg_price"),
        stddev_samp(col("price")).as("price_volatility"),
        sum(col("amount0_in") + col("amount0_out")).as("total_volume_token0"),
        count(lit(1)).as("swap_count"))
      .filter(col("swap_count") > 5) // the HAVING cut, post-aggregation
      .select(col("hour_window.start").as("hour_bucket"), col("pool"),
        col("protocol"), col("chain_id"), col("avg_price"),
        col("price_volatility"), col("total_volume_token0"),
        col("swap_count"))

  /** Stream-stream enrichment join: each swap picks up the token
    * transfer(s) of the SAME transaction whose event time falls within
    * `lag` before (or at) the swap's — "which transfer funded this swap",
    * the two-live-topics join the reference's batch pipeline can't
    * express. Both sides carry watermarks and the join condition bounds
    * the event-time distance, so Spark derives a state-eviction horizon
    * for BOTH buffers: state is O(watermark-window of traffic), not
    * O(stream history) — the only stream-stream join shape that survives
    * an always-on 100 TB/day pipeline. Inner join → append-mode output;
    * rows emit as soon as both sides have arrived. */
  def swapsWithFundingTransfer(swaps: DataFrame, transfers: DataFrame,
                               lag: String = "10 minutes",
                               watermark: String = "10 minutes",
                               joinType: String = "inner"): DataFrame = {
    val s = swaps
      .select(col("tx_hash"), col("pool"), col("price"),
        col("block_timestamp").as("swap_ts"))
      .withWatermark("swap_ts", watermark)
    val t = transfers
      .select(col("tx_hash").as("transfer_tx_hash"),
        col("contract").as("token"), col("amount"),
        col("block_timestamp").as("transfer_ts"))
      .withWatermark("transfer_ts", watermark)
    // "left_outer" emits an unmatched swap (null transfer columns) once
    // the watermark proves no matching transfer can still arrive — the
    // state-eviction horizon doubles as the completeness proof
    s.join(t, expr(
      s"""tx_hash = transfer_tx_hash AND
         |transfer_ts BETWEEN swap_ts - INTERVAL $lag AND swap_ts"""
        .stripMargin), joinType)
      .drop("transfer_tx_hash")
  }

  /** Event-time session windows: per-user sessions closed by `gap` of
    * inactivity — the streaming twin of the batch sessionize operator
    * ([[graft.analytics.EventAnalytics.sessionize]]). `session_window`
    * grows/merges variable-width windows as events arrive; state per
    * (user, open session) is one window + counters, and a session closes —
    * and emits, append-mode — once the watermark passes its end. The same
    * transform runs in batch (session_window is batch-capable), which is
    * exactly how StreamingSpec asserts micro-batch == batch. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))

  /** Stream-static enrichment: every micro-batch left-joins the static
    * dimension (token metadata, pool registry) — stateless, no watermark,
    * and with the explicit broadcast hint the join is map-side per batch:
    * the stream never shuffles. The static side is re-resolved per batch,
    * so a dimension TABLE (not a fixed DataFrame snapshot) picks up
    * updates between batches — the streaming half of the reference's
    * enrich-then-aggregate shape. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
                    key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Streaming exact dedup: state-backed dropDuplicates on the content
    * hash — only the 16-byte digest is held in state, never the document.
    * State is unbounded (a global exact pass); the 100 TB always-on form
    * is [[dedupedByContentBounded]]. */
  def dedupedByContent(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("h", md5(col(textCol))).dropDuplicates("h").drop("h")

  /** Bounded-state streaming dedup: `dropDuplicatesWithinWatermark` on the
    * content digest. State for a digest is evicted once the watermark passes
    * its event time + `delay`, so an always-on pipeline holds only the
    * recent window of digests — the trade: a duplicate arriving after its
    * original's state expired is emitted again (exactly the semantics of
    * every production streaming dedup; the batch exact pass catches
    * long-range dupes). */
  def dedupedByContentBounded(docs: DataFrame, tsCol: String,
                              delay: String = "10 minutes",
                              textCol: String = "text"): DataFrame =
    docs.withColumn("h", md5(col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("h")
      .drop("h")

  /** Streaming twin of [[graft.dedup.Dedup.incrementalFlags]]'s exact
    * layer: each arriving document is flagged against the ACCUMULATED
    * corpus's digest set (a static frame, broadcast per micro-batch — the
    * stream never shuffles) and, via the state store, against documents
    * seen earlier in the stream itself (in-stream twins are dropped, the
    * first arrival wins). Verdict per surviving row: `corpus_dup`
    * (matches the accumulated side; `match_id` = smallest matching corpus
    * doc) else `keep`. The near-dup layer stays batch-side (LSH banding needs
    * the whole increment; run [[graft.dedup.Dedup.incrementalFlags]] on
    * each landed micro-batch or the daily partition) — this is the
    * standard split: cheap exact filtering inline, similarity offline.
    *
    * In-stream state is the 16-byte digest only, and `dropDuplicates`
    * keeps the FIRST row per digest — later stream twins are dropped, so
    * the operator emits each surviving document exactly once with its
    * corpus verdict attached. */
  def incrementalDedupStream(docs: DataFrame, corpusDigests: DataFrame,
                             textCol: String = "text"): DataFrame =
    docs.withColumn("h", md5(col(textCol)))
      .dropDuplicates("h")
      .join(broadcast(corpusDigests), Seq("h"), "left")
      .withColumn("verdict",
        when(col("match_id").isNotNull, "corpus_dup").otherwise("keep"))
      .drop("h")

  /** The digest side of [[incrementalDedupStream]]: one row per distinct
    * content digest of the accumulated corpus, smallest doc id as the
    * match target. At 100 TB this frame is maintained incrementally (it
    * is exactly [[graft.dedup.Dedup.exact]] keyed output) and read from
    * its compacted table, not recomputed. */
  def corpusDigests(corpus: DataFrame, textCol: String = "text"): DataFrame =
    corpus.groupBy(md5(col(textCol)).as("h"))
      .agg(min(col("doc_id")).as("match_id"))

  /** Running per-contract totals: a streaming count + sum per contract,
    * update-mode output (one row per contract touched in the batch) — the
    * aggregation buffer is the bounded per-key state. */
  case class ContractUpdate(contract: String, transfers: Long, volume: Double)

  def runningContractTotals(transfers: DataFrame): Dataset[ContractUpdate] = {
    val spark = transfers.sparkSession
    import spark.implicits._
    transfers.groupBy("contract")
      .agg(count(lit(1)).as("transfers"), sum(col("amount") / 1e18).as("volume"))
      .as[ContractUpdate]
  }

  /** `events` grouped by their non-null event_type (`key`): `n_rows` and
    * `agg` of the non-null `value` (`sketch`) — the streaming groupBy each
    * running-sketch operator is. The state per key is the aggregate's
    * buffer and each micro-batch's partial buffer is merged into it, so a
    * slicing is just one more partitioning of the batch aggregate:
    * bit-identical to it where the merge is order-invariant (KMV, HLL, CMS,
    * long sums), within the aggregate's bound where it is not (MG, KLL).
    * Update mode emits one row per key the batch touched. */
  private def perType(events: DataFrame, op: String, value: Column,
                      valueName: String)(agg: Column => Column): DataFrame = {
    GraftFunctions.install(events.sparkSession)
    events.select(
        nonNull(col("event_type"), s"$op requires non-null event_type").as("key"),
        nonNull(value, s"$op requires non-null $valueName").as("v"))
      .groupBy("key")
      .agg(count(lit(1)).as("n_rows"), agg(col("v")).as("sketch"))
  }

  /** Incrementally maintained exponentially-decayed value sums per key —
    * the streaming form of the feature-store recency weighting
    * (batch registry twin: `q_decayed_agg`).
    *
    * Exactness across ANY micro-batch slicing and restart: each event's
    * term is anchored at `anchorMicros` (2^((t−T0)/h), so later events
    * weigh more) and rounded to a ×1e6 fixed-point long BEFORE
    * accumulation. Long addition is associative, so the state after N
    * arbitrary batches is bit-identical to a one-shot batch sum of the
    * same terms — the property the naive formulation (rescale the running
    * sum by the elapsed decay each batch) destroys, because every rescale
    * re-rounds and makes the result depend on where the batch boundaries
    * fell. Reading the decayed value at horizon T is one final multiply by
    * 2^(−(T−T0)/h) on the consumer side; state itself never rescales.
    *
    * Capacity: at a 30-day horizon with a 7-day half-life the anchor
    * factor is ≈19.2, so values ≤ ~1e3 keep terms ≤ ~2e10 and one key
    * absorbs ~4×10⁸ events before nearing the Long range; longer-lived
    * deployments rotate the anchor epoch (one deliberate, logged
    * re-rounding) rather than letting terms grow unbounded. */
  case class DecayUpdate(key: String, sum_fx: Long, n: Long)

  case class DistinctUpdate(key: String, n_rows: Long, distinct_est: Double)

  /** Incrementally maintained per-key KMV distinct-count estimate — the
    * streaming twin of `q_kmv_distinct`, and the strongest-contract
    * member of the streaming-sketch states: the state is the `kmv_sketch`
    * buffer, whose k-min digest set is a pure function of the value SET
    * (min-merge is order-invariant and duplicate-absorbing), so after any
    * batching/restart the state — and therefore the estimate — is
    * BIT-IDENTICAL to the one-shot batch sketch of the same rows
    * (StreamingSpec asserts equality, not a bound). State per key is ≤ k
    * 32-char digests. */
  def runningDistinct(events: DataFrame, k: Int = 256): Dataset[DistinctUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    perType(events, "runningDistinct", col("user_id").cast("string"),
        "user_id")(KmvFunctions.kmvSketch(_, k))
      .as[(String, Long, Seq[String])]
      .map { case (key, n, sorted) =>
        DistinctUpdate(key, n, KmvFunctions.estimateFromSorted(sorted, k))
      }
  }

  case class HllUpdate(key: String, n_rows: Long, v_empty: Long,
                       hll_est: Double)

  /** Incrementally maintained per-key HyperLogLog registers — the
    * fixed-memory member of the streaming distinct family: where
    * [[runningDistinct]]'s KMV digest set costs ≤ k·32 chars per key,
    * the `hll_sketch` state is exactly 2^p bytes. Like KMV, the register
    * array is a pure function of the value SET (max-merge is
    * order-invariant and duplicate-absorbing), so after ANY micro-batch
    * slicing or restart the state — and therefore the estimate — is
    * BIT-IDENTICAL to the one-shot batch [[graft.functions.HllSketchAgg]]
    * over the same rows (StreamingSpec asserts register equality, not a
    * bound). Estimates are [[HllFunctions.estimateFrom]] (unrounded). */
  def runningHllDistinct(events: DataFrame, p: Int = 12): Dataset[HllUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    perType(events, "runningHllDistinct", col("user_id").cast("string"),
        "user_id")(HllFunctions.hllSketch(_, p))
      .as[(String, Long, Seq[Int])]
      .map { case (key, n, regs) =>
        HllUpdate(key, n, regs.count(_ == 0).toLong,
          HllFunctions.estimateFrom(regs, p))
      }
  }

  case class CmsUpdate(key: String, n_rows: Long, cells: Array[Long])

  /** Incrementally maintained per-key Count-Min matrix — frequency
    * sketches in streaming state. Like [[runningDistinct]] (and unlike
    * KLL), the `count_min` state is a pure function of the rows seen:
    * cell updates and merges are Long additions, so after any micro-batch
    * slicing the flattened d×w matrix equals the one-shot batch
    * [[graft.functions.CountMinAgg]] BIT-IDENTICALLY (StreamingSpec
    * asserts equality). State per key is d·w longs, fixed. */
  def runningFrequencies(events: DataFrame, depth: Int = 4,
                         width: Int = 512): Dataset[CmsUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    perType(events, "runningFrequencies", col("user_id").cast("string"),
        "user_id")(CountMinFunctions.countMin(_, depth, width))
      .select(col("key"), col("n_rows"), flatten(col("sketch")).as("cells"))
      .as[CmsUpdate]
  }

  case class PsiUpdate(key: String, n_rows: Long, psi: Double)

  /** Incrementally maintained PSI drift monitor — the streaming form of
    * the batch `q_psi_drift` screen: the caller supplies a frozen
    * per-key reference histogram (counts over 10 equal-width buckets of
    * [v0, v1], profiled batch-side); state accumulates the live stream's
    * bucket counts (10 longs per key) and each update re-emits
    * PSI = Σ (p_i − q_i)·ln(p_i/q_i) with add-one smoothing over the rows
    * seen so far. Bucket counting is additive, so after ANY micro-batch
    * slicing the state equals the one-shot batch histogram and the
    * emitted PSI is slicing-invariant; values past [v0, v1] clamp into
    * the edge buckets (the reference was profiled on that range — mass
    * beyond it IS drift and must land in a bucket, not vanish). */
  def runningPsi(events: DataFrame, ref: Map[String, Array[Long]],
                 v0: Double, v1: Double): Dataset[PsiUpdate] = {
    require(v1 > v0, s"runningPsi needs v1 > v0, got [$v0, $v1]")
    require(ref.values.forall(_.length == 10),
      "runningPsi reference histograms must have 10 buckets")
    val spark = events.sparkSession
    import spark.implicits._
    val width = (v1 - v0) / 10.0
    events.select(
        nonNull(col("event_type"),
          "runningPsi requires non-null event_type").as("event_type"),
        nonNull(col("value"),
          "runningPsi requires non-null value").cast("double").as("v"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Long], PsiUpdate](
        GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[Array[Long]]) =>
          val cur = state.getOption.getOrElse(new Array[Long](10))
          rows.foreach { case (_, v) =>
            val b = math.min(math.max(((v - v0) / width).toInt, 0), 9)
            cur(b) += 1
          }
          state.update(cur)
          val r = ref.getOrElse(key, new Array[Long](10))
          val nr = r.sum.toDouble + 10.0
          val nc = cur.sum.toDouble + 10.0
          var fx = 0L
          var i = 0
          while (i < 10) {
            val p = (r(i) + 1) / nr
            val q = (cur(i) + 1) / nc
            fx += BigDecimal((p - q) * math.log(p / q) * 1e12)
              .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
            i += 1
          }
          PsiUpdate(key, cur.sum,
            BigDecimal(fx / 1e12)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
  }

  case class WeightedSampleUpdate(key: String, n_rows: Long,
                                  sample_ids: Seq[Long])

  /** Incrementally maintained Efraimidis–Spirakis weighted sample — the
    * streaming twin of the batch `q_weighted_sample`: per key, keep the
    * k items with the SMALLEST A-ES keys round(−ln(u)/w, 6) (u the
    * md5-seeded uniform of the item id — byte-identical derivation to
    * the batch query, including the rounding that de-fragilizes the ln).
    * A bounded min-k set is order-invariant and duplicate-stable, so
    * after ANY micro-batch slicing the sample equals the one-shot batch
    * sample EXACTLY — StreamingSpec asserts equality against the batch
    * registry query, not a bound. State: k (key, id, value) triples. */
  def runningWeightedSample(events: DataFrame,
                            k: Int = 5): Dataset[WeightedSampleUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(
        nonNull(col("event_type"),
          "runningWeightedSample requires non-null event_type")
          .as("event_type"),
        nonNull(col("event_id"), "runningWeightedSample requires non-null event_id")
          .cast("long").as("event_id"),
        nonNull(col("value"), "runningWeightedSample requires non-null value")
          .cast("double").as("value"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Seq[(Double, Long)]), WeightedSampleUpdate](
        GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[(Long, Seq[(Double, Long)])]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, Seq.empty))
          val buf = scala.collection.mutable.SortedSet[(Double, Long)](s0: _*)
          var n = n0
          rows.foreach { case (_, id, w) =>
            if (w > 0) {
              n += 1
              val hex = KmvFunctions.md5Hex(s"ws|$id")
              val u = (java.lang.Long.parseLong(hex.substring(0, 8), 16)
                .toDouble + 0.5) / 4294967296.0
              val aes = BigDecimal(-math.log(u) / w)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
              buf.add((aes, id))
              if (buf.size > k) buf.remove(buf.last)
            }
          }
          val kept = buf.toSeq
          state.update((n, kept))
          WeightedSampleUpdate(key, n, kept.map(_._2))
      }
  }

  case class HeavyHittersUpdate(key: String, n_rows: Long,
                                items: Map[String, Long])

  /** Incrementally maintained per-key Misra–Gries heavy-hitter summary —
    * the frequent-items member of the streaming sketch family (beside
    * KMV/HLL distinct, KLL quantiles, CMS frequencies): the state is the
    * `misra_gries` buffer, at most k counters per key, and each
    * micro-batch's summary is merged into it (Agarwal et al.'s mergeable
    * form), so after ANY slicing the MG guarantee holds for the rows seen so
    * far — every item with true frequency above n/(k+1) is present, and
    * estimates undercount by at most n/(k+1). The bound is
    * slicing-independent even though the counter VALUES are not — the same
    * contract as the batch [[graft.functions.MisraGriesAgg]]. Emits the
    * sorted surviving-counter map per update. */
  def runningHeavyHitters(events: DataFrame, k: Int = 8): Dataset[HeavyHittersUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    perType(events, "runningHeavyHitters", col("user_id").cast("string"),
        "user_id")(MisraGriesFunctions.misraGries(_, k))
      .select(col("key"), col("n_rows"), col("sketch").as("items"))
      .as[HeavyHittersUpdate]
  }

  case class ImageDedupFlag(media_id: Long, first_id: Long, is_dup: Boolean)

  /** Streaming image dedup over perceptual hashes — the multimodal leg of
    * ingest dedup: each arriving (media_id, dhash) is flagged against the
    * FIRST media_id ever seen with that hash (state = one Long per
    * distinct hash; first-copy-wins exactly like
    * [[graft.streaming.IngestDedup]]'s digest layer, with the same
    * monotone-id expectation within a hash group). Radius-0 matching —
    * identical perceptual content; the banded radius-3 pair search stays
    * a batch job (`mm_phash_pairs`) because hamming balls don't shard
    * into disjoint state keys. */
  def imageDedupStream(hashes: DataFrame): Dataset[ImageDedupFlag] = {
    val spark = hashes.sparkSession
    import spark.implicits._
    hashes.select(col("media_id").cast("long"), col("dhash").cast("long"))
      .as[(Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, ImageDedupFlag](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (_, rows, state: GroupState[Long]) =>
          val sorted = rows.toSeq.sortBy(_._1)
          val first = state.getOption.getOrElse(sorted.head._1)
          if (!state.exists) state.update(first)
          sorted.iterator.map { case (id, _) =>
            ImageDedupFlag(id, first, id != first)
          }
      }
  }

  case class QuantileUpdate(key: String, n: Long, p50: Double, p90: Double)

  /** Incrementally maintained per-key rank sketch — the streaming
    * quantile the batch registry's `q_kll_quantile` canonical tree cannot
    * be: the state is the `kll_sketch` buffer (a [[graft.functions.KllBuffer]],
    * bounded k·levels doubles per key), each micro-batch's partial sketch
    * is merged in, and the emitted p50/p90 estimates carry the sketch's
    * (L+1)·n/k rank bound REGARDLESS of how the stream was sliced into
    * batches — exactly the mergeable-summary property `KllSketchSpec`
    * proves for the batch aggregate. n is exact (weight conservation). */
  def runningQuantiles(events: DataFrame, k: Int = 256): Dataset[QuantileUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    perType(events, "runningQuantiles", col("value").cast("double"),
        "value")(KllFunctions.kllSketch(_, k))
      .as[(String, Long, Seq[(Double, Long)])]
      .map { case (key, _, items) =>
        QuantileUpdate(key, items.map(_._2).sum,
          KllFunctions.kllQuantileOf(items, 0.5),
          KllFunctions.kllQuantileOf(items, 0.9))
      }
  }

  def decayedTotals(events: DataFrame, anchorMicros: Long,
                    halfLifeDays: Double): Dataset[DecayUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    val term = round(col("value") * pow(lit(2.0),
      (unix_micros(col("ts")) - lit(anchorMicros)) /
        lit(86400e6 * halfLifeDays)) * lit(1e6), 0).cast("long")
    // a null value or ts makes the term null, which `sum` would skip
    // silently — fail with the same explicit precondition the batch twins
    // (q_ks_test, q_mannwhitney) require of their inputs
    perType(events, "decayedTotals", term, "value and ts")(sum)
      .select(col("key"), col("sketch").as("sum_fx"), col("n_rows").as("n"))
      .as[DecayUpdate]
  }
}
