package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.etl.{EventEnvelopes, Fixtures, Ingest, TokenTransferDecoder}
import graft.queries.Tables
import graft.streaming.{StreamingEtl, UpsertSink}

/** Token-transfer envelopes replayed through MemoryStream[String] in
  * event-time order, a fixed number per trigger, into the watermarked
  * hourly window and the upsert sink keyed by `tx_hash`. The seed picks
  * which envelopes arrive out of order (inside the watermark) and which
  * arrive beyond the watermark. */
final class StreamWorkload extends Workload {
  import StreamWorkload._

  private var plan: Seq[Seq[(Long, String)]] = Nil
  private var expectedLate: Set[String] = Set.empty
  private var replays = 0
  private var live: Option[Replay] = None
  private val latencyMs = mutable.ArrayBuffer.empty[Double]
  private val traced = mutable.ArrayBuffer.empty[Boolean]
  private val snaps = mutable.ArrayBuffer.empty[Snap]
  /** upsert state size on disk after each timed trigger (traced runs) */
  private val rewriteBytes = mutable.ArrayBuffer.empty[Long]
  private var envelopesIn = 0L
  private var progress: (Seq[StreamingQueryProgress], Seq[StreamingQueryProgress]) = (Nil, Nil)

  /** Both queries, with fresh state and checkpoints; each set-up starts
    * one, and the last one is measured. */
  private final class Replay(run: Run) {
    private val spark = run.spark
    replays += 1
    val dir = s"${run.args.work}/stream/r$replays"
    val sink = s"window_r$replays"
    val statePath = s"$dir/state"
    private val a = MemoryStream[String](spark)(Encoders.STRING)
    private val b = MemoryStream[String](spark)(Encoders.STRING)
    val window: StreamingQuery = StreamingEtl.hourlyTransferVolume(StreamingEtl.decodeTransfers(a.toDS()))
      .writeStream.outputMode("append").format("memory").queryName(sink)
      .option("checkpointLocation", s"$dir/ckpt_window").start()
    val upsert: StreamingQuery = UpsertSink.start(StreamingEtl.decodeTransfers(b.toDS()),
      statePath, s"$dir/ckpt_upsert", key = "tx_hash", tsCol = "block_timestamp")
    val sent = mutable.ArrayBuffer.empty[(Long, String)]

    /** One trigger: returns ms from `addData` until both queries are done. */
    def push(batch: Seq[(Long, String)]): Double = {
      val t0 = System.nanoTime()
      a.addData(batch.map(_._2))
      b.addData(batch.map(_._2))
      window.processAllAvailable()
      upsert.processAllAvailable()
      sent ++= batch
      (System.nanoTime() - t0) / 1e6
    }

    def stop(): Unit = { window.stop(); upsert.stop() }
  }

  def setup(run: Run): Unit = {
    val envs = envelopes(run.spark, run.args.fixtures).take(ReplayEnvelopes)
    val (p, late) = replayPlan(envs, run.args.seed)
    plan = p
    expectedLate = late
    live = Some(new Replay(run))
  }

  /** The first trigger, untimed: it starts both queries' state. */
  override def warm(run: Run): Unit = live.foreach(_.push(plan.head))

  override def stop(run: Run): Unit = { live.foreach(_.stop()); live = None }

  /** The following triggers, until the measuring time is up and at least
    * `MinTriggers` were timed. */
  def measure(run: Run): Unit = {
    val r = live.get
    val t0 = System.nanoTime()
    for ((batch, i) <- plan.zipWithIndex.tail
         if latencyMs.size < MinTriggers || (System.nanoTime() - t0) / 1e9 < run.args.seconds) {
      run.tracer.on = run.args.trace && i % 2 == 1
      val before = run.counters.map(_.snap(run.spark))
      run.attempt(s"stream_ingest/trigger$i") {
        latencyMs += run.tracer("streaming.trigger")(r.push(batch))
        traced += run.tracer.on
        envelopesIn += batch.size
      }
      run.tracer.on = false
      for (b <- before; a <- run.counters.map(_.snap(run.spark))) snaps += (a - b)
      if (run.args.trace) rewriteBytes += dirBytes(new File(r.statePath))
      run.leakSample(s"trigger $i")
    }
    progress = (r.window.recentProgress.toSeq, r.upsert.recentProgress.toSeq)
    val p50 = Stats.median(latencyMs.toSeq)
    val rate = envelopesIn / (latencyMs.sum / 1e3)
    run.detail("ingest_events_per_s") = Map("value" -> rate, "unit" -> "events/s", "n" -> latencyMs.size)
    run.detail("microbatch_p50_ms") = Map("value" -> p50, "unit" -> "ms", "n" -> latencyMs.size)
    if (latencyMs.size >= 100)
      run.detail("microbatch_p90_ms") = Map("value" -> Stats.pct(latencyMs.toSeq, 0.9), "unit" -> "ms", "n" -> latencyMs.size)
    run.detail("trigger_ms") = latencyMs.toSeq
    if (!run.args.trace) {
      run.metric("latency_p50_ms", p50, "ms", latencyMs.size)
      run.metric("throughput_per_s", rate, "1/s", latencyMs.size)
    }
  }

  def check(run: Run): Unit = {
    val spark = run.spark
    import spark.implicits._
    val r = live.get
    val replayed = r.sent.toList
    val lateSent = replayed.count(e => expectedLate(e._2))
    // two flush envelopes push the watermark past every replayed window
    val maxTs = replayed.map(_._1).max
    val flush = Seq(4, 8).map(h => (maxTs + h * 3600, Fixtures.transferMessage(
      ts = maxTs + h * 3600, blockNumber = 99000000L + h, txHash = "0x" + "f" * 63 + h)))
    flush.foreach(f => r.push(Seq(f)))
    // the outputs are read with both queries stopped, so no batch runs beside the check
    stop(run)

    run.attempt("stream_ingest/check/window") {
      val got = spark.table(r.sink)
        .filter(col("hour_bucket") <= lit(new java.sql.Timestamp(maxTs * 1000)))
      val onTime = replayed.filterNot(e => expectedLate(e._2)).map(_._2).toDS()
      val want = StreamingEtl.hourlyTransferVolume(TokenTransferDecoder.decode(Ingest.parseRaw(onTime)))
      sameWindows(got, want)
    }
    run.attempt("stream_ingest/check/upsert") {
      val got = spark.read.parquet(r.statePath)
      val all = r.sent.map(_._2).toSeq.toDS() // the upsert keeps the flush envelopes too
      val want = UpsertSink.latestPerKey(TokenTransferDecoder.decode(Ingest.parseRaw(all)),
        "tx_hash", "block_timestamp")
      sameRows(got, want, "upsert")
    }
    run.detail("late_rows_sent") = lateSent
  }

  override def layers(run: Run): Unit = {
    // progress of the warm-up and the timed triggers, taken before the
    // check's flush triggers
    val (w, u) = progress
    val triggers = latencyMs.size + 1
    def perTrigger(name: String, ps: Seq[StreamingQueryProgress], key: String): Unit =
      run.metric(name, ps.map(p => Option(p.durationMs.get(key)).fold(0.0)(_.toDouble)).sum / triggers,
        "ms", triggers)
    perTrigger("streaming.window.add_batch_ms", w, "addBatch")
    perTrigger("streaming.upsert.add_batch_ms", u, "addBatch")
    perTrigger("streaming.query_planning_ms", w ++ u, "queryPlanning")
    perTrigger("streaming.wal_commit_ms", w ++ u, "walCommit")
    perTrigger("streaming.commit_offsets_ms", w ++ u, "commitOffsets")
    val state = w.lastOption.toSeq.flatMap(_.stateOperators)
    run.metric("streaming.state_rows", state.map(_.numRowsTotal).sum.toDouble, "count")
    run.metric("streaming.state_mem_bytes", state.map(_.memoryUsedBytes).sum.toDouble, "bytes")
    run.metric("streaming.late_rows_dropped",
      w.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum.toDouble, "count")
    run.metric("streaming.upsert_state_bytes", rewriteBytes.lastOption.getOrElse(0L).toDouble, "bytes")
    run.metric("streaming.upsert_rewrite_bytes", rewriteBytes.sum.toDouble, "bytes", rewriteBytes.size)
    val on = latencyMs.indices.filter(traced)
    val off = latencyMs.indices.filterNot(traced)
    if (on.nonEmpty && off.nonEmpty) {
      val base = Stats.median(off.map(latencyMs))
      run.metric("trace.overhead_pct", (Stats.median(on.map(latencyMs)) - base) / base * 100, "%", latencyMs.size)
    }
    Layers.spark(run, snaps.toSeq)
  }
}

object StreamWorkload {
  /** Envelopes available to the replay (the oldest, in event-time order),
    * envelopes per trigger, and triggers timed even when the measuring time
    * is up earlier. */
  val ReplayEnvelopes = 6000
  val PerTrigger = 500
  val MinTriggers = 4
  val WatermarkS = 600L
  /** Seeded shares of envelopes that arrive out of order (at most
    * `OutOfOrderS` behind the newest, inside the watermark) and late (hours
    * behind, beyond the watermark). */
  val OutOfOrderShare = 0.05
  val OutOfOrderS = 240
  val LateShare = 0.005
  /** Summation-order rounding allowed between streamed and batch volumes;
    * one transfer more or less moves an hourly volume by ~1e-3. */
  val VolumeRelTol = 1e-12

  /** (block_timestamp, envelope JSON) for every events row, in event-time
    * order. */
  def envelopes(spark: SparkSession, fixtures: String): Array[(Long, String)] = {
    import spark.implicits._
    EventEnvelopes.transferEnvelopes(Tables.events(spark, fixtures))
      .select(get_json_object(col("value"), "$.block_timestamp").cast("long"), col("value"))
      .as[(Long, String)].collect().sortBy(identity)
  }

  /** Arrival order cut into triggers, and the envelopes the watermark must
    * drop. Arrival key = event time, plus up to `OutOfOrderS` for an
    * out-of-order envelope and 3-4 h for a late one. */
  def replayPlan(envs: Array[(Long, String)], seed: Long): (Seq[Seq[(Long, String)]], Set[String]) = {
    val rng = Main.rng(seed)
    val lastTs = envs.last._1
    val arrival = envs.map { case e @ (ts, v) =>
      val u = rng.nextDouble()
      val delay =
        if (u < LateShare && ts < lastTs - 4 * 3600) 3 * 3600 + rng.nextInt(3600)
        else if (u < LateShare + OutOfOrderShare) rng.nextInt(OutOfOrderS + 1)
        else 0
      (ts + delay, v, e)
    }.sortBy(a => (a._1, a._2)).map(_._3)
    val batches = arrival.grouped(PerTrigger).map(_.toSeq).toSeq
    // the watermark of a trigger is the newest event time of the triggers
    // before it minus the delay; an envelope is late iff it is older
    var newest = Long.MinValue
    val late = Set.newBuilder[String]
    for (batch <- batches) {
      val wm = newest - WatermarkS
      for ((ts, v) <- batch) {
        require(newest == Long.MinValue || math.abs(ts - wm) > 60,
          s"envelope at $ts is too close to the watermark $wm to classify")
        if (newest != Long.MinValue && ts < wm) late += v
      }
      newest = math.max(newest, batch.map(_._1).max)
    }
    (batches, late.result())
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else f.length

  /** Same hourly windows: equal keys and counts, and volumes that differ at
    * most by the rounding of a different summation order (the stream adds
    * per-trigger partial sums, the batch twin per-partition ones). */
  def sameWindows(got: DataFrame, want: DataFrame): Unit = {
    def rows(df: DataFrame) = df.select("hour_bucket", "standard", "transfer_count",
        "volume_normalized", "unique_senders", "unique_receivers").collect()
      .map(r => (r.get(0), r.get(1)) -> r).toMap
    val (g, w) = (rows(got), rows(want))
    val keys = (g.keySet ++ w.keySet).toSeq
    val bad = keys.filterNot { k =>
      (g.get(k), w.get(k)) match {
        case (Some(a), Some(b)) =>
          Seq(2, 4, 5).forall(i => a.get(i) == b.get(i)) &&
            math.abs(a.getDouble(3) - b.getDouble(3)) <= VolumeRelTol * math.abs(b.getDouble(3))
        case _ => false
      }
    }
    if (bad.nonEmpty)
      throw new IllegalStateException(s"window output differs from its batch twin in " +
        s"${bad.size} of ${keys.size} windows, e.g. " +
        bad.take(2).map(k => s"${g.get(k).orNull} vs ${w.get(k).orNull}").mkString("; "))
  }

  /** Same multiset of rows; column order follows `got`. */
  def sameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    val w = want.select(got.columns.map(col).toIndexedSeq: _*)
    val missing = w.exceptAll(got)
    val extra = got.exceptAll(w)
    val (nm, ne) = (missing.count(), extra.count())
    if (nm + ne > 0)
      throw new IllegalStateException(
        s"$what output differs from its batch twin: $nm rows missing, e.g. " +
        s"${missing.limit(2).collect().mkString(" ")}; $ne extra, e.g. ${extra.limit(2).collect().mkString(" ")}")
  }
}
