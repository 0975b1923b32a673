package perfbench

import scala.jdk.CollectionConverters._
import graft.api.DataService
import graft.etl.{BlockchainEtlPipeline, Fixtures, Ingest, TokenTransferDecoder}
import graft.model.{HistoricalVaR, ImpermanentLossModel, MEVExposureModel}
import graft.sql.Transpiler

/** Per-layer metrics shared by every workload's traced run. */
object Layers {

  /** Spark counters per unit of work (pass, micro-batch or request): the
    * median over `units`, each scaled by `scale`. */
  def spark(run: Run, units: Seq[Snap], scale: Double = 1.0): Unit = {
    def m(name: String, unit: String)(f: Snap => Double): Unit =
      run.metric(name, if (units.isEmpty) 0.0 else Stats.median(units.map(f)) * scale, unit, units.size)
    m("spark.jobs", "count")(_.jobs.toDouble)
    m("spark.stages", "count")(_.stages.toDouble)
    m("spark.tasks", "count")(_.tasks.toDouble)
    m("spark.planning_ms", "ms")(_.planningMs.toDouble)
    m("spark.executor_run_s", "s")(_.runMs / 1e3)
    m("spark.executor_cpu_s", "s")(_.cpuNs / 1e9)
    m("spark.shuffle_write_bytes", "bytes")(_.shuffleWrite.toDouble)
    m("spark.shuffle_read_bytes", "bytes")(_.shuffleRead.toDouble)
    m("spark.spill_bytes", "bytes")(_.spill.toDouble)
    m("jvm.gc_s", "s")(_.gcMs / 1e3)
    run.metric("spark.peak_exec_mem_bytes",
      run.counters.map(_.peakExecMem.get.toDouble).getOrElse(0.0), "bytes")
  }

  /** Median ms of `reps` timed calls after one untimed call. */
  def time(run: Run, span: String, reps: Int = 3)(f: => Any): Double = {
    run.attempt(s"probe/$span")(f)
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      run.attempt(s"probe/$span")(run.tracer(span)(f))
      (System.nanoTime() - t0) / 1e6
    })
  }

  /** Direct calls into the etl, model, api and sql modules, outside any
    * workload loop. */
  def probe(run: Run): Unit = {
    val spark = run.spark
    import spark.implicits._
    run.tracer.on = true
    val envelopes = StreamWorkload.envelopes(spark, run.args.fixtures).map(_._2).toSeq.toDS()
      .localCheckpoint()
    run.metric("etl.decode_ms", time(run, "etl.decode") {
      TokenTransferDecoder.decode(Ingest.parseRaw(envelopes))
        .write.mode("overwrite").format("noop").save()
    }, "ms", 3)

    val rng = new scala.util.Random(42)
    val returns = (0 until 90).map(i => (i.toLong, 0.001 + 0.032 * rng.nextGaussian())).toDF("idx", "r")
    run.metric("model.var_compute_ms", time(run, "model.var_compute") {
      new HistoricalVaR(returns, "r", 1000000.0).compute(0.95)
    }, "ms", 3)

    // the model's input is materialised first, so only the model is timed
    val txDf = BlockchainEtlPipeline.runRaw(Fixtures.syntheticTxMessages(120).toDS()).transactions
    val txRows = txDf.collect()
    val tx = spark.createDataFrame(txRows.toSeq.asJava, txDf.schema)
    val swaps = txRows.map(_.getAs[Long]("block_number")).distinct.sorted.toSeq
      .flatMap(b => (1 to 3).map(p => (b, s"0xpool$p", "uniswap_v2")))
      .toDF("block_number", "pool", "protocol")
    run.metric("model.mev_score_ms", time(run, "model.mev_score") {
      new MEVExposureModel(tx, Some(swaps)).scoreAllBlocks().collect()
    }, "ms", 3)

    val ratios = (2 to 100).map(r => math.rint(r * 0.05 * 100) / 100)
    run.metric("model.il_scan_ms", time(run, "model.il_scan") {
      ImpermanentLossModel.scanPriceRange(spark, 2000.0, 10000.0, ratios).collect()
    }, "ms", 3)

    val service = new DataService(spark)
    val calls = Seq[(String, () => Any)]("var" -> (() => service.varData()),
      "il" -> (() => service.ilData()), "mev" -> (() => service.mevData()),
      "transfers" -> (() => service.transferData()))
    for ((r, call) <- calls)
      run.metric(s"api.service_ms.$r", time(run, s"api.service.$r", reps = 1)(call()), "ms", 1)

    val sqls = Seq(Transpiler.TransferVolumeSql, Transpiler.SwapPriceImpactSql)
    run.metric("sql.transpile_ms", time(run, "sql.transpile", reps = 21) {
      for (s <- sqls; d <- Transpiler.getAllDialects) Transpiler.transpile(s, "postgres", d)
    }, "ms", 21)
    run.tracer.on = false
  }

  /** DataService methods behind the API's data routes. */
  val Routes: Seq[String] = Seq("var", "il", "mev", "transfers")

  /** Every per-layer metric name; a traced run reports the ones its
    * workload does not exercise as 0. */
  val Names: Seq[(String, String)] =
    Seq("queries.builder_s" -> "s", "queries.builder_jobs" -> "count",
      "queries.exec_s" -> "s", "queries.exec_jobs" -> "count") ++
    BatchWorkload.Iterative.flatMap(e => Seq(s"queries.$e.wall_s" -> "s", s"queries.$e.jobs" -> "count")) ++
    Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.planning_ms" -> "ms", "spark.executor_run_s" -> "s",
      "spark.executor_cpu_s" -> "s", "spark.shuffle_write_bytes" -> "bytes",
      "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
      "spark.peak_exec_mem_bytes" -> "bytes", "jvm.gc_s" -> "s",
      "etl.decode_ms" -> "ms",
      "streaming.window.add_batch_ms" -> "ms", "streaming.upsert.add_batch_ms" -> "ms",
      "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
      "streaming.commit_offsets_ms" -> "ms", "streaming.state_rows" -> "count",
      "streaming.state_mem_bytes" -> "bytes", "streaming.late_rows_dropped" -> "count",
      "streaming.upsert_state_bytes" -> "bytes", "streaming.upsert_rewrite_bytes" -> "bytes") ++
    Routes.map(r => s"api.service_ms.$r" -> "ms") ++
    Seq("model.var_compute_ms" -> "ms", "model.mev_score_ms" -> "ms", "model.il_scan_ms" -> "ms",
      "sql.transpile_ms" -> "ms", "session.persistent_rdds" -> "count",
      "session.block_mem_bytes" -> "bytes", "session.block_disk_bytes" -> "bytes",
      "trace.overhead_pct" -> "%")

  def fill(run: Run): Unit =
    for ((n, u) <- Names if !run.metrics.contains(n)) run.metric(n, 0.0, u, 0)
}
