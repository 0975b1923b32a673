package graft
import org.apache.logging.log4j.LogManager

/** Driver-run benchmark: times every SparkEntry query at the configured
  * scale factor and prints ONE JSON line. Queries run in name order after a
  * short warmup so the first measured query doesn't absorb JVM/codegen
  * startup. */
object Bench {
  private val logger = LogManager.getLogger(getClass.getName.stripSuffix("$"))

  /** A 1-minute loadavg above this at the start or end of a timing run
    * is warned about: the times then carry co-tenant inflation. */
  private val LoadGate = 2.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // fingerprint artifacts published by mm_*_pairs queries feed the DuckDB
    // oracle of the LAST VERIFY run — a bench at a different scale factor
    // must not overwrite them, so benches publish to their own directory.
    if (sys.props.get("graft.artifact.dir").isEmpty)
      System.setProperty("graft.artifact.dir", "/tmp/graft_bench_artifacts")
    // the session first: building it configures log4j2, whose default
    // configuration would drop the load warnings below
    val spark = GraftSession("graft-bench")
    // Load stamps (three rounds of co-tenant-inflated committed
    // artifacts): a timing run under external load measures the
    // neighbors, not the engine. RECORD the loadavg seen at start and end
    // in both the headline line and the detail file, so a reader can tell
    // a clean measurement from a contended one without re-running
    // anything. No wait for a lower load: a run's own load outlives it,
    // so a wait would gate each back-to-back run on its predecessor.
    // NaN = /proc/loadavg unreadable (distinct from a LOW
    // load — a sentinel like -1.0 would read as a clean run in the
    // committed artifact; NaN fails every > comparison and is emitted as
    // JSON null below).
    def loadavg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => Double.NaN }
    def loadJson(v: Double): String =
      if (v.isNaN) "null" else BigDecimal(v)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    val startLoad = loadavg()
    if (startLoad.isNaN)
      logger.warn("[bench] /proc/loadavg unreadable - loads recorded as null")
    if (startLoad > LoadGate)
      logger.warn(f"[bench] benching under load $startLoad%.2f " +
        f"(gate $LoadGate%.1f) - times will carry co-tenant inflation")
    // Bench-live marker: dev/sweep_overlap.sh (and any other timed
    // co-tenant) refuses to start while this file names a live PID —
    // round-12's committed bench recorded end_load 13.83 because the sf10
    // sweep launched two minutes before the bench finished.
    val lockPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_LOCK", "target/bench.lock"))
    try {
      java.nio.file.Files.createDirectories(lockPath.toAbsolutePath.getParent)
      java.nio.file.Files.writeString(lockPath,
        ProcessHandle.current().pid().toString + "\n")
      lockPath.toFile.deleteOnExit()
    } catch { case e: Throwable =>
      logger.warn(s"[bench] lock write failed: ${RunRecorder.describe(e)}")
    }

    // warmup: parquet reader + shuffle + codegen paths, not measured
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().count()
      spark.read.parquet(s"$sfDir/orders.parquet").limit(100).count()
    } catch { case _: Throwable => () }

    // Best-of-N timing: a co-tenant load spike on the driver box can inflate
    // a single run by 3-7x (a 1.7 s query has been reported at 140 s), so a
    // lone sample is not a measurement. The min over RUNS samples is robust
    // to one-sided noise — load only ever adds time, never removes it.
    val RUNS = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    // Materialize through the noop sink, NOT .count(): count() lets the
    // optimizer prune every column and any final join whose other side is
    // unique on the join key — for dedup_incremental the "benchmark" plan
    // collapsed to count(1) over the raw parquet scan (measured 1.4 s fake
    // vs 10.0 s real). The noop sink computes every output row with every
    // output column and discards them — the honest end-to-end cost.
    // optional comma-separated query filter for focused timing runs
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Each run records the builder call (eager pre-passes) and the noop
    // write as two sections; the recorder's marker job runs after the
    // timed region.
    val recorder = new RunRecorder(spark)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val samples = (1 to RUNS).map { _ =>
        val t0 = System.nanoTime()
        val ok = try Materialize.scope {
          val df = recorder.section("builder")(fn(spark, sfDir))
          recorder.section("exec")(
            df.write.mode("overwrite").format("noop").save())
          true
        } catch { case e: Throwable =>
          // the output keeps only -1 and the "failed" list; the cause goes
          // to the log
          logger.warn(s"[bench] $name failed: ${RunRecorder.describe(e)}")
          false
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val counts = recorder.finish()
        // NOTE: an explicit System.gc() here was tried (round 7) to drain
        // the previous query's garbage and reduce adjacency noise — it did
        // the opposite: the full GC evicts warm JIT/code-cache and
        // broadcast state, inflating the MEASURED times by a median 1.25×
        // across the registry. Leave collection to the JVM.
        Materialize.warnLeftovers(spark, logger, s"[bench] $name")
        (dt, ok, counts)
      }
      val ok = samples.forall(_._2)
      (name, samples.map(_._1).min, ok, samples.map(_._3))
    }
    recorder.close()
    // a crashed query must not read as a healthy timing: report -1 for it
    // and list it under "failed". Times are 3-decimal (ms grain), and the
    // per-query map is emitted as SHORT self-describing JSON lines rather
    // than one huge line: the driver's output capture is tail-byte-budgeted
    // and a single 115-query line lost its alphabetical head in rounds 3-4;
    // one-line-per-family still lost the 60-query "q" family mid-line in r5.
    // Two rules make the artifact lossless under any reasonable tail window:
    //  1. every line holds at most MAX_PER_LINE queries (~500 bytes), split
    //     into numbered parts ("q" part 1/5 .. 5/5);
    //  2. lines print in ASCENDING family-cost order, so the most expensive
    //     families (the ones whose regressions matter most) sit nearest the
    //     tail and survive even a few-line budget.
    def fmt(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    val failed = results.collect { case (k, _, false, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.filter(_._3).map(_._2).sum
    val MAX_PER_LINE = 12
    results.groupBy { case (k, _, _, _) => k.takeWhile(_ != '_') }
      .toSeq
      .map { case (family, rs) => (family, rs.filter(_._3).map(_._2).sum, rs) }
      .sortBy(_._2) // ascending cost: costliest family prints last
      .foreach { case (family, famTotal, rs) =>
        val chunks = rs.sortBy(_._1).grouped(MAX_PER_LINE).toSeq
        chunks.zipWithIndex.foreach { case (chunk, i) =>
          val qs = chunk.map { case (k, v, ok, _) =>
            s"\"" + k + "\":" + (if (ok) fmt(v) else -1)
          }.mkString("{", ",", "}")
          val part = s""","part":${i + 1},"parts":${chunks.size}"""
          println(s"""{"metric":"family","family":"$family","value":${fmt(famTotal)},"unit":"sec"$part,"queries":$qs}""")
        }
      }
    // End-of-run load: the start stamp alone cannot see a co-tenant that
    // arrived mid-bench (round-12: start 1.64, end 13.83 — a sweep launched
    // under the bench's tail). Record it in the HEADLINE too and warn, so
    // the committed artifact carries both sides of the window.
    val endLoad = loadavg()
    if (endLoad > LoadGate)
      logger.warn(f"[bench] loadavg $endLoad%.2f > gate " +
        f"$LoadGate%.1f at bench END - a co-tenant overlapped the run; " +
        "treat the slowest-family times as suspect")
    // the minimal headline line LAST: survives even a one-line tail budget
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$RUNS,"n_queries":${results.size},"failed":$failed,"load":${loadJson(startLoad)},"end_load":${loadJson(endLoad)},"sf":"$sfDir"}""")
    // ALSO write the complete per-query map to a committed file: the
    // driver's stdout capture is tail-byte-budgeted and lost ~165 of 224
    // per-query times in round 8 — a file is lossless at any registry size
    // and gives dev/bench_diff.py a stable cross-round regression input.
    // A SPARK_GRAFT_ONLY-filtered run covers a subset of the registry —
    // writing it to the committed BENCH_detail.json would silently replace
    // the full 237-query map with a partial one (this happened in round 10:
    // an ad-hoc isolated re-run clobbered the committed artifact and the
    // round shipped a 6-query "detail"). Partial runs get their own file.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      if (only.isDefined) "BENCH_detail_partial.json" else "BENCH_detail.json")
    val qJson = results.map { case (k, v, ok, _) =>
      "\"" + k + "\":" + (if (ok) fmt(v) else -1)
    }.mkString("{", ",", "}")
    // per entry and section, each counter as one value per run, in run
    // order: run-to-run variance stays visible
    def sectionJson(runs: Seq[Map[String, RunRecorder.Counts]], s: String) = {
      val cs = runs.map(_.getOrElse(s, RunRecorder.Counts.Zero))
      def arr(f: RunRecorder.Counts => Long) = cs.map(f).mkString("[", ",", "]")
      s""""$s":{"jobs":${arr(_.jobs)},"stages":${arr(_.stages)},""" +
        s""""tasks":${arr(_.tasks)},"shuffle_write_bytes":""" +
        s"""${arr(_.shuffleWriteBytes)},"misses":${arr(_.misses)}}"""
    }
    val cJson = results.map { case (k, _, _, runs) =>
      s""""$k":{${sectionJson(runs, "builder")},${sectionJson(runs, "exec")}}"""
    }.mkString("{", ",", "}")
    val detail =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$RUNS,"n_queries":${results.size},"failed":$failed,"load":${loadJson(startLoad)},"end_load":${loadJson(endLoad)},"sf":"$sfDir","queries":$qJson,"counters":$cJson}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(detailPath), detail + "\n")
    catch { case e: Throwable =>
      logger.warn(s"[bench] detail write failed: ${RunRecorder.describe(e)}")
    }
    try java.nio.file.Files.deleteIfExists(lockPath)
    catch { case _: Throwable => () }
    spark.stop()
  }
}
