package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry

/** Passes over registry entries, each entry built by its
  * `(spark, dir) => DataFrame` builder and materialised through the `noop`
  * sink. The seed permutes the entry order. */
final class BatchWorkload(entries: Seq[String]) extends Workload {
  private type Builder = (SparkSession, String) => DataFrame
  private var order: Seq[(String, Builder)] = Nil
  private val passWall = mutable.ArrayBuffer.empty[Double]
  private val passTraced = mutable.ArrayBuffer.empty[Boolean]
  private val passSnap = mutable.ArrayBuffer.empty[Snap]
  /** entry -> per-pass (wall s, builder s, exec s, counters) */
  private val perEntry = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Double, Double, Option[(Snap, Snap)])]]

  def setup(run: Run): Unit = {
    val registry = SparkEntry.queries
    val rng = Main.rng(run.args.seed)
    order = rng.shuffle(entries.map(e => e -> registry.getOrElse(e,
      throw new NoSuchElementException(s"registry entry $e"))))
    // warm-up operation: scan every fixture table once
    for (t <- BatchWorkload.Tables)
      run.spark.read.parquet(s"${run.args.fixtures}/$t.parquet").count()
  }

  /** Two untimed passes: the output check, which writes each entry to
    * parquet for run.py to compare with the DuckDB oracle, then one pass
    * through the `noop` sink. */
  override def warm(run: Run): Unit = {
    for ((name, build) <- order) {
      val out = s"${run.args.work}/out/$name"
      run.attempt(s"${run.args.workload}/$name/check") {
        build(run.spark, run.args.fixtures).coalesce(1).write.mode("overwrite").parquet(out)
        run.outputs(name) = out
      }
      run.spark.catalog.clearCache()
    }
    pass(run, "warm", record = false)
  }

  def check(run: Run): Unit = ()

  private def pass(run: Run, label: String, record: Boolean): Unit = {
    val spark = run.spark
    val dir = run.args.fixtures
    val before = run.counters.map(_.snap(spark))
    val t0 = System.nanoTime()
    run.tracer("queries.pass") {
      for ((name, build) <- order) {
        var tb, te = 0.0
        val c0 = run.counters.map(_.snap(spark))
        val e0 = System.nanoTime()
        val c1 = run.attempt(s"${run.args.workload}/$name/$label") {
          run.tracer("queries.entry") {
            val df = run.tracer("queries.builder")(build(spark, dir))
            val b = System.nanoTime()
            val mid = run.counters.map(_.snap(spark))
            run.tracer("queries.exec")(df.write.mode("overwrite").format("noop").save())
            tb = (b - e0) / 1e9
            te = (System.nanoTime() - b) / 1e9
            mid
          }
        }.flatten
        val wall = (System.nanoTime() - e0) / 1e9
        spark.catalog.clearCache()
        if (record) {
          val snaps = for (a <- c0; m <- c1; z <- run.counters.map(_.snap(spark))) yield (m - a, z - m)
          perEntry.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ((wall, tb, te, snaps))
        }
      }
    }
    if (record) {
      passWall += (System.nanoTime() - t0) / 1e9
      passTraced += run.tracer.on
      for (b <- before; a <- run.counters.map(_.snap(spark))) passSnap += (a - b)
    }
    run.leakSample(s"pass $label")
  }

  def measure(run: Run): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < BatchWorkload.MinPasses || (System.nanoTime() - t0) / 1e9 < run.args.seconds) {
      // a traced run alternates untraced and traced passes
      run.tracer.on = run.args.trace && i % 2 == 1
      pass(run, s"pass${i + 1}", record = true)
      i += 1
    }
    run.tracer.on = false
    val elapsed = (System.nanoTime() - t0) / 1e9
    val wall = Stats.median(passWall.toSeq)
    run.detail("batch_wall_s") = Map("value" -> wall, "unit" -> "s", "n" -> passWall.size)
    run.detail("pass_wall_s") = passWall.toSeq
    run.detail("entry_order") = order.map(_._1)
    if (!run.args.trace) {
      run.metric("latency_p50_ms", wall * 1e3, "ms", passWall.size)
      run.metric("throughput_per_s", passWall.size * order.size / elapsed, "1/s", passWall.size)
    }
  }

  override def layers(run: Run): Unit = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val traced = passWall.indices.filter(passTraced)
    val untraced = passWall.indices.filterNot(passTraced)
    if (traced.nonEmpty && untraced.nonEmpty) {
      val off = med(untraced.map(passWall))
      run.metric("trace.overhead_pct", (med(traced.map(passWall)) - off) / off * 100, "%", passWall.size)
    }
    val rows = perEntry.toSeq.sortBy(_._1)
    val passes = passWall.size
    def perPass(f: ((Double, Double, Double, Option[(Snap, Snap)])) => Double) =
      med((0 until passes).map(p => rows.map(r => f(r._2(p))).sum))
    run.metric("queries.builder_s", perPass(_._2), "s", passes)
    run.metric("queries.exec_s", perPass(_._3), "s", passes)
    run.metric("queries.builder_jobs", perPass(_._4.fold(0.0)(_._1.jobs.toDouble)), "count", passes)
    run.metric("queries.exec_jobs", perPass(_._4.fold(0.0)(_._2.jobs.toDouble)), "count", passes)
    // (jobs, stages, shuffle bytes) of every pass, per entry
    val counts = for ((name, rs) <- rows) yield name -> rs.flatMap(_._4).map { case (b, e) =>
      (b.jobs + e.jobs, b.stages + e.stages, b.shuffleWrite + e.shuffleWrite + b.shuffleRead + e.shuffleRead)
    }.toSeq
    for ((name, rs) <- rows) run.metric(s"queries.$name.wall_s", med(rs.map(_._1).toSeq), "s", rs.size)
    for ((name, c) <- counts) run.metric(s"queries.$name.jobs", med(c.map(_._1.toDouble)), "count", c.size)
    run.detail("counter_repeatability") = counts.map { case (name, c) =>
      name -> Seq("jobs" -> c.map(_._1), "stages" -> c.map(_._2), "shuffle_bytes" -> c.map(_._3),
        "repeats" -> (c.distinct.size <= 1))
    }
    run.detail("not_repeating") = counts.collect { case (name, c) if c.distinct.size > 1 => name }
    Layers.spark(run, passSnap.toSeq)
  }
}

object BatchWorkload {
  /** Iterative registry entries whose eager builder pre-passes dominate
    * their wall time. */
  val Iterative: Seq[String] = Seq("q_kcore", "q_kll_quantile")
  /** The fixture tables the entries read. */
  val Tables: Seq[String] = Seq("events", "documents")
  /** Passes measured even when one pass outlasts the measuring time. */
  val MinPasses = 2
}
