package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, fixtures: String, work: String, out: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("fixtures"), need("work"), need("out"))
  }
}

object Stats {
  /** NaN (reported as null) when there are no samples. */
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.length).toInt - 1))
  }
}

/** One benchmark process: the session, the recorders, and the result. */
final class Run(val args: Args) {
  val tracer = new Tracer
  val counters: Option[Counters] = if (args.trace) Some(new Counters) else None
  var spark: SparkSession = _
  val attempted = new AtomicLong
  private val failures = new ConcurrentLinkedQueue[Map[String, String]]
  /** name -> (value, unit, samples) */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val outputs = mutable.LinkedHashMap.empty[String, String]
  private val leaks = mutable.ArrayBuffer.empty[Map[String, Any]]

  def metric(name: String, value: Double, unit: String, n: Int = 1): Unit =
    metrics(name) = (value, unit, n)

  def fail(what: String, cls: String, msg: String): Unit =
    failures.add(Map("what" -> what, "class" -> cls, "message" -> String.valueOf(msg)))

  /** The exception's class, and the messages of it and its causes. */
  def fail(what: String, e: Throwable): Unit = fail(what, e.getClass.getName,
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .map(c => s"${c.getClass.getName}: ${c.getMessage}").mkString(" <- caused by "))

  /** Runs one counted operation; an exception becomes a failure record. */
  def attempt[T](what: String)(f: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(f)
    catch { case e: Exception => fail(what, e); None }
  }

  def failed: Int = failures.size

  /** Cached/checkpointed state the session holds right now. */
  def leakSample(at: String): Unit = {
    val sc = spark.sparkContext
    val infos = sc.getRDDStorageInfo
    leaks += Map("at" -> at,
      "session.persistent_rdds" -> sc.getPersistentRDDs.size,
      "session.block_mem_bytes" -> infos.map(_.memSize).sum,
      "session.block_disk_bytes" -> infos.map(_.diskSize).sum)
  }

  /** Leak counters of the last sample, as per-layer metrics. */
  def leakMetrics(): Unit = {
    val last = leaks.lastOption.getOrElse(Map.empty)
    for (k <- Seq("session.persistent_rdds", "session.block_mem_bytes", "session.block_disk_bytes")) {
      val v = last.get(k).map(_.toString.toDouble).getOrElse(0.0)
      metric(k, v, if (k.endsWith("bytes")) "bytes" else "count", leaks.size)
    }
  }

  def write(): Unit = {
    val result = Map(
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
      "attempted" -> attempted.get, "failed" -> failed,
      "failures" -> failures.asScala.toSeq,
      "metrics" -> metrics.map { case (k, (v, u, n)) => k -> Map("value" -> v, "unit" -> u, "n" -> n) }.toSeq,
      "detail" -> detail.toSeq,
      "leaks" -> leaks.toSeq,
      "outputs" -> outputs.toSeq)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(order(result))
    Files.writeString(Paths.get(args.out), json)
  }

  /** Sequences of pairs become ordered JSON objects. */
  private def order(v: Any): Any = v match {
    case m: Map[_, _] => order(m.toSeq.sortBy(_._1.toString))
    case s: Seq[_] if s.nonEmpty && s.forall { case (_: String, _) => true; case _ => false } =>
      val m = new java.util.LinkedHashMap[String, Any]
      s.foreach { case (k: String, x) => m.put(k, order(x)) }
      m
    case s: Seq[_] => s.map(order).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }
}

/** A workload: set up (inputs, warm-up operation), measure, check. */
trait Workload {
  def setup(run: Run): Unit
  /** Untimed operations between the last set-up and the measurement. */
  def warm(run: Run): Unit = ()
  def measure(run: Run): Unit
  /** Untimed output checks; a mismatch is a failure record. */
  def check(run: Run): Unit
  /** Per-layer metrics this workload alone produces (traced runs). */
  def layers(run: Run): Unit = ()
  def stop(run: Run): Unit = ()
}

object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 5
  val Cores = 4

  def session(args: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.local.dir", s"${args.work}/local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The workload's random source. The seed is mixed first: java.util.Random
    * gives nearby seeds nearly the same first draws. */
  def rng(seed: Long): scala.util.Random =
    new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())

  def workload(name: String): Workload = name match {
    case "batch_iterative" => new BatchWorkload(BatchWorkload.Iterative)
    case "stream_ingest" => new StreamWorkload
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit =
    try { bench(Args.parse(argv)); sys.exit(0) }
    catch { case e: Throwable => e.printStackTrace(); sys.exit(2) }

  def bench(args: Args): Unit = {
    System.setProperty("graft.artifact.dir", s"${args.work}/artifacts")
    val run = new Run(args)
    val wl = workload(args.workload)
    val loadStart = Jvm.loadavg()
    val ticksStart = Jvm.cpuTicks()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = (1 to Setups).map { i =>
      if (i > 1) { wl.stop(run); run.spark.stop() }
      val t0 = System.nanoTime()
      run.spark = session(args)
      run.counters.foreach(_.attach(run.spark))
      wl.setup(run)
      if (i == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3
      else (System.nanoTime() - t0) / 1e9
    }
    run.detail("setup_samples_s") = setups
    wl.warm(run)
    Jvm.trackHeap()
    wl.measure(run)
    val peakHeap = Jvm.peakHeapMb()
    wl.check(run)
    if (args.trace) {
      wl.layers(run)
      Layers.probe(run)
      run.leakMetrics()
      Layers.fill(run)
      run.detail("self_ms") = run.tracer.selfMs.toSeq.sortBy(_._1)
    } else {
      run.metric("setup_s", Stats.median(setups), "s", setups.size)
      run.metric("peak_heap_mb", peakHeap, "MB")
    }
    wl.stop(run)
    run.spark.stop()
    run.detail("stamps") = Seq("nproc" -> Runtime.getRuntime.availableProcessors,
      "loadavg_start" -> loadStart, "loadavg_end" -> Jvm.loadavg(),
      "cpu_steal_share" -> Jvm.stealShare(ticksStart, Jvm.cpuTicks()), "seed" -> args.seed)
    run.write()
  }
}
