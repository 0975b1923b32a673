package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters at one instant; differences of two snapshots give the
  * work done between them. Times in ms, except `cpuNs`. */
final case class Snap(jobs: Long, stages: Long, tasks: Long, runMs: Long,
    cpuNs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    planningMs: Long, gcMs: Long) {
  def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spill - o.spill, planningMs - o.planningMs, gcMs - o.gcMs)
}

/** Spark job/stage/task counters from a SparkListener, and analysis +
  * optimization + planning time from a QueryExecutionListener. Both are
  * registered by the benchmark, never by the program. */
final class Counters extends SparkListener with QueryExecutionListener {
  private val jobs, stages, tasks, runMs, cpuNs, shW, shR, spill, planMs =
    new AtomicLong
  val peakExecMem = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    onSuccess(funcName, qe, 0L)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Counters after every event queued so far has been delivered. */
  def snap(spark: SparkSession): Snap = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    Snap(jobs.get, stages.get, tasks.get, runMs.get, cpuNs.get, shW.get,
      shR.get, spill.get, planMs.get, Jvm.gcMs())
  }
}

final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long)

/** Spans around the benchmark's calls into each layer, kept in memory until
  * the run ends. Spans nest per thread; `on` switches recording for the
  * calling thread, so a traced run can interleave traced and untraced
  * operations. */
final class Tracer {
  private val flag = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  def on: Boolean = flag.get
  def on_=(v: Boolean): Unit = flag.set(v)
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def apply[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, outer.headOption.getOrElse(0L), name, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Total self time (ms) per span name: duration minus the part covered
    * by the span's children. */
  def selfMs: Map[String, Double] = {
    val s = all
    val childNs = s.groupMapReduce(_.parent)(x => x.end - x.start)(_ + _)
    s.groupMapReduce(_.name)(x => (x.end - x.start - childNs.getOrElse(x.id, 0L)) / 1e6)(_ + _)
  }
}

object Jvm {
  private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peakAfterGc = new AtomicLong
  private val listener = new AtomicReference[NotificationListener]

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Starts tracking the highest heap occupancy seen right after a GC. */
  def trackHeap(): Unit = {
    val l: NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peakAfterGc.accumulateAndGet(used, math.max)
      }
    if (listener.compareAndSet(null, l))
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
        _.asInstanceOf[NotificationEmitter].addNotificationListener(l, null, null))
  }

  /** Highest after-GC heap occupancy (MB) since [[trackHeap]]; collects
    * once first so that a run without a collection still has a sample. */
  def peakHeapMb(): Double = {
    System.gc()
    Thread.sleep(200) // GC notifications arrive on a JMX thread
    peakAfterGc.get / (1024.0 * 1024.0)
  }

  /** Cumulative CPU time of the machine per state (user, nice, system,
    * idle, iowait, irq, softirq, steal), in clock ticks; empty if unknown. */
  def cpuTicks(): Seq[Long] =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).split("\\s+").toSeq.slice(1, 9).map(_.toLong)
    catch { case _: Exception => Nil }

  /** Share of the machine's CPU time stolen by the hypervisor between two
    * [[cpuTicks]] readings; NaN if unknown. */
  def stealShare(from: Seq[Long], to: Seq[Long]): Double =
    if (from.size < 8 || to.size < 8) Double.NaN
    else {
      val d = to.zip(from).map { case (a, b) => a - b }
      d(7).toDouble / d.sum
    }

  def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Exception => Double.NaN }
}
