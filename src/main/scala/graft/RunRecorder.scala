package graft

import java.util.concurrent.{Semaphore, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.concurrent.TrieMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Counts the Spark work of named sections of a run. Each section runs
  * under its own job group; a listener tallies the jobs, stages, tasks and
  * shuffle-write bytes of that group, and the section also takes the
  * [[Observed]] misses that happen in it. Listener events arrive
  * asynchronously but in order, so [[finish]] runs one marker job (outside
  * whatever the caller times) and returns once the listener has seen its
  * start: by then every event of the sections before it has arrived.
  *
  * Sections run on the calling thread; Spark carries the job group to the
  * threads it starts for broadcasts and subqueries. */
final class RunRecorder(spark: SparkSession) extends SparkListener
    with AutoCloseable {
  import RunRecorder._

  private val sc = spark.sparkContext
  private val prefix = s"graft-run-${ids.incrementAndGet()}-"
  private val marker = prefix + "marker"
  private val sections = TrieMap.empty[String, Tally] // by job group
  private val stageGroup = TrieMap.empty[Int, String]
  private val markersSeen = new Semaphore(0)
  sc.addSparkListener(this)

  private def group(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    group(e.properties).foreach { g =>
      if (g == marker) markersSeen.release()
      else sections.get(g).foreach(_.jobs.incrementAndGet())
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    group(e.properties).filter(sections.contains)
      .foreach(stageGroup(e.stageInfo.stageId) = _)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stageGroup.get(i.stageId).flatMap(sections.get).foreach { t =>
      t.stages.incrementAndGet()
      t.tasks.addAndGet(i.numTasks)
      t.shuffleWrite.addAndGet(i.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Runs `f` as the section `name`; a repeated name adds to its counts. */
  def section[T](name: String)(f: => T): T = {
    val g = prefix + name
    val t = sections.getOrElseUpdate(g, new Tally)
    val misses0 = Observed.misses
    sc.setJobGroup(g, name)
    try f
    finally {
      sc.clearJobGroup()
      t.misses.addAndGet(Observed.misses - misses0)
    }
  }

  /** The counts of every section since the last `finish`, by name. */
  def finish(): Map[String, Counts] = {
    sc.setJobGroup(marker, marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    require(markersSeen.tryAcquire(60, TimeUnit.SECONDS),
      "listener did not see the marker job within 60 s")
    val out = sections.map { case (g, t) =>
      g.stripPrefix(prefix) -> Counts(t.jobs.get, t.stages.get, t.tasks.get,
        t.shuffleWrite.get, t.misses.get)
    }.toMap
    sections.clear()
    stageGroup.clear()
    out
  }

  override def close(): Unit = sc.removeSparkListener(this)
}

object RunRecorder {
  private val ids = new AtomicInteger

  private final class Tally {
    val jobs, stages, tasks, shuffleWrite, misses = new AtomicLong
  }

  /** One section's work. `misses` counts [[Observed]] fallbacks. */
  final case class Counts(jobs: Long, stages: Long, tasks: Long,
                          shuffleWriteBytes: Long, misses: Long)

  object Counts { val Zero: Counts = Counts(0, 0, 0, 0, 0) }

  /** The counts of `f` alone, on a recorder of its own. */
  def of(spark: SparkSession)(f: => Unit): Counts = {
    val r = new RunRecorder(spark)
    try { r.section("run")(f); r.finish()("run") }
    finally r.close()
  }

  /** A failure as its exception class and message, then each cause's. */
  def describe(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => s"${t.getClass.getName}: ${t.getMessage}")
      .mkString(" <- caused by ")
}
