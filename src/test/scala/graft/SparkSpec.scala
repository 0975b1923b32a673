package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (sbt forks one test JVM). */
object TestSpark {
  val Cores = 4

  lazy val spark: SparkSession = {
    // test runs of registry queries must not overwrite the fingerprint
    // artifacts a Verify run published for the DuckDB oracle (see
    // graft.mm.Multimodal.artifactDir)
    if (sys.props.get("graft.artifact.dir").isEmpty)
      System.setProperty("graft.artifact.dir", "/tmp/graft_test_artifacts")
    GraftSession("graft-tests", Cores)
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Jobs `f` submits from this thread, counted by a listener. Listener
    * events arrive asynchronously but in order, so a marker job run after
    * `f` closes the count: once its start is seen, so are all of f's. */
  protected def jobsOf(f: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val (group, marker) = ("jobs-of", "jobs-of-marker")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val closed = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`marker`) => closed.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, group)
      try f finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(closed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally sc.removeSparkListener(l)
  }
}
