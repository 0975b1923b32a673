package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (sbt forks one test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    // test runs of registry queries must not overwrite the fingerprint
    // artifacts a Verify run published for the DuckDB oracle (see
    // graft.mm.Multimodal.artifactDir)
    if (sys.props.get("graft.artifact.dir").isEmpty)
      System.setProperty("graft.artifact.dir", "/tmp/graft_test_artifacts")
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
