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
}
