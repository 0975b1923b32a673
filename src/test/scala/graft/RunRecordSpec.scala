package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The observed checkpoint and the run recorder that counts its misses. */
class RunRecordSpec extends SparkSpec {

  test("observed checkpoint row equals the aggregate over the checkpoint") {
    val aggs = Seq(sum(col("v")).as("s"), count(lit(1)).as("n"),
      max(col("v")).as("mx"))
    val frames = Seq(
      spark.range(1, 10, 1, 3).select((col("id") * 2).as("v")) ->
        Row(90L, 9L, 18L),
      // no rows: the sum and max are null, the count 0
      spark.range(0, 0).select(col("id").as("v")) -> Row(null, 0L, null))
    for (((df, want), i) <- frames.zipWithIndex) {
      val misses0 = Observed.misses
      val (out, row) = Observed.checkpoint(df, s"spec_observed_$i", aggs: _*)
      assert(row == want)
      assert(row == out.agg(aggs.head, aggs.tail: _*).collect()(0))
      assert(Observed.misses == misses0, "the metric arrived with the job")
    }
  }

  test("recorder splits builder pre-pass from exec jobs and repeats them") {
    val entry: graft.queries.Q = (s, _) => {
      // the builder's eager pre-pass: one job, one stage, 4 tasks
      val pre = s.range(0, 1000, 1, 4).localCheckpoint(true)
      pre.groupBy((col("id") % 7).as("k")).count()
    }
    val recorder = new RunRecorder(spark)
    val runs = try (1 to 2).map { _ =>
      val df = recorder.section("builder")(entry(spark, ""))
      recorder.section("exec")(df.write.mode("overwrite").format("noop").save())
      recorder.finish()
    } finally recorder.close()
    assert(runs.head("builder") == RunRecorder.Counts(1, 1, 4, 0, 0))
    val exec = runs.head("exec")
    assert(exec.jobs >= 1 && exec.shuffleWriteBytes > 0, exec.toString)
    assert(runs(1) == runs.head)
    spark.catalog.clearCache()
  }
}
