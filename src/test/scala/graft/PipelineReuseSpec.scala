package graft

import graft.dedup.FrameStore

/** Artifact-reuse contract for the composed pipelines: the first run
  * publishes its stage artifacts (shingle counts, passage graph, LPA
  * labels, near-dup clusters) to the session [[FrameStore]]; a later run
  * or consumer feeds from them — and MUST produce the identical result,
  * so reuse is a pure cost optimization, never a semantic one. */
class PipelineReuseSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("passage graph: artifact-fed rerun equals inline run") {
    FrameStore.clear(spark)
    val q = SparkEntry.queries("pipeline_passage_graph")
    val inline = q(spark, dir).collect().toSeq
    assert(FrameStore.contains(spark, s"passage_nbrs|$dir"),
      "first run must publish the passage graph")
    assert(FrameStore.contains(spark, s"passage_lpa4|$dir"),
      "first run must publish the LPA labels")
    val fed = q(spark, dir).collect().toSeq
    assert(fed == inline)
    assert(inline.nonEmpty)
    FrameStore.clear(spark)
  }

  test("near-dup clusters: dedup_pipeline publishes, q_leak_split reads them") {
    val key = s"clusters|$dir|${graft.queries.Extensions.JaccardThreshold}"
    val leakSplit = SparkEntry.queries("q_leak_split")
    FrameStore.clear(spark)
    val cold = leakSplit(spark, dir).collect().toSeq
    FrameStore.clear(spark)
    spark.catalog.clearCache()
    SparkEntry.queries("dedup_pipeline")(spark, dir)
    assert(FrameStore.contains(spark, key),
      "dedup_pipeline must publish its clusters")
    val fed = leakSplit(spark, dir).collect().toSeq
    assert(fed == cold)
    assert(cold.nonEmpty)
    FrameStore.clear(spark)
    spark.catalog.clearCache()
  }
}
