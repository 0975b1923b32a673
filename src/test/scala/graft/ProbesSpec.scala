package graft

import org.apache.spark.sql.functions._

/** The restricted-twin probe entries must be EXACTLY the md5-selected
  * subset of their full query's rows (hard negatives, LSH pairs) — the
  * property that makes a probe-green oracle compare at sf10 transfer to
  * the full operator. The passage-graph probe is a sub-corpus run (no
  * subset relation to the full graph), so it pins schema + determinism
  * instead. */
class ProbesSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def md5Hex1(c: org.apache.spark.sql.Column) =
    substring(md5(c.cast("string")), 1, 1)

  test("hard-negatives probe rows are exactly the md5-selected anchors' rows") {
    val full = SparkEntry.queries("sim_hard_negatives")(spark, dir)
      .filter(md5Hex1(col("anchor")) === "0")
    val probe = SparkEntry.queries("sim_hard_negatives_probe")(spark, dir)
    assert(probe.exceptAll(full).isEmpty && full.exceptAll(probe).isEmpty)
  }

  test("LSH-pairs probe rows are exactly the md5-selected left endpoints' rows") {
    val full = SparkEntry.queries("emb_lsh_pairs")(spark, dir)
      .filter(md5Hex1(col("v1")) === "0")
    val probe = SparkEntry.queries("emb_lsh_pairs_probe")(spark, dir)
    assert(probe.exceptAll(full).isEmpty && full.exceptAll(probe).isEmpty)
  }

  test("passage-graph probe keeps the full entry's schema and is deterministic") {
    val full = SparkEntry.queries("pipeline_passage_graph")(spark, dir)
    val probe = SparkEntry.queries("pipeline_passage_graph_probe")(spark, dir)
    assert(probe.schema == full.schema)
    val a = probe.collect().toSeq
    val b = SparkEntry.queries("pipeline_passage_graph_probe")(spark, dir)
      .collect().toSeq
    assert(a == b && a.nonEmpty)
  }
}
