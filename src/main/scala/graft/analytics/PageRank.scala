package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Materialize

/** Fixed-iteration PageRank over an edge list — the second iterative
  * graph family next to connected components: CC answers "which rows are
  * the same thing", PageRank answers "which nodes matter" (canonical-
  * document selection among near-dups, hub detection in address graphs).
  *
  * Each iteration is one join (contributions = pr/outdeg shipped along
  * edges) + one aggregate (incoming mass per node) + one left join back
  * to the node set — all keyed on the node id, so every step shards by
  * the same key and nothing is driver-bound except the node COUNT.
  * Contribution sums cast each addend to DECIMAL(38,12) before adding:
  * decimal addition is associative, so the per-iteration masses — and
  * therefore the final ranks — are bit-identical across engines and
  * partitionings (the same exactness pattern as the cumprod/VaR ops).
  * Iterations are statically unrolled by the caller-chosen count; for
  * high iteration counts interleave `localCheckpoint` like
  * [[graft.dedup.Dedup.connectedComponents]] does.
  */
object PageRank {
  /** Run `iters` damped iterations over `edges` (`src`, `dst` columns).
    * Returns (id, pr). Nodes are the union of edge endpoints; a node's
    * outdegree is its edge count as `src` (callers wanting undirected
    * semantics pass both directions).
    *
    * Dangling nodes (no outgoing edges) follow canonical PageRank: their
    * mass is redistributed uniformly each iteration, so ranks always sum
    * to 1. The dangling set is computed once (anti-join of nodes against
    * edge sources); per iteration it costs one keyed semi-join plus a
    * 1-row aggregate broadcast back into the rank update — the dangling
    * sum is a decimal-exact fold like the contribution sums, so the
    * partition-invariance / cross-engine bit-exactness guarantee holds on
    * sink-bearing graphs too. On a graph with no dangling nodes the term
    * is exactly +0.0 and the ranks are bit-identical to the pre-dangling
    * formula. */
  def run(edges: DataFrame, iters: Int,
          damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val Dec = DecimalType(38, 12)
    // node spine carries a dangling FLAG so each iteration's dangling mass
    // can ride that iteration's checkpoint as an observed metric — the old
    // form paid a separate semi-join aggregate + 1-row broadcast per
    // iteration, and kept NO lineage cut at all (every iteration's plan
    // embedded two copies of the previous one; only AQE exchange reuse
    // kept execution from going exponential, at growing planning cost).
    // The flag join replaces the anti-join: __dang=1 iff no outgoing edge.
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val ed = edges.join(deg, "src").transform(Materialize.checkpoint) // read every iter
    val base = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct()
      .join(deg.select(col("src").as("id"), lit(1).as("__out")),
        Seq("id"), "left")
      .select(col("id"),
        when(col("__out").isNull, 1).otherwise(0).as("__dang"))
      .transform(Materialize.checkpoint) // read every iteration + at init
    val n = base.count()
    // dm(pr) = Σ pr over dangling nodes, decimal-exact — identical addend
    // set to the old semi-join form (the when() keeps exactly those rows)
    def dmAgg = coalesce(
      sum(when(col("__dang") === 1, col("pr")).cast(Dec)),
      lit(0).cast(Dec)).cast("double")
    var step = 0
    def ckpt(df: DataFrame): (DataFrame, Double) = {
      step += 1
      val (out, row) =
        graft.Observed.checkpoint(df, s"pr_dm_$step", dmAgg.as("dm"))
      (out, row.getDouble(0))
    }
    var (pr, dm) = ckpt(base.withColumn("pr", lit(1.0) / lit(n)))
    for (_ <- 1 to iters) {
      val contrib = ed.join(pr, ed("src") === pr("id"))
        .select(ed("dst").as("id"), (col("pr") / col("deg")).as("c"))
      val mass = contrib.groupBy("id")
        .agg(sum(col("c").cast(Dec)).cast("double").as("m"))
      val r = ckpt(base.join(mass, Seq("id"), "left")
        .select(col("id"), col("__dang"),
          (lit(1.0 - damping) / lit(n) +
            lit(damping) * (coalesce(col("m"), lit(0.0)) +
              lit(dm) / lit(n))).as("pr")))
      pr = r._1
      dm = r._2
    }
    pr.select("id", "pr")
  }

  /** Personalized PageRank: teleport (and dangling) mass returns to the
    * `seeds` set (uniform over seeds) instead of all nodes — "relevance
    * to THIS cluster/set", the seed-expansion primitive (find documents
    * related to a known-good set, addresses related to a flagged set).
    * Same per-iteration shape and decimal-exactness as [[run]]; the seed
    * vector s(v) = 1/|S| replaces the uniform 1/n in both the teleport
    * and the dangling redistribution, so ranks still sum to 1. */
  def runPersonalized(edges: DataFrame, seeds: DataFrame, iters: Int,
                      damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val nS = seeds.distinct().count()
    require(nS >= 1, "seeds must be non-empty")
    val Dec = DecimalType(38, 12)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct()
      .join(seeds.distinct().select(col("id"), lit(1).as("is_seed")),
        Seq("id"), "left")
      .join(deg.select(col("src").as("id"), lit(1).as("__out")),
        Seq("id"), "left")
      .select(col("id"), when(col("is_seed") === 1, lit(1.0) / nS)
        .otherwise(lit(0.0)).as("sv"),
        when(col("__out").isNull, 1).otherwise(0).as("__dang"))
      .transform(Materialize.checkpoint) // referenced every iteration + by the result
    val ed = edges.join(deg, "src").transform(Materialize.checkpoint) // read every iter
    // dangling mass rides each iteration's checkpoint as an observed
    // metric (same rationale and same addend set as in [[run]])
    def dmAgg = coalesce(
      sum(when(col("__dang") === 1, col("pr")).cast(Dec)),
      lit(0).cast(Dec)).cast("double")
    var step = 0
    def ckpt(df: DataFrame): (DataFrame, Double) = {
      step += 1
      val (out, row) =
        graft.Observed.checkpoint(df, s"ppr_dm_$step", dmAgg.as("dm"))
      (out, row.getDouble(0))
    }
    var (pr, dm) =
      ckpt(nodes.select(col("id"), col("sv"), col("__dang"),
        col("sv").as("pr")))
    for (_ <- 1 to iters) {
      val contrib = ed.join(pr, ed("src") === pr("id"))
        .select(ed("dst").as("id"), (col("pr") / col("deg")).as("c"))
      val mass = contrib.groupBy("id")
        .agg(sum(col("c").cast(Dec)).cast("double").as("m"))
      val r = ckpt(nodes.join(mass, Seq("id"), "left")
        .select(col("id"), col("sv"), col("__dang"),
          ((lit(1.0 - damping) + lit(damping) * lit(dm)) * col("sv") +
            lit(damping) * coalesce(col("m"), lit(0.0))).as("pr")))
      pr = r._1
      dm = r._2
    }
    pr.select("id", "pr")
  }
}
