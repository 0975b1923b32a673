package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize

/** Fixed-depth multi-source BFS over an edge list — the third iterative
  * graph family beside [[graft.dedup.Dedup.connectedComponents]] ("which
  * rows are the same thing") and [[PageRank]] ("which nodes matter"):
  * this answers "how far is every node from a seed set", the k-hop
  * neighbourhood primitive behind blast-radius queries, crawl-frontier
  * scheduling, and taint propagation from flagged sources.
  *
  * Each level is one keyed join (frontier → neighbours) + one distinct +
  * one anti-join against the settled set — all sharded on the node id,
  * nothing driver-bound. The frontier and settled frames are
  * `localCheckpoint`ed per level: BFS lineage otherwise nests one
  * anti-join per level and re-executes the whole prefix at every action
  * (the same eager-truncation trade [[graft.queries.DistributedRolling]]
  * documents; its blocks die with their executor, so a lost executor
  * means a rerun).
  *
  * The depth bound is part of the CONTRACT, not a shortcut: "within
  * maxHops" is the production question (unbounded BFS on a 100 TB graph
  * is a diameter-length job chain), and the bound makes the DuckDB twin
  * — a depth-limited recursive CTE, a genuinely different evaluation
  * strategy — exact, so the registry entry is hash-checkable.
  */
object Bfs {
  /** Min-hop distance from any source within `maxHops` hops. `nbrs` must
    * carry DIRECTED (u, v) rows (callers wanting undirected semantics
    * pass both directions); `sources` carries `id`. Returns (id, dist)
    * for reached nodes only — dist in [0, maxHops].
    *
    * One job per level: the frontier is read back as `dist = i−1` off the
    * previous level's settled checkpoint (no separate frontier
    * materialization — the old form checkpointed `next` AND the union,
    * two jobs per level), and the new-frontier count rides the settled
    * checkpoint as an observed metric (the PageRank dangling-mass
    * pattern) so exhaustion exits early with no extra count job. The
    * r13-attempted settled-as-union-of-leaves form measured WORSE and
    * stays dead: `settled` remains a single materialized leaf per level. */
  def run(nbrs: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0: $maxHops")
    // edge list is re-read every level — materialize it once so each
    // level's plan scans a leaf instead of re-running the caller's
    // edge-derivation DAG per level
    val nb = if (maxHops >= 2) nbrs.transform(Materialize.checkpoint) else nbrs
    var settled = sources.select(col("id"), lit(0).as("dist"))
      .distinct().transform(Materialize.checkpoint)
    var live = true
    for (i <- 1 to maxHops if live) {
      val frontier = settled.filter(col("dist") === i - 1)
      val next = frontier.join(nb, frontier("id") === nb("u"))
        .select(col("v").as("id")).distinct()
        .join(settled, Seq("id"), "left_anti")
        .select(col("id"), lit(i).as("dist"))
      val (out, row) = graft.Observed.checkpoint(settled.union(next),
        s"bfs_frontier_$i",
        sum(when(col("dist") === i, 1L).otherwise(0L)).as("f"))
      settled = out
      // empty frontier (or nothing settled: a null sum): every later level
      // is provably empty too — exiting changes nothing in the settled rows
      live = !row.isNullAt(0) && row.getLong(0) > 0L
    }
    settled
  }
}
