package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Restricted-twin probe entries for the three registry queries whose
  * DuckDB oracle twins are infeasible at sf10 (the round-10 sweep:
  * `sim_hard_negatives` >70 GB spill, `pipeline_passage_graph` >60 GB,
  * `emb_lsh_pairs` >2 h — in each case the SPARK side completed; the
  * cost is the single-node re-derivation the twin performs).
  *
  * Each probe narrows the work by a deterministic md5-selected subset —
  * the `q_stratified_sample` trick: membership is a pure function of the
  * row key (`substr(md5(CAST(key AS VARCHAR)), 1, 1)`), so both engines
  * select the identical subset at any scale with no sampling state.
  * The restriction is placed where it provably cannot change any kept
  * row's value:
  *
  *  - `sim_hard_negatives_probe`: restrict ANCHORS only. The per-anchor
  *    rank partitions on the anchor, so dropping anchors never changes a
  *    surviving anchor's negatives; candidates stay corpus-wide.
  *  - `emb_lsh_pairs_probe`: restrict the pair's LEFT endpoint only
  *    (1/16 — at sf10 the twin's ×dim pair expansion spilled past 30 GB
  *    under the earlier 1/4 cut). Bucket assignment is per-vector
  *    (unchanged); a pair's cosine depends only on its own endpoints.
  *  - `pipeline_passage_graph_probe`: the passage graph is global (LPA
  *    labels flow through edges), so no output filter is sound — this
  *    probe instead runs the IDENTICAL operator over a deterministic
  *    sub-corpus, which both engines derive independently.
  *
  * The probes exist so the scale sweeps can oracle-verify these operators
  * exactly at sf10+ (VERDICT r10, next-round item #2); the full-corpus
  * entries remain in the registry and stay oracle-checked at the driver's
  * sf0.01 gate and at sf1.
  */
object Probes {
  /** 1/16 of keys: md5 first hex digit = 0. */
  private val Hex16 = Seq("0")
  /** 1/16 of keys, digit 5: the range-join probe's cut. Digit 0 selects
    * ZERO output rows at sf0.001 — of the 5 interval_ids there, only the
    * digit-5 interval's ±2 h window contains any view event — and an
    * empty declared query fails the driver's rows>0 smoke check (and
    * ContractSpec). Any single digit is the same uniform 1/16 fraction
    * at sf10, so the twin-feasibility bound (~34 M fetched rows) holds
    * unchanged. */
  private val Hex16RJ = Seq("5")
  /** 1/4 of keys: md5 first hex digit in 0-3. */
  private val Hex4 = Seq("0", "1", "2", "3")

  private def md5Sel(c: Column, hexes: Seq[String]): Column =
    substring(md5(c.cast("string")), 1, 1).isin(hexes: _*)

  private def sqlSel(expr: String, hexes: Seq[String]): String =
    s"substr(md5(CAST($expr AS VARCHAR)), 1, 1) IN (" +
      hexes.map(h => s"'$h'").mkString(", ") + ")"

  /** Anchor-restricted hard-negative mining: identical rows to the
    * `sim_hard_negatives` rows whose anchor md5-selects into the 1/16
    * subset (rank is anchor-partitioned, so the filter commutes with the
    * mining). Spark runs the full mine + filter; the twin pushes the
    * restriction into its join, shrinking it 16x. */
  private val hardNegativesProbe: Q = (s, dir) =>
    Relational7.hardNegatives(s, dir)
      .filter(md5Sel(col("anchor"), Hex16))
      .orderBy("anchor", "rk")

  /** Left-endpoint-restricted LSH cosine pairs: the `emb_lsh_pairs` rows
    * whose v1 md5-selects into the 1/16 subset. The twin still computes
    * every vector's bucket (linear) but explodes/dots only the selected
    * sixteenth of the pairs. */
  private val embLshPairsProbe: Q = (s, dir) =>
    Extensions.embLshPairs(s, dir)
      .filter(md5Sel(col("v1"), Hex16))
      .orderBy("v1", "v2")

  /** Passage graph over the deterministic 1/16 sub-corpus: the full
    * shingle -> continuation-edge -> 4-round LPA -> community-report
    * chain, both engines restricting `documents` by the same md5 rule.
    * 1/16 (was 1/4 in round 11): even restricted to a quarter the twin's
    * sf10 recompute needed >70 GB of DuckDB temp — more than the sweep
    * box can grant — so the probe tightens one notch, the VERDICT-r11
    * feasibility rule ("1/64 where 1/16 still spills" continues the
    * ladder). FrameStore artifacts are namespaced so probe and full runs
    * never share leaves. */
  private val tokenGraphProbe: Q = (s, dir) =>
    Relational6.tokenGraphOver(s,
      Tables.documents(s, dir).filter(md5Sel(col("doc_id"), Hex16)),
      s"$dir|probe16")

  /** SemDeDup over the deterministic 1/4 sub-corpus: centroids,
    * assignment, the banded pair stage, and the prune all recomputed
    * from the sub-corpus by BOTH engines (the [[tokenGraphProbe]]
    * pattern — per-cluster counts are global aggregates, so no output
    * filter is sound). Added r12: the full twin's sf10 temp appetite
    * exceeds every grant the sweep box can make (>55 GB even after the
    * list-form rewrite); the 1/4 corpus still engages the
    * [[graft.sim.VectorOps.PairBlockCap]] banding at sf10 (cluster size
    * ~5 000 > 4 096), so the band-mirroring twin is exercised where it
    * matters. */
  private val semDedupProbe: Q = (s, dir) =>
    Extensions.semDedupOver(
      Tables.embeddings(s, dir).filter(md5Sel(col("vec_id"), Hex4)))

  /** HITS over the deterministic 1/4 sub-corpus of WHOLE 50-blocks
    * (md5 of `doc_id // 50` — the chain graph breaks at doc_id % 50, so
    * selecting complete blocks keeps every component intact). The L2
    * normalization is a global scalar over all kept nodes, so no output
    * filter is sound — both engines re-derive edges, pulls, and norms
    * from the identically-selected sub-corpus (the [[tokenGraphProbe]]
    * pattern). Added r13: the full twin's 6-pull chain exhausted the
    * 55 GB temp grant at sf10 twice (r12 drain: "51.2 GiB/51.2 GiB
    * used"); the 1/4 cut shrinks every pull ~4x. */
  private val hitsProbe: Q = (s, dir) =>
    Relational4.hitsOver(
      Tables.documents(s, dir)
        .filter(md5Sel(floor(col("doc_id") / lit(50)), Hex4)))

  /** Interval-restricted range join: the `q_range_join` rows whose
    * interval_id md5-selects into the 1/16 subset. Each output row
    * depends only on its own (interval, view) endpoints, so the filter
    * commutes with the join (the [[embLshPairsProbe]] pattern). Added
    * r13: the full twin's 541 M-row result fetch was OOM-killed at
    * >130 GB RSS in both the r12 and r13 sf10 attempts — the kill lands
    * AFTER the join computes, so no temp/memory grant can save it; the
    * 1/16 cut bounds the fetched frame at ~34 M rows. */
  private val rangeJoinProbe: Q = (s, dir) =>
    Behavioral.rangeJoin(s, dir)
      .filter(md5Sel(col("interval_id"), Hex16RJ))
      .orderBy("interval_id", "event_id")

  val entries: Seq[Entry] = Seq(
    Entry("sim_hard_negatives_probe", hardNegativesProbe,
      Relational7.hardNegativesSqlOver(sqlSel("a.doc_id", Hex16))),
    Entry("emb_lsh_pairs_probe", embLshPairsProbe,
      Extensions.embLshPairsSqlOver(sqlSel("a.vec_id", Hex16))),
    Entry("pipeline_passage_graph_probe", tokenGraphProbe,
      Relational6.tokenGraphSqlOver(sqlSel("doc_id", Hex16))),
    Entry("sim_semdedup_probe", semDedupProbe,
      Extensions.simSemDedupSqlOver(sqlSel("vec_id", Hex4))),
    Entry("q_hits_probe", hitsProbe,
      Relational4.hitsSqlOver(sqlSel("doc_id // 50", Hex4))),
    Entry("q_range_join_probe", rangeJoinProbe,
      Behavioral.rangeJoinSqlOver(sqlSel("event_id", Hex16RJ))),
  )
}
