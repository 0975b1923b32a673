package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize

/** Round-7 coverage batch: graph triangle counting (degree-ordered, the
  * scale-correct orientation algorithm) and exact heavy hitters over the
  * document token stream (the oracle-checked twin of the mergeable
  * Misra–Gries sketch in [[graft.functions.MisraGriesAgg]]).
  */
object Relational4 {
  /** Deterministic doc graph shared with `q_pagerank`'s chain, thickened
    * with skip links so triangles exist: within each 50-doc block,
    * undirected edges u—u+1 and u—u+2 (canonical u < v). Every interior
    * block position closes the triangle (u, u+1, u+2). */
  private[queries] def docEdges(s: SparkSession, dir: String): DataFrame =
    docEdgesFrom(Tables.documents(s, dir).select(col("doc_id")))

  /** [[docEdges]] over a caller-chosen id frame — the probe entry point:
    * the chain graph breaks at doc_id % 50, so a sub-corpus of WHOLE
    * 50-blocks reproduces exactly the selected components' edges. */
  private[queries] def docEdgesFrom(ids: DataFrame): DataFrame = {
    def shift(d: Int): DataFrame =
      ids.as("x")
        .join(ids.as("y"), col("y.doc_id") === col("x.doc_id") + d)
        .filter(col("x.doc_id") % 50 <= lit(50 - 1 - d))
        .select(col("x.doc_id").as("u"), col("y.doc_id").as("v"))
    shift(1).union(shift(2))
  }

  private[queries] val docEdgesCte =
    """e AS (
      |  SELECT a.doc_id AS u, b.doc_id AS v FROM documents a
      |  JOIN documents b ON b.doc_id = a.doc_id + 1 WHERE a.doc_id % 50 <= 48
      |  UNION ALL
      |  SELECT a.doc_id AS u, b.doc_id AS v FROM documents a
      |  JOIN documents b ON b.doc_id = a.doc_id + 2 WHERE a.doc_id % 50 <= 47
      |)""".stripMargin

  /** Per-node triangle counts via degree-ordered orientation — the
    * algorithm that survives power-law graphs at scale. A naive triangle
    * join enumerates every wedge at every node: a celebrity node of degree
    * d contributes d² wedge rows, so one hot vertex with 10M followers
    * yields 10¹⁴ intermediate rows. Orienting every edge from its
    * lower-(degree, id) endpoint to the higher one makes each vertex's
    * out-degree O(√m) on ANY graph (arboricity bound), so the wedge
    * self-join — the only superlinear step — is bounded by m^(3/2) total
    * and no single key explodes. Three hash shuffles (degree count, wedge
    * join, closing-edge semi-join), no driver state.
    *
    * Each triangle is produced exactly once: its closing edge is oriented
    * one specific way, so of the two wedge rows (a;b,c)/(a;c,b) only the
    * one matching that orientation joins.
    *
    * The oracle twin counts the same triangles by canonical id order
    * (u < v < w) — a different enumeration of the same set, so agreement
    * is a genuine cross-check of the orientation logic, not an echo. */
  private val triangles: Q = (s, dir) => {
    val edges = docEdges(s, dir)
    val deg = edges.select(col("u").as("id"))
      .union(edges.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))

    val du = deg.select(col("id").as("u"), col("deg").as("du"))
    val dv = deg.select(col("id").as("v"), col("deg").as("dv"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    // materialized once: `oriented` is consumed by BOTH wedge sides (those
    // two share one exchange via ReuseExchange) AND the closing-edge
    // semi-join, whose (src, dst) keying canonicalizes differently — the
    // un-cut form re-executed the edges⋈deg⋈deg derivation (itself four
    // doc_id scans deep) per consumer; the before-plan embedded 360 scans
    // over 4 200 lines (guide §2.4). Edge-list-sized, the standard
    // checkpoint posture for graph iteratives here.
    val oriented = edges.join(du, "u").join(dv, "v")
      .select(
        when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"))
      .transform(Materialize.checkpoint)

    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") =!= col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
    val tri = wedges.join(oriented,
      col("b") === col("src") && col("c") === col("dst"), "left_semi")

    // one pass: explode the corner array instead of a 3-way union — the
    // union's three differently-projected branches of `tri` cannot share
    // plan subtrees, so the wedge join ran three times (same multiset:
    // union of the a/b/c projections ≡ explode of [a, b, c])
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id").as("doc_id")).agg(count(lit(1)).as("n_triangles"))
      .select(col("doc_id"), col("n_triangles"))
      .orderBy("doc_id")
  }

  private val trianglesSql =
    s"""WITH $docEdgesCte, tri AS (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM e e1
       |  JOIN e e2 ON e2.u = e1.v
       |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
       |)
       |SELECT id AS doc_id, COUNT(*) AS n_triangles
       |FROM (SELECT a AS id FROM tri
       |      UNION ALL SELECT b FROM tri
       |      UNION ALL SELECT c FROM tri)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exact heavy hitters: tokens whose frequency exceeds n/64 of the
    * corpus token stream — the stopword-mining / hot-key-detection pass,
    * and the oracle-checked ground truth for the Misra–Gries sketch
    * (MisraGriesSpec proves the sketch's superset-and-bounds guarantee
    * against exactly this computation). One explode + one partial/final
    * hash agg; the threshold compare is kept in exact integer form
    * (tf·64 > n, never a double division) on both engines, as is the
    * reported ppm share (integer div). */
  private val heavyHitters: Q = (s, dir) => {
    val toks = Tables.documents(s, dir)
      .select(explode(graft.text.TextOps.tokens(col("text"))).as("token"))
    val counts = toks.groupBy("token").agg(count(lit(1)).as("tf"))
    // total token count re-aggregated from the (vocab-sized) counts frame,
    // not a second pass over the exploded stream
    val total = counts.agg(sum(col("tf")).as("n"))
    counts.join(broadcast(total))
      .filter(col("tf") * 64 > col("n"))
      .select(col("token"), col("tf"),
        expr("tf * 1000000 div n").as("share_ppm"))
      .orderBy(desc("tf"), col("token"))
  }

  private val heavyHittersSql =
    """WITH tok AS (
      |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
      |    AS token
      |  FROM documents
      |), tot AS (SELECT COUNT(*) AS n FROM tok),
      |cnt AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY 1)
      |SELECT token, tf, (tf * 1000000) // (SELECT n FROM tot) AS share_ppm
      |FROM cnt WHERE tf * 64 > (SELECT n FROM tot)
      |ORDER BY tf DESC, token""".stripMargin

  /** Synchronous rounds of deterministic label propagation. */
  private val LpaRounds = 4

  /** Label-propagation communities over the doc graph — the scalable
    * community-detection pass (coarser than connected components, finer
    * than nothing) a dedup/graph pipeline uses to group related docs.
    * LPA is classically nondeterministic (random update order, random
    * tie-breaks); this is the derandomized synchronous form: every round,
    * every vertex simultaneously adopts the most frequent label among its
    * neighbours, ties broken by the SMALLEST label, for a fixed
    * [[LpaRounds]] rounds. That makes the result a pure function of the
    * graph — the oracle replays the identical rounds as unrolled CTEs.
    * Per round: one join (labels onto the symmetric edge list, shuffled
    * on vertex id), one count aggregate, one vertex-partitioned
    * row_number — no global window, no driver state; the same
    * per-iteration shape as PageRank. */
  private val lpaCommunities: Q = (s, dir) => {
    val edges = docEdges(s, dir)
    val nbrs = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
      .transform(Materialize.checkpoint)
    var labels = nbrs.select(col("u").as("id")).distinct()
      .withColumn("lbl", col("id")).transform(Materialize.checkpoint)
    val w = Window.partitionBy("u").orderBy(desc("c"), col("lbl"))
    for (_ <- 1 to LpaRounds) {
      val pick = nbrs
        .join(labels.withColumnRenamed("id", "v"), "v")
        .groupBy("u", "lbl").agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("u").as("id"), col("lbl").as("newLbl"))
      labels = labels.join(pick, Seq("id"), "left")
        .select(col("id"), coalesce(col("newLbl"), col("lbl")).as("lbl"))
        .transform(Materialize.checkpoint)
    }
    labels.select(col("id").as("doc_id"), col("lbl").as("community"))
      .orderBy("doc_id")
  }

  private val lpaCommunitiesSql = {
    def round(i: Int) =
      s"""c$i AS (
         |  SELECT nb.u, l${i - 1}.lbl, COUNT(*) AS c
         |  FROM nb JOIN l${i - 1} ON l${i - 1}.id = nb.v GROUP BY 1, 2
         |), p$i AS (
         |  SELECT u, lbl,
         |    row_number() OVER (PARTITION BY u ORDER BY c DESC, lbl) AS rk
         |  FROM c$i
         |), l$i AS (
         |  SELECT l${i - 1}.id, COALESCE(p.lbl, l${i - 1}.lbl) AS lbl
         |  FROM l${i - 1} LEFT JOIN (SELECT u, lbl FROM p$i WHERE rk = 1) p
         |    ON p.u = l${i - 1}.id
         |)""".stripMargin
    s"""WITH $docEdgesCte, nb AS (
       |  SELECT u, v FROM e UNION ALL SELECT v, u FROM e
       |), l0 AS (
       |  SELECT DISTINCT u AS id, u AS lbl FROM nb
       |), ${(1 to LpaRounds).map(round).mkString(", ")}
       |SELECT id AS doc_id, CAST(lbl AS BIGINT) AS community
       |FROM l$LpaRounds ORDER BY id""".stripMargin
  }

  /** Wedge centers above this degree are skipped in [[adamicAdar]]. The
    * cap is the hub guard that makes link prediction runnable on power-law
    * graphs: a celebrity center of degree d would emit d² candidate pairs,
    * yet its Adamic–Adar contribution is only 1/ln(d) per pair — standard
    * practice drops hubs because they carry near-zero signal at quadratic
    * cost. With the cap the pair step is bounded by m·DegCap total and no
    * single key explodes. */
  private val DegCap = 64

  /** Adamic–Adar link prediction over the doc graph: score every
    * non-adjacent pair (u, v) by Σ_{w ∈ N(u)∩N(v)} 1/ln(deg(w)) and emit
    * the top-100 predicted links. Distributed shape: adjacency is the
    * undirected expansion of the canonical edge list; the only superlinear
    * step is the per-center neighbor pairing, bounded by [[DegCap]]²·nodes
    * (see the cap's scaladoc); candidate scores aggregate BEFORE the
    * existing-edge anti-join so the join sees one row per pair, and the
    * top-100 compiles to TakeOrderedAndProject (per-partition heaps, no
    * global sort). Numeric parity: each center's term is quantized to a
    * fixed-point long round(1e12/ln(deg)) so the per-pair sum is exact
    * integer arithmetic — order-independent and bit-identical across
    * engines; ordering ties break on the exact fx then (u, v). */
  private[graft] def adamicAdarScores(edges: DataFrame, degCap: Int,
                                      k: Int): DataFrame = {
    val adj = edges.select(col("u").as("node"), col("v").as("nbr"))
      .union(edges.select(col("v").as("node"), col("u").as("nbr")))
    val deg = adj.groupBy("node").agg(count(lit(1)).as("deg"))
    val centers = deg.filter(col("deg").between(2, degCap))
      .select(col("node"),
        round(lit(1e12) / log(col("deg").cast("double")), 0)
          .cast("long").as("term"))
    val cadj = adj.join(centers, "node")
    val pairs = cadj.as("a").join(cadj.as("b"),
        col("a.node") === col("b.node") && col("a.nbr") < col("b.nbr"))
      .select(col("a.nbr").as("u"), col("b.nbr").as("v"),
        col("a.term").as("term"))
    pairs.groupBy("u", "v")
      .agg(count(lit(1)).as("common_nbrs"), sum(col("term")).as("fx"))
      .join(edges, Seq("u", "v"), "left_anti")
      .select(col("u"), col("v"), col("common_nbrs"),
        round(col("fx").cast("double") / lit(1e12), 6).as("aa_score"),
        col("fx"))
      .orderBy(col("fx").desc, col("u"), col("v"))
      .limit(k)
      .drop("fx")
  }

  private val adamicAdar: Q = (s, dir) =>
    adamicAdarScores(docEdges(s, dir), DegCap, k = 100)

  private val adamicAdarSql =
    s"""WITH $docEdgesCte, adj AS (
       |  SELECT u AS node, v AS nbr FROM e
       |  UNION ALL
       |  SELECT v AS node, u AS nbr FROM e
       |), deg AS (
       |  SELECT node, COUNT(*) AS deg FROM adj GROUP BY 1
       |), centers AS (
       |  SELECT node,
       |    CAST(ROUND(1.0e12 / LN(CAST(deg AS DOUBLE)), 0) AS BIGINT) AS term
       |  FROM deg WHERE deg BETWEEN 2 AND $DegCap
       |), cadj AS (
       |  SELECT a.node, a.nbr, c.term FROM adj a JOIN centers c ON c.node = a.node
       |), agg AS (
       |  SELECT a.nbr AS u, b.nbr AS v, COUNT(*) AS common_nbrs,
       |    CAST(SUM(a.term) AS BIGINT) AS fx
       |  FROM cadj a JOIN cadj b ON a.node = b.node AND a.nbr < b.nbr
       |  GROUP BY 1, 2
       |)
       |SELECT agg.u, agg.v, agg.common_nbrs,
       |  ROUND(CAST(agg.fx AS DOUBLE) / 1.0e12, 6) AS aa_score
       |FROM agg LEFT JOIN e ON e.u = agg.u AND e.v = agg.v
       |WHERE e.u IS NULL
       |ORDER BY agg.fx DESC, agg.u, agg.v LIMIT 100""".stripMargin

  /** HITS hubs and authorities on the DIRECTED doc chain (u→u+1, u→u+2
    * within each 50-block — [[docEdges]] without symmetrization), 3
    * unrolled iterations via [[graft.analytics.Hits]]. Block sources
    * (positions 0-1) have authority pulled only from upstream hubs;
    * block sinks (positions 48-49) cite nothing and get hub 0 — the
    * asymmetry PageRank's symmetrized chain can't express. The oracle
    * unrolls the identical decimal-exact pull/normalize steps. */
  private val hits: Q = (s, dir) =>
    hitsOver(Tables.documents(s, dir))

  /** [[hits]] over a caller-chosen documents frame — the `q_hits_probe`
    * entry point ([[Probes]]): the L2 normalization is a GLOBAL scalar,
    * so no output filter is sound; a deterministic sub-corpus of whole
    * 50-blocks re-derives components, pulls, and norms identically on
    * both engines (the `pipeline_passage_graph_probe` pattern). */
  private[queries] def hitsOver(docs: DataFrame): DataFrame = {
    val edges = docEdgesFrom(docs.select(col("doc_id")))
      .select(col("u").as("src"), col("v").as("dst"))
    graft.analytics.Hits.run(edges, iters = 3)
      .select(col("id").as("doc_id"), col("hub"), col("auth"))
      .orderBy("doc_id")
  }

  private val hitsSql = hitsSqlOver("")

  /** [[hitsSql]] with an optional documents restriction pushed into a
    * leading `d` CTE — the probe twin's slot; with an empty predicate the
    * text is row-identical to the historical full twin (`d` is just
    * `documents`' ids). */
  private[queries] def hitsSqlOver(docPred: String): String = {
    // one decimal-exact pull along from→to over the previous score CTE,
    // then L2-normalize by a 1-row scalar — mirrors Hits.pull bit-for-bit
    def pull(prev: String, from: String, to: String, out: String) =
      s"""r_$out AS MATERIALIZED (
         |  SELECT n.id, COALESCE(s.raw, CAST(0 AS DOUBLE)) AS raw
         |  FROM n LEFT JOIN (
         |    SELECT ed.$to AS id,
         |      CAST(CAST(SUM(CAST(p.s AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS raw
         |    FROM ed JOIN $prev p ON ed.$from = p.id GROUP BY 1) s
         |    ON n.id = s.id
         |),
         |$out AS MATERIALIZED (
         |  SELECT id, raw / (SELECT sqrt(CAST(CAST(SUM(CAST(raw * raw
         |    AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)) FROM r_$out) AS s
         |  FROM r_$out
         |)""".stripMargin
    val where = if (docPred.isEmpty) "" else s" WHERE $docPred"
    s"""WITH d AS (SELECT doc_id FROM documents$where),
       |e AS (
       |  SELECT a.doc_id AS u, b.doc_id AS v FROM d a
       |  JOIN d b ON b.doc_id = a.doc_id + 1 WHERE a.doc_id % 50 <= 48
       |  UNION ALL
       |  SELECT a.doc_id AS u, b.doc_id AS v FROM d a
       |  JOIN d b ON b.doc_id = a.doc_id + 2 WHERE a.doc_id % 50 <= 47
       |), ed AS (SELECT u AS src, v AS dst FROM e),
       |n AS (
       |  SELECT DISTINCT id FROM (
       |    SELECT src AS id FROM ed UNION ALL SELECT dst FROM ed)
       |), h0 AS (SELECT id, CAST(1 AS DOUBLE) AS s FROM n),
       |${pull("h0", "src", "dst", "a1")},
       |${pull("a1", "dst", "src", "h1")},
       |${pull("h1", "src", "dst", "a2")},
       |${pull("a2", "dst", "src", "h2")},
       |${pull("h2", "src", "dst", "a3")},
       |${pull("a3", "dst", "src", "h3")}
       |SELECT n.id AS doc_id, h3.s AS hub, a3.s AS auth
       |FROM n JOIN h3 ON h3.id = n.id JOIN a3 ON a3.id = n.id
       |ORDER BY doc_id""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q_triangles", triangles, trianglesSql),
    Entry("q_lpa_communities", lpaCommunities, lpaCommunitiesSql),
    Entry("q_adamic_adar", adamicAdar, adamicAdarSql),
    Entry("text_heavy_hitters", heavyHitters, heavyHittersSql),
    Entry("q_hits", hits, hitsSql),
  )
}
