package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize

/** Round-8 continuation batch: k-hop BFS reach, association rules,
  * k-anonymity generalization, and seeded-Laplace DP counts — four more
  * first-class pipeline screens over the driver tables, each with a
  * DuckDB twin that evaluates by a different strategy than the engine
  * (recursive CTE vs iterative join; direct SQL vs staged frames), so
  * the hash gate cross-checks semantics rather than echoing the plan.
  */
object Relational6 {
  /** k-hop reach profile of the doc graph from the block-head seed set —
    * multi-source BFS ([[graft.analytics.Bfs]]) bounded at 8 hops, then a
    * histogram of min-hop distances with -1 = "outside the 8-hop
    * neighbourhood". The within-k-hops contract is the shape that
    * survives 100 TB (unbounded BFS is a diameter-length job chain); the
    * oracle twin walks the same graph with a depth-limited recursive CTE
    * whose UNION-dedup bounds the walk at one row per (node, depth). */
  private val bfsReach: Q = (s, dir) => {
    val edges = Relational4.docEdges(s, dir)
    val nbrs = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val sources = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("id"))
    val d = graft.analytics.Bfs.run(nbrs, sources, maxHops = 8)
    docs.join(d, docs("doc_id") === d("id"), "left")
      .select(coalesce(col("dist"), lit(-1)).as("dist"))
      .groupBy("dist").agg(count(lit(1)).as("n_docs"))
      .orderBy("dist")
  }

  private val bfsReachSql =
    s"""WITH RECURSIVE ${Relational4.docEdgesCte}, nbr AS (
       |  SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
       |), walk AS (
       |  SELECT doc_id, 0 AS d FROM documents WHERE doc_id % 50 = 0
       |  UNION
       |  SELECT nbr.v AS doc_id, walk.d + 1 AS d
       |  FROM walk JOIN nbr ON nbr.u = walk.doc_id WHERE walk.d < 8
       |), md AS (SELECT doc_id, MIN(d) AS dist FROM walk GROUP BY 1)
       |SELECT CAST(COALESCE(md.dist, -1) AS INTEGER) AS dist,
       |  COUNT(*) AS n_docs
       |FROM documents LEFT JOIN md USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Iterated-H-index coreness bound over the doc graph — the k-core
    * screen in its bounded-round form: c₀ = degree, c_{r+1}(v) = H-index
    * of {c_r(u) : u ∈ N(v)}. The sequence is monotone non-increasing and
    * converges to the true coreness (Lü, Zhou, Zhang & Stanley, "The
    * H-index of a network node", Nat. Commun. 2016); a FIXED round count
    * is the form that ships at 100 TB — exact peeling is a
    * graph-diameter-length job chain, while each H round here is one
    * keyed join + one node-partitioned window + one grouped max, all
    * sharded by node id (per-node frames are degree-sized; a celebrity
    * vertex would call for the two-phase top-k noted in
    * `ProductQuantization`'s scaladoc). After R=4 rounds the value is a
    * proven UPPER bound on coreness, already exact for most nodes
    * (`AnalyticsSpec` pins bound + monotonicity against driver-side
    * peeling); the twin unrolls the identical four rounds. H-index per
    * node = max(least(rank, value)) over neighbors ranked by value desc
    * — deterministic under ties because the ranked VALUE sequence is.
    *
    * An edge list of at most `driverFinishRows` rows ([[DriverFinishRows]])
    * is collected once and the same algebra runs on the driver
    * ([[kcoreLocal]]); tests pass 0 to force the distributed rounds.
    * Above the bound the gate's limited collect is extra work: docEdges
    * runs once under the limit and again for the checkpoint. */
  private[graft] def kcoreHindex(s: SparkSession, dir: String,
      driverFinishRows: Long = DriverFinishRows): DataFrame = {
    val edges = Relational4.docEdges(s, dir)
    collectAtMost(edges, driverFinishRows) match {
      case Some(rows) =>
        kcoreLocal(s, rows.map(r => (r.getLong(0), r.getLong(1))))
      // checkpointed once: the degree aggregate and all four rounds embed
      // the neighbour list, and each copy would re-plan docEdges' two
      // self-joins of `documents` (plan leaves 48 -> 12 for the analyzer,
      // the optimizer and AQE's re-planning between stages)
      case None => kcoreRounds(edges.transform(Materialize.checkpoint))
    }
  }

  /** [[kcoreHindex]]'s distributed rounds over the (u, v) edge list. */
  private def kcoreRounds(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nbrs = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
    val degree = nbrs.groupBy(col("u").as("id"))
      .agg(count(lit(1)).cast("int").as("c"))
    var core = degree
    for (_ <- 1 to 4) {
      val j = nbrs.join(core, nbrs("v") === core("id"))
        .select(nbrs("u").as("id"), col("c"), nbrs("v").as("nbr"))
      val w = Window.partitionBy("id").orderBy(desc("c"), col("nbr"))
      core = j.withColumn("rk", row_number().over(w))
        .groupBy("id")
        .agg(max(least(col("rk"), col("c"))).cast("int").as("c"))
    }
    degree.select(col("id").as("doc_id"), col("c").as("degree"))
      .join(core.select(col("id").as("doc_id"), col("c").as("coreness")),
        "doc_id")
      .orderBy("doc_id")
  }

  /** [[kcoreHindex]]'s rounds on the driver over the collected (u, v)
    * edges. The neighbour list is the same multiset (a duplicate edge
    * stays a duplicate neighbour), and the node set is the same (every node
    * with an edge). Ranking by (c desc, nbr asc) and taking
    * max(least(rk, c)) depends only on the sorted value sequence, so each
    * round sorts a node's neighbour values descending. Rows come out in
    * doc_id order, so the write runs no sort. */
  private def kcoreLocal(s: SparkSession, edges: Array[(Long, Long)])
      : DataFrame = {
    val nbrs = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
    val degree = nbrs.map { case (u, vs) => u -> vs.length }
    var core = degree
    for (_ <- 1 to 4) {
      val prev = core
      core = nbrs.map { case (u, vs) =>
        val cs = vs.map(prev).sorted(Ordering.Int.reverse)
        u -> cs.indices.foldLeft(0)((h, i) =>
          math.max(h, math.min(i + 1, cs(i))))
      }
    }
    import s.implicits._
    degree.keys.toSeq.sorted.map(id => (id, degree(id), core(id)))
      .toDF("doc_id", "degree", "coreness")
  }

  private val kcoreHindexSql = {
    def round(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT id, CAST(MAX(LEAST(rk, c)) AS INTEGER) AS c FROM (
         |    SELECT nbr.u AS id, p.c,
         |      ROW_NUMBER() OVER (PARTITION BY nbr.u
         |        ORDER BY p.c DESC, nbr.v) AS rk
         |    FROM nbr JOIN $prev p ON p.id = nbr.v
         |  ) GROUP BY 1
         |)""".stripMargin
    s"""WITH ${Relational4.docEdgesCte}, nbr AS (
       |  SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
       |), c0 AS (
       |  SELECT u AS id, CAST(COUNT(*) AS INTEGER) AS c FROM nbr GROUP BY 1
       |), ${round("c0", "c1")}, ${round("c1", "c2")},
       |${round("c2", "c3")}, ${round("c3", "c4")}
       |SELECT c0.id AS doc_id, c0.c AS degree, c4.c AS coreness
       |FROM c0 JOIN c4 ON c4.id = c0.id
       |ORDER BY doc_id""".stripMargin
  }

  /** Pairwise association rules over order baskets (basket = order,
    * item = part brand): support / confidence / lift for every brand
    * pair clearing 0.5% support. The quadratic step is bounded by the
    * per-basket item count (≤ lineitems per order), never by the catalog
    * — the same block-capped shape as `dedup_fuzzy_bounded` — and the
    * support threshold is the exact integer compare cab·200 ≥ n, so the
    * cut is hash-stable. Basket count rides along as a broadcast 1-row
    * frame; the only floats are three divisions + round(·, 6), written
    * in the same IEEE order as the twin. */
  private val assocRules: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
    val pt = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
    // Basket = the order's DISTINCT brand set, built as ONE per-oid
    // collect_set aggregate and checkpointed. The previous (oid, item)
    // DISTINCT row frame fed four differently-shaped branches (basket
    // count, item counts, both self-join sides): ReuseExchange shared its
    // exchange, but every branch re-ran the final dedup aggregate over it,
    // and the pair branch paid a sort-merge self-join on top (an explicit
    // persist of that ROW-form frame was tried in r13 and measured pure
    // overhead, 2.29 s → 2.63 s at sf0.1 — the array form materializes
    // one row per ORDER instead, ~6× fewer rows, and kills the re-agg).
    // Pairs now explode from the basket array (quadratic step still
    // bounded by the per-basket item count, never the catalog), so
    // cab / ca / n are the identical counts: collect_set IS the per-oid
    // distinct, and ia < ib over exploded distinct items enumerates
    // exactly the self-join's pair set once each.
    val baskets = li.join(pt, li("l_partkey") === pt("p_partkey"))
      .select(col("l_orderkey").as("oid"), col("p_brand").as("item"))
      .groupBy("oid").agg(collect_set(col("item")).as("items"))
      .transform(Materialize.checkpoint)
    val n = baskets.agg(count(lit(1)).as("n"))
    val itemCnt = baskets.select(explode(col("items")).as("item"))
      .groupBy("item").agg(count(lit(1)).as("ci"))
    val pairs = baskets
      .select(explode(col("items")).as("ia"), col("items"))
      .select(col("ia"), explode(col("items")).as("ib"))
      .filter(col("ia") < col("ib"))
      .groupBy("ia", "ib")
      .agg(count(lit(1)).as("cab"))
    pairs
      .join(broadcast(itemCnt.select(col("item").as("ia"), col("ci").as("ca"))), "ia")
      .join(broadcast(itemCnt.select(col("item").as("ib"), col("ci").as("cb"))), "ib")
      .crossJoin(broadcast(n))
      .filter(col("cab") * 200 >= col("n"))
      .select(col("ia"), col("ib"), col("cab"),
        round(col("cab").cast("double") / col("n"), 6).as("support"),
        round(col("cab").cast("double") / col("ca"), 6).as("confidence"),
        round(col("cab").cast("double") * col("n") / col("ca") / col("cb"), 6)
          .as("lift"))
      .orderBy("ia", "ib")
  }

  private val assocRulesSql =
    """WITH b AS (
      |  SELECT DISTINCT l_orderkey AS oid, p_brand AS item
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |), nn AS (SELECT COUNT(DISTINCT oid) AS n FROM b),
      |ic AS (SELECT item, COUNT(*) AS ci FROM b GROUP BY 1),
      |pc AS (
      |  SELECT a.item AS ia, bb.item AS ib, COUNT(*) AS cab
      |  FROM b a JOIN b bb ON bb.oid = a.oid AND a.item < bb.item
      |  GROUP BY 1, 2
      |)
      |SELECT ia, ib, cab,
      |  ROUND(CAST(cab AS DOUBLE) / n, 6) AS support,
      |  ROUND(CAST(cab AS DOUBLE) / ca.ci, 6) AS confidence,
      |  ROUND(CAST(cab AS DOUBLE) * n / ca.ci / cb.ci, 6) AS lift
      |FROM pc
      |JOIN ic ca ON ca.item = pc.ia
      |JOIN ic cb ON cb.item = pc.ib
      |CROSS JOIN nn
      |WHERE cab * 200 >= n
      |ORDER BY ia, ib""".stripMargin

  /** k-anonymity generalization ladder over the customer quasi-identifier
    * (nation, segment): a bucket publishing fewer than k=5 customers is
    * generalized one level up the taxonomy to (region, segment); a
    * level-1 bucket still under k is suppressed. Output is the published
    * bucket table — level, bucket key, size — i.e. the anonymization
    * DECISION, not just the violation flag; the privacy screen a
    * training-data release pipeline runs before shipping grouped stats.
    * Two grouped counts + one broadcast taxonomy join; no row-level
    * shuffle beyond the first groupBy. */
  private val kAnonymity: Q = (s, dir) => {
    val k = 5
    val cust = Tables.customer(s, dir)
    val nat = Tables.nation(s, dir)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val reg = Tables.region(s, dir).select(col("r_regionkey"), col("r_name"))
    val taxo = broadcast(nat.join(broadcast(reg),
      nat("n_regionkey") === reg("r_regionkey")))
    val l0 = cust.groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      .join(taxo, col("c_nationkey") === col("n_nationkey"))
    val pass0 = l0.filter(col("n") >= k)
      .select(lit(0).as("level"),
        concat(col("n_name"), lit("|"), col("c_mktsegment")).as("bucket"),
        col("n"))
    val promoted = l0.filter(col("n") < k)
    val l1 = promoted.groupBy(col("r_name"), col("c_mktsegment"))
      .agg(sum(col("n")).as("n"))
    val pass1 = l1.filter(col("n") >= k)
      .select(lit(1).as("level"),
        concat(col("r_name"), lit("|"), col("c_mktsegment")).as("bucket"),
        col("n"))
    val suppressed = l1.filter(col("n") < k)
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"))
      .select(lit(2).as("level"), lit("*suppressed*").as("bucket"), col("n"))
    pass0.select(col("level"), col("bucket"), col("n").cast("long").as("n"))
      .unionByName(pass1.select(col("level"), col("bucket"),
        col("n").cast("long").as("n")))
      .unionByName(suppressed)
      .orderBy("level", "bucket")
  }

  private val kAnonymitySql =
    """WITH l0 AS (
      |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
      |  FROM customer GROUP BY 1, 2
      |), t AS (
      |  SELECT l0.*, n_name, r_name
      |  FROM l0 JOIN nation ON n_nationkey = c_nationkey
      |  JOIN region ON r_regionkey = n_regionkey
      |), pass0 AS (
      |  SELECT 0 AS level, n_name || '|' || c_mktsegment AS bucket,
      |    CAST(n AS BIGINT) AS n
      |  FROM t WHERE n >= 5
      |), l1 AS (
      |  SELECT r_name, c_mktsegment, SUM(n) AS n FROM t WHERE n < 5
      |  GROUP BY 1, 2
      |), pass1 AS (
      |  SELECT 1 AS level, r_name || '|' || c_mktsegment AS bucket,
      |    CAST(n AS BIGINT) AS n
      |  FROM l1 WHERE n >= 5
      |), supp AS (
      |  SELECT 2 AS level, '*suppressed*' AS bucket,
      |    CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n
      |  FROM l1 WHERE n < 5
      |)
      |SELECT * FROM pass0 UNION ALL SELECT * FROM pass1
      |UNION ALL SELECT * FROM supp
      |ORDER BY level, bucket""".stripMargin

  /** Mutual information between event_type and hour-of-day — the
    * information-theoretic dependence screen (feature selection /
    * leakage detection: "does the label leak into the timestamp?"),
    * beside the distributional A/B trio (KS/t/U) and `q_chi2`. All
    * counts are exact; each plug-in term (c_xy/n)·ln(c_xy·n/(c_x·c_y))
    * is one double expression written in the same IEEE order as the
    * twin, and the term SUMS go through [[Num.dsum]] so they are
    * order-independent — the engine's partial aggregation and DuckDB's
    * single-node scan land on the identical bits. The grid is
    * |types|×24 rows post-aggregation; everything before it is one hash
    * aggregate per marginal. NMI = MI / min(H_x, H_y). */
  private val mutualInfo: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("event_type").as("x"), hour(col("ts")).as("y"))
    val n = ev.agg(count(lit(1)).as("n"))
    val cxy = ev.groupBy("x", "y").agg(count(lit(1)).as("cxy"))
    val cx = ev.groupBy("x").agg(count(lit(1)).as("cx"))
    val cy = ev.groupBy("y").agg(count(lit(1)).as("cy"))
    val miT = (col("cxy").cast("double") / col("n")) *
      log((col("cxy").cast("double") * col("n")) /
        (col("cx").cast("double") * col("cy")))
    val mi = cxy.join(broadcast(cx), "x").join(broadcast(cy), "y")
      .crossJoin(broadcast(n))
      .agg(Num.dsum(miT, 12).as("mi"))
    def entropy(cdf: DataFrame, c: String, out: String) = {
      val t = -(col(c).cast("double") / col("n")) *
        log(col(c).cast("double") / col("n"))
      cdf.crossJoin(broadcast(n)).agg(Num.dsum(t, 12).as(out))
    }
    entropy(cx, "cx", "hx").crossJoin(entropy(cy, "cy", "hy"))
      .crossJoin(mi).crossJoin(broadcast(n))
      .select(col("n"), round(col("hx"), 6).as("h_type"),
        round(col("hy"), 6).as("h_hour"),
        round(col("mi"), 6).as("mi"),
        round(col("mi") / least(col("hx"), col("hy")), 6).as("nmi"))
  }

  private val mutualInfoSql =
    """WITH ev AS (
      |  SELECT event_type AS x, EXTRACT(hour FROM ts) AS y FROM events
      |), nn AS (SELECT COUNT(*) AS n FROM ev),
      |c AS (SELECT x, y, COUNT(*) AS cxy FROM ev GROUP BY 1, 2),
      |mx AS (SELECT x, COUNT(*) AS cx FROM ev GROUP BY 1),
      |my AS (SELECT y, COUNT(*) AS cy FROM ev GROUP BY 1),
      |mi AS (
      |  SELECT CAST(CAST(SUM(CAST((CAST(cxy AS DOUBLE) / n)
      |    * ln((CAST(cxy AS DOUBLE) * n) / (CAST(cx AS DOUBLE) * cy))
      |    AS DECIMAL(38, 12))) AS VARCHAR) AS DOUBLE) AS mi
      |  FROM c JOIN mx USING (x) JOIN my USING (y) CROSS JOIN nn
      |), hx AS (
      |  SELECT CAST(CAST(SUM(CAST(-(CAST(cx AS DOUBLE) / n)
      |    * ln(CAST(cx AS DOUBLE) / n) AS DECIMAL(38, 12))) AS VARCHAR) AS DOUBLE) AS hx
      |  FROM mx CROSS JOIN nn
      |), hy AS (
      |  SELECT CAST(CAST(SUM(CAST(-(CAST(cy AS DOUBLE) / n)
      |    * ln(CAST(cy AS DOUBLE) / n) AS DECIMAL(38, 12))) AS VARCHAR) AS DOUBLE) AS hy
      |  FROM my CROSS JOIN nn
      |)
      |SELECT n, ROUND(hx, 6) AS h_type, ROUND(hy, 6) AS h_hour,
      |  ROUND(mi, 6) AS mi, ROUND(mi / LEAST(hx, hy), 6) AS nmi
      |FROM nn CROSS JOIN hx CROSS JOIN hy CROSS JOIN mi""".stripMargin

  /** Differentially-private event-type counts via seeded inverse-CDF
    * Laplace noise (ε=1, sensitivity 1): u = first 32 md5 bits of the
    * group key mapped to [0,1), noise = ±ln(1−2|u−½|) — deterministic,
    * so the release is reproducible AND the DuckDB twin computes the
    * identical noise (the md5-uniform trick every graft sketch uses;
    * a production release would swap the seed hash for a secret-keyed
    * one, which changes nothing structurally). The true counts ride
    * along for the demo; one hash aggregate, noise applied post-agg to
    * ONE row per group. */
  private val dpCounts: Q = (s, dir) => {
    // half-open offset (h+0.5)/2^32 as in q_weighted_sample/q_bootstrap_ci:
    // u=0 would make noise = ln(0) = -Inf for a group whose first 8 md5 hex
    // digits are all zero, deterministically breaking its released count.
    val u = (conv(substring(md5(concat(lit("dp|"), col("event_type"))), 1, 8),
      16, 10).cast("long").cast("double") + lit(0.5)) / lit(4294967296.0)
    val c = u - lit(0.5)
    val noise = when(c < 0, log(lit(1.0) + lit(2.0) * c))
      .otherwise(-log(lit(1.0) - lit(2.0) * c))
    Tables.events(s, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("exact_n"))
      .select(col("event_type"), col("exact_n"),
        round(col("exact_n") + noise, 2).as("dp_n"),
        lit(1.0).as("epsilon"))
      .orderBy("event_type")
  }

  private val dpCountsSql =
    """WITH g AS (
      |  SELECT event_type, COUNT(*) AS exact_n FROM events GROUP BY 1
      |), u AS (
      |  SELECT event_type, exact_n,
      |    (CAST(list_sum(list_transform(range(1, 9), p ->
      |      (strpos('0123456789abcdef',
      |        substr(md5('dp|' || event_type), CAST(p AS INTEGER), 1)) - 1)
      |      * power(16, 8 - p))) AS BIGINT) + 0.5) / 4294967296.0 - 0.5 AS c
      |  FROM g
      |)
      |SELECT event_type, exact_n,
      |  ROUND(exact_n + CASE WHEN c < 0 THEN ln(1.0 + 2.0 * c)
      |    ELSE -ln(1.0 - 2.0 * c) END, 2) AS dp_n,
      |  1.0 AS epsilon
      |FROM u ORDER BY event_type""".stripMargin

  /** One-pass Pearson correlation matrix over the lineitem numeric
    * columns — the feature-screening grid: ONE scan computes every
    * moment (4 sums, 4 sum-of-squares, 6 cross-products) decimal-exact
    * via [[Num.dsum]], then the 6 pairwise r values unfold from the
    * 1-row moment frame with `explode` (no re-scan per pair). Products
    * are formed in double first — the identical IEEE multiply in both
    * engines — and only the SUMS need order independence. */
  private val corrMatrix: Q = (s, dir) => {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    // spread the projected 4-double frame: the 14 decimal-exact moment
    // sums are the cost, and the single-split scan pinned them to one core
    // (r13 profile: 3.1 s in one task); the spread shuffle carries ~32
    // bytes/row and the partial aggregates then run at full parallelism
    val li = Tables.spread(Tables.lineitem(s, dir)
      .select(cols.map(col): _*))
    val aggs = Seq(count(lit(1)).as("n")) ++
      cols.map(c => Num.dsum(col(c), 6).as(s"s_$c")) ++
      cols.map(c => Num.dsum(col(c) * col(c), 6).as(s"ss_$c")) ++
      (for { i <- cols.indices; j <- cols.indices if i < j }
        yield Num.dsum(col(cols(i)) * col(cols(j)), 6)
          .as(s"sp_${cols(i)}_${cols(j)}"))
    val m = li.agg(aggs.head, aggs.tail: _*)
    val pairs = for { i <- cols.indices; j <- cols.indices if i < j } yield {
      val (a, b) = (cols(i), cols(j))
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        round((col("n") * col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b")) /
          (sqrt(col("n") * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")) *
            sqrt(col("n") * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b"))), 6)
          .as("corr"))
    }
    m.select(explode(array(pairs: _*)).as("p"))
      .select(col("p.col_a"), col("p.col_b"), col("p.corr"))
      .orderBy("col_a", "col_b")
  }

  private val corrMatrixSql = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val moments =
      (cols.map(c => s"CAST(CAST(SUM(CAST($c AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS s_$c") ++
        cols.map(c =>
          s"CAST(CAST(SUM(CAST($c * $c AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS ss_$c") ++
        (for { i <- cols.indices; j <- cols.indices if i < j } yield
          s"CAST(CAST(SUM(CAST(${cols(i)} * ${cols(j)} AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)" +
            s" AS sp_${cols(i)}_${cols(j)}")).mkString(",\n  ")
    val rows = (for { i <- cols.indices; j <- cols.indices if i < j } yield {
      val (a, b) = (cols(i), cols(j))
      s"""SELECT '$a' AS col_a, '$b' AS col_b,
         |  ROUND((n * sp_${a}_$b - s_$a * s_$b)
         |    / (SQRT(n * ss_$a - s_$a * s_$a)
         |      * SQRT(n * ss_$b - s_$b * s_$b)), 6) AS corr FROM m"""
        .stripMargin
    }).mkString("\nUNION ALL\n")
    s"WITH m AS (SELECT COUNT(*) AS n,\n  $moments\nFROM lineitem)\n" +
      rows + "\nORDER BY col_a, col_b"
  }

  /** Efraimidis–Spirakis weighted sampling without replacement: top-5 per
    * event_type by the exponential key −ln(u)/w (u = seeded md5-uniform
    * of the event id, w = the row's value), the weighted analogue of the
    * md5-threshold samplers (`q_hash_split`, `q_temp_sample`) — P(first
    * pick = i) = wᵢ/Σw, the standard A-ES result. Keys are ROUNDED to 6
    * dp BEFORE ranking with an id tie-break (the PMI trick) so a 1-ulp
    * ln() divergence can never reorder the engines. The engine ranks in
    * two phases — per-scan-partition top-5, then the tiny survivor set —
    * so no event_type ever funnels its full row set through one task;
    * the oracle ranks globally (different strategy, same rows). */
  private val weightedSample: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir).filter(col("value") > 0)
    val u = (conv(substring(md5(concat(lit("ws|"),
      col("event_id").cast("string"))), 1, 8), 16, 10)
      .cast("long").cast("double") + lit(0.5)) / lit(4294967296.0)
    val keyed = ev.select(col("event_type"), col("event_id"), col("value"),
      round(-log(u) / col("value"), 6).as("k"))
    val local = keyed.withColumn("pid", spark_partition_id())
      .withColumn("lrk", row_number().over(
        Window.partitionBy("event_type", "pid")
          .orderBy(col("k"), col("event_id"))))
      .filter(col("lrk") <= 5).drop("pid", "lrk")
    local.withColumn("rk", row_number().over(
        Window.partitionBy("event_type").orderBy(col("k"), col("event_id"))))
      .filter(col("rk") <= 5)
      .select(col("event_type"), col("rk"), col("event_id"), col("value"))
      .orderBy("event_type", "rk")
  }

  private val weightedSampleSql =
    """WITH e AS (
      |  SELECT event_type, event_id, value,
      |    ROUND(-ln((CAST(list_sum(list_transform(range(1, 9), p ->
      |      (strpos('0123456789abcdef', substr(md5('ws|' ||
      |        CAST(event_id AS VARCHAR)), CAST(p AS INTEGER), 1)) - 1)
      |      * power(16, 8 - p))) AS BIGINT) + 0.5) / 4294967296.0)
      |      / value, 6) AS k
      |  FROM events WHERE value > 0
      |), r AS (
      |  SELECT event_type, event_id, value, k,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY k, event_id) AS rk
      |  FROM e
      |)
      |SELECT event_type, CAST(rk AS INTEGER) AS rk, event_id, value
      |FROM r WHERE rk <= 5 ORDER BY event_type, rk""".stripMargin

  /** Referential-integrity screen: orphan counts for every FK edge of
    * the star schema in one union frame (the dbt-style test a warehouse
    * load runs before publishing). Each edge is one broadcast/shuffled
    * LEFT ANTI count — integer-exact, no floats anywhere; ppm rate uses
    * integer arithmetic so the screen hashes identically at any scale.
    * The fixture is referentially clean, so every row reads 0 orphans —
    * the point is the SHAPE (the screen must be cheap enough to run on
    * every load; the spec plants violations to prove detection). */
  private val fkOrphans: Q = (s, dir) => {
    import graft.analytics.Integrity.{orphanEdge => edge}
    val li = Tables.lineitem(s, dir)
    Seq(
      edge("lineitem->orders", li, "l_orderkey",
        Tables.orders(s, dir), "o_orderkey"),
      edge("lineitem->part", li, "l_partkey",
        Tables.part(s, dir), "p_partkey"),
      edge("lineitem->supplier", li, "l_suppkey",
        Tables.supplier(s, dir), "s_suppkey"),
      edge("orders->customer", Tables.orders(s, dir), "o_custkey",
        Tables.customer(s, dir), "c_custkey"),
      edge("customer->nation", Tables.customer(s, dir), "c_nationkey",
        Tables.nation(s, dir), "n_nationkey"),
      edge("nation->region", Tables.nation(s, dir), "n_regionkey",
        Tables.region(s, dir), "r_regionkey"))
      .reduce(_ unionByName _)
      .orderBy("fk")
  }

  private val fkOrphansSql = {
    def edge(name: String, fact: String, fk: String,
             dim: String, pk: String): String =
      s"""SELECT '$name' AS fk,
         |  (SELECT COUNT(*) FROM $fact WHERE $fk NOT IN
         |    (SELECT $pk FROM $dim)) AS n_orphans,
         |  (SELECT COUNT(*) FROM $fact) AS n_rows,
         |  CASE WHEN (SELECT COUNT(*) FROM $fact) = 0 THEN 0
         |    ELSE (SELECT COUNT(*) FROM $fact WHERE $fk NOT IN
         |      (SELECT $pk FROM $dim)) * 1000000
         |      // (SELECT COUNT(*) FROM $fact) END AS orphan_ppm"""
        .stripMargin
    Seq(
      edge("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      edge("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      edge("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      edge("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
      edge("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      edge("nation->region", "nation", "n_regionkey", "region", "r_regionkey"))
      .mkString("\nUNION ALL\n") + "\nORDER BY fk"
  }

  /** Heaps'-law vocabulary growth: distinct-token count and total token
    * count over ten growing doc-id prefixes of the corpus — the curve
    * that says whether a crawl is still finding new language or
    * re-reading the same material (sub-linear growth V ≈ K·nᵝ, β < 1).
    * Prefix membership is arithmetic on (min, max) doc_id — no global
    * rank window; per-prefix totals cumulate over a 10-row post-agg
    * frame. First-occurrence prefix per token = one grouped MIN over the
    * token stream; everything is integer-exact. */
  private val heapsLaw: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val mm = docs.agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
    val dec = least(lit(9), floor(((col("doc_id") - col("mn")) * 10)
      .cast("double") / (col("mx") - col("mn") + 1)).cast("int")) + 1
    val d = docs.crossJoin(broadcast(mm)).select(col("doc_id"),
      col("text"), dec.as("dec"))
    val tok = d.select(col("dec"),
      explode(graft.text.TextOps.tokens(col("text"))).as("token"))
    val w = Window.orderBy("dec")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the doc-decile spine has all ten rows; token/vocab per-decile
    // deltas can be ABSENT for a decile that adds nothing new (the whole
    // fixture vocabulary may arrive in decile 1) — left-join + coalesce 0
    // before cumulating, or the join would silently drop those deciles
    val spine = d.groupBy("dec").agg(count(lit(1)).as("docs_c"))
    val tokC = tok.groupBy("dec").agg(count(lit(1)).as("tok_c"))
    val vocC = tok.groupBy("token").agg(min(col("dec")).as("dec"))
      .groupBy("dec").agg(count(lit(1)).as("voc_c"))
    spine.join(tokC, Seq("dec"), "left").join(vocC, Seq("dec"), "left")
      .select(col("dec"),
        sum(col("docs_c")).over(w).as("n_docs"),
        sum(coalesce(col("tok_c"), lit(0L))).over(w).as("n_tokens"),
        sum(coalesce(col("voc_c"), lit(0L))).over(w).as("vocab"))
      .orderBy("dec")
  }

  private val heapsLawSql =
    """WITH mm AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents),
      |d AS (
      |  SELECT doc_id, text,
      |    LEAST(9, CAST(FLOOR(CAST((doc_id - mn) * 10 AS DOUBLE)
      |      / (mx - mn + 1)) AS INTEGER)) + 1 AS dec
      |  FROM documents, mm
      |), tok AS (
      |  SELECT dec, unnest(list_filter(string_split(text, ' '), x -> x <> ''))
      |    AS token
      |  FROM d
      |), spine AS (SELECT dec, COUNT(*) AS docs_c FROM d GROUP BY 1),
      |tc AS (SELECT dec, COUNT(*) AS tok_c FROM tok GROUP BY 1),
      |vc AS (SELECT dec, COUNT(*) AS voc_c FROM
      |  (SELECT token, MIN(dec) AS dec FROM tok GROUP BY 1) GROUP BY 1),
      |j AS (
      |  SELECT spine.dec, spine.docs_c,
      |    COALESCE(tc.tok_c, 0) AS tok_c, COALESCE(vc.voc_c, 0) AS voc_c
      |  FROM spine LEFT JOIN tc USING (dec) LEFT JOIN vc USING (dec)
      |)
      |SELECT CAST(dec AS INTEGER) AS dec,
      |  CAST(SUM(docs_c) OVER cum AS BIGINT) AS n_docs,
      |  CAST(SUM(tok_c) OVER cum AS BIGINT) AS n_tokens,
      |  CAST(SUM(voc_c) OVER cum AS BIGINT) AS vocab
      |FROM j
      |WINDOW cum AS (ORDER BY dec
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY dec""".stripMargin

  /** Hashing-trick vectorizer profile — the fixed-width sparse feature
    * map (Weinberger et al.'s feature hashing) every large-scale text
    * model front-ends with: token → md5 bucket mod 1024, per-doc counts,
    * and the per-doc summary a trainer's data loader needs (nnz, squared
    * l2 norm, dominant bucket). All integer-exact; the dominant bucket
    * breaks count ties on the SMALLEST bucket id deterministically —
    * engine via lexicographic struct max, oracle via a windowed
    * max-count filter (different strategy, same semantics). One shuffle
    * on (doc, bucket), then one per-doc aggregate. */
  private val featureHash: Q = (s, dir) => {
    val toks = Tables.documents(s, dir).select(col("doc_id"),
      explode(graft.text.TextOps.tokens(col("text"))).as("token"))
    val bucket = conv(substring(md5(concat(lit("fh|"), col("token"))), 1, 8),
      16, 10).cast("long") % 1024
    val cnt = toks.select(col("doc_id"), bucket.as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("c"))
    cnt.groupBy("doc_id").agg(
        count(lit(1)).as("nnz"),
        sum(col("c") * col("c")).as("l2sq"),
        max(struct(col("c"), (-col("bucket")).as("nb"))).as("top"))
      .select(col("doc_id"), col("nnz"), col("l2sq"),
        (-col("top.nb")).as("top_bucket"))
      .orderBy("doc_id")
  }

  private val featureHashSql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> ''))
      |    AS token
      |  FROM documents
      |), hb AS (
      |  SELECT doc_id,
      |    CAST(list_sum(list_transform(range(1, 9), p ->
      |      (strpos('0123456789abcdef', substr(md5('fh|' || token),
      |        CAST(p AS INTEGER), 1)) - 1) * power(16, 8 - p)))
      |      AS BIGINT) % 1024 AS bucket
      |  FROM tok
      |), c AS (
      |  SELECT doc_id, bucket, COUNT(*) AS c FROM hb GROUP BY 1, 2
      |), m AS (
      |  SELECT doc_id, bucket, c, MAX(c) OVER (PARTITION BY doc_id) AS mc
      |  FROM c
      |)
      |SELECT doc_id, COUNT(*) AS nnz, CAST(SUM(c * c) AS BIGINT) AS l2sq,
      |  MIN(CASE WHEN c = mc THEN bucket END) AS top_bucket
      |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  /** TF-IDF keyword extraction — the top-3 most distinctive terms per
    * document, the classic per-doc summary a corpus browser / topic
    * labeller front-ends with. tf is the in-doc count, idf the smoothed
    * ln((N+1)/(df+1)); the score is quantized as tf·round(1e12·idf) so
    * per-term ranking compares exact longs (no float ordering across
    * engines). Distributed shape: one (doc, token) shuffle for tf, one
    * token shuffle for df, the doc count a 1-row broadcast; the top-3 cut
    * is a window partitioned BY DOC — thousands of small partitions, never
    * a global sort. Ties break lexicographically on the token. */
  private[graft] def tfidfTopK(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(col("doc_id"),
        explode(graft.text.TextOps.tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val idfFx = round(lit(1e12) *
      log((col("n_docs").cast("double") + 1.0) / (col("df") + 1.0)), 0)
      .cast("long")
    val scored = tf.join(df, "token").crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"), col("tf"),
        (col("tf") * idfFx).as("fx"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("fx").desc, col("token"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("token"), col("tf"),
        round(col("fx").cast("double") / lit(1e12), 6).as("tfidf"))
      .orderBy("doc_id", "rk")
  }

  private val tfidfKeywords: Q = (s, dir) =>
    tfidfTopK(Tables.documents(s, dir), k = 3)

  private val tfidfKeywordsSql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> ''))
      |    AS token
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
      |), df AS (
      |  SELECT token, COUNT(*) AS df FROM tf GROUP BY 1
      |), n AS (
      |  SELECT COUNT(*) AS n_docs FROM documents
      |), scored AS (
      |  SELECT tf.doc_id, tf.token, tf.tf,
      |    tf.tf * CAST(ROUND(1.0e12 *
      |      LN((CAST(n_docs AS DOUBLE) + 1.0e0) / (df + 1.0e0)), 0)
      |      AS BIGINT) AS fx
      |  FROM tf JOIN df ON df.token = tf.token CROSS JOIN n
      |), ranked AS (
      |  SELECT doc_id, token, tf, fx,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |                       ORDER BY fx DESC, token) AS rk
      |  FROM scored
      |)
      |SELECT doc_id, CAST(rk AS INTEGER) AS rk, token, tf,
      |  ROUND(CAST(fx AS DOUBLE) / 1.0e12, 6) AS tfidf
      |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /** Population-stability-index drift screen — the production data-drift
    * monitor: split the event stream at the midpoint of its observed time
    * range, bucket `value` into 10 equal-width bins over the observed
    * range, and compute PSI = Σ (p_i − q_i)·ln(p_i/q_i) between the
    * reference (first half) and current (second half) windows with add-one
    * smoothing. (Common operating bands: PSI < 0.1 stable, > 0.25 drifted.)
    * Distributed shape: one tiny min/max agg broadcast back, one bucket
    * groupBy (≤ 10 groups), one scalar agg — two scans, no window, no
    * driver state beyond the 1-row stats frame. Parity: counts are exact
    * integers, each bucket's PSI term is quantized to round(term·1e12) so
    * the 10-term sum is exact, and the smoothed proportions are the
    * identical IEEE expression in both engines. */
  private[graft] def psiOf(ev0: DataFrame): DataFrame = {
    val ev = ev0.select(col("ts"), col("value"))
    val stats = ev.agg(
      min(unix_micros(col("ts"))).as("t0"),
      max(unix_micros(col("ts"))).as("t1"),
      min("value").as("v0"), max("value").as("v1"))
    val e = ev.crossJoin(broadcast(stats))
    val bucket = when(col("v1") === col("v0"), lit(0L)).otherwise(
      least(floor((col("value") - col("v0")) /
        ((col("v1") - col("v0")) / lit(10.0))), lit(9.0)).cast("long"))
    val g = e.select(bucket.as("bucket"),
        (unix_micros(col("ts")) <= expr("(t0 + t1) DIV 2")).as("is_ref"))
      .groupBy("bucket")
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("cr"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cc"))
    val tot = g.agg(sum("cr").as("nr"), sum("cc").as("nc"))
    val p = (col("cr") + lit(1L)) / (col("nr") + lit(10.0))
    val q = (col("cc") + lit(1L)) / (col("nc") + lit(10.0))
    g.crossJoin(broadcast(tot))
      .select(round((p - q) * log(p / q) * lit(1e12), 0).cast("long")
          .as("fx"),
        col("nr"), col("nc"))
      .groupBy("nr", "nc")
      .agg(round(sum(col("fx")).cast("double") / lit(1e12), 6).as("psi"))
      .select(col("psi"), col("nr").as("n_ref"), col("nc").as("n_cur"))
  }

  private val psiDrift: Q = (s, dir) => psiOf(Tables.events(s, dir))

  private val psiDriftSql =
    """WITH st AS (
      |  SELECT MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS t1,
      |    MIN(value) AS v0, MAX(value) AS v1
      |  FROM events
      |), b AS (
      |  SELECT CASE WHEN v1 = v0 THEN 0 ELSE
      |      CAST(LEAST(FLOOR((value - v0) / ((v1 - v0) / 10.0e0)), 9.0e0)
      |        AS BIGINT) END AS bucket,
      |    epoch_us(ts) <= (t0 + t1) // 2 AS is_ref
      |  FROM events, st
      |), g AS (
      |  SELECT bucket,
      |    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS cr,
      |    SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS cc
      |  FROM b GROUP BY 1
      |), t AS (
      |  SELECT CAST(SUM(cr) AS BIGINT) AS nr, CAST(SUM(cc) AS BIGINT) AS nc
      |  FROM g
      |), terms AS (
      |  SELECT CAST(ROUND(
      |      ((cr + 1) / (nr + 10.0e0) - (cc + 1) / (nc + 10.0e0))
      |      * LN(((cr + 1) / (nr + 10.0e0)) / ((cc + 1) / (nc + 10.0e0)))
      |      * 1.0e12, 0) AS BIGINT) AS fx,
      |    nr, nc
      |  FROM g, t
      |)
      |SELECT ROUND(CAST(SUM(fx) AS DOUBLE) / 1.0e12, 6) AS psi,
      |  nr AS n_ref, nc AS n_cur
      |FROM terms GROUP BY 2, 3""".stripMargin

  /** One BPE merge round over a (doc_id, pos, sym) symbol frame: count
    * adjacent pairs, pick the most frequent (ties → lexicographic),
    * merge its non-overlapping occurrences greedily left-to-right, and
    * re-index. Greedy non-overlap is the only subtle part — when the top
    * pair is (x, x), a run "x x x" must merge the FIRST two only — and
    * is done relationally with the islands trick: candidate positions
    * group into runs of consecutive pos (pos − row_number constant), and
    * every odd-indexed candidate within its run merges. Everything is a
    * doc-partitioned window or a pair-keyed aggregate; the top-1 cut is
    * TakeOrdered; the pair table never leaves the cluster. Returns the
    * round's summary (1 row) and the rebuilt frame. */
  /** One BPE merge round's REBUILD over the lead-augmented frame `d`,
    * with the round's top pair given as driver literals: the candidate
    * flag, the islands trick (runs of consecutive candidate pos share
    * `pos − running-candidate-count`), the odd-index greedy pick within
    * each run, and the consumed-successor drop are ALL window functions
    * over the one doc_id hash partitioning (`Window.partitionBy(doc_id,
    * grp)` is satisfied by hash(doc_id) clustering, so it adds a local
    * sort, never an exchange). The round-1 form of this rebuild ran the
    * candidate set through two extra window exchanges and re-attached it
    * with two (doc_id, pos) sort-merge joins — 4 more shuffles per round
    * carrying the whole symbol frame (r13 profile: 45 driver jobs,
    * 7.3 s at sf0.1 for the 3-round entry). Greedy semantics are
    * byte-identical: idx-within-run parity is (candRank − first
    * candRank of run) evenness. */
  private def bpeRebuild(d: DataFrame, s1: String, s2: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    d.withColumn("__c",
        when(col("sym") === lit(s1) && col("nxt") === lit(s2), 1L)
          .otherwise(0L))
      .withColumn("__cr", sum(col("__c")).over(w))
      .withColumn("__grp", col("pos") - col("__cr"))
      // min over the whole (doc, grp) partition; restricted to candidate
      // rows because a non-candidate row just before a run shares its grp
      .withColumn("__c0", min(when(col("__c") === 1L, col("__cr")))
        .over(Window.partitionBy("doc_id", "__grp")))
      .withColumn("__m", col("__c") === 1L &&
        pmod(col("__cr") - col("__c0"), lit(2L)) === 0L)
      .withColumn("__x", coalesce(lag("__m", 1).over(w), lit(false)))
      .filter(!col("__x"))
      .select(col("doc_id"), row_number().over(w).as("pos"),
        when(col("__m"), concat(col("sym"), lit(" "), col("nxt")))
          .otherwise(col("sym")).as("sym"))
  }

  /** Distributed BPE-style pair-merge training at token granularity —
    * the merge loop every tokenizer (BPE/WordPiece) and word2vec's
    * phrase detection run over a corpus, expressed as pure relational
    * rounds so a 100 TB corpus trains its first merges in ordinary
    * shuffles: each round is one pair-count aggregate (map-side
    * combinable), a broadcast top-1, and doc-partitioned windows for the
    * greedy rewrite. Emits the learned merge table with post-merge
    * vocabulary/token counts per round. The oracle replays all three
    * rounds as unrolled CTEs with ITS OWN window/anti-join strategy, so
    * agreement checks the greedy-merge semantics, not the plan. */
  private[graft] def bpeMergeRounds(docs: DataFrame,
                                    rounds: Int): DataFrame =
    bpeMergeRoundsWithSeq(docs, rounds)._1

  /** [[bpeMergeRounds]] plus the final rewritten symbol frame — the
    * ENCODE half of the tokenizer: after training, `seq` IS the corpus
    * segmented under the learned merges, so per-doc encode statistics
    * read straight off it without a second apply pass. */
  /** `needSummary = false` (the ENCODE path, which only consumes the final
    * symbol frame) skips the per-round top-pair/vocab bookkeeping jobs that
    * exist solely for the merge-table output — the returned summary frame
    * is empty there. */
  private[graft] def bpeMergeRoundsWithSeq(docs: DataFrame,
                                           rounds: Int,
                                           needSummary: Boolean = true): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val toks = docs.select(col("doc_id"),
      posexplode(graft.text.TextOps.tokens(col("text")))
        .as(Seq("pos", "sym")))
    // the lead-augmented frame is read by the pair count and the rebuild —
    // materialize its window sort once per round; the NEXT round's
    // checkpoint doubles as this round's stats source, so a round is
    // exactly three jobs (top-1 TakeOrdered, rebuild checkpoint, 2-long
    // stats agg over the checkpointed blocks)
    var d = toks.withColumn("nxt", lead("sym", 1).over(w)).transform(Materialize.checkpoint)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long, Long, Long)]
    for (r <- 1 to rounds) {
      // the top pair is ONE row — a driver-side take, like the sketch
      // summaries (kllQuantile et al.): as a broadcast subquery it was
      // re-aggregated once per consumer (candidate scan + summary row)
      val topRows = d.filter(col("nxt").isNotNull)
        .groupBy(col("sym").as("s1"), col("nxt").as("s2"))
        .agg(count(lit(1)).as("pair_count"))
        .orderBy(col("pair_count").desc, col("s1"), col("s2")).limit(1)
        .collect()
      // no adjacent pair anywhere (all docs single-symbol): the round
      // merges nothing and emits no summary row, like the join form did
      if (topRows.nonEmpty) {
        val s1 = topRows(0).getString(0)
        val s2 = topRows(0).getString(1)
        val cnt = topRows(0).getLong(2)
        // tokens_after rides the rebuild checkpoint as an observed metric
        // (the PageRank/CC pattern): the stats job then only computes the
        // vocab countDistinct (distinct aggregates cannot ride observe)
        val rebuilt = bpeRebuild(d, s1, s2)
          .withColumn("nxt", lead("sym", 1).over(w))
        if (!needSummary) d = rebuilt.transform(Materialize.checkpoint)
        else {
          val (ckpt, row) = graft.Observed.checkpoint(rebuilt,
            s"bpe_tokens_$r", count(lit(1)).as("t"))
          d = ckpt
          val t = row.getLong(0)
          val v = d.agg(countDistinct("sym").as("v")).collect()(0).getLong(0)
          out += ((r, s1, s2, cnt, v, t))
        }
      }
    }
    (out.toSeq
      .toDF("round", "s1", "s2", "pair_count", "vocab_after", "tokens_after")
      .orderBy("round"),
      d.drop("nxt"))
  }

  private val bpeMerges: Q = (s, dir) =>
    bpeMergeRounds(Tables.documents(s, dir), rounds = 3)

  /** BPE ENCODE — tokenization under the learned merges: per document,
    * how many symbols remain after the 3 trained merge rounds, how many
    * are multi-word merge products, and the original token count
    * (recovered exactly as Σ words-per-symbol: a merged symbol carries
    * its constituents space-joined). The oracle replays the identical
    * 3-round chain and aggregates the same frame, so the whole
    * train-then-apply story is hash-checked end to end. */
  private val bpeEncode: Q = (s, dir) => {
    val seq = bpeMergeRoundsWithSeq(Tables.documents(s, dir), 3,
      needSummary = false)._2
    seq.groupBy("doc_id")
      .agg(sum(size(split(col("sym"), " "))).cast("long").as("n_tokens_before"),
        count(lit(1)).as("n_tokens_after"),
        sum(when(col("sym").contains(" "), 1L).otherwise(0L))
          .cast("long").as("n_merged_tokens"))
      .orderBy("doc_id")
  }

  /** Shared CTE chain for the BPE twins: toks → seq0 → (d_r, top_r, c_r,
    * m_r, seq_r, st_r, row_r) per round. Every corpus-sized CTE is AS
    * MATERIALIZED: DuckDB inlines plain CTEs at every reference and each
    * round references the previous round's frames several times, so the
    * un-pinned chain recomputed the token unnest tens of times over —
    * ~98 GB RSS and an OOM kill at sf10 (same class as the MMR twin). */
  private def bpeChainSql(rounds: Int): String = {
    def round(r: Int): String = {
      val in = if (r == 1) "seq0" else s"seq${r - 1}"
      s"""d$r AS MATERIALIZED (
         |  SELECT doc_id, pos, sym,
         |    LEAD(sym) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
         |  FROM $in
         |), top$r AS MATERIALIZED (
         |  SELECT sym AS s1, nxt AS s2, COUNT(*) AS pair_count
         |  FROM d$r WHERE nxt IS NOT NULL GROUP BY 1, 2
         |  ORDER BY pair_count DESC, s1, s2 LIMIT 1
         |), c$r AS MATERIALIZED (
         |  SELECT d$r.doc_id, d$r.pos FROM d$r, top$r
         |  WHERE d$r.sym = top$r.s1 AND d$r.nxt = top$r.s2
         |), m$r AS MATERIALIZED (
         |  SELECT doc_id, pos FROM (
         |    SELECT doc_id, pos,
         |      ROW_NUMBER() OVER (PARTITION BY doc_id, grp ORDER BY pos)
         |        AS idx
         |    FROM (
         |      SELECT doc_id, pos,
         |        pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
         |          AS grp
         |      FROM c$r
         |    )
         |  ) WHERE idx % 2 = 1
         |), seq$r AS MATERIALIZED (
         |  SELECT doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
         |    CASE WHEN m THEN sym || ' ' || nxt ELSE sym END AS sym
         |  FROM (
         |    SELECT d$r.doc_id, d$r.pos, d$r.sym, d$r.nxt,
         |      EXISTS (SELECT 1 FROM m$r
         |              WHERE m$r.doc_id = d$r.doc_id
         |                AND m$r.pos = d$r.pos) AS m
         |    FROM d$r
         |    WHERE NOT EXISTS (SELECT 1 FROM m$r
         |                      WHERE m$r.doc_id = d$r.doc_id
         |                      AND m$r.pos = d$r.pos - 1)
         |  )
         |), st$r AS (
         |  SELECT CAST(COUNT(DISTINCT sym) AS BIGINT) AS vocab_after,
         |    CAST(COUNT(*) AS BIGINT) AS tokens_after
         |  FROM seq$r
         |), row$r AS (
         |  SELECT CAST($r AS INTEGER) AS round, s1, s2, pair_count,
         |    vocab_after, tokens_after
         |  FROM top$r, st$r
         |)""".stripMargin
    }
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
       |    AS l
       |  FROM documents
       |), seq0 AS MATERIALIZED (
       |  SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS sym
       |  FROM toks
       |), ${(1 to rounds).map(round).mkString(", ")}""".stripMargin
  }

  private val bpeMergesSql =
    s"""${bpeChainSql(3)}
       |SELECT * FROM row1 UNION ALL SELECT * FROM row2
       |UNION ALL SELECT * FROM row3 ORDER BY round""".stripMargin

  private val bpeEncodeSql =
    s"""${bpeChainSql(3)}
       |SELECT doc_id,
       |  CAST(SUM(len(string_split(sym, ' '))) AS BIGINT) AS n_tokens_before,
       |  COUNT(*) AS n_tokens_after,
       |  CAST(SUM(CASE WHEN contains(sym, ' ') THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_merged_tokens
       |FROM seq3 GROUP BY 1 ORDER BY 1""".stripMargin

  /** Z-order layout screen — the multi-dimensional clustering decision
    * table behind file skipping (Delta/Iceberg Z-ORDER): quantize
    * (user_id, value) to 8 bits each over their observed ranges (1-row
    * broadcast, count-bounded like every grid here), interleave the bits
    * into a 16-bit Morton code, tile the corpus into 64 equal z-ranges,
    * and emit each tile's zone map (min/max of BOTH dimensions) — the
    * proof a scan planner needs that a z-sorted layout keeps every file
    * narrow in every filter column at once, where a single-column sort
    * leaves the other column full-range. Pure integer bit arithmetic
    * after quantization; one groupBy(tile); hash-exact. */
  private val zorderLayout: Q = (s, dir) => {
    val ev = Tables.events(s, dir).select(col("user_id"), col("value"))
    val stats = ev.agg(min("user_id").as("u0"), max("user_id").as("u1"),
      min("value").as("v0"), max("value").as("v1"))
    val e = ev.crossJoin(broadcast(stats))
    val qu = when(col("u1") === col("u0"), lit(0L)).otherwise(
      expr("((user_id - u0) * 256) DIV (u1 - u0 + 1)"))
    val qv = when(col("v1") === col("v0"), lit(0L)).otherwise(
      least(floor((col("value") - col("v0")) /
        ((col("v1") - col("v0")) / lit(256.0))), lit(255.0)).cast("long"))
    val z = (0 until 8).map { b =>
      (shiftright(col("qu"), b).bitwiseAND(lit(1L)) * lit(1L << (2 * b + 1))) +
        (shiftright(col("qv"), b).bitwiseAND(lit(1L)) * lit(1L << (2 * b)))
    }.reduce(_ + _)
    e.select(col("user_id"), qu.as("qu"), qv.as("qv"))
      .select(col("user_id"), col("qu"), col("qv"),
        z.as("z"))
      .select(col("user_id"), col("qu"), col("qv"),
        expr("z DIV 1024").as("tile"))
      .groupBy("tile").agg(count(lit(1)).as("n_rows"),
        min("user_id").as("min_user"), max("user_id").as("max_user"),
        min("qv").as("min_vq"), max("qv").as("max_vq"))
      .orderBy("tile")
  }

  private val zorderLayoutSql =
    """WITH st AS (
      |  SELECT MIN(user_id) AS u0, MAX(user_id) AS u1,
      |    MIN(value) AS v0, MAX(value) AS v1
      |  FROM events
      |), q AS (
      |  SELECT user_id,
      |    CASE WHEN u1 = u0 THEN 0
      |      ELSE ((user_id - u0) * 256) // (u1 - u0 + 1) END AS qu,
      |    CASE WHEN v1 = v0 THEN 0
      |      ELSE CAST(LEAST(FLOOR((value - v0) / ((v1 - v0) / 256.0e0)),
      |        255.0e0) AS BIGINT) END AS qv
      |  FROM events, st
      |), z AS (
      |  SELECT user_id, qu, qv,
      |    (((qu >> 0) & 1) * 2 + ((qv >> 0) & 1) * 1
      |     + ((qu >> 1) & 1) * 8 + ((qv >> 1) & 1) * 4
      |     + ((qu >> 2) & 1) * 32 + ((qv >> 2) & 1) * 16
      |     + ((qu >> 3) & 1) * 128 + ((qv >> 3) & 1) * 64
      |     + ((qu >> 4) & 1) * 512 + ((qv >> 4) & 1) * 256
      |     + ((qu >> 5) & 1) * 2048 + ((qv >> 5) & 1) * 1024
      |     + ((qu >> 6) & 1) * 8192 + ((qv >> 6) & 1) * 4096
      |     + ((qu >> 7) & 1) * 32768 + ((qv >> 7) & 1) * 16384) AS zv
      |  FROM q
      |)
      |SELECT zv // 1024 AS tile, COUNT(*) AS n_rows,
      |  MIN(user_id) AS min_user, MAX(user_id) AS max_user,
      |  MIN(qv) AS min_vq, MAX(qv) AS max_vq
      |FROM z GROUP BY 1 ORDER BY 1""".stripMargin

  /** Declarative data-expectations gate (the Great-Expectations /
    * dbt-test idiom as ONE scan): each rule is a boolean violation
    * predicate counted in the same aggregate pass; the output is the
    * contract table a pipeline gates a load on — per rule, rows checked,
    * violations, violation ppm (integer `div`, the FK-orphans parity
    * trick), and the pass verdict against the rule's own ppm budget.
    * Adding a rule costs one conditional SUM, never another scan. */
  private val expectations: Q = (s, dir) => {
    val rules: Seq[(String, Column, Long)] = Seq(
      ("value_not_null", col("value").isNull, 0L),
      ("value_non_negative", col("value").isNotNull && col("value") < 0, 0L),
      ("value_below_1e6", col("value").isNotNull && col("value") >= 1e6, 0L),
      ("known_event_type", !col("event_type").isin(
        "click", "view", "purchase", "signup", "error"), 0L),
      ("user_id_positive", col("user_id") <= 0, 0L),
      ("ts_in_window",
        col("ts") < to_timestamp(lit("2020-01-01 00:00:00")) ||
          col("ts") >= to_timestamp(lit("2030-01-01 00:00:00")), 1000L))
    val aggs = count(lit(1)).as("n") +:
      rules.zipWithIndex.map { case ((_, bad, _), i) =>
        sum(when(bad, 1L).otherwise(0L)).as(s"v$i") }
    val m = Tables.events(s, dir).agg(aggs.head, aggs.tail: _*)
    val rows = rules.zipWithIndex.map { case ((name, _, budget), i) =>
      struct(lit(name).as("rule"), col("n").as("n_checked"),
        col(s"v$i").as("n_violations"),
        expr(s"v$i * 1000000 DIV n").as("violation_ppm"),
        (expr(s"v$i * 1000000 DIV n") <= budget).as("passed"))
    }
    m.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
      .orderBy("rule")
  }

  private val expectationsSql =
    """WITH m AS (
      |  SELECT COUNT(*) AS n,
      |    SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS v0,
      |    SUM(CASE WHEN value IS NOT NULL AND value < 0 THEN 1 ELSE 0 END)
      |      AS v1,
      |    SUM(CASE WHEN value IS NOT NULL AND value >= 1e6 THEN 1 ELSE 0 END)
      |      AS v2,
      |    SUM(CASE WHEN event_type NOT IN
      |      ('click', 'view', 'purchase', 'signup', 'error')
      |      THEN 1 ELSE 0 END) AS v3,
      |    SUM(CASE WHEN user_id <= 0 THEN 1 ELSE 0 END) AS v4,
      |    SUM(CASE WHEN ts < TIMESTAMP '2020-01-01 00:00:00'
      |      OR ts >= TIMESTAMP '2030-01-01 00:00:00' THEN 1 ELSE 0 END)
      |      AS v5
      |  FROM events
      |)
      |SELECT rule, n AS n_checked, CAST(v AS BIGINT) AS n_violations,
      |  CAST(v * 1000000 // n AS BIGINT) AS violation_ppm,
      |  v * 1000000 // n <= budget AS passed
      |FROM m, (VALUES
      |  ('value_not_null', 0), ('value_non_negative', 1),
      |  ('value_below_1e6', 2), ('known_event_type', 3),
      |  ('user_id_positive', 4), ('ts_in_window', 5)) r(rule, idx),
      |  LATERAL (SELECT CASE idx WHEN 0 THEN v0 WHEN 1 THEN v1
      |    WHEN 2 THEN v2 WHEN 3 THEN v3 WHEN 4 THEN v4 ELSE v5 END AS v,
      |    CASE WHEN idx = 5 THEN 1000 ELSE 0 END AS budget)
      |ORDER BY rule""".stripMargin

  /** Composed repeated-passage graph pipeline — graph construction →
    * community detection → labeling in ONE registry entry (the proof the
    * graph and text families compose): nodes are 3-gram shingles, edges
    * are shingle CONTINUATIONS (two overlapping shingles adjacent in a
    * doc) repeated ≥ 2 times corpus-wide — the de Bruijn-style graph of
    * the corpus's REPEATED passages, whose connected families are
    * exactly the boilerplate/template clusters a dedup pipeline wants
    * named. (A token-level co-occurrence graph is degenerate on this
    * fixture — 30 tokens make a complete graph and one community, which
    * the first cut of this query faithfully and uselessly reported.)
    * Communities from 4 derandomized synchronous LPA rounds (most
    * frequent neighbour label, ties → smallest — the
    * `q_lpa_communities` contract; string labels order
    * lexicographically in both engines); each community is labeled by
    * its most frequent member shingle. Per round: one join + one count
    * + one vertex-partitioned row_number — the PageRank iteration shape
    * at any scale. */
  private val tokenGraph: Q = (s, dir) =>
    tokenGraphOver(s, Tables.documents(s, dir), dir)

  /** [[tokenGraph]] over a caller-chosen document frame (the probe entry
    * restricts to an md5-selected sub-corpus so the DuckDB twin stays
    * feasible at any scale — see [[Probes]]); `storeKey` namespaces the
    * FrameStore artifacts so probe and full runs never share leaves. */
  private[queries] def tokenGraphOver(s: SparkSession, docs: DataFrame,
                                      storeKey: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.dedup.FrameStore
    // Stage artifacts (shingle counts, passage graph, LPA labels) are
    // published to the session FrameStore — the discipline that took
    // q_leak_split from 3.66 s to 0.25 s: a production corpus
    // builds the passage graph ONCE and every labeling/reporting consumer
    // (including re-runs of this entry) reads the materialized leaf.
    // Results are identical artifact-fed or inline (PipelineReuseSpec).
    def sh = docs
      .select(graft.text.TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 4)
      .select(graft.text.TextOps.ngrams(col("toks"), 3).as("s"))
    val uc = FrameStore.getOrCompute(s, s"passage_uc|$storeKey") {
      sh.select(explode(col("s")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cu"))
    }
    val nbrs = FrameStore.getOrCompute(s, s"passage_nbrs|$storeKey") {
      val edges = sh
        .withColumn("h", slice(col("s"), lit(1), size(col("s")) - 1))
        .withColumn("tl", slice(col("s"), lit(2), size(col("s")) - 1))
        .select(explode(arrays_zip(col("h"), col("tl"))).as("pr"))
        .select(col("pr.h").as("u"), col("pr.tl").as("v"))
        .filter(col("u") =!= col("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2)
        .select("u", "v")
      edges.union(edges.select(col("v").as("u"), col("u").as("v")))
        .distinct()
    }
    val w = Window.partitionBy("u").orderBy(desc("c"), col("lbl"))
    val labels = FrameStore.getOrCompute(s, s"passage_lpa4|$storeKey") {
      var l = nbrs.select(col("u").as("id")).distinct()
        .withColumn("lbl", col("id")).transform(Materialize.checkpoint)
      for (_ <- 1 to 4) {
        val pick = nbrs
          .join(l.withColumnRenamed("id", "v"), "v")
          .groupBy("u", "lbl").agg(count(lit(1)).as("c"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("u").as("id"), col("lbl").as("newLbl"))
        l = l.join(pick, Seq("id"), "left")
          .select(col("id"), coalesce(col("newLbl"), col("lbl")).as("lbl"))
          .transform(Materialize.checkpoint)
      }
      l
    }
    val wTop = Window.partitionBy("lbl").orderBy(desc("cu"), col("id"))
    labels.join(uc.withColumnRenamed("w", "id"), "id")
      .withColumn("rk", row_number().over(wTop))
      .groupBy("lbl").agg(count(lit(1)).as("n_tokens"),
        max(when(col("rk") === 1,
          struct(col("id"), col("cu")))).as("top"))
      .select(col("lbl").as("community"), col("n_tokens"),
        col("top.id").as("top_token"), col("top.cu").as("top_count"))
      .orderBy(desc("n_tokens"), col("community"))
  }

  private val tokenGraphSql = tokenGraphSqlOver("")

  /** [[tokenGraphSql]] with an optional document predicate (AND-able SQL
    * over the `documents` columns) — the probe twin's sub-corpus
    * restriction slot. Empty string = the full corpus. */
  private[queries] def tokenGraphSqlOver(docPred: String): String = {
    val where = if (docPred.isEmpty) "" else s"\n  WHERE $docPred"
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
    s"""WITH t AS (
       |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents$where
       |), shs AS (
       |  SELECT list_transform(range(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS s
       |  FROM t WHERE len(toks) >= 4
       |), uc AS (
       |  SELECT unnest(s) AS w FROM shs
       |), ucc AS (
       |  SELECT w, COUNT(*) AS cu FROM uc GROUP BY 1
       |), big AS (
       |  SELECT unnest(list_zip(s[1:len(s)-1], s[2:])) AS pr FROM shs
       |), e AS (
       |  SELECT pr[1] AS u, pr[2] AS v FROM big
       |  WHERE pr[1] <> pr[2]
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
       |), nb AS (
       |  SELECT DISTINCT u, v FROM
       |    (SELECT u, v FROM e UNION ALL SELECT v, u FROM e)
       |), l0 AS (
       |  SELECT DISTINCT u AS id, u AS lbl FROM nb
       |), ${(1 to 4).map(round).mkString(", ")}, mem AS (
       |  SELECT l4.id, l4.lbl, ucc.cu,
       |    row_number() OVER (PARTITION BY l4.lbl
       |                       ORDER BY ucc.cu DESC, l4.id) AS rk
       |  FROM l4 JOIN ucc ON ucc.w = l4.id
       |)
       |SELECT lbl AS community, COUNT(*) AS n_tokens,
       |  MIN(CASE WHEN rk = 1 THEN id END) AS top_token,
       |  CAST(MIN(CASE WHEN rk = 1 THEN cu END) AS BIGINT) AS top_count
       |FROM mem GROUP BY 1 ORDER BY n_tokens DESC, community""".stripMargin
  }

  /** Poisson-bootstrap confidence interval for the per-type mean — THE
    * bootstrap that works at 100 TB: classical resampling needs n draws
    * per replicate (a shuffle per replicate); the Poisson bootstrap
    * instead weights every row independently with w ~ Poisson(1) per
    * replicate, so all B=32 replicates materialize in ONE explode + ONE
    * aggregate pass, embarrassingly parallel. Weights come from an
    * md5-seeded uniform pushed through the Poisson(1) inverse CDF as
    * literal thresholds (deterministic and twin-computable — the
    * `q_dp_counts` seeded-noise trick); per-replicate sums are
    * fixed-point longs, and the 2.5%/97.5% envelope over the 32
    * replicate means is the exact interpolated quantile over a 32-row
    * per-type frame. */
  private val bootstrapCi: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val B = 32
    // repartition before the ×B explode: the events file is one-to-few
    // input splits at bench scales, and the replicate stage amplifies
    // work AFTER the scan — parallelism must come from the engine, not
    // the file layout (the q_permutation_fdr round-9 sweep lesson).
    // Hash-distribution is deterministic; the downstream (type, b) agg
    // result is partitioning-invariant.
    val ev = Tables.events(s, dir)
      .select(col("event_type"), col("event_id"),
        round(col("value") * 1e6, 0).cast("long").as("vfx"))
      .repartition(s.sparkContext.defaultParallelism, col("event_id"))
      .transform(Materialize.checkpoint)
    val rep = ev.select(col("event_type"), col("event_id"), col("vfx"),
      explode(sequence(lit(0), lit(B - 1))).as("b"))
    val u = (conv(substring(md5(concat(lit("bs|"), col("b"),
      lit("|"), col("event_id"))), 1, 8), 16, 10)
      .cast("long").cast("double") + lit(0.5)) / lit(4294967296.0)
    // Poisson(1) inverse CDF, cumulative thresholds as double literals
    val w = when(u < 0.36787944117144233, 0L)
      .when(u < 0.7357588823428847, 1L)
      .when(u < 0.9196986029286058, 2L)
      .when(u < 0.9810118431238462, 3L)
      .when(u < 0.9963401531726563, 4L)
      .when(u < 0.9994058151824183, 5L)
      .otherwise(6L)
    val means = rep.select(col("event_type"), col("b"), col("vfx"),
        w.as("w"))
      .groupBy("event_type", "b")
      .agg(sum(col("w") * col("vfx")).as("swx"), sum(col("w")).as("sw"))
      // an all-zero-weight replicate (p ≈ e^-n per type) has no mean; a
      // NULL m would sort NULLS FIRST here but NULLS LAST in DuckDB,
      // shifting every rank. Drop it in BOTH engines (same HAVING in twin).
      .filter(col("sw") > 0)
      .select(col("event_type"), col("b"),
        (col("swx").cast("double") / col("sw") / lit(1e6)).as("m"))
    // exact interpolated p2.5/p97.5 over the 32 replicate means per type
    val wr = Window.partitionBy("event_type").orderBy("m", "b")
    val ranked = means.withColumn("rk", row_number().over(wr))
    def q(p: Double): Column = {
      val pos = p * (B - 1) // 0-based interpolation position
      val loIdx = math.floor(pos).toInt + 1
      val frac = pos - math.floor(pos)
      (max(when(col("rk") === loIdx, col("m"))) * (1.0 - frac) +
        max(when(col("rk") === loIdx + 1, col("m"))) * frac)
    }
    val full = ev.groupBy("event_type")
      .agg((sum("vfx").cast("double") / count(lit(1)) / lit(1e6))
        .as("mean_value"))
    ranked.groupBy("event_type")
      .agg(round(q(0.025), 6).as("ci_lo"), round(q(0.975), 6).as("ci_hi"))
      .join(full, "event_type")
      .select(col("event_type"), round(col("mean_value"), 6)
        .as("mean_value"), col("ci_lo"), col("ci_hi"))
      .orderBy("event_type")
  }

  private val bootstrapCiSql = {
    val B = 32
    def qsel(p: Double, alias: String): String = {
      val pos = p * (B - 1)
      val loIdx = math.floor(pos).toInt + 1
      val frac = pos - math.floor(pos)
      s"""ROUND(MAX(CASE WHEN rk = $loIdx THEN m END) * (1.0e0 - ${frac}e0)
         |    + MAX(CASE WHEN rk = ${loIdx + 1} THEN m END) * ${frac}e0, 6)
         |    AS $alias""".stripMargin
    }
    s"""WITH ev AS (
       |  SELECT event_type, event_id,
       |    CAST(ROUND(value * 1e6, 0) AS BIGINT) AS vfx
       |  FROM events
       |), rep AS (
       |  SELECT event_type, event_id, vfx, unnest(range(0, $B)) AS b
       |  FROM ev
       |), wts AS (
       |  SELECT event_type, b, vfx,
       |    CASE WHEN u < 0.36787944117144233e0 THEN 0
       |      WHEN u < 0.7357588823428847e0 THEN 1
       |      WHEN u < 0.9196986029286058e0 THEN 2
       |      WHEN u < 0.9810118431238462e0 THEN 3
       |      WHEN u < 0.9963401531726563e0 THEN 4
       |      WHEN u < 0.9994058151824183e0 THEN 5
       |      ELSE 6 END AS w
       |  FROM (
       |    SELECT event_type, b, vfx,
       |      (CAST(CAST(list_sum(list_transform(range(1, 9), pp ->
       |        (strpos('0123456789abcdef',
       |           substr(md5('bs|' || b || '|' || event_id),
       |             CAST(pp AS INTEGER), 1)) - 1)
       |        * power(16, 8 - pp))) AS BIGINT) AS DOUBLE) + 0.5e0)
       |        / 4294967296.0e0 AS u
       |    FROM rep
       |  )
       |), means AS (
       |  SELECT event_type, b,
       |    CAST(SUM(w * vfx) AS DOUBLE) / CAST(SUM(w) AS BIGINT) / 1e6 AS m
       |  FROM wts GROUP BY 1, 2 HAVING SUM(w) > 0
       |), ranked AS (
       |  SELECT event_type, b, m,
       |    row_number() OVER (PARTITION BY event_type ORDER BY m, b) AS rk
       |  FROM means
       |), ci AS (
       |  SELECT event_type,
       |    ${qsel(0.025, "ci_lo")},
       |    ${qsel(0.975, "ci_hi")}
       |  FROM ranked GROUP BY 1
       |), fm AS (
       |  SELECT event_type,
       |    ROUND(CAST(SUM(vfx) AS DOUBLE) / COUNT(*) / 1e6, 6)
       |      AS mean_value
       |  FROM ev GROUP BY 1
       |)
       |SELECT ci.event_type, mean_value, ci_lo, ci_hi
       |FROM ci JOIN fm ON fm.event_type = ci.event_type
       |ORDER BY ci.event_type""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q_bfs_reach", bfsReach, bfsReachSql),
    Entry("q_kcore", kcoreHindex(_, _), kcoreHindexSql),
    Entry("q_assoc_rules", assocRules, assocRulesSql),
    Entry("q_k_anonymity", kAnonymity, kAnonymitySql),
    Entry("q_dp_counts", dpCounts, dpCountsSql),
    Entry("q_mutual_info", mutualInfo, mutualInfoSql),
    Entry("q_corr_matrix", corrMatrix, corrMatrixSql),
    Entry("q_weighted_sample", weightedSample, weightedSampleSql),
    Entry("q_fk_orphans", fkOrphans, fkOrphansSql),
    Entry("text_heaps_law", heapsLaw, heapsLawSql),
    Entry("text_feature_hash", featureHash, featureHashSql),
    Entry("text_tfidf", tfidfKeywords, tfidfKeywordsSql),
    Entry("q_psi_drift", psiDrift, psiDriftSql),
    Entry("text_bpe_merges", bpeMerges, bpeMergesSql),
    Entry("text_bpe_encode", bpeEncode, bpeEncodeSql),
    Entry("q_zorder_layout", zorderLayout, zorderLayoutSql),
    Entry("q_expectations", expectations, expectationsSql),
    Entry("q_bootstrap_ci", bootstrapCi, bootstrapCiSql),
    Entry("pipeline_passage_graph", tokenGraph, tokenGraphSql),
  )
}
