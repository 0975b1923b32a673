package graft.queries

import graft.sql.BoundSql
import org.apache.spark.sql.functions._

/** Third coverage batch: the SQL front door (Q1 — [[BoundSql]] text over
  * the driver tables, including correlated subqueries Catalyst must
  * decorrelate), additional window-function variants, regex
  * extraction, and array statistics. All oracle-checked.
  */
object Relational3 {
  /** Correlated scalar subquery through SQL text — Catalyst rewrites the
    * per-row subquery into an aggregate + join (decorrelation). The mean is
    * authored decimal-exact IN THE SQL TEXT (AVG(double) is evaluation-order
    * dependent; a last-ulp difference would flip boundary rows), so this
    * form is oracle-verified end-to-end through the SQL front door. */
  private val correlatedSubquery: Q = (s, dir) =>
    BoundSql.run(s,
      """SELECT c_custkey, c_name, c_acctbal FROM customer_v c
        |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
        |                          / COUNT(c_acctbal)
        |                   FROM customer_v c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin)(
      "customer_v" -> Tables.customer(s, dir))

  /** DuckDB twin of the correlated form — same decimal-exact mean. */
  private val sqlCorrelatedSql =
    """SELECT c_custkey, c_name, c_acctbal FROM customer c
      |WHERE c_acctbal > (SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
      |                          / COUNT(c_acctbal)
      |                   FROM customer c2
      |                   WHERE c2.c_nationkey = c.c_nationkey)
      |ORDER BY c_custkey""".stripMargin

  // The DataFrame twin keeps the decorrelated decimal-exact mean explicit.
  private val correlatedSubquerySpark: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val means = c.groupBy("c_nationkey")
      .agg((Num.dsum(col("c_acctbal")) / count(col("c_acctbal"))).as("nation_avg"))
    c.join(broadcast(means), "c_nationkey")
      .filter(col("c_acctbal") > col("nation_avg"))
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy("c_custkey")
  }

  private val correlatedSubquerySql =
    """WITH means AS (
      |  SELECT c_nationkey,
      |    CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / COUNT(c_acctbal) AS nation_avg
      |  FROM customer GROUP BY 1
      |)
      |SELECT c_custkey, c_name, c_acctbal
      |FROM customer JOIN means USING (c_nationkey)
      |WHERE c_acctbal > nation_avg
      |ORDER BY c_custkey""".stripMargin

  /** Correlated EXISTS with an inequality (late-shipping orders), through
    * the SQL front door on both engines. */
  private val existsInequality: Q = (s, dir) =>
    BoundSql.run(s,
      """SELECT o_orderkey, o_orderdate, o_totalprice FROM orders_v o
        |WHERE EXISTS (SELECT 1 FROM lineitem_v l
        |  WHERE l.l_orderkey = o.o_orderkey
        |    AND l.l_shipdate > o.o_orderdate + INTERVAL '90' DAY)
        |ORDER BY o_orderkey""".stripMargin)(
      "orders_v" -> Tables.orders(s, dir), "lineitem_v" -> Tables.lineitem(s, dir))

  private val existsInequalitySql =
    """SELECT o_orderkey, o_orderdate, o_totalprice FROM orders o
      |WHERE EXISTS (SELECT 1 FROM lineitem l
      |  WHERE l.l_orderkey = o.o_orderkey
      |    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
      |ORDER BY o_orderkey""".stripMargin

  /** GROUPING SETS through the SQL front door (completes the grouping
    * family next to rollup/cube): per-day totals, per-type totals, and a
    * grand total in one pass. NULLS FIRST pinned so subtotal rows order
    * identically on both engines. */
  private val groupingSets: Q = (s, dir) =>
    BoundSql.run(s,
      """SELECT CAST(ts AS DATE) AS event_date, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        |FROM events_v
        |GROUP BY GROUPING SETS ((CAST(ts AS DATE)), (event_type), ())
        |ORDER BY event_date ASC NULLS FIRST, event_type ASC NULLS FIRST""".stripMargin)(
      "events_v" -> Tables.events(s, dir))

  private val groupingSetsSql =
    """SELECT CAST(ts AS DATE) AS event_date, event_type,
      |  COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY GROUPING SETS ((CAST(ts AS DATE)), (event_type), ())
      |ORDER BY event_date ASC NULLS FIRST, event_type ASC NULLS FIRST""".stripMargin

  /** ntile + percent_rank over a total order (unique tiebreak) WITHOUT a
    * global window: a no-partition `Window.orderBy` would funnel every row
    * through one task (Exchange SinglePartition — the one scale-killer plan
    * flagged in round 2). Instead the rank comes from
    * [[DistributedRank.withRank]] (bucket histogram + parallel per-bucket
    * window) and ntile/percent_rank are pure arithmetic on (rank, n). */
  private val windowRanks: Q = (s, dir) => {
    val orders = Tables.orders(s, dir).select("o_orderkey", "o_totalprice")
    // ~1k-wide price bands spread TPC-H o_totalprice (≈900..600k) across
    // ~600 independent buckets; narrow the band to raise parallelism at
    // larger scale
    val (ranked, n) = DistributedRank.withRank(orders,
      floor(col("o_totalprice") / 1000.0),
      Seq(col("o_totalprice"), col("o_orderkey")))
    ranked
      .select(col("o_orderkey"), col("o_totalprice"),
        DistributedRank.ntileFromRank(col("rank"), n, 4).as("quartile"),
        DistributedRank.percentRankFromRank(col("rank"), n).as("pct_rank"))
      .orderBy("o_orderkey")
  }

  private val windowRanksSql =
    """SELECT o_orderkey, o_totalprice,
      |  ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile,
      |  percent_rank() OVER (ORDER BY o_totalprice, o_orderkey) AS pct_rank
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** first/last order date per customer via min/max aggregates —
    * deterministic, unlike first_value over a partial order. */
  private val firstLastOrder: Q = (s, dir) =>
    Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(
        min(col("o_orderdate")).as("first_order_date"),
        max(col("o_orderdate")).as("last_order_date"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_custkey")

  private val firstLastOrderSql =
    """SELECT o_custkey,
      |  min(o_orderdate) AS first_order_date,
      |  max(o_orderdate) AS last_order_date,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** Regex extraction (F2 family): digits out of the props JSON-ish blob. */
  private val regexpExtract: Q = (s, dir) =>
    Tables.events(s, dir)
      .select(col("event_id"),
        regexp_extract(col("props"), "([0-9]+)", 1).as("first_number"))
      .filter(col("first_number") =!= "")
      .orderBy("event_id")

  private val regexpExtractSql =
    """SELECT event_id, regexp_extract(props, '([0-9]+)', 1) AS first_number
      |FROM events WHERE regexp_extract(props, '([0-9]+)', 1) <> ''
      |ORDER BY event_id""".stripMargin

  /** Array statistics per embedding vector — min/max elementwise plus a
    * fixed-point exact mean (the float min/max come from the same float
    * values in both engines). */
  private val arrayStats: Q = (s, dir) => {
    graft.functions.GraftFunctions.install(s)
    val e = col("embedding")
    val ones = transform(e, _ => lit(1.0f))
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        size(e).cast("long").as("dim"),
        array_min(e).cast("double").as("min_x"),
        array_max(e).cast("double").as("max_x"),
        (graft.functions.FixedDotFunctions.fixedDot(e, ones).cast("double") /
          lit(1e12) / size(e)).as("mean_x"))
      .orderBy("vec_id")
  }

  private val arrayStatsSql =
    """WITH v AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings
      |)
      |SELECT e.vec_id,
      |  len(e.embedding) AS dim,
      |  CAST(list_min(e.embedding) AS DOUBLE) AS min_x,
      |  CAST(list_max(e.embedding) AS DOUBLE) AS max_x,
      |  mean_agg.mean_x
      |FROM embeddings e JOIN (
      |  SELECT vec_id,
      |    CAST(CAST(SUM(CAST(ROUND(x * 1.0 * 1e12, 0) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 1e12
      |      / COUNT(*) AS mean_x
      |  FROM v GROUP BY 1
      |) mean_agg ON e.vec_id = mean_agg.vec_id
      |ORDER BY e.vec_id""".stripMargin

  /** Value-bucketed histogram (width bucketing by integer division). */
  private val valueHistogram: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(floor(col("value") / 50.0).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        Num.dsum(col("value")).as("bucket_value"))
      .orderBy("bucket")

  private val valueHistogramSql =
    """SELECT CAST(FLOOR(value / 50.0) AS BIGINT) AS bucket, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS bucket_value
      |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q_correlated_subquery", correlatedSubquerySpark, correlatedSubquerySql),
    Entry("q_sql_correlated", correlatedSubquery, sqlCorrelatedSql),
    Entry("q_exists_inequality", existsInequality, existsInequalitySql),
    Entry("q_grouping_sets", groupingSets, groupingSetsSql),
    Entry("q_window_ranks", windowRanks, windowRanksSql),
    Entry("q_first_last", firstLastOrder, firstLastOrderSql),
    Entry("q_regexp_extract", regexpExtract, regexpExtractSql),
    Entry("q_array_stats", arrayStats, arrayStatsSql),
    Entry("q_value_histogram", valueHistogram, valueHistogramSql),
  )
}
