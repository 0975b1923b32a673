package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.Num._

/** Driver-contract relational queries (SURVEY.md §2 operator inventory,
  * §2.2 P*, §2.3 J*, §2.4 A*, §2.5 W*, §2.6 L*, §2.7 set ops) expressed
  * over the driver's TPC-H-ish parquet tables, each with a DuckDB oracle
  * SQL twin. Every query ends in a total deterministic ORDER BY, and every
  * double-valued aggregate uses the decimal-exact pattern in [[Num]].
  */
object Relational {
  // ---------------------------------------------------------------- scans
  /** Projection + filter pushdown (P2/P13/P14): the physical scan must show
    * PushedFilters on l_shipdate and a 4-column ReadSchema. The sort
    * includes l_extendedprice: the synthetic lineitem does NOT have a
    * unique (l_orderkey, l_linenumber) — up to 6 rows share a key with
    * distinct prices — so the two-column sort is not total and engines may
    * legally order ties differently (surfaced by the sf1 run). */
  private val scanPrune: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")

  private val scanPruneSql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice
      |FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
      |ORDER BY l_orderkey, l_linenumber, l_extendedprice""".stripMargin

  // ----------------------------------------------------------- aggregates
  /** Grouped multi-agg (A1/A2-style): hash aggregate, partial+final. */
  private val aggPricing: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  private val aggPricingSql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
      |  CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- joins
  /** Star-schema join (J1 generalization): lineitem⋈orders⋈customer⋈nation⋈region
    * with small dims broadcast — no shuffle on the dim side at any scale. */
  private[graft] val joinStar: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val o  = Tables.orders(s, dir)
    val c  = Tables.customer(s, dir)
    val n  = Tables.nation(s, dir)
    val r  = Tables.region(s, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA" &&
        col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      .groupBy("n_name")
      .agg(
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(desc("revenue"), col("n_name"))
  }

  private val joinStarSql =
    """SELECT n_name,
      |  CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA' AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  /** Left-semi join (EXISTS). */
  private val semiJoin: Q = (s, dir) =>
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_totalprice") > 100000.0),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  private val semiJoinSql =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join (NOT EXISTS): customers with no big-ticket order. */
  private val antiJoin: Q = (s, dir) =>
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_totalprice") > 300000.0),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy("c_custkey")

  private val antiJoinSql =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Hour-spine left join + coalesce-to-zero (J2): every hour of the events
    * span gets a row even when no purchase happened in it. */
  private val hourSpine: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val bounds = ev.agg(
      date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    val spine = bounds.select(
      explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("hour_bucket"))
    val hourly = ev.filter(col("event_type") === "purchase")
      .groupBy(date_trunc("hour", col("ts")).as("hour_bucket"))
      .agg(dsum(col("value")).as("vol"), count(lit(1)).as("cnt"))
    spine.join(hourly, Seq("hour_bucket"), "left")
      .select(col("hour_bucket"),
        coalesce(col("vol"), lit(0.0)).as("purchase_volume"),
        coalesce(col("cnt"), lit(0L)).as("purchase_count"))
      .orderBy("hour_bucket")
  }

  private val hourSpineSql =
    """WITH bounds AS (
      |  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi FROM events
      |), spine AS (
      |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_bucket FROM bounds
      |), hourly AS (
      |  SELECT date_trunc('hour', ts) AS hour_bucket,
      |    CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS vol,
      |    COUNT(*) AS cnt
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1
      |)
      |SELECT spine.hour_bucket,
      |  COALESCE(vol, 0.0) AS purchase_volume,
      |  COALESCE(cnt, 0) AS purchase_count
      |FROM spine LEFT JOIN hourly ON spine.hour_bucket = hourly.hour_bucket
      |ORDER BY spine.hour_bucket""".stripMargin

  // ------------------------------------------------------------ distincts
  /** Hourly multi-distinct agg (A2): two COUNT DISTINCTs → Catalyst's
    * expand-based rewrite, plus an exact decimal sum. */
  private val hourlyEvents: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour_bucket"))
      .agg(
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("total_value"),
        countDistinct(col("user_id")).as("uniq_users"),
        countDistinct(col("event_type")).as("uniq_types"))
      .orderBy("hour_bucket")

  private val hourlyEventsSql =
    """SELECT date_trunc('hour', ts) AS hour_bucket,
      |  COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS total_value,
      |  COUNT(DISTINCT user_id) AS uniq_users,
      |  COUNT(DISTINCT event_type) AS uniq_types
      |FROM events GROUP BY 1 ORDER BY hour_bucket""".stripMargin

  /** HAVING + stddev (A3): stddev via decimal-exact sums so both engines
    * compute the identical IEEE op sequence (Num.dstddev). */
  private val havingStddev: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("s"),
        // scale 4: value is 2-dp data so value² is exact at 4dp, and the
        // decimal's unscaled value stays < 2^53 at any realistic SF — at
        // scale 10 the sf0.1 sums exceeded 2^53 and DuckDB's two-step
        // decimal→double cast drifted 1 ulp from Java's correctly-rounded one
        dsum(col("value") * col("value"), 4).as("ss"))
      .filter(col("n_events") > 5)
      .select(col("event_type"),
        (col("s") / col("n_events")).as("avg_value"),
        dstddev(col("s"), col("ss"), col("n_events")).as("stddev_value"),
        col("n_events"))
      .orderBy("event_type")

  private val havingStddevSql =
    """WITH g AS (
      |  SELECT event_type, COUNT(*) AS n_events,
      |    CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS s,
      |    CAST(CAST(SUM(CAST(value * value AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS ss
      |  FROM events GROUP BY event_type HAVING COUNT(*) > 5
      |)
      |SELECT event_type, s / n_events AS avg_value,
      |  SQRT((ss - (s * s) / n_events) / (n_events - 1)) AS stddev_value,
      |  n_events
      |FROM g ORDER BY event_type""".stripMargin

  /** Conditional boolean-sum agg per day (A9/P12). */
  private val conditionalAgg: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("event_date"))
      .agg(
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("n_purchases"),
        sum(when(col("value") > 100.0, 1).otherwise(0)).as("n_high_value"),
        count(lit(1)).as("n_events"))
      .orderBy("event_date")

  // DuckDB SUM(INTEGER) yields HUGEINT (int128 → float64 in pandas) while
  // Spark's sum(int) is LONG — pin the oracle to BIGINT for dtype parity
  private val conditionalAggSql =
    """SELECT CAST(ts AS DATE) AS event_date,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
      |  CAST(SUM(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_value,
      |  COUNT(*) AS n_events
      |FROM events GROUP BY 1 ORDER BY event_date""".stripMargin

  // --------------------------------------------------------- sorts/limits
  /** Top-k by aggregate (L1) → TakeOrderedAndProject; tiebreak on key. */
  private val topkParts: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy("l_partkey")
      .agg(dsum(col("l_extendedprice")).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(desc("revenue"), col("l_partkey"))
      .limit(10)

  private val topkPartsSql =
    """SELECT l_partkey,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem GROUP BY l_partkey
      |ORDER BY revenue DESC, l_partkey LIMIT 10""".stripMargin

  /** BETWEEN range predicate (P15), parameterized block-range style. */
  private val betweenRange: Q = (s, dir) =>
    Tables.orders(s, dir)
      .filter(col("o_orderkey").between(100, 500))
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .orderBy("o_orderkey")

  private val betweenRangeSql =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      |FROM orders WHERE o_orderkey BETWEEN 100 AND 500
      |ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------- set ops
  private val setIntersect: Q = (s, dir) =>
    Tables.customer(s, dir).select(col("c_custkey").as("custkey"))
      .intersect(Tables.orders(s, dir).select(col("o_custkey").as("custkey")))
      .orderBy("custkey")

  private val setIntersectSql =
    """SELECT c_custkey AS custkey FROM customer
      |INTERSECT
      |SELECT o_custkey AS custkey FROM orders
      |ORDER BY custkey""".stripMargin

  private val setExcept: Q = (s, dir) =>
    Tables.customer(s, dir).select(col("c_custkey").as("custkey"))
      .except(Tables.orders(s, dir).filter(col("o_orderstatus") === "P")
        .select(col("o_custkey").as("custkey")))
      .orderBy("custkey")

  private val setExceptSql =
    """SELECT c_custkey AS custkey FROM customer
      |EXCEPT
      |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'P'
      |ORDER BY custkey""".stripMargin

  // -------------------------------------------------------------- windows
  /** Ranking window: top-3 orders per customer (partitioned — scales). */
  private val windowRank: Q = (s, dir) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, dir)
      // bigint rn: DuckDB's row_number() is BIGINT, Spark's is INT
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
      .orderBy("o_custkey", "rn")
  }

  private val windowRankSql =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  /** Rolling exact quantile over a row window (W1/W2), partitioned by user
    * so the window never needs a single global partition at scale. Spark's
    * `percentile` and DuckDB's `quantile_cont` both interpolate linearly at
    * (n-1)q; rounded to 6dp to absorb last-ulp differences. */
  private val rollingQuantile: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(-9, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("p90", round(expr("percentile(value, 0.9)").over(w), 6))
      .select("user_id", "event_id", "p90")
      .orderBy("user_id", "event_id")
  }

  private val rollingQuantileSql =
    """SELECT user_id, event_id,
      |  ROUND(quantile_cont(value, 0.9) OVER (PARTITION BY user_id
      |    ORDER BY event_id ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6) AS p90
      |FROM events ORDER BY user_id, event_id""".stripMargin

  /** Lag/lead + running sum over a partitioned ordered window. */
  private val windowRunning: Q = (s, dir) => {
    val w  = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val ws = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .withColumn("running_spend",
        sum(col("o_totalprice").cast("decimal(38,6)")).over(ws).cast("double"))
      .select("o_custkey", "o_orderkey", "prev_price", "running_spend")
      .orderBy("o_custkey", "o_orderkey")
  }

  private val windowRunningSql =
    """SELECT o_custkey, o_orderkey,
      |  lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_spend
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  // ------------------------------------------------------------ quantiles
  /** Historical VaR/CVaR (M1/M2): exact interpolated quantile, then the
    * conditional tail mean in a second pass kept fully in-plan via a
    * broadcast cross join of the 1-row quantile frame. */
  private val varCvar: Q = (s, dir) => {
    val r = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("value").as("r"))
    val q = r.agg(expr("percentile(r, 0.05)").as("q5"))
    val tail = r.crossJoin(broadcast(q)).filter(col("r") <= col("q5"))
      .agg(round(davg(col("r")), 6).as("tail_mean"))
    q.crossJoin(tail)
      .select(round(negate(col("q5")), 6).as("var_95"),
        negate(col("tail_mean")).as("cvar_95"))
  }

  private val varCvarSql =
    """WITH r AS (SELECT value AS r FROM events WHERE event_type = 'purchase'),
      |q AS (SELECT quantile_cont(r, 0.05) AS q5 FROM r),
      |tail AS (
      |  SELECT ROUND(CAST(CAST(SUM(CAST(r AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / COUNT(r), 6) AS tail_mean
      |  FROM r, q WHERE r <= q5
      |)
      |SELECT ROUND(-q5, 6) AS var_95, -tail_mean AS cvar_95 FROM q, tail""".stripMargin

  /** Exact median + robust stats per group (A5). */
  private val robustStats: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("median_value"),
        max(col("value")).as("max_value"),
        min(col("value")).as("min_value"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  private val robustStatsSql =
    """SELECT event_type,
      |  ROUND(quantile_cont(value, 0.5), 6) AS median_value,
      |  max(value) AS max_value,
      |  min(value) AS min_value,
      |  COUNT(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------- registry
  val entries: Seq[Entry] = Seq(
    Entry("q_scan_prune", scanPrune, scanPruneSql),
    Entry("q_agg_pricing", aggPricing, aggPricingSql),
    Entry("q_join_star", joinStar, joinStarSql),
    Entry("q_semi_join", semiJoin, semiJoinSql),
    Entry("q_anti_join", antiJoin, antiJoinSql),
    Entry("q_hour_spine", hourSpine, hourSpineSql),
    Entry("q_hourly_events", hourlyEvents, hourlyEventsSql),
    Entry("q_having_stddev", havingStddev, havingStddevSql),
    Entry("q_conditional_agg", conditionalAgg, conditionalAggSql),
    Entry("q_topk_parts", topkParts, topkPartsSql),
    Entry("q_between_range", betweenRange, betweenRangeSql),
    Entry("q_set_intersect", setIntersect, setIntersectSql),
    Entry("q_set_except", setExcept, setExceptSql),
    Entry("q_window_rank", windowRank, windowRankSql),
    Entry("q_rolling_quantile", rollingQuantile, rollingQuantileSql),
    Entry("q_window_running", windowRunning, windowRunningSql),
    Entry("q_var_cvar", varCvar, varCvarSql),
    Entry("q_robust_stats", robustStats, robustStatsSql),
  )
}
