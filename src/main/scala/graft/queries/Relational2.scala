package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.queries.Num._

/** Second coverage batch for SURVEY.md §2: scalar-function family (F1/F8/P10/
  * P11), pivot (J2 alternative), rollup/cube (free Spark capability beyond
  * the reference), union-all, tail-k (L2), and the cumulative-product
  * pattern (M11) — all with exact DuckDB oracles.
  */
object Relational2 {
  /** JSON field extraction from a string column (F1 analog on `props`).
    *
    * Single parse by construction: `json_tuple` is a Generator, and
    * Catalyst does not push predicates through a Generate into its
    * generated output — so the JSON string is parsed exactly once per row.
    * The plain project-then-filter form is rewritten by predicate pushdown
    * into `Project(parse) over Filter(parse)`, parsing every row twice
    * (verified in the round-1 physical plan). */
  private val jsonExtract: Q = (s, dir) =>
    Tables.events(s, dir)
      .select(col("event_id"), substring(col("props"), 1, 5).as("prefix"),
        json_tuple(col("props"), "k").as("k"))
      .select(col("event_id"), col("k").cast("int").as("k"), col("prefix"))
      .filter(col("k") > 50)
      .select("event_id", "k", "prefix")
      .orderBy("event_id")

  private val jsonExtractSql =
    """SELECT event_id,
      |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
      |  substr(props, 1, 5) AS prefix
      |FROM events
      |WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
      |ORDER BY event_id""".stripMargin

  /** Map-literal lookup with default (P11: selector → fn_name pattern). */
  private val EventCategories = Seq(
    "purchase" -> "revenue", "signup" -> "growth", "click" -> "engagement")

  private val mapLookup: Q = (s, dir) => {
    val m = typedlit(EventCategories.toMap)
    Tables.events(s, dir)
      .withColumn("category",
        coalesce(element_at(m, col("event_type")), lit("other")))
      .groupBy("category")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy("category")
  }

  private val mapLookupSql = {
    val cases = EventCategories
      .map { case (k, v) => s"WHEN event_type = '$k' THEN '$v'" }
      .mkString(" ")
    s"""SELECT CASE $cases ELSE 'other' END AS category,
       |  COUNT(*) AS n,
       |  CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS total_value
       |FROM events GROUP BY 1 ORDER BY category""".stripMargin
  }

  /** Date formatting (F8 — numeric-only patterns, locale-free). */
  private val dateFormat: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(
        date_format(col("ts"), "yyyy-MM-dd").as("day_label"),
        date_format(col("ts"), "HH").as("hour_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy("day_label", "hour_label")

  private val dateFormatSql =
    """SELECT strftime(ts, '%Y-%m-%d') AS day_label,
      |  strftime(ts, '%H') AS hour_label, COUNT(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY day_label, hour_label""".stripMargin

  /** Pivot: day × event_type matrix (J2 spine alternative). Explicit value
    * list keeps the output schema static and broadcast-free. */
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  private val pivotTypes: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("event_date"))
      .pivot("event_type", EventTypes)
      .agg(dsum(col("value")))
      .na.fill(0.0, EventTypes)
      .orderBy("event_date")

  private val pivotTypesSql = {
    val cols = EventTypes.map(t =>
      s"""COALESCE(CAST(CAST(SUM(CAST(CASE WHEN event_type = '$t' THEN value END AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE), 0.0) AS "$t"""")
      .mkString(",\n  ")
    s"""SELECT CAST(ts AS DATE) AS event_date,
       |  $cols
       |FROM events GROUP BY 1 ORDER BY event_date""".stripMargin
  }

  /** ROLLUP: day/event_type hierarchy with subtotals and grand total.
    * NULLS FIRST pinned (Spark's asc default) so both engines order
    * subtotal rows identically. */
  private val rollupAgg: Q = (s, dir) =>
    Tables.events(s, dir)
      .rollup(to_date(col("ts")).as("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy(col("event_date").asc_nulls_first, col("event_type").asc_nulls_first)

  private val rollupAggSql =
    """SELECT CAST(ts AS DATE) AS event_date, event_type,
      |  COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS total_value
      |FROM events GROUP BY ROLLUP (1, 2)
      |ORDER BY event_date ASC NULLS FIRST, event_type ASC NULLS FIRST""".stripMargin

  /** CUBE over lineitem flags. */
  private val cubeAgg: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  private val cubeAggSql =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY CUBE (1, 2)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** UNION ALL with source tagging (§2.7 — beyond the reference). */
  private val unionAll: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val hi = ev.filter(col("value") > 400.0)
      .select(lit("high").as("bucket"), col("event_id"), col("value"))
    val lo = ev.filter(col("value") < 1.0)
      .select(lit("low").as("bucket"), col("event_id"), col("value"))
    hi.unionAll(lo).orderBy("bucket", "event_id")
  }

  private val unionAllSql =
    """SELECT 'high' AS bucket, event_id, value FROM events WHERE value > 400.0
      |UNION ALL
      |SELECT 'low' AS bucket, event_id, value FROM events WHERE value < 1.0
      |ORDER BY bucket, event_id""".stripMargin

  /** Tail-k after sort (L2: most recent 48 hours, re-sorted ascending). */
  private val latestHours: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour_bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("hour_bucket"))
      .limit(48)
      .orderBy("hour_bucket")

  private val latestHoursSql =
    """SELECT * FROM (
      |  SELECT date_trunc('hour', ts) AS hour_bucket, COUNT(*) AS n
      |  FROM events GROUP BY 1 ORDER BY hour_bucket DESC LIMIT 48
      |) ORDER BY hour_bucket""".stripMargin

  /** Cumulative product via exp(Σ ln) (M11 GBM price path), per-user so the
    * window partitions. The running sum of logs is decimal-exact, making
    * the float exp/multiply sequence engine-identical. */
  private val cumprod: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("r", col("value") / 10000.0)
      .withColumn("log_growth",
        sum(log(lit(1.0) + col("r")).cast(DecimalType(38, 12))).over(w)
          .cast("double"))
      .select(col("user_id"), col("event_id"),
        round(lit(2200.0) * exp(col("log_growth")), 6).as("price"))
      .orderBy("user_id", "event_id")
  }

  private val cumprodSql =
    """SELECT user_id, event_id,
      |  ROUND(2200.0 * EXP(CAST(CAST(SUM(CAST(LN(1.0 + value / 10000.0) AS DECIMAL(38,12)))
      |    OVER (PARTITION BY user_id ORDER BY event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)), 6) AS price
      |FROM events ORDER BY user_id, event_id""".stripMargin

  /** Approximate distinct (A7 scale path). The HLL++ estimate itself is
    * engine-private (DuckDB cannot reproduce Spark's sketch), so the
    * hashed output carries (a) the exact COUNT DISTINCT and (b) the
    * estimate folded into a tolerance VERDICT — `approx_within_15pct`,
    * 3× the default rsd=0.05 — which the oracle pins to literal TRUE.
    * If Spark's estimator ever drifts past tolerance the hash breaks:
    * a real end-to-end check, unlike the old rows-only posture.
    * HllSketchSpec additionally asserts the tolerance on the raw
    * estimate. */
  private val approxDistinct: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users").cast("double") * 0.15).as("approx_within_15pct"))
      .orderBy("event_type")

  private val approxDistinctSql =
    """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
      |  TRUE AS approx_within_15pct
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Unpivot (melt) — the inverse reshape of [[pivotTypes]]: the four
    * lineitem measures to long form, the layout a generic metric pipeline
    * consumes. Spark's native `unpivot` plans as an Expand projection —
    * zero shuffle, row fan-out only. `value` joins the sort because
    * (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem
    * (see [[Relational]].scanPrune) — without it ties order differently
    * per engine. */
  private val unpivotMeasures: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 97 === 0)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax")),
        "metric", "value")
      .orderBy("l_orderkey", "l_linenumber", "metric", "value")

  private val unpivotMeasuresSql =
    """SELECT l_orderkey, l_linenumber, metric, value FROM (
      |  SELECT l_orderkey, l_linenumber,
      |    'l_quantity' AS metric, l_quantity AS value
      |  FROM lineitem WHERE l_orderkey % 97 = 0
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
      |  FROM lineitem WHERE l_orderkey % 97 = 0
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
      |  FROM lineitem WHERE l_orderkey % 97 = 0
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
      |  FROM lineitem WHERE l_orderkey % 97 = 0
      |)
      |ORDER BY l_orderkey, l_linenumber, metric, value""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q_json_extract", jsonExtract, jsonExtractSql),
    Entry("q_map_lookup", mapLookup, mapLookupSql),
    Entry("q_date_format", dateFormat, dateFormatSql),
    Entry("q_pivot_types", pivotTypes, pivotTypesSql),
    Entry("q_rollup", rollupAgg, rollupAggSql),
    Entry("q_cube", cubeAgg, cubeAggSql),
    Entry("q_union_all", unionAll, unionAllSql),
    Entry("q_latest_hours", latestHours, latestHoursSql),
    Entry("q_cumprod", cumprod, cumprodSql),
    Entry("q_approx_distinct", approxDistinct, approxDistinctSql),
    Entry("q_unpivot", unpivotMeasures, unpivotMeasuresSql),
  )
}
