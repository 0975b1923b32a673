package graft.queries

import graft.sql.{BoundSql, Transpiler}

/** Registry entries that exercise [[graft.sql.Transpiler]] END TO END on
  * real data: each canonical query is authored once in Postgres text, the
  * *Spark emission* is executed here via `BoundSql`, and the *DuckDB
  * emission* is handed to the driver's oracle verbatim. A hash-green entry
  * therefore proves the parser plus BOTH executable emitters agree on real
  * rows — the strongest check available for a text transpiler without the
  * five non-resident warehouses (those emitters are golden-tested against
  * their published grammars in `TranspilerSpec`).
  *
  * Determinism: no NOW() in executed text — time windows anchor on
  * TIMESTAMP literals inside the fixture's range; every query ends in a
  * total ORDER BY (unique group keys / unique o_orderkey); double-valued
  * aggregates are ROUNDed to 6 as the other green oracle families do.
  *
  * Scale: transpilation itself is O(statement) driver-side string work;
  * the emitted queries execute as ordinary Catalyst plans (pushed filters,
  * partial aggregation) like every other registry entry.
  */
object Transpile {
  /** Hourly event rollup — DATE_TRUNC, timestamp-literal minus interval,
    * COUNT(DISTINCT), scientific-notation literal, ordinal GROUP BY. */
  private val hourlyPg: String =
    """SELECT
      |    DATE_TRUNC('hour', ts) AS hour_bucket,
      |    event_type,
      |    COUNT(*) AS n_events,
      |    COUNT(DISTINCT user_id) AS n_users,
      |    ROUND(SUM(value / 1e2), 6) AS value_hundredths
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-16 12:00:00' - INTERVAL '24 hours'
      |  AND ts < TIMESTAMP '2024-01-16 12:00:00'
      |  AND event_type <> 'view'
      |GROUP BY 1, 2
      |ORDER BY hour_bucket, event_type""".stripMargin

  /** Lineitem pricing — `||` concat, CASE WHEN, BETWEEN on timestamps,
    * HAVING, and STDDEV (sample semantics must survive every dialect). */
  private val pricingPg: String =
    """SELECT
      |    l_returnflag || '/' || l_linestatus AS flag_status,
      |    CASE WHEN l_quantity < 25 THEN 'small' ELSE 'large' END AS size_class,
      |    COUNT(*) AS n_items,
      |    ROUND(AVG(l_extendedprice), 6) AS avg_price,
      |    ROUND(STDDEV(l_discount), 6) AS discount_sd
      |FROM lineitem
      |WHERE l_shipdate BETWEEN TIMESTAMP '1995-06-01 00:00:00' AND TIMESTAMP '1998-12-31 00:00:00'
      |GROUP BY 1, 2
      |HAVING COUNT(*) > 10
      |ORDER BY flag_status, size_class""".stripMargin

  /** Reserved-word aliases — the target must re-quote `from`/`to` in its
    * own quote character (backticks on Spark, double quotes on DuckDB). */
  private val quotingPg: String =
    """SELECT user_id AS "from", COUNT(*) AS "to"
      |FROM events
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** CTE + two window functions (running sum with explicit frame, RANK
    * with a deterministic tiebreak) — the round-9 grammar widening. All
    * windowed values are integer counts, so parity is exact. */
  private val windowPg: String =
    """WITH daily AS (
      |  SELECT DATE_TRUNC('day', ts) AS d, event_type, COUNT(*) AS n
      |  FROM events
      |  GROUP BY 1, 2
      |)
      |SELECT d, event_type, n,
      |  CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY d
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_n,
      |  CAST(RANK() OVER (PARTITION BY d ORDER BY n DESC, event_type) AS BIGINT) AS day_rank
      |FROM daily
      |ORDER BY d, event_type""".stripMargin

  /** BOUNDED frame specs (the round-10 widening): a sliding
    * `ROWS BETWEEN n PRECEDING AND m FOLLOWING` sum and a trailing
    * `ROWS BETWEEN 2 PRECEDING AND CURRENT ROW` min — the frame grammar
    * emits verbatim in all seven targets, and the integer-count values
    * make the Spark/DuckDB parity exact. */
  private val framePg: String =
    """WITH daily AS (
      |  SELECT DATE_TRUNC('day', ts) AS d, event_type, COUNT(*) AS n
      |  FROM events
      |  GROUP BY 1, 2
      |)
      |SELECT d, event_type, n,
      |  CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY d
      |       ROWS BETWEEN 3 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS sliding_n,
      |  CAST(MIN(n) OVER (PARTITION BY event_type ORDER BY d
      |       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS trailing_min
      |FROM daily
      |ORDER BY d, event_type""".stripMargin

  /** ANSI set-operator precedence on real rows (round-10): INTERSECT
    * binds tighter, so this reads A UNION (B INTERSECT C). The document
    * langs (A) survive ONLY under that grouping — the left-grouped
    * (A UNION B) INTERSECT C would erase them — so a hash-green result
    * proves both executable emitters carried the ANSI tree, not just
    * that the text parsed. */
  private val setPrecPg: String =
    """SELECT k FROM (
      |  SELECT lang AS k FROM documents
      |  UNION
      |  SELECT event_type AS k FROM events
      |  INTERSECT
      |  SELECT event_type AS k FROM events WHERE value > 50
      |) AS u
      |ORDER BY k""".stripMargin

  /** UNION ALL between two sources inside a derived table, ordered
    * outside — exercises set ops + FROM-subquery emission. */
  private val setopPg: String =
    """SELECT k, src, n FROM (
      |  SELECT event_type AS k, 'events' AS src, COUNT(*) AS n
      |  FROM events WHERE value > 50 GROUP BY 1, 2
      |  UNION ALL
      |  SELECT lang AS k, 'docs' AS src, COUNT(*) AS n
      |  FROM documents GROUP BY 1, 2
      |) AS u
      |ORDER BY k, src""".stripMargin

  /** Subqueries in expressions (round-11 widening): a scalar subquery
    * inside arithmetic, a CORRELATED EXISTS (qualified column reference
    * into the outer table), and a NOT IN subquery — the most common
    * remaining real-migration constructs. MAX is the scalar aggregate so
    * the threshold is float-order-independent and the row set is exact in
    * both executable emitters. */
  private val subqueryPg: String =
    """SELECT o_orderkey, o_totalprice
      |FROM orders
      |WHERE o_totalprice > (SELECT MAX(o_totalprice) FROM orders) * 0.5
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE lineitem.l_orderkey = orders.o_orderkey
      |                AND lineitem.l_quantity > 45)
      |  AND o_orderkey NOT IN (SELECT l_orderkey FROM lineitem
      |                         WHERE l_returnflag = 'R' AND l_quantity > 49)
      |ORDER BY o_orderkey""".stripMargin

  /** Three CHAINED CTEs — each referencing the previous — with the window
    * functions inside the last CTE and the rank filter OUTSIDE it: the
    * canonical top-n-per-group migration shape (round-13, VERDICT r12 item
    * #7: CTE-heavy emission for the five non-resident warehouses rested on
    * single-CTE goldens; this text also anchors the per-dialect goldens in
    * `TranspilerSpec`). All projected values are integer counts, so the
    * Spark/DuckDB parity is exact. */
  private[graft] val ctePg: String =
    """WITH typed AS (
      |  SELECT DATE_TRUNC('day', ts) AS d, event_type, user_id
      |  FROM events
      |  WHERE event_type <> 'view'
      |), daily AS (
      |  SELECT d, event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS users
      |  FROM typed
      |  GROUP BY 1, 2
      |), ranked AS (
      |  SELECT d, event_type, n, users,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY d ORDER BY n DESC, event_type) AS BIGINT) AS rk,
      |    CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY d
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n
      |  FROM daily
      |)
      |SELECT d, event_type, n, users, rk, cum_n
      |FROM ranked
      |WHERE rk <= 3
      |ORDER BY d, rk, event_type""".stripMargin

  private def runSparkEmission(pg: String, tables: Seq[String]): Q = (s, dir) =>
    BoundSql.run(s, Transpiler.transpile(pg, "postgres", "spark"))(tables.map {
      case "events" => "events" -> Tables.events(s, dir)
      case t        => t -> Tables.table(s, dir, t)
    }: _*)

  private val blockRange: Q = (s, dir) =>
    BoundSql.run(s, Transpiler.buildBlockRangeQuery(100, 600,
      table = "orders", dialect = "spark", column = "o_orderkey"))(
      "orders" -> Tables.orders(s, dir))

  /** A canonical query's entry: Spark runs the Spark emission; the oracle
    * IS the transpiler's DuckDB emission — the driver runs that text in
    * DuckDB, closing the loop on the duckdb generator. */
  private def emitted(name: String, pg: String, tables: String*): Entry =
    Entry(name, runSparkEmission(pg, tables), Transpiler.transpile(pg, "postgres", "duckdb"))

  val entries: Seq[Entry] = Seq(
    emitted("q_transpile_hourly", hourlyPg, "events"),
    emitted("q_transpile_pricing", pricingPg, "lineitem"),
    emitted("q_transpile_quoting", quotingPg, "events"),
    emitted("q_transpile_window", windowPg, "events"),
    emitted("q_transpile_frame", framePg, "events"),
    emitted("q_transpile_setprec", setPrecPg, "events", "documents"),
    emitted("q_transpile_setop", setopPg, "events", "documents"),
    emitted("q_transpile_subquery", subqueryPg, "orders", "lineitem"),
    emitted("q_transpile_cte", ctePg, "events"),
    Entry("q_transpile_block_range", blockRange, Transpiler.buildBlockRangeQuery(100, 600,
      table = "orders", dialect = "duckdb", column = "o_orderkey")),
  )
}
