package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.analytics.{AsOfJoin, EventAnalytics, RangeJoin, SkewJoin}

/** Behavioral-analytics contract queries over the events/documents tables —
  * sessionization, funnel, retention cohorts, deterministic corpus split.
  * Every output is count/min/max/string-exact, so all four oracles are
  * hash-exact (no float leniency anywhere). */
object Behavioral {
  private val sessionize: Q = (s, dir) =>
    EventAnalytics.sessionize(Tables.events(s, dir))

  private val sessionizeSql =
    """WITH e AS (
      |  SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events
      |), m AS (
      |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
      |      OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
      |), sget AS (
      |  SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM m
      |)
      |SELECT user_id, session_id,
      |  min(ts) AS session_start,
      |  max(ts) AS session_end,
      |  COUNT(*) AS n_events,
      |  (max(us) - min(us)) // 1000000 AS duration_sec
      |FROM sget GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  private val funnel: Q = (s, dir) =>
    EventAnalytics.funnel(Tables.events(s, dir),
      Seq("view", "click", "purchase"))

  private val funnelSql =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |s1 AS (SELECT user_id, min(us) AS t FROM e WHERE event_type = 'view'
      |       GROUP BY user_id),
      |s2 AS (SELECT e.user_id, min(us) AS t FROM e JOIN s1 USING (user_id)
      |       WHERE event_type = 'click' AND us > s1.t GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, min(us) AS t FROM e JOIN s2 USING (user_id)
      |       WHERE event_type = 'purchase' AND us > s2.t GROUP BY e.user_id)
      |SELECT (SELECT COUNT(*) FROM s1) AS stage_1_users,
      |       (SELECT COUNT(*) FROM s2) AS stage_2_users,
      |       (SELECT COUNT(*) FROM s3) AS stage_3_users""".stripMargin

  private val retention: Q = (s, dir) =>
    EventAnalytics.retention(Tables.events(s, dir))

  private val retentionSql =
    """WITH cohorts AS (
      |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
      |  FROM events GROUP BY user_id
      |), active AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_date FROM events
      |)
      |SELECT cohort_date,
      |  CAST(date_diff('day', cohort_date, active_date) AS INTEGER) AS day_offset,
      |  COUNT(*) AS active_users
      |FROM active JOIN cohorts USING (user_id)
      |WHERE date_diff('day', cohort_date, active_date) BETWEEN 0 AND 7
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val hashSplit: Q = (s, dir) =>
    EventAnalytics.hashSplit(Tables.documents(s, dir), col("doc_id"))
      .select("doc_id", "split")
      .orderBy("doc_id")

  private val hashSplitSql =
    s"""SELECT doc_id,
       |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
       |         < '${EventAnalytics.TrainBoundary}' THEN 'train'
       |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
       |         < '${EventAnalytics.ValBoundary}' THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin

  private val stratifiedSample: Q = (s, dir) =>
    graft.analytics.CorpusOps.stratifiedSample(
        Tables.documents(s, dir), col("doc_id"), col("lang"), n = 5)
      .select("lang", "rank", "doc_id")
      .orderBy("lang", "rank")

  private val stratifiedSampleSql =
    """SELECT lang, rank, doc_id FROM (
      |  SELECT lang, doc_id,
      |    CAST(row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS rank
      |  FROM documents)
      |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin

  /** Packed per language shard — the scale form (no global window; packing
    * is per-shard, which is also what a distributed trainer consumes). */
  private val packSequences: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"),
        size(graft.text.TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
    graft.analytics.CorpusOps.packSequences(
      docs, col("doc_id"), col("n_tokens"), binTokens = 2048,
      partitionCols = Seq("lang"))
  }

  private val packSequencesSql =
    """WITH d AS (
      |  SELECT lang, doc_id,
      |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |  FROM documents
      |), c AS (
      |  SELECT lang, doc_id, tok,
      |    SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM d
      |)
      |SELECT lang, CAST((cum - tok) // 2048 AS BIGINT) AS bin_id,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(tok) AS BIGINT) AS total_tokens,
      |  min(doc_id) AS first_id,
      |  max(doc_id) AS last_id
      |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** As-of join: every click/view event gets the user's latest prior (or
    * simultaneous) purchase — the point-in-time feature lookup. The right
    * side is deduped per (user, ts) keeping the max event_id so both
    * engines resolve exact-timestamp ties identically; DuckDB's native
    * ASOF LEFT JOIN is the oracle. */
  private val asofJoin: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type").isin("click", "view"))
      .select("event_id", "user_id", "ts", "value")
    val purchases = ev.filter(col("event_type") === "purchase")
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "ts").orderBy(col("event_id").desc)))
      .filter(col("rn") === 1)
      .select("user_id", "ts", "value")
    AsOfJoin.backward(clicks, purchases, Seq("user_id"), "ts", "ts",
        payload = Seq("value"))
      .select(col("event_id"), col("user_id"), col("value"),
        col("value_r").as("last_purchase_value"),
        (unix_micros(col("ts")) - unix_micros(col("ts_r"))).as("staleness_us"))
      .orderBy("event_id")
  }

  private val asofJoinSql =
    """WITH c AS (
      |  SELECT event_id, user_id, ts, value FROM events
      |  WHERE event_type IN ('click', 'view')
      |), p0 AS (
      |  SELECT user_id, ts, value,
      |    row_number() OVER (PARTITION BY user_id, ts
      |      ORDER BY event_id DESC) AS rn
      |  FROM events WHERE event_type = 'purchase'
      |), p AS (SELECT user_id, ts, value FROM p0 WHERE rn = 1)
      |SELECT c.event_id, c.user_id, c.value,
      |  p.value AS last_purchase_value,
      |  epoch_us(c.ts) - epoch_us(p.ts) AS staleness_us
      |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
      |ORDER BY c.event_id""".stripMargin

  /** Range join: every view event attributed to every ±2 h "campaign
    * window" around a sampled set of purchases — the point-in-interval
    * join. Bucketed on 1-h epoch buckets so the plan is an equi-join
    * (never a nested loop); the DuckDB twin is the plain BETWEEN join. */
  private[queries] val rangeJoin: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val views = ev.filter(col("event_type") === "view")
      .select("event_id", "ts")
    val iv = ev.filter(col("event_type") === "purchase" &&
        col("event_id") % 41 === 0)
      .select(col("event_id").as("interval_id"),
        (col("ts") - expr("INTERVAL 2 HOURS")).as("start_ts"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("end_ts"))
    RangeJoin.pointInInterval(views, iv, keys = Nil,
        pointTs = "ts", startTs = "start_ts", endTs = "end_ts",
        bucketWidthUs = 3600L * 1000000L)
      .select(col("interval_id"), col("event_id"),
        (unix_micros(col("ts")) - unix_micros(col("start_ts")))
          .as("offset_us"))
      .orderBy("interval_id", "event_id")
  }

  private val rangeJoinSql = rangeJoinSqlOver("")

  /** [[rangeJoinSql]] with an optional restriction on the INTERVAL side —
    * the probe twin's slot ([[Probes]]): every output row depends only on
    * its own (interval, view) endpoint pair, so dropping intervals never
    * changes a kept row, and the twin's join fan-out AND its final
    * result-set fetch (the stage that OOM-killed two full sf10 attempts
    * at 541 M rows) shrink by the selected fraction. */
  private[queries] def rangeJoinSqlOver(ivPred: String): String = {
    val pred = if (ivPred.isEmpty) "" else s" AND $ivPred"
    s"""WITH iv AS (
      |  SELECT event_id AS interval_id,
      |    ts - INTERVAL 2 HOUR AS start_ts,
      |    ts + INTERVAL 2 HOUR AS end_ts
      |  FROM events WHERE event_type = 'purchase' AND event_id % 41 = 0$pred
      |)
      |SELECT iv.interval_id, e.event_id,
      |  epoch_us(e.ts) - epoch_us(iv.start_ts) AS offset_us
      |FROM events e JOIN iv
      |  ON e.ts BETWEEN iv.start_ts AND iv.end_ts
      |WHERE e.event_type = 'view'
      |ORDER BY interval_id, event_id""".stripMargin
  }

  /** Salted skew join: events joined to their per-user cohort date through
    * an 8-way salt — row-identical to the plain join (which is exactly
    * what the oracle runs), with the hot keys spread over 8 reducers. */
  private val skewJoin: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val cohorts = ev.groupBy("user_id")
      .agg(min(to_date(col("ts"))).as("cohort_date"))
    SkewJoin.salted(ev.select("event_id", "user_id", "event_type"), cohorts,
        Seq("user_id"), r = 8)
      .groupBy("cohort_date", "event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_date", "event_type")
  }

  private val skewJoinSql =
    """WITH f AS (
      |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
      |  FROM events GROUP BY 1
      |)
      |SELECT cohort_date, event_type, COUNT(*) AS n_events,
      |  COUNT(DISTINCT e.user_id) AS n_users
      |FROM events e JOIN f USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Mixture rates for the fixture's 20 sources: full/half/quarter/tenth
    * by source index — a stand-in for the web/wiki/books/code weighting of
    * a real training mixture. */
  private val MixtureRates: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> Seq(1.0, 0.5, 0.25, 0.1)(i % 4)).toMap

  private val mixtureSample: Q = (s, dir) =>
    graft.analytics.CorpusOps.mixtureSample(
        Tables.documents(s, dir), col("doc_id"), col("source"), MixtureRates)
      .select("doc_id", "source")
      .orderBy("doc_id")

  private val mixtureSampleSql = {
    val cases = MixtureRates.toSeq.sortBy(_._1).map { case (src, r) =>
      s"WHEN '$src' THEN '${graft.analytics.CorpusOps.rateBoundary(r)}'"
    }.mkString("\n    ")
    s"""SELECT doc_id, source FROM documents
       |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) <
       |  CASE source
       |    $cases
       |  END
       |ORDER BY doc_id""".stripMargin
  }

  /** √-temperature coefficient for [[tempSample]]: at the fixture's ~25
    * docs/source this keeps ~40%; at sf1's ~2500 it keeps ~4% — the cap
    * tightening exactly ∝ 1/√n_s as sources grow. */
  private val TempC = 2.0

  /** Per-source outcome of the α=0.5 temperature cap
    * ([[graft.analytics.CorpusOps.temperatureSample]]): kept counts beside
    * totals and the effective rate. The kept SET is deterministic (md5
    * draw vs an in-plan fixed-point boundary), so even the sampled counts
    * are oracle-exact. */
  private val tempSample: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val kept = graft.analytics.CorpusOps
      .temperatureSample(docs, col("doc_id"), col("source"), TempC)
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
    docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(kept, Seq("source"), "left")
      .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
      .withColumn("rate",
        round(least(lit(1.0), lit(TempC) / sqrt(col("n_docs"))), 6))
      .orderBy("source")
  }

  private val tempSampleSql = {
    val prefix48 =
      "CAST(list_sum(list_transform(range(1, 13), i -> " +
        "(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), " +
        "CAST(i AS INTEGER), 1)) - 1) * power(16, 12 - i))) AS BIGINT)"
    s"""WITH n AS (
       |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1
       |), k AS (
       |  SELECT d.source, COUNT(*) AS n_kept
       |  FROM documents d JOIN n USING (source)
       |  WHERE $prefix48 <
       |    CAST(FLOOR(LEAST(1.0, $TempC / sqrt(n.n_docs))
       |      * 281474976710656.0) AS BIGINT)
       |  GROUP BY 1
       |)
       |SELECT n.source, CAST(n.n_docs AS BIGINT) AS n_docs,
       |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       |  ROUND(LEAST(1.0, $TempC / sqrt(n.n_docs)), 6) AS rate
       |FROM n LEFT JOIN k USING (source) ORDER BY n.source""".stripMargin
  }

  /** Quality deciles per language over n_chars — the corpus-distribution
    * look that precedes threshold picking. ntile ties broken by doc_id so
    * both engines bin identically. */
  private val qualityNtile: Q = (s, dir) =>
    graft.analytics.CorpusOps.qualityBins(
        Tables.documents(s, dir), col("lang"), col("n_chars"),
        col("doc_id"), buckets = 10)
      .select(col("lang"), col("bucket"),
        col("n_docs"), col("min_quality").as("min_chars"),
        col("max_quality").as("max_chars"))
      .orderBy("lang", "bucket")

  private val qualityNtileSql =
    """WITH d AS (
      |  SELECT lang, n_chars,
      |    CAST(ntile(10) OVER (PARTITION BY lang
      |      ORDER BY n_chars, doc_id) AS INTEGER) AS bucket
      |  FROM documents)
      |SELECT lang, bucket, COUNT(*) AS n_docs,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Token-budget cut: per language, keep the longest documents (n_chars
    * desc as the quality proxy, doc_id tie-break) until 8k tokens are
    * spent; report what the cut kept. */
  private val tokenBudget: Q = (s, dir) => {
    val docs = Tables.documents(s, dir).select(col("lang"), col("doc_id"),
      col("n_chars"),
      size(graft.text.TextOps.tokens(col("text"))).cast("long")
        .as("n_tokens"))
    graft.analytics.CorpusOps.tokenBudget(docs, col("n_tokens"),
        budget = 8000L,
        orderCols = Seq(col("n_chars").desc, col("doc_id")),
        strataCols = Seq(col("lang")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("doc_id")).as("first_id"))
      .orderBy("lang")
  }

  private val tokenBudgetSql =
    """WITH d AS (
      |  SELECT lang, doc_id, n_chars,
      |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |  FROM documents
      |), c AS (
      |  SELECT lang, doc_id, tok,
      |    SUM(tok) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM d
      |)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(tok) AS BIGINT) AS total_tokens,
      |  min(doc_id) AS first_id
      |FROM c WHERE cum <= 8000 GROUP BY 1 ORDER BY 1""".stripMargin

  /** Flattened (inverse-frequency) mixture over languages (the fixture's
    * skewed dimension — en dominates): every language downsampled to the
    * smallest language's size via data-derived exact integer boundaries —
    * zero float math, so the oracle draws the identical sample. */
  private val flatMixture: Q = (s, dir) =>
    graft.analytics.CorpusOps.flattenedMixture(
        Tables.documents(s, dir), col("doc_id"), col("lang"))
      .select("doc_id", "lang")
      .orderBy("doc_id")

  private val flatMixtureSql =
    """WITH n AS (
      |  SELECT lang AS g, COUNT(*) AS n_g FROM documents GROUP BY 1
      |), b AS (
      |  SELECT g, CASE WHEN n_g = (SELECT min(n_g) FROM n) THEN 'g'
      |    ELSE lpad(lower(to_hex(
      |      ((SELECT min(n_g) FROM n) * 16777216) // n_g)), 6, '0')
      |  END AS bound FROM n
      |)
      |SELECT doc_id, lang FROM documents d JOIN b ON d.lang = b.g
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) < b.bound
      |ORDER BY doc_id""".stripMargin

  /** SCD-2 history: compact each user's last-value-per-day snapshot series
    * into validity intervals — one row per change, valid_to null while
    * current. The warehouse-side complement of the streaming upsert sink. */
  private val scd2: Q = (s, dir) => {
    val snap = Tables.events(s, dir)
      .withColumn("snap_date", to_date(col("ts")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "snap_date")
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select("user_id", "snap_date", "value")
    graft.analytics.Scd.compactHistory(snap, Seq("user_id"), "snap_date",
        Seq("value"))
      .select("user_id", "valid_from", "valid_to", "value")
      .orderBy("user_id", "valid_from")
  }

  private val scd2Sql =
    """WITH s0 AS (
      |  SELECT user_id, CAST(ts AS DATE) AS snap_date, value,
      |    row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events
      |), s AS (SELECT user_id, snap_date, value FROM s0 WHERE rn = 1),
      |m AS (
      |  SELECT *, (value IS DISTINCT FROM lag(value) OVER w
      |    OR lag(snap_date) OVER w IS NULL) AS chg
      |  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY snap_date)
      |), k AS (SELECT user_id, snap_date, value FROM m WHERE chg)
      |SELECT user_id, snap_date AS valid_from,
      |  lead(snap_date) OVER (PARTITION BY user_id ORDER BY snap_date)
      |    AS valid_to,
      |  value
      |FROM k ORDER BY user_id, valid_from""".stripMargin

  /** Batch MERGE (SCD1 upsert): a synthetic update set (every 10th doc's
    * n_chars bumped, every 50th re-inserted under a shifted id) merged
    * into the documents dimension — whole-row replace on match, insert on
    * miss, via one full-outer key join. */
  private val mergeUpsert: Q = (s, dir) => {
    val target = Tables.documents(s, dir)
      .select("doc_id", "lang", "source", "n_chars")
    val updates = target.filter(col("doc_id") % 10 === 0)
        .withColumn("n_chars", col("n_chars") + 1000)
      .unionByName(target.filter(col("doc_id") % 50 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("source", lit("new")))
    graft.sources.Merge.upsert(target, updates, "doc_id")
      .orderBy("doc_id")
  }

  private val mergeUpsertSql =
    """WITH t AS (
      |  SELECT doc_id, lang, source, n_chars FROM documents
      |), u AS (
      |  SELECT doc_id, lang, source, n_chars + 1000 AS n_chars
      |  FROM t WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, lang, 'new', n_chars
      |  FROM t WHERE doc_id % 50 = 0
      |)
      |SELECT
      |  CASE WHEN u.doc_id IS NOT NULL THEN u.doc_id ELSE t.doc_id END
      |    AS doc_id,
      |  CASE WHEN u.doc_id IS NOT NULL THEN u.lang ELSE t.lang END AS lang,
      |  CASE WHEN u.doc_id IS NOT NULL THEN u.source ELSE t.source END
      |    AS source,
      |  CASE WHEN u.doc_id IS NOT NULL THEN u.n_chars ELSE t.n_chars END
      |    AS n_chars
      |FROM t FULL OUTER JOIN u ON t.doc_id = u.doc_id
      |ORDER BY doc_id""".stripMargin

  /** Latest event per user through the upsert sink's compaction transform
    * ([[graft.streaming.UpsertSink.latestPerKey]]) with an explicit
    * event_id tie-break — the same newest-row-wins semantics the
    * streaming sink applies per micro-batch, oracle-checked in batch. */
  private val latestPerKey: Q = (s, dir) =>
    graft.streaming.UpsertSink.latestPerKey(
        Tables.events(s, dir)
          .select("user_id", "ts", "event_id", "event_type", "value"),
        key = "user_id", tsCol = "ts", tieBreak = Seq(col("event_id")))
      .select("user_id", "ts", "event_type", "value")
      .orderBy("user_id")

  private val latestPerKeySql =
    """SELECT user_id, date_trunc('microseconds', ts) AS ts, event_type,
      |  value
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** Z-score anomaly flags per event type: the monitoring query every
    * ingestion pipeline runs over its metrics. Mean/std come from
    * decimal-exact sums ([[Num]]), so the float z and the |z| > 3 cut are
    * bit-identical across engines; the per-type stats broadcast to the
    * scan (4 rows), one aggregate + one map-side join total. A zero-
    * variance type is excluded by the same `std > 0` cut on both engines:
    * without it Spark's x/0 yields NULL (row silently dropped) while
    * DuckDB's IEEE division yields ±inf (row passes |z| > 3) — a
    * degenerate but legal input would break the oracle hash. */
  private val anomalyZscore: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val stats = ev.groupBy("event_type")
      .agg(Num.dsum(col("value")).as("sum_v"),
        Num.dsum(col("value") * col("value")).as("sum_vv"),
        count(col("value")).as("n"))
      .withColumn("mean", col("sum_v") / col("n"))
      .withColumn("std",
        Num.dstddev(col("sum_v"), col("sum_vv"), col("n")))
      .select("event_type", "mean", "std")
    ev.join(broadcast(stats), Seq("event_type"))
      .filter(col("std") > 0)
      .withColumn("z", (col("value") - col("mean")) / col("std"))
      .filter(abs(col("z")) > 3.0)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("z"), 6).as("z"))
      .orderBy("event_id")
  }

  private val anomalyZscoreSql =
    """WITH st AS (
      |  SELECT event_type,
      |    CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS s,
      |    CAST(CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS ss,
      |    COUNT(value) AS n
      |  FROM events GROUP BY 1
      |)
      |SELECT event_id, event_type, value,
      |  ROUND((value - s / n) / SQRT((ss - s * s / n) / (n - 1)), 6) AS z
      |FROM events JOIN st USING (event_type)
      |WHERE SQRT((ss - s * s / n) / (n - 1)) > 0
      |  AND ABS((value - s / n) / SQRT((ss - s * s / n) / (n - 1))) > 3
      |ORDER BY event_id""".stripMargin

  /** Winsorized per-type stats: clamp values to the exact [p05, p95]
    * band before summing — the outlier-robust aggregate feature pipelines
    * use where a raw mean is one fat-finger away from garbage. Exact
    * interpolated percentiles (Spark `percentile` == DuckDB
    * `quantile_cont`), decimal-exact sum of the clamped values, 4-row
    * broadcast back to the scan. */
  private val winsorize: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val pct = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.05)").as("p05"),
        expr("percentile(value, 0.95)").as("p95"))
    ev.join(broadcast(pct), Seq("event_type"))
      .withColumn("clamped",
        least(greatest(col("value"), col("p05")), col("p95")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(Num.dsum(col("clamped")), 6).as("sum_winsorized"),
        round(min(col("p05")), 6).as("p05"),
        round(min(col("p95")), 6).as("p95"))
      .orderBy("event_type")
  }

  private val winsorizeSql =
    """WITH p AS (
      |  SELECT event_type, quantile_cont(value, 0.05) AS p05,
      |    quantile_cont(value, 0.95) AS p95
      |  FROM events GROUP BY 1
      |)
      |SELECT event_type, COUNT(*) AS n,
      |  ROUND(CAST(CAST(SUM(CAST(LEAST(GREATEST(value, p05), p95)
      |    AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE), 6) AS sum_winsorized,
      |  ROUND(min(p05), 6) AS p05, ROUND(min(p95), 6) AS p95
      |FROM events JOIN p USING (event_type)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Column-profile summary over the documents table — null counts,
    * exact distincts, and value-length bounds per column, long-form: the
    * first query any ingested corpus gets. One unpivot-style pass per
    * aggregate family (each column's stats are independent aggregates in
    * a single grouped projection, then melted). */
  private val profile: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val stats = docs.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("text").isNull || col("text") === "", 1L).otherwise(0L))
        .as("text_blank"),
      sum(when(col("lang").isNull, 1L).otherwise(0L)).as("lang_null"),
      sum(when(col("source").isNull, 1L).otherwise(0L)).as("source_null"),
      countDistinct(col("lang")).as("lang_distinct"),
      countDistinct(col("source")).as("source_distinct"),
      min(length(col("text"))).as("text_min_len"),
      max(length(col("text"))).as("text_max_len"))
    stats.select(explode(array(
        struct(lit("lang").as("column_name"),
          col("lang_null").as("n_null"),
          col("lang_distinct").as("n_distinct"),
          lit(null).cast("long").as("min_len"),
          lit(null).cast("long").as("max_len")),
        struct(lit("source").as("column_name"),
          col("source_null").as("n_null"),
          col("source_distinct").as("n_distinct"),
          lit(null).cast("long").as("min_len"),
          lit(null).cast("long").as("max_len")),
        struct(lit("text").as("column_name"),
          col("text_blank").as("n_null"),
          lit(null).cast("long").as("n_distinct"),
          col("text_min_len").cast("long").as("min_len"),
          col("text_max_len").cast("long").as("max_len")))).as("p"))
      .select("p.column_name", "p.n_null", "p.n_distinct", "p.min_len",
        "p.max_len")
      .orderBy("column_name")
  }

  private val profileSql =
    """SELECT 'lang' AS column_name,
      |  COUNT(*) FILTER (lang IS NULL) AS n_null,
      |  COUNT(DISTINCT lang) AS n_distinct,
      |  CAST(NULL AS BIGINT) AS min_len, CAST(NULL AS BIGINT) AS max_len
      |FROM documents
      |UNION ALL
      |SELECT 'source', COUNT(*) FILTER (source IS NULL),
      |  COUNT(DISTINCT source), NULL, NULL FROM documents
      |UNION ALL
      |SELECT 'text',
      |  COUNT(*) FILTER (text IS NULL OR text = ''),
      |  NULL, CAST(min(length(text)) AS BIGINT),
      |  CAST(max(length(text)) AS BIGINT)
      |FROM documents
      |ORDER BY column_name""".stripMargin

  /** Overlapping 500-char chunks every 400 chars per document, each with
    * offset + content digest — the context-window prep step; chunk
    * digests let dedup/packing run on chunks like documents. */
  private val chunkDocs: Q = (s, dir) =>
    graft.analytics.CorpusOps.chunkDocs(
        Tables.documents(s, dir), col("doc_id"), col("text"),
        col("n_chars"), chunkLen = 500, stride = 400)
      .orderBy("doc_id", "chunk_id")

  private val chunkDocsSql =
    """WITH s AS (
      |  SELECT doc_id, text, unnest(range(0, n_chars, 400)) AS chunk_start,
      |    generate_subscripts(range(0, n_chars, 400), 1) - 1 AS chunk_id
      |  FROM documents WHERE n_chars > 0
      |)
      |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id, chunk_start,
      |  length(substr(text, CAST(chunk_start + 1 AS INTEGER), 500))
      |    AS chunk_len,
      |  md5(substr(text, CAST(chunk_start + 1 AS INTEGER), 500))
      |    AS chunk_md5
      |FROM s ORDER BY doc_id, chunk_id""".stripMargin

  /** Time-range rolling sum: per user, the sum of `value` over the
    * trailing 1 hour of EVENT TIME (RANGE frame on epoch micros — frame
    * membership is defined by timestamp distance, so ties and row order
    * can't change the result). Decimal-exact addends keep Spark's
    * incremental sliding-sum and DuckDB's recompute bit-identical. */
  private val timeWindowSum: Q = (s, dir) => {
    val w = Window.partitionBy("user_id")
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600L * 1000000L, 0L)
    Tables.events(s, dir)
      .withColumn("rolling_1h_sum",
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(38, 6)))
          .over(w).cast("double"))
      .select("event_id", "user_id", "rolling_1h_sum")
      .orderBy("event_id")
  }

  private val timeWindowSumSql =
    """SELECT event_id, user_id,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER (
      |    PARTITION BY user_id ORDER BY epoch_us(ts)
      |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
      |    AS rolling_1h_sum
      |FROM events ORDER BY event_id""".stripMargin

  /** Chunk-level exact dedup over the chunk digests: repeated 500-char
    * spans across (or within) documents — boilerplate/quote detection at
    * sub-document granularity, which document-level dedup structurally
    * cannot see. Only the 32-char digest shuffles, never the text. */
  private val dedupChunks: Q = (s, dir) =>
    graft.analytics.CorpusOps.chunkDocs(
        Tables.documents(s, dir), col("doc_id"), col("text"),
        col("n_chars"), chunkLen = 500, stride = 400)
      .groupBy("chunk_md5")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_occurrences") > 1)
      .orderBy("chunk_md5")

  private val dedupChunksSql =
    """WITH s AS (
      |  SELECT doc_id, text, unnest(range(0, n_chars, 400)) AS chunk_start
      |  FROM documents WHERE n_chars > 0
      |), h AS (
      |  SELECT doc_id,
      |    md5(substr(text, CAST(chunk_start + 1 AS INTEGER), 500))
      |      AS chunk_md5
      |  FROM s
      |)
      |SELECT chunk_md5, COUNT(*) AS n_occurrences,
      |  COUNT(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
      |FROM h GROUP BY 1 HAVING COUNT(*) > 1
      |ORDER BY chunk_md5""".stripMargin

  /** 3-iteration PageRank over the chain-shaped doc graph (both edge
    * directions, so every node has outdegree ≥ 1 and the dangling-mass
    * term is exactly +0.0 — the twin still carries it, mirroring
    * [[graft.analytics.PageRank.run]]'s canonical redistribution).
    * Decimal-exact contribution sums make every iteration — and the
    * final ranks — bit-identical to the unrolled SQL twin. The damping
    * complement is computed as 1 − 0.85 on BOTH engines (the double
    * 0.15000000000000002, not the literal 0.15). */
  private val pagerank: Q = (s, dir) => {
    val ids = Tables.documents(s, dir).select(col("doc_id"))
    val fwd = ids.as("x")
      .join(ids.as("y"), col("y.doc_id") === col("x.doc_id") + 1)
      .filter(col("x.doc_id") % 50 =!= 49)
      .select(col("x.doc_id").as("src"), col("y.doc_id").as("dst"))
    val edges = fwd.union(
      fwd.select(col("dst").as("src"), col("src").as("dst")))
    graft.analytics.PageRank.run(edges, iters = 3)
      .select(col("id").as("doc_id"), col("pr"))
      .orderBy("doc_id")
  }

  private val pagerankSql = {
    // one damped iteration over the previous CTE, decimal-exact mass sums;
    // d_<out> is the decimal-exact dangling mass of the previous ranks
    // (empty set here — every node has outdegree — but the term mirrors
    // the engine's canonical redistribution bit-for-bit: +0.0/n)
    def step(prev: String, out: String) =
      s"""d_$out AS (
         |  SELECT CAST(COALESCE(SUM(CAST(p.pr AS DECIMAL(38,12))),
         |    CAST(0 AS DECIMAL(38,12))) AS DOUBLE) AS dm
         |  FROM $prev p JOIN dang ON p.id = dang.id
         |),
         |$out AS (
         |  SELECT n.id,
         |    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM cnt)
         |      + CAST(0.85 AS DOUBLE) * (COALESCE(s.m, CAST(0 AS DOUBLE))
         |        + (SELECT dm FROM d_$out) / (SELECT n FROM cnt))
         |      AS pr
         |  FROM n LEFT JOIN (
         |    SELECT e.dst AS id,
         |      CAST(CAST(SUM(CAST(p.pr / deg.deg AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
         |        AS m
         |    FROM e JOIN $prev p ON e.src = p.id JOIN deg ON e.src = deg.src
         |    GROUP BY 1) s ON n.id = s.id
         |)""".stripMargin
    s"""WITH f AS (
       |  SELECT a.doc_id AS src, b.doc_id AS dst
       |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
       |  WHERE a.doc_id % 50 <> 49
       |), e AS (SELECT src, dst FROM f UNION ALL SELECT dst, src FROM f),
       |n AS (
       |  SELECT DISTINCT id FROM (
       |    SELECT src AS id FROM e UNION ALL SELECT dst FROM e)
       |), cnt AS (SELECT COUNT(*) AS n FROM n),
       |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
       |dang AS (
       |  SELECT id FROM n
       |  WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.src = n.id)
       |), it0 AS (SELECT id, CAST(1 AS DOUBLE) / (SELECT n FROM cnt) AS pr
       |        FROM n),
       |${step("it0", "it1")},
       |${step("it1", "it2")},
       |${step("it2", "it3")}
       |SELECT id AS doc_id, pr FROM it3 ORDER BY doc_id""".stripMargin
  }

  /** Contingency table over (lang, source): observed cell counts against
    * the independence expectation row·col/N — the balance check a corpus
    * gets before mixture design (a cell far off expectation means the
    * source skews toward a language). Marginals are two tiny aggregates
    * broadcast back to the cell frame; N is one driver count. */
  private val contingency: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val n = d.count()
    val rowT = d.groupBy("lang").agg(count(lit(1)).as("lang_total"))
    val colT = d.groupBy("source").agg(count(lit(1)).as("source_total"))
    d.groupBy("lang", "source").agg(count(lit(1)).as("observed"))
      .join(broadcast(rowT), "lang")
      .join(broadcast(colT), "source")
      .withColumn("expected", round(
        (col("lang_total") * col("source_total")).cast("double") / lit(n), 6))
      .select("lang", "source", "observed", "expected")
      .orderBy("lang", "source")
  }

  private val contingencySql =
    """WITH r AS (SELECT lang, COUNT(*) AS lang_total
      |           FROM documents GROUP BY 1),
      |c AS (SELECT source, COUNT(*) AS source_total
      |      FROM documents GROUP BY 1)
      |SELECT lang, source, COUNT(*) AS observed,
      |  ROUND(CAST(lang_total * source_total AS DOUBLE)
      |    / (SELECT COUNT(*) FROM documents), 6) AS expected
      |FROM documents JOIN r USING (lang) JOIN c USING (source)
      |GROUP BY lang, source, lang_total, source_total
      |ORDER BY lang, source""".stripMargin

  /** Behavior-sequence building: each user's first 10 events as an
    * ordered comma-joined string — the sequence-model training
    * representation. collect_list alone is partitioning-dependent, so
    * elements carry their (time, id) sort key into the array and a
    * sort_array makes the order total and engine-identical; the string
    * join sidesteps the harness's no-array-cells constraint. */
  private val eventSequences: Q = (s, dir) =>
    Tables.events(s, dir)
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("us"), col("event_id"),
          col("event_type")).as("e"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        concat_ws(",", slice(transform(sort_array(collect_list(col("e"))),
          e => e.getField("event_type")), 1, 10)).as("seq"))
      .orderBy("user_id")

  private val eventSequencesSql =
    """SELECT user_id, COUNT(*) AS n_events,
      |  array_to_string(
      |    (list(event_type ORDER BY epoch_us(ts), event_id))[1:10], ',')
      |    AS seq
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Hopping (sliding) window counts: 1-hour windows every 30 minutes,
    * so each event lands in exactly two overlapping windows — the
    * smoothed-trend form of the tumbling hourly agg, same epoch-aligned
    * grid in batch and streaming. The oracle derives both member windows
    * per event arithmetically (time_bucket and its 30-minute
    * predecessor). */
  private val hoppingWindow: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"))
      .orderBy("window_start", "event_type")

  private val hoppingWindowSql =
    """WITH b AS (
      |  SELECT event_type,
      |    time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS tb
      |  FROM events
      |), w AS (
      |  SELECT event_type,
      |    unnest([tb, tb - INTERVAL '30 minutes']) AS window_start
      |  FROM b
      |)
      |SELECT window_start, event_type, COUNT(*) AS n
      |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Degree distribution of the chain graph — the first diagnostic any
    * graph op (CC, PageRank) gets: a histogram of per-node degrees
    * surfaces skewed hubs before they become stragglers. Two hash
    * aggregates, digests-only shuffle. */
  private val degreeDist: Q = (s, dir) => {
    val ids = Tables.documents(s, dir).select(col("doc_id"))
    val fwd = ids.as("x")
      .join(ids.as("y"), col("y.doc_id") === col("x.doc_id") + 1)
      .filter(col("x.doc_id") % 50 =!= 49)
      .select(col("x.doc_id").as("src"), col("y.doc_id").as("dst"))
    fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .groupBy("src").agg(count(lit(1)).as("degree"))
      .groupBy("degree")
      .agg(count(lit(1)).as("n_nodes"), min(col("src")).as("example_node"))
      .orderBy("degree")
  }

  private val degreeDistSql =
    """WITH f AS (
      |  SELECT a.doc_id AS src, b.doc_id AS dst
      |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      |  WHERE a.doc_id % 50 <> 49
      |), e AS (SELECT src, dst FROM f UNION ALL SELECT dst, src FROM f),
      |d AS (SELECT src, COUNT(*) AS degree FROM e GROUP BY 1)
      |SELECT degree, COUNT(*) AS n_nodes, min(src) AS example_node
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  /** Event-transition matrix: per-user consecutive event-type pairs
    * counted over the whole corpus — the Markov-chain summary behind
    * next-event models and funnel hypotheses. One keyed window (lead) +
    * one hash aggregate. */
  private val markovTransitions: Q = (s, dir) => {
    val w = Window.partitionBy("user_id")
      .orderBy(unix_micros(col("ts")), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("from_type", "to_type")
  }

  private val markovTransitionsSql =
    """WITH t AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS to_type
      |  FROM events
      |)
      |SELECT from_type, to_type, COUNT(*) AS n
      |FROM t WHERE to_type IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Shannon entropy of each language's source distribution — the
    * diversity diagnostic for mixture design (low entropy = one source
    * dominates the language). p·ln p terms are cast to DECIMAL(38,12)
    * before summing (the cumprod exactness pattern), so the float sum is
    * order-free and engine-identical. */
  private val sourceEntropy: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val cells = d.groupBy("lang", "source").agg(count(lit(1)).as("n"))
    val totals = d.groupBy("lang").agg(count(lit(1)).as("total"))
    cells.join(broadcast(totals), "lang")
      .withColumn("term",
        (-(col("n") / col("total")) * log(col("n") / col("total")))
          .cast(org.apache.spark.sql.types.DecimalType(38, 12)))
      .groupBy("lang")
      .agg(round(sum(col("term")).cast("double"), 6).as("entropy"),
        count(lit(1)).as("n_sources"))
      .orderBy("lang")
  }

  private val sourceEntropySql =
    """WITH c AS (
      |  SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2
      |), t AS (SELECT lang, COUNT(*) AS total FROM documents GROUP BY 1)
      |SELECT lang,
      |  ROUND(CAST(CAST(SUM(CAST(-(n / total) * LN(n / total)
      |    AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE), 6) AS entropy,
      |  COUNT(*) AS n_sources
      |FROM c JOIN t USING (lang)
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** Inter-arrival gap histogram: per-user consecutive event gaps,
    * log2-bucketed in seconds — the traffic-shape diagnostic behind
    * session-gap and watermark choices. The bucket is floor(log2(s+1))
    * computed as `length(bin(s+1)) - 1`: pure integer/string arithmetic,
    * because float log2 differs between libms exactly at the power-of-two
    * bucket boundaries this histogram is made of. */
  private val gapHistogram: Q = (s, dir) => {
    val w = Window.partitionBy("user_id")
      .orderBy(unix_micros(col("ts")), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .withColumn("bucket",
        when(col("gap_us") <= 0, lit(-1L))
          .otherwise((length(bin(expr("gap_us div 1000000") + 1)) - 1)
            .cast("long")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap_us")).as("min_us"), max(col("gap_us")).as("max_us"))
      .orderBy("bucket")
  }

  private val gapHistogramSql =
    """WITH g AS (
      |  SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
      |  FROM events
      |)
      |SELECT CASE WHEN gap_us <= 0 THEN -1
      |  ELSE CAST(length(bin((gap_us // 1000000) + 1)) - 1 AS BIGINT)
      |  END AS bucket,
      |  COUNT(*) AS n_gaps, min(gap_us) AS min_us, max(gap_us) AS max_us
      |FROM g WHERE gap_us IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Seasonality matrix: event volume by (day-of-week, hour-of-day) —
    * the load-shape profile behind capacity planning and anomaly
    * baselines. One hash aggregate over two date-part projections. */
  private val seasonality: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hod"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("dow", "hod")

  private val seasonalitySql =
    """SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
      |  CAST(hour(ts) AS INTEGER) AS hod,
      |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Cumulative user growth: each day's newly seen users and the running
    * total — the adoption curve. First-seen dates via one min-agg, then
    * one ordered window over the per-day frame. The global window is
    * safe at any corpus size: its input cardinality is calendar DAYS,
    * which does not grow with data volume (same O(buckets) argument as
    * DistributedRank's histogram). */
  private val userGrowth: Q = (s, dir) => {
    val firstSeen = Tables.events(s, dir)
      .groupBy("user_id").agg(min(to_date(col("ts"))).as("first_date"))
    firstSeen.groupBy("first_date")
      .agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users",
        sum(col("new_users")).over(org.apache.spark.sql.expressions.Window
          .orderBy("first_date")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("first_date")
  }

  private val userGrowthSql =
    """WITH f AS (
      |  SELECT user_id, min(CAST(ts AS DATE)) AS first_date
      |  FROM events GROUP BY 1
      |), d AS (
      |  SELECT first_date, COUNT(*) AS new_users FROM f GROUP BY 1
      |)
      |SELECT first_date, new_users,
      |  CAST(SUM(new_users) OVER (ORDER BY first_date
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_users
      |FROM d ORDER BY first_date""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q_sessionize", sessionize, sessionizeSql),
    Entry("q_funnel", funnel, funnelSql),
    Entry("q_retention", retention, retentionSql),
    Entry("q_hash_split", hashSplit, hashSplitSql),
    Entry("q_stratified_sample", stratifiedSample, stratifiedSampleSql),
    Entry("q_pack_sequences", packSequences, packSequencesSql),
    Entry("q_mixture_sample", mixtureSample, mixtureSampleSql),
    Entry("q_temp_sample", tempSample, tempSampleSql),
    Entry("q_asof_join", asofJoin, asofJoinSql),
    Entry("q_range_join", rangeJoin, rangeJoinSql),
    Entry("q_skew_join", skewJoin, skewJoinSql),
    Entry("q_quality_ntile", qualityNtile, qualityNtileSql),
    Entry("q_token_budget", tokenBudget, tokenBudgetSql),
    Entry("q_flat_mixture", flatMixture, flatMixtureSql),
    Entry("q_scd2", scd2, scd2Sql),
    Entry("q_merge_upsert", mergeUpsert, mergeUpsertSql),
    Entry("q_latest_per_key", latestPerKey, latestPerKeySql),
    Entry("q_anomaly_zscore", anomalyZscore, anomalyZscoreSql),
    Entry("q_winsorize", winsorize, winsorizeSql),
    Entry("q_profile", profile, profileSql),
    Entry("q_chunk_docs", chunkDocs, chunkDocsSql),
    Entry("q_time_window_sum", timeWindowSum, timeWindowSumSql),
    Entry("dedup_chunks", dedupChunks, dedupChunksSql),
    Entry("q_pagerank", pagerank, pagerankSql),
    Entry("q_contingency", contingency, contingencySql),
    Entry("q_event_sequences", eventSequences, eventSequencesSql),
    Entry("q_hopping_window", hoppingWindow, hoppingWindowSql),
    Entry("q_degree_dist", degreeDist, degreeDistSql),
    Entry("q_markov", markovTransitions, markovTransitionsSql),
    Entry("q_source_entropy", sourceEntropy, sourceEntropySql),
    Entry("q_gap_histogram", gapHistogram, gapHistogramSql),
    Entry("q_seasonality", seasonality, seasonalitySql),
    Entry("q_user_growth", userGrowth, userGrowthSql),
  )
}
