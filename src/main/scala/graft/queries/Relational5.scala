package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 coverage batch: statistics and stream-shape operators that a
  * training-data pipeline leans on — deterministic mode/argmax, weighted
  * median, interval-sweep peak concurrency, a two-sample KS test, chi-square
  * independence, and bigram PMI collocations. Every query here is
  * oracle-checked against DuckDB, and every prefix-sum/ECDF is computed with
  * a partitioned two-phase plan (never an empty `Window.partitionBy()` — the
  * single-task shape VERDICT r6 flagged).
  */
object Relational5 {
  /** Equal-width bucket expression over the OBSERVED [min, max] of
    * `raw`'s `value` column — the count-bounded grid
    * [[DistributedRolling]] uses. The driver offset tables the two-phase
    * prefix sums collect are ≤ nBuckets rows at ANY value domain;
    * the previous floor(value/50) grid grew with range/50, so an
    * unbounded value column could blow the driver table. Buckets are
    * monotone in value by construction, which is all the prefix-sum
    * decomposition needs — the final ranks (and hashes) are invariant
    * to the grid. Costs one min/max aggregate scan of `raw` (column-
    * pruned to `value`). */
  private def observedRangeBucket(raw: DataFrame): Column =
    observedRangeBucketOn(raw, col("value").cast("double"))

  /** The general form over any numeric ordering expression (e.g. a
    * timestamp's epoch micros for time-ordered prefix sums). */
  private def observedRangeBucketOn(raw: DataFrame, lead: Column): Column = {
    val s = raw.sparkSession
    val r = raw.agg(min(lead).as("mn"), max(lead).as("mx")).collect()(0)
    val nBuckets = math.max(1, s.sparkContext.defaultParallelism * 4)
    if (r.isNullAt(0)) lit(0L)
    else {
      val mn = r.getDouble(0)
      val width = math.max((r.getDouble(1) - mn) / nBuckets,
        java.lang.Double.MIN_NORMAL)
      least(floor((lead - lit(mn)) / lit(width)),
        lit((nBuckets - 1).toLong)).cast("long")
    }
  }

  /** Deterministic mode + argmax per group. The built-in `mode()` is
    * nondeterministic on ties (both engines), so the modal value is computed
    * as row_number over (count DESC, value ASC) — a fixed total order — and
    * the argmax likewise over (n_chars DESC, doc_id ASC). Two partitioned
    * windows over group-sized partitions; no global exchange. */
  private val modeArgmax: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val cnt = d.groupBy("source", "lang").agg(count(lit(1)).as("n"))
    val wm = Window.partitionBy("source").orderBy(desc("n"), col("lang"))
    val modal = cnt.withColumn("rn", row_number().over(wm))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("modal_lang"),
        col("n").as("modal_n"))
    val wl = Window.partitionBy("source").orderBy(desc("n_chars"), col("doc_id"))
    val longest = d.withColumn("rn", row_number().over(wl))
      .filter(col("rn") === 1)
      .select(col("source"), col("doc_id").as("longest_doc"),
        col("n_chars").as("longest_chars"))
    modal.join(longest, "source")
      .select("source", "modal_lang", "modal_n", "longest_doc", "longest_chars")
      .orderBy("source")
  }

  private val modeArgmaxSql =
    """WITH cnt AS (SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY 1,2),
      |modal AS (SELECT source, lang AS modal_lang, n AS modal_n,
      |            ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, lang) AS rn FROM cnt),
      |longest AS (SELECT source, doc_id AS longest_doc, n_chars AS longest_chars,
      |            ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
      |            FROM documents)
      |SELECT m.source, m.modal_lang, m.modal_n, l.longest_doc, l.longest_chars
      |FROM modal m JOIN longest l ON l.source = m.source AND l.rn = 1
      |WHERE m.rn = 1 ORDER BY m.source""".stripMargin

  /** Lower weighted median: the smallest value whose cumulative weight
    * reaches half the total. Pre-aggregating to one row per (group, value)
    * makes the cumulative sum a total order (duplicate values can't
    * interleave), so both engines walk the identical float sequence.
    *
    * The running sum is a TWO-PHASE distributed prefix sum (the
    * q_concurrency / [[DistributedRank]] posture, guide §2.2): the old
    * single window PARTITIONED by the group key put each group's whole
    * per-value frame through one task (3 return flags → 3 tasks; measured
    * three ~0.45 s serial stages at sf0.1). Values now range-bucket by a
    * monotone cut of v (min/max ride the pre-agg checkpoint as observed
    * metrics — no extra pass), a tiny per-(group, bucket) aggregate yields
    * each bucket's carry-in and the group total, and the within-bucket
    * running sum is a window partitioned by (group, bucket). All sums are
    * decimal — associative and exact — and bucketing is monotone in v, so
    * cumulative weights are IDENTICAL to the global walk the oracle runs
    * (the equality is pinned by StatsOpsSpec's global-walk twin). */
  private val weightedMedian: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    // one cheap column-pruned scan for the bucket cut; Σ l_quantity per
    // (flag, bucket) over RAW rows equals Σ w per (flag, bucket) over the
    // per-value pre-agg (decimal, associative), so the carry table comes
    // from its own partial-agg scan (tiny exchange) instead of a
    // checkpoint of the 600 k-row pre-agg (measured: the checkpointed
    // form cost +0.9 s at sf0.1)
    val r0 = li.agg(min(col("l_extendedprice").cast("double")).as("mn"),
      max(col("l_extendedprice").cast("double")).as("mx")).collect()(0)
    val nb = math.max(1, s.sparkContext.defaultParallelism * 4)
    def bucketOf(v: Column): Column =
      if (r0.isNullAt(0)) lit(0L)
      else {
        val mn = r0.getDouble(0)
        val width = math.max((r0.getDouble(1) - mn) / nb,
          java.lang.Double.MIN_NORMAL)
        least(floor((v.cast("double") - lit(mn)) / lit(width)),
          lit((nb - 1).toLong)).cast("long")
      }
    val wb = Window.partitionBy("l_returnflag").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy("l_returnflag")
    // carry-in per bucket (Σ of strictly-earlier buckets' weight) and the
    // group total — O(groups × buckets) rows, broadcast back
    val carry = li
      .groupBy(col("l_returnflag"),
        bucketOf(col("l_extendedprice")).as("bucket"))
      .agg(sum("l_quantity").as("bw"))
      .withColumn("cin", sum("bw").over(wb) - col("bw"))
      .withColumn("tw", sum("bw").over(wf))
      .select("l_returnflag", "bucket", "cin", "tw")
    val g = li
      .groupBy(col("l_returnflag"), col("l_extendedprice").as("v"))
      .agg(sum("l_quantity").as("w"))
      .withColumn("bucket", bucketOf(col("v")))
    val wc = Window.partitionBy("l_returnflag", "bucket").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.join(broadcast(carry), Seq("l_returnflag", "bucket"))
      .withColumn("cw", col("cin") + sum("w").over(wc))
      .filter(col("cw") * 2 >= col("tw"))
      .groupBy("l_returnflag").agg(min("v").as("w_median"))
      .orderBy("l_returnflag")
  }

  private val weightedMedianSql =
    """WITH g AS (SELECT l_returnflag, l_extendedprice AS v, SUM(l_quantity) AS w
      |           FROM lineitem GROUP BY 1,2),
      |c AS (SELECT l_returnflag, v,
      |        SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v ROWS UNBOUNDED PRECEDING) AS cw,
      |        SUM(w) OVER (PARTITION BY l_returnflag) AS tw
      |      FROM g)
      |SELECT l_returnflag, MIN(v) AS w_median FROM c WHERE cw * 2 >= tw
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Peak concurrency per event type via the interval sweep: each event
    * opens a session of `300 + event_id % 600` seconds; +1/-1 deltas sorted
    * by (time, delta) give a running count whose max is the peak (the -1
    * tie-break makes intervals half-open, so a session ending exactly when
    * another starts does not overlap it).
    *
    * The naive sweep is one global cumulative sum per type — an
    * all-rows-through-one-task window. Here the prefix sum is two-phase:
    * deltas bucket by DAY, a tiny per-(type, day) aggregate provides each
    * day's carry-in (cumulative sum of prior days' net deltas — O(types ×
    * days) rows, broadcast-joined back), and the within-day running sum is
    * a window partitioned by (type, day). Identical output to the global
    * sweep — the oracle IS the global sweep — with per-task work bounded by
    * one day of one type. Rows tied on (t, d) may permute within a task,
    * but the SET of prefix values over a tie group is permutation-invariant,
    * so peak and earliest-peak-time are deterministic. */
  private val concurrency: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), col("ts"),
        (col("event_id") % 600 + 300).as("dur"))
    val deltas = ev.select(col("event_type"), col("ts").as("t"), lit(1).as("d"))
      .union(ev.select(col("event_type"),
        expr("timestampadd(SECOND, dur, ts)").as("t"), lit(-1).as("d")))
      .withColumn("day", date_trunc("day", col("t")))
    // phase 1: per-day net deltas -> carry-in per (type, day); the window
    // here runs over the O(types x days) summary, not the event stream
    val wDays = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = deltas.groupBy("event_type", "day")
      .agg(sum("d").as("net"))
      .withColumn("carry", coalesce(sum("net").over(wDays), lit(0L)))
      .select("event_type", "day", "carry")
    // phase 2: within-day running sum, partitioned by (type, day)
    val wDay = Window.partitionBy("event_type", "day").orderBy(col("t"), col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val running = deltas.join(broadcast(carry), Seq("event_type", "day"))
      .withColumn("running", col("carry") + sum("d").over(wDay))
    val peak = running.groupBy("event_type").agg(max("running").as("peak"))
    running.join(broadcast(peak), Seq("event_type"))
      .filter(col("running") === col("peak"))
      .groupBy("event_type", "peak").agg(min("t").as("peak_at"))
      .select("event_type", "peak", "peak_at")
      .orderBy("event_type")
  }

  private val concurrencySql =
    """WITH ev AS (SELECT event_type, ts, event_id % 600 + 300 AS dur FROM events),
      |d AS (SELECT event_type, ts AS t, 1 AS d FROM ev
      |      UNION ALL SELECT event_type, ts + dur * INTERVAL '1 second', -1 FROM ev),
      |r AS (SELECT event_type, t, d,
      |        SUM(d) OVER (PARTITION BY event_type ORDER BY t, d ROWS UNBOUNDED PRECEDING) AS running
      |      FROM d),
      |p AS (SELECT event_type, MAX(running) AS peak FROM r GROUP BY 1)
      |SELECT r.event_type, CAST(p.peak AS BIGINT) AS peak,
      |       date_trunc('microseconds', MIN(r.t)) AS peak_at
      |FROM r JOIN p ON r.event_type = p.event_type AND r.running = p.peak
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** Two-sample Kolmogorov–Smirnov distance between the `value`
    * distributions of two event types. D = max |F1 - F2| over the combined
    * support; the comparison is kept integer-exact (|s1*n2 - s2*n1| over
    * counts, one float division at the very end) so the max is immune to
    * float summation order.
    *
    * The ECDF prefix sum is the two-phase histogram pattern
    * ([[DistributedRank]]): per-value counts bucket on the
    * [[observedRangeBucket]] grid (equal-width over the observed range,
    * count-bounded), the ≤ nBuckets bucket totals collect to a driver
    * offset table (the same scalar boundary as a codebook collect), and
    * the within-bucket cumulative sum is a window partitioned by bucket.
    * No single-task exchange anywhere at any value domain. */
  private val ksTest: Q = (s, dir) => {
    val raw = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
    val f = raw
      .groupBy("value")
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c1"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("c2"))
      .withColumn("bucket", observedRangeBucket(raw.select("value")))
    val rawOff = f.groupBy("bucket")
      .agg(sum("c1").as("b1"), sum("c2").as("b2")).collect()
    require(rawOff.forall(!_.isNullAt(0)), "value must be non-null")
    val sorted = rawOff.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    var (a1, a2) = (0L, 0L)
    val off1 = scala.collection.mutable.Map[Long, Long]()
    val off2 = scala.collection.mutable.Map[Long, Long]()
    sorted.foreach { case (b, b1, b2) =>
      off1(b) = a1; off2(b) = a2; a1 += b1; a2 += b2
    }
    val (n1, n2) = (a1, a2)
    val wb = Window.partitionBy("bucket").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    f.withColumn("s1", sum("c1").over(wb) + element_at(typedlit(off1.toMap), col("bucket")))
      .withColumn("s2", sum("c2").over(wb) + element_at(typedlit(off2.toMap), col("bucket")))
      // decimal(38,0) keeps the cross-product exact past the Long range
      // (s1*n2 can reach n1*n2 ~ 1e20 at a 100 TB event count)
      .agg(max(abs(col("s1").cast("decimal(38,0)") * n2 -
        col("s2").cast("decimal(38,0)") * n1)).as("dnum"))
      .select(round(col("dnum") / (1.0 * n1 * n2), 6).as("ks_d"),
        lit(n1).as("n1"), lit(n2).as("n2"))
  }

  private val ksTestSql =
    """WITH f AS (SELECT value, SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS c1,
      |                  SUM(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS c2
      |           FROM events WHERE event_type IN ('click','view') GROUP BY 1),
      |n AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM f),
      |c AS (SELECT SUM(c1) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS s1,
      |             SUM(c2) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS s2 FROM f)
      |SELECT round(MAX(ABS(s1*n2 - s2*n1)) / (1.0 * n1 * n2), 6) AS ks_d,
      |       CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2
      |FROM c, n GROUP BY n1, n2""".stripMargin

  /** Chi-square independence contributions of lang × source. The full grid
    * (row-totals × column-totals cross join — zero-observed cells contribute
    * their expectation) left-joins the observed cells; per-lang sums round
    * to 6 dp so the ~1e-13 float-order jitter of a parallel SUM can't leak
    * into the hash. All frames past the first agg are grid-sized (langs ×
    * sources), so every join is a broadcast at any corpus scale. */
  private val chi2: Q = (s, dir) => {
    val cell = Tables.documents(s, dir)
      .groupBy("lang", "source").agg(count(lit(1)).as("n"))
    val rt = cell.groupBy("lang").agg(sum("n").as("nr"))
    val ct = cell.groupBy("source").agg(sum("n").as("nc"))
    val tot = cell.agg(sum("n").as("nt"))
    val grid = rt.crossJoin(broadcast(ct)).crossJoin(broadcast(tot))
      .join(cell, Seq("lang", "source"), "left")
      .withColumn("o", coalesce(col("n"), lit(0L)))
      .withColumn("e", col("nr") * col("nc") / (col("nt").cast("double")))
    grid.groupBy("lang")
      .agg(round(sum(pow(col("o") - col("e"), 2) / col("e")), 6).as("chi2_part"))
      .orderBy("lang")
  }

  private val chi2Sql =
    """WITH cell AS (SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1,2),
      |rt AS (SELECT lang, SUM(n) AS nr FROM cell GROUP BY 1),
      |ct AS (SELECT source, SUM(n) AS nc FROM cell GROUP BY 1),
      |tot AS (SELECT SUM(n) AS nt FROM cell),
      |grid AS (SELECT r.lang, c.source, r.nr, c.nc, t.nt, COALESCE(cl.n, 0) AS o
      |         FROM rt r CROSS JOIN ct c CROSS JOIN tot t
      |         LEFT JOIN cell cl ON cl.lang = r.lang AND cl.source = c.source)
      |SELECT lang,
      |       round(SUM(POW(o - nr*nc/(1.0*nt), 2) / (nr*nc/(1.0*nt))), 6) AS chi2_part
      |FROM grid GROUP BY 1 ORDER BY 1""".stripMargin

  /** Bigram PMI collocations: top-40 adjacent token pairs (count >= 3) by
    * pointwise mutual information ln(p(xy) / (p(x)·p(y))). Bigrams come from
    * zipping each token array with its own tail (no self-join, no window);
    * the unigram/bigram totals re-aggregate the vocab-sized count frames and
    * broadcast, so the whole plan is two explode+hash-agg passes and a
    * TakeOrderedAndProject — the same shape at any corpus size. PMI is
    * rounded BEFORE the ordering so both engines rank the identical keys. */
  private val bigramPmi: Q = (s, dir) => {
    val toks = Tables.documents(s, dir)
      .select(graft.text.TextOps.tokens(col("text")).as("toks"))
    val uc = toks.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val tu = uc.agg(sum("cu").as("tu"))
    val bc = toks.filter(size(col("toks")) >= 2)
      .withColumn("h", slice(col("toks"), lit(1), size(col("toks")) - 1))
      .withColumn("tl", slice(col("toks"), lit(2), size(col("toks")) - 1))
      .select(explode(arrays_zip(col("h"), col("tl"))).as("pr"))
      .select(col("pr.h").as("w1"), col("pr.tl").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val tb = bc.agg(sum("c").as("tb"))
    val u1 = uc.select(col("w").as("w1"), col("cu").as("cu1"))
    val u2 = uc.select(col("w").as("w2"), col("cu").as("cu2"))
    bc.filter(col("c") >= 3)
      .join(broadcast(u1), "w1").join(broadcast(u2), "w2")
      .crossJoin(broadcast(tu)).crossJoin(broadcast(tb))
      .withColumn("pmi", round(log(
        (col("c") / col("tb").cast("double")) /
          ((col("cu1") / col("tu").cast("double")) *
            (col("cu2") / col("tu").cast("double")))), 6))
      .select("w1", "w2", "c", "pmi")
      .orderBy(desc("pmi"), col("w1"), col("w2"))
      .limit(40)
  }

  private val bigramPmiSql =
    """WITH t AS (SELECT list_filter(string_split(text,' '), x -> x<>'') AS toks FROM documents),
      |uni AS (SELECT unnest(toks) AS w FROM t),
      |uc AS (SELECT w, COUNT(*) AS cu FROM uni GROUP BY 1),
      |tu AS (SELECT SUM(cu) AS tu FROM uc),
      |big AS (SELECT unnest(list_zip(toks[1:len(toks)-1], toks[2:])) AS pr FROM t),
      |bc AS (SELECT pr[1] AS w1, pr[2] AS w2, COUNT(*) AS c FROM big GROUP BY 1,2),
      |tb AS (SELECT SUM(c) AS tb FROM bc),
      |pmi AS (SELECT w1, w2, c,
      |          round(ln((c / (1.0*(SELECT tb FROM tb))) /
      |            ((u1.cu / (1.0*(SELECT tu FROM tu))) * (u2.cu / (1.0*(SELECT tu FROM tu))))), 6) AS pmi
      |        FROM bc JOIN uc u1 ON u1.w = bc.w1 JOIN uc u2 ON u2.w = bc.w2
      |        WHERE c >= 3)
      |SELECT w1, w2, c, pmi FROM pmi ORDER BY pmi DESC, w1, w2 LIMIT 40""".stripMargin

  /** Fact-side scan pruning with a bloom runtime filter — the 100 TB form
    * of "join a big fact to a selective dim". At cluster scale the dim side
    * exceeds the broadcast threshold, the join shuffles, and without a
    * runtime filter the fact side shuffles ALL of its rows only for most to
    * be dropped by the join. Catalyst's own `InjectRuntimeFilter` rule
    * declines to fire at test scale (it skips any join it could broadcast
    * by size), so the same machinery is invoked explicitly: Spark's
    * `BloomFilterAggregate` builds the filter from one pass over the dim
    * keys, and `BloomFilterMightContain` (a scalar-subquery predicate, the
    * exact expression the rule would inject) prunes the fact scan BEFORE
    * the shuffle. False positives only ever let extra rows through to the
    * exact join, so the result is identical to the plain join — which is
    * the oracle. The MERGE hint pins the shuffle-join shape the filter
    * exists to serve; StatsOpsSpec asserts `might_contain` lands above the
    * fact scan in the executed plan. */
  private val runtimeFilter: Q = (s, dir) => {
    graft.functions.GraftFunctions.install(s)
    graft.sql.BoundSql.run(s,
      """SELECT /*+ MERGE(o) */ l_returnflag, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE), 4) AS revenue
        |FROM (SELECT * FROM rf_lineitem
        |      WHERE graft_might_contain(
        |        (SELECT graft_bloom_agg(xxhash64(o_orderkey)) FROM rf_urgent),
        |        xxhash64(l_orderkey))) l
        |JOIN rf_urgent o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)(
      "rf_urgent" -> Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey"), "rf_lineitem" -> Tables.lineitem(s, dir))
  }

  private val runtimeFilterSql =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  ROUND(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE), 4) AS revenue
      |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Lag-1 autocorrelation of the daily event volume per type — the
    * trend/seasonality screening pass of a feature pipeline. The Pearson
    * moments are integer-exact (counts): sums accumulate as DECIMAL(38,0)
    * (DuckDB's HUGEINT twin is exact too — plain long sums would silently
    * wrap at petabyte row counts), each moment casts to double once, and
    * the final correlation combines those bit-identical doubles in the
    * same IEEE sequence in both engines. The lead window partitions by
    * type over the O(days) daily frame — never the raw stream. */
  private val autocorr: Q = (s, dir) => {
    val d = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("v"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val l = d.withColumn("y", lead("v", 1).over(w))
      .filter(col("y").isNotNull)
      .select(col("event_type"), col("v").as("x"), col("y"))
    def dsum0(c: Column) = sum(c.cast("decimal(38,0)")).cast("double")
    val st = l.groupBy("event_type").agg(
      count(lit(1)).cast("double").as("n"),
      dsum0(col("x")).as("sx"), dsum0(col("y")).as("sy"),
      dsum0(col("x") * col("y")).as("sxy"),
      dsum0(col("x") * col("x")).as("sxx"),
      dsum0(col("y") * col("y")).as("syy"))
    st.select(col("event_type"),
      round((col("n") * col("sxy") - col("sx") * col("sy")) /
        (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
          sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
        .as("autocorr_1d"),
      col("n").cast("long").as("n_days"))
      .orderBy("event_type")
  }

  private val autocorrSql =
    """WITH d AS (SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS v
      |           FROM events GROUP BY 1,2),
      |l AS (SELECT event_type, v AS x,
      |        LEAD(v) OVER (PARTITION BY event_type ORDER BY day) AS y
      |      FROM d),
      |s AS (SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
      |        CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
      |        CAST(SUM(x*y) AS DOUBLE) AS sxy, CAST(SUM(x*x) AS DOUBLE) AS sxx,
      |        CAST(SUM(y*y) AS DOUBLE) AS syy
      |      FROM l WHERE y IS NOT NULL GROUP BY 1)
      |SELECT event_type,
      |  ROUND((n*sxy - sx*sy) / (SQRT(n*sxx - sx*sx) * SQRT(n*syy - sy*sy)), 6)
      |    AS autocorr_1d,
      |  CAST(n AS BIGINT) AS n_days
      |FROM s ORDER BY 1""".stripMargin

  /** Exponentially decayed value sum per type (half-life 7 days, decayed
    * to the corpus max timestamp) — the feature-store recency weighting.
    * Each term value·2^(−Δdays/7) rounds to a ×1e6 fixed-point long BEFORE
    * summation, and the sum accumulates as DECIMAL(38,0): addition is then
    * associative and exact, so the result is partitioning-independent and
    * engine-identical (a naive double sum is neither). The max-ts scalar
    * is a 1-row broadcast. */
  private val decayedAgg: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val tmax = ev.agg(max("ts").as("tmax"))
    val term = (col("value") *
      pow(lit(0.5),
        (unix_micros(col("tmax")) - unix_micros(col("ts"))) /
          lit(86400000000.0) / lit(7.0)) * lit(1e6))
    ev.crossJoin(broadcast(tmax))
      .select(col("event_type"),
        round(term, 0).cast("decimal(38,0)").as("t"))
      .groupBy("event_type")
      .agg((sum("t").cast("double") / lit(1e6)).as("decayed_sum"))
      .orderBy("event_type")
  }

  private val decayedAggSql =
    """WITH t AS (SELECT MAX(ts) AS tmax FROM events),
      |w AS (SELECT event_type,
      |        CAST(ROUND(value * POW(0.5,
      |          (epoch_us(tmax) - epoch_us(ts)) / 86400000000.0 / 7.0) * 1e6, 0)
      |          AS DECIMAL(38,0)) AS term
      |      FROM events, t)
      |SELECT event_type, CAST(SUM(term) AS DOUBLE) / 1e6 AS decayed_sum
      |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-type OLS trend (slope + intercept) of daily volume against the
    * day index — drift detection over ingest volumes. Same exact-moments
    * discipline as [[autocorr]]: integer sums in DECIMAL(38,0), one cast
    * to double per moment, identical final arithmetic in both engines. */
  private val linregTrend: Q = (s, dir) => {
    val d = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("v"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val i = d.withColumn("x", row_number().over(w).cast("long"))
    def dsum0(c: Column) = sum(c.cast("decimal(38,0)")).cast("double")
    val st = i.groupBy("event_type").agg(
      count(lit(1)).cast("double").as("n"),
      dsum0(col("x")).as("sx"), dsum0(col("v")).as("sy"),
      dsum0(col("x") * col("v")).as("sxy"),
      dsum0(col("x") * col("x")).as("sxx"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    st.select(col("event_type"),
      round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"))
      .orderBy("event_type")
  }

  private val linregTrendSql =
    """WITH d AS (SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS v
      |           FROM events GROUP BY 1,2),
      |i AS (SELECT event_type, v,
      |        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS x
      |      FROM d),
      |s AS (SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
      |        CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(v) AS DOUBLE) AS sy,
      |        CAST(SUM(x*v) AS DOUBLE) AS sxy, CAST(SUM(x*x) AS DOUBLE) AS sxx
      |      FROM i GROUP BY 1)
      |SELECT event_type,
      |  ROUND((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
      |  ROUND((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n, 6) AS intercept
      |FROM s ORDER BY 1""".stripMargin

  /** Gini coefficient of the value distribution per event type — the
    * concentration/inequality screen (in the DeFi domain: how skewed is
    * volume across transactions). G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n over
    * ascending values; tied values make Σi·x invariant to tie order, so
    * the statistic is deterministic without caring how ties rank. The
    * within-type rank is the bucketed two-phase form (offsets per
    * (type, bucket) collected like a codebook — no type-sized window
    * partition); Σi·x accumulates DECIMAL(38,0) fixed-point (i reaches the
    * row count and x·1e6 ~5e8, so the product overflows longs at petabyte
    * scale), Σx is the standard decimal-exact sum, and the final ratio
    * combines identically in both engines. */
  /** Join-key skew report for events.user_id — the diagnostics a 100 TB
    * operator runs BEFORE picking a salting factor ([[graft.analytics.SkewJoin]])
    * or trusting AQE's skew split: row/key counts, the hottest key's
    * share, and exact key-size quantiles. Shape: one hash aggregate to
    * per-key counts, a second to the count-of-counts histogram (≤ as many
    * rows as distinct key SIZES — tiny at any scale), which collects to
    * the driver like a codebook; quantiles walk the histogram in Scala
    * and the single output row is exact integer arithmetic in both
    * engines. */
  private val skewReport: Q = (s, dir) => {
    import s.implicits._
    val cnt = Tables.events(s, dir).groupBy("user_id")
      .agg(count(lit(1)).as("c"))
    val hist = cnt.groupBy("c").agg(count(lit(1)).as("keys"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val nKeys = hist.map(_._2).sum
    val nRows = hist.map { case (c, k) => c * k }.sum
    val maxKey = if (hist.isEmpty) 0L else hist.last._1
    def q(phi: Double): Long = {
      val target = math.ceil(phi * nKeys).toLong
      var cum = 0L
      hist.foreach { case (c, k) =>
        cum += k
        if (cum >= target) return c
      }
      maxKey
    }
    Seq((nRows, nKeys, maxKey,
        if (nRows == 0) 0L else maxKey * 1000000L / nRows,
        q(0.5), q(0.99)))
      .toDF("n_rows", "n_keys", "max_key_rows", "top1_share_ppm",
        "p50_key_rows", "p99_key_rows")
  }

  private val skewReportSql =
    """WITH cnt AS (
      |  SELECT user_id, COUNT(*) AS c FROM events GROUP BY 1
      |), hist AS (
      |  SELECT c, COUNT(*) AS keys FROM cnt GROUP BY 1
      |), tot AS (
      |  SELECT CAST(SUM(c * keys) AS BIGINT) AS n_rows,
      |    CAST(SUM(keys) AS BIGINT) AS n_keys,
      |    MAX(c) AS max_key_rows
      |  FROM hist
      |), cum AS (
      |  SELECT c, SUM(keys) OVER (ORDER BY c
      |    ROWS UNBOUNDED PRECEDING) AS ck
      |  FROM hist
      |)
      |SELECT tot.n_rows, tot.n_keys, tot.max_key_rows,
      |  CASE WHEN tot.n_rows = 0 THEN 0
      |    ELSE tot.max_key_rows * 1000000 // tot.n_rows END
      |    AS top1_share_ppm,
      |  (SELECT MIN(c) FROM cum, tot
      |   WHERE ck >= CEIL(0.5 * tot.n_keys)) AS p50_key_rows,
      |  (SELECT MIN(c) FROM cum, tot
      |   WHERE ck >= CEIL(0.99 * tot.n_keys)) AS p99_key_rows
      |FROM tot""".stripMargin

  /** Rolling 100-row lag-1 autocorrelation over the global (ts, event_id)
    * order — the drift/regime monitor that [[q_autocorr]] computes once
    * for the whole series, evaluated continuously. Runs through
    * [[DistributedRolling]] (halo-exchange blocks, no single-partition
    * window) with window = 101 so the halo is one row deeper than the
    * 100-row frame: every frame row's lag-1 predecessor is physically in
    * the block, making the pair set identical to the global window's.
    * Every windowed moment is an exact sum of ×1e6 fixed-point values
    * (frame-order independent): linear moments as Longs (headroom
    * 1.6e10 max-magnitude rows per frame), PRODUCT moments as
    * DECIMAL(38,0) — a single xfx² term reaches 3.1e17 at the fixture's
    * value range, so 30+ large-value rows in one 100-row frame overflow
    * a Long sum (caught by the round-9 sf10 sweep: 100 same-ts replicas
    * put identical large values adjacent in the frame; real data does
    * the same with any |value| ≳ 300 regime). DuckDB's SUM(BIGINT) is
    * already HUGEINT, so the twin needed no change. The Pearson
    * combination casts each moment to double once and runs the identical
    * IEEE sequence in both engines; windows with fewer than 30 pairs or
    * degenerate variance are NULL on both. */
  private val rollingCorr: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("tsus"),
        round(col("value") * 1e6, 0).cast("long").as("xfx"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // 128-bit-exact product moments WITHOUT decimal window accumulation
    // (a decimal sliding sum tripled this query's bench time): each
    // product t = x·y is split into (hi = floor(t/2^32), lo = t mod 2^32
    // ∈ [0, 2^32)), the window slides two cheap long sums, and the exact
    // integer Σt = 2^32·Σhi + Σlo is reconstructed per OUTPUT row in
    // decimal. Headroom: Σhi overflows only past Σ|t| ≈ 2^95, i.e.
    // |value| ≈ 2e8 sustained across a full 100-row frame — versus 2^63
    // (|value| ≈ 300) for the long sums this replaced after the sf10
    // overflow.
    //
    // ROUND-10 bounded-range fast paths: one cheap max(abs(xfx)) pre-pass
    // proves which arithmetic the data needs, and every tier computes the
    // IDENTICAL exact integers — the output (and the DuckDB twin, whose
    // BIGINT sums are HUGEINT-backed and exact regardless) never depends
    // on the tier, so no oracle switch exists to get wrong:
    //   tier 1 (maxAbs ≤ 214,748,364, i.e. |value| ≲ 214): even a full
    //     frame of worst-case products stays under 2^62 — plain long
    //     window sums, no split at all;
    //   tier 2 (maxAbs ≤ 3,037,000,499, |value| ≲ 3037 — every driver SF
    //     including sf10 lands here): each PRODUCT fits a long exactly
    //     (maxAbs² < 2^63), so the hi/lo split runs in pure long
    //     arithmetic (one shiftright + one multiply-subtract per row)
    //     instead of decimal mul/pmod/div — the per-row decimal work was
    //     the cost the r9 overflow fix added;
    //   tier 3 (anything wider): the decimal-exact split, unchanged.
    val maxAbs = ev.agg(max(abs(col("xfx")))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    val tier =
      if (maxAbs <= 214748364L) 1
      else if (maxAbs <= 3037000499L) 2
      else 3
    val two32 = lit(4294967296L).cast(dec)
    val rolled = DistributedRolling.withRolling(
        ev, Seq("tsus", "event_id"), 101) { ws =>
      val lagW = ws.rowsBetween(-1, -1)
      val fw = ws.rowsBetween(-99, 0)
      // tl: the product as a long expression (tiers 1-2, exact by the
      // maxAbs bound); td: the same product in decimal (tier 3)
      def prodSums(name: String, tl: => Column, td: => Column): Seq[(String, Column)] =
        tier match {
          case 1 => Seq(name -> sum(tl).over(fw))
          case 2 =>
            val hi = shiftright(tl, 32) // arithmetic shift == floor div
            val lo = tl - hi * lit(4294967296L) // ∈ [0, 2^32)
            Seq(s"${name}_hi" -> sum(hi).over(fw),
              s"${name}_lo" -> sum(lo).over(fw))
          case _ =>
            val t = td
            val lo = pmod(t, two32)
            val hi = (t - lo) / two32
            Seq(s"${name}_hi" -> sum(hi.cast("long")).over(fw),
              s"${name}_lo" -> sum(lo.cast("long")).over(fw))
        }
      Seq(
        "yfx" -> first(col("xfx")).over(lagW),
        "n" -> count(col("yfx")).over(fw),
        "sx" -> sum(when(col("yfx").isNotNull, col("xfx"))).over(fw),
        "sy" -> sum(col("yfx")).over(fw)) ++
        prodSums("sxy",
          when(col("yfx").isNotNull, col("xfx") * col("yfx")),
          when(col("yfx").isNotNull, col("xfx").cast(dec) * col("yfx"))) ++
        prodSums("sxx",
          when(col("yfx").isNotNull, col("xfx") * col("xfx")),
          when(col("yfx").isNotNull, col("xfx").cast(dec) * col("xfx"))) ++
        prodSums("syy",
          col("yfx") * col("yfx"),
          col("yfx").cast(dec) * col("yfx"))
    }
    def d(c: Column) = c.cast("double")
    def rejoin(name: String): Column =
      if (tier == 1) col(name).cast("double")
      else (col(s"${name}_hi").cast(dec) * two32 + col(s"${name}_lo"))
        .cast("double")
    val vx = d(col("n")) * rejoin("sxx") - d(col("sx")) * d(col("sx"))
    val vy = d(col("n")) * rejoin("syy") - d(col("sy")) * d(col("sy"))
    val cov = d(col("n")) * rejoin("sxy") - d(col("sx")) * d(col("sy"))
    rolled
      .withColumn("rcorr100",
        when(col("n") < 30 || vx <= 0 || vy <= 0, lit(null))
          .otherwise(round(cov / (sqrt(vx) * sqrt(vy)), 6)))
      .select("event_id", "rcorr100")
      .orderBy("event_id")
  }

  private val rollingCorrSql =
    """WITH e AS (
      |  SELECT event_id, epoch_us(ts) AS tsus,
      |    CAST(ROUND(value * 1e6, 0) AS BIGINT) AS xfx
      |  FROM events
      |), l AS (
      |  SELECT event_id, tsus, xfx,
      |    LAG(xfx) OVER (ORDER BY tsus, event_id) AS yfx
      |  FROM e
      |), r AS (
      |  SELECT event_id,
      |    COUNT(yfx) OVER w AS n,
      |    SUM(CASE WHEN yfx IS NOT NULL THEN xfx END) OVER w AS sx,
      |    SUM(yfx) OVER w AS sy,
      |    SUM(CASE WHEN yfx IS NOT NULL
      |      THEN CAST(xfx AS HUGEINT) * yfx END) OVER w AS sxy,
      |    SUM(CASE WHEN yfx IS NOT NULL
      |      THEN CAST(xfx AS HUGEINT) * xfx END) OVER w AS sxx,
      |    SUM(CAST(yfx AS HUGEINT) * yfx) OVER w AS syy
      |  FROM l
      |  WINDOW w AS (ORDER BY tsus, event_id
      |    ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
      |)
      |SELECT event_id,
      |  CASE WHEN n < 30
      |    OR CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <= 0
      |    OR CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) <= 0
      |  THEN NULL
      |  ELSE ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
      |  END AS rcorr100
      |FROM r ORDER BY event_id""".stripMargin

  /** CUSUM changepoint per event type — the drift screen a training-data
    * pipeline runs on every refresh: the index i (in (ts, event_id)
    * order) maximizing |S_i − (i/n)·S_n|, i.e. where the mean before and
    * after differ most. Everything before the final readout is
    * integer-exact: values fix to ×1e6 longs, the prefix sum S_i is the
    * bucketed two-phase form over the OBSERVED time range (offsets join
    * back as a broadcast frame — DECIMAL(38,0) there because at petabyte
    * event counts S_i outgrows Long), and the deviation is the
    * cross-multiplied |S_i·n − i·S_n| in decimal, so the argmax (ties →
    * smallest i) is deterministic and engine-exact; one double cast and
    * one rounded division at the very end. */
  private val cusum: Q = (s, dir) => {
    import s.implicits._
    val raw = Tables.events(s, dir)
      .select(col("event_type"), col("ts"), col("event_id"),
        round(col("value") * 1e6, 0).cast("long").as("xfx"))
    val ev = raw.withColumn("bucket",
      observedRangeBucketOn(raw, unix_micros(col("ts")).cast("double")))
    val rawOff = ev.groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("c"),
        sum(col("xfx").cast("decimal(38,0)")).as("sx")).collect()
    val offRows = rawOff
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        BigInt(r.getDecimal(3).toBigInteger)))
      .groupBy(_._1).toSeq.flatMap { case (t, rows) =>
        var ci = 0L
        var si = BigInt(0)
        rows.sortBy(_._2).map { case (_, b, c, sx) =>
          val e = (t, b, ci, si.toString)
          ci += c; si += sx
          e
        }
      }
    val off = offRows.toDF("event_type", "bucket", "ioff", "soff_str")
      .withColumn("soff", col("soff_str").cast("decimal(38,0)"))
      .drop("soff_str")
    val wb = Window.partitionBy("event_type", "bucket")
      .orderBy(col("ts"), col("event_id"))
    val cums = ev.join(broadcast(off), Seq("event_type", "bucket"))
      .withColumn("i", row_number().over(wb).cast("long") + col("ioff"))
      .withColumn("s",
        sum(col("xfx").cast("decimal(38,0)"))
          .over(wb.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          + col("soff"))
    val tot = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("xfx").cast("decimal(38,0)")).as("sn"))
    cums.join(broadcast(tot), "event_type")
      .withColumn("dev", abs(col("s") * col("n") - col("i") * col("sn")))
      .groupBy("event_type")
      .agg(max(col("n")).as("n"),
        min(struct((col("dev") * -1).as("nd"), col("i").as("i"),
          col("ts").as("ts"))).as("m"))
      .select(col("event_type"), col("n"), col("m.i").as("cp_i"),
        col("m.ts").as("cp_ts"),
        round((col("m.nd") * -1).cast("double") / col("n") / 1e6, 6)
          .as("cusum_dev"))
      .orderBy("event_type")
  }

  private val cusumSql =
    """WITH e AS (
      |  SELECT event_type, ts, event_id,
      |    CAST(ROUND(value * 1e6, 0) AS BIGINT) AS xfx
      |  FROM events
      |), r AS (
      |  SELECT event_type, ts, event_id, xfx,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY ts, event_id) AS i,
      |    SUM(CAST(xfx AS HUGEINT)) OVER (PARTITION BY event_type
      |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS s
      |  FROM e
      |), t AS (
      |  SELECT event_type, COUNT(*) AS n, SUM(CAST(xfx AS HUGEINT)) AS sn
      |  FROM e GROUP BY 1
      |), d AS (
      |  SELECT r.event_type, r.i, r.ts, t.n,
      |    ABS(r.s * t.n - r.i * t.sn) AS dev
      |  FROM r JOIN t USING (event_type)
      |), p AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type
      |    ORDER BY dev DESC, i) AS rk
      |  FROM d
      |)
      |SELECT event_type, CAST(n AS BIGINT) AS n, CAST(i AS BIGINT) AS cp_i,
      |  date_trunc('microseconds', ts) AS cp_ts,
      |  ROUND(CAST(dev AS DOUBLE) / n / 1e6, 6) AS cusum_dev
      |FROM p WHERE rk = 1 ORDER BY event_type""".stripMargin

  private val gini: Q = (s, dir) => {
    val raw = Tables.events(s, dir)
      .select(col("event_type"), col("value"), col("event_id"))
    val ev = raw.withColumn("bucket", observedRangeBucket(raw.select("value")))
    val rawOff = ev.groupBy("event_type", "bucket").count().collect()
    val off: Map[String, Map[Long, Long]] = rawOff
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (t, rows) =>
        var below = 0L
        t -> rows.sortBy(_._2).map { case (_, b, c) =>
          val e = b -> below; below += c; e
        }.toMap
      }
    val wb = Window.partitionBy("event_type", "bucket")
      .orderBy(col("value"), col("event_id"))
    val xfx = round(col("value") * 1e6, 0).cast("decimal(38,0)")
    val st = ev
      .withColumn("i", row_number().over(wb).cast("long") +
        element_at(element_at(typedlit(off), col("event_type")), col("bucket")))
      .groupBy("event_type")
      .agg(count(lit(1)).cast("double").as("n"),
        Num.dsum(col("value")).as("sx"),
        (sum(col("i").cast("decimal(38,0)") * xfx).cast("double") / 1e6)
          .as("six"))
    st.select(col("event_type"),
      round(lit(2) * col("six") / (col("n") * col("sx")) -
        (col("n") + 1) / col("n"), 6).as("gini"))
      .orderBy("event_type")
  }

  private val giniSql =
    """WITH r AS (
      |  SELECT event_type, value AS x,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY value, event_id) AS i
      |  FROM events
      |), s AS (
      |  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(CAST(SUM(CAST(x AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sx,
      |    CAST(CAST(SUM(CAST(i AS DECIMAL(38,0)) *
      |      CAST(ROUND(x*1e6, 0) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 1e6 AS six
      |  FROM r GROUP BY 1
      |)
      |SELECT event_type, ROUND(2*six/(n*sx) - (n+1)/n, 6) AS gini
      |FROM s ORDER BY 1""".stripMargin

  /** Benford first-significant-digit deviation per event type — the
    * classic financial-anomaly screen: natural multiplicative data has
    * P(d) = log₁₀(1+1/d), and a chi-square against that expectation flags
    * fabricated or capped value columns. The first digit comes from
    * ROUND(value·1e6) stringified — ROUND-then-cast in BOTH engines,
    * because a bare double→int cast truncates in Spark but rounds in
    * DuckDB. The screen covers the microunit-representable band
    * [5e-7, ~9.2e12): below it ROUND(value·1e6) is 0 (a digit the 1-9
    * grid can't hold — counting such rows in n while dropping their digit
    * biased the chi-square); above it the long cast saturates in Spark but
    * raises in DuckDB, so the parity only holds in-band. Out-of-band rows
    * are excluded from BOTH engines — 19 decades of coverage, documented
    * rather than silently skewed. One hash aggregate over the scan; the
    * 9-digit expectation grid is a broadcast. */
  private val benfords: Q = (s, dir) => {
    val d = Tables.events(s, dir)
      .filter(round(col("value") * 1e6, 0) >= 1 &&
        col("value") <= 9.0e12)
      .select(col("event_type"),
        substring(round(col("value") * 1e6, 0).cast("long").cast("string"),
          1, 1).cast("int").as("fd"))
    val c = d.groupBy("event_type", "fd").agg(count(lit(1)).as("o"))
    // t derives from c, so bare column refs would resolve to the SAME
    // attribute on both join sides (a trivially-true predicate) — alias
    // both lineages explicitly
    val t = c.groupBy("event_type").agg(sum("o").as("n"))
    val digits = s.range(1, 10).select(col("id").cast("int").as("d"))
    val g = t.as("t").crossJoin(broadcast(digits))
      .join(c.as("c"), col("c.fd") === col("d") &&
        col("c.event_type") === col("t.event_type"), "left")
      .select(col("t.event_type"), col("d"), col("t.n"),
        coalesce(col("c.o"), lit(0L)).as("o"))
      .withColumn("e", col("n") * log10(lit(1.0) + lit(1.0) / col("d")))
    g.groupBy("event_type")
      .agg(round(sum(pow(col("o") - col("e"), 2) / col("e")), 6)
        .as("benford_chi2"),
        max(col("n")).as("n"))
      .orderBy("event_type")
  }

  private val benfordsSql =
    """WITH d AS (
      |  SELECT event_type,
      |    CAST(substr(CAST(CAST(ROUND(value * 1e6, 0) AS BIGINT) AS VARCHAR),
      |      1, 1) AS INT) AS fd
      |  FROM events WHERE ROUND(value * 1e6, 0) >= 1 AND value <= 9.0e12
      |), c AS (
      |  SELECT event_type, fd, COUNT(*) AS o FROM d GROUP BY 1, 2
      |), t AS (SELECT event_type, SUM(o) AS n FROM c GROUP BY 1),
      |g AS (
      |  SELECT t.event_type, digits.d, t.n, COALESCE(c.o, 0) AS o,
      |    t.n * log10(1.0 + 1.0/digits.d) AS e
      |  FROM t CROSS JOIN (SELECT unnest(range(1, 10)) AS d) digits
      |  LEFT JOIN c ON c.event_type = t.event_type AND c.fd = digits.d
      |)
      |SELECT event_type, ROUND(SUM(POW(o - e, 2) / e), 6) AS benford_chi2,
      |  CAST(MAX(n) AS BIGINT) AS n
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  /** Mann–Whitney U between the click and view value distributions — the
    * rank-based member of the A/B trio ([[ksTest]] = distribution shape,
    * [[abTtest]] = parametric means, this = stochastic dominance). Tied
    * values get average ranks; everything before the final z-score is
    * integer-exact: per-value rank blocks come from the same bucketed
    * two-phase prefix sum as [[ksTest]], the rank-sum accumulates
    * c1·(2·cumBefore + c + 1) (twice the average-rank sum, so halves stay
    * exact) and the tie correction Σ(c³−c) in DECIMAL(38,0) (the oracle's
    * HUGEINT twin; raw longs would overflow at c³ for billion-row tie
    * groups), each moment casts to double once, and the z combination is
    * the identical IEEE sequence in both engines. */
  private val mannWhitney: Q = (s, dir) => {
    val raw = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
    val f = raw
      .groupBy("value")
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c1"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("c2"))
      .withColumn("c", col("c1") + col("c2"))
      .withColumn("bucket", observedRangeBucket(raw.select("value")))
    val rawOff = f.groupBy("bucket").agg(sum("c").as("bc")).collect()
    require(rawOff.forall(!_.isNullAt(0)), "value must be non-null")
    var below = 0L
    val off = scala.collection.mutable.Map[Long, Long]()
    rawOff.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).foreach {
      case (b, bc) => off(b) = below; below += bc
    }
    val wb = Window.partitionBy("bucket").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val st = f
      .withColumn("cb", sum("c").over(wb) +
        element_at(typedlit(off.toMap), col("bucket")) - col("c"))
      .agg(sum("c1").cast("double").as("n1"),
        sum("c2").cast("double").as("n2"),
        sum(dec(col("c1")) * (lit(2) * col("cb") + col("c") + 1))
          .cast("double").as("r1x2"),
        sum(dec(col("c")) * col("c") * col("c") - col("c"))
          .cast("double").as("ties"))
    val u1 = col("r1x2") / 2 - col("n1") * (col("n1") + 1) / 2
    val n = col("n1") + col("n2")
    st.select(round(u1, 1).as("u1"),
      round((u1 - col("n1") * col("n2") / 2) /
        sqrt(col("n1") * col("n2") / 12 *
          ((n + 1) - col("ties") / (n * (n - 1)))), 6).as("z"),
      col("n1").cast("long").as("n1"),
      col("n2").cast("long").as("n2"))
  }

  private val mannWhitneySql =
    """WITH f AS (
      |  SELECT value, SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS c1,
      |         SUM(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS c2
      |  FROM events WHERE event_type IN ('click','view') GROUP BY 1
      |), c AS (
      |  SELECT c1, c2, c1 + c2 AS c,
      |    SUM(c1 + c2) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING)
      |      - (c1 + c2) AS cb
      |  FROM f
      |), s AS (
      |  SELECT CAST(SUM(c1) AS DOUBLE) AS n1, CAST(SUM(c2) AS DOUBLE) AS n2,
      |    CAST(CAST(SUM(CAST(c1 AS HUGEINT) * (2*cb + c + 1)) AS VARCHAR) AS DOUBLE) AS r1x2,
      |    CAST(CAST(SUM(CAST(c AS HUGEINT) * c * c - c) AS VARCHAR) AS DOUBLE) AS ties
      |  FROM c
      |)
      |SELECT ROUND(r1x2/2 - n1*(n1+1)/2, 1) AS u1,
      |  ROUND(((r1x2/2 - n1*(n1+1)/2) - n1*n2/2) /
      |    SQRT(n1*n2/12 * ((n1+n2+1) - ties/((n1+n2)*(n1+n2-1)))), 6) AS z,
      |  CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2
      |FROM s""".stripMargin

  /** Welch's two-sample t-test between the click and view value
    * distributions — the parametric A/B-significance twin of [[ksTest]]
    * (which is the distribution-free form). Moments follow the repo's
    * parity discipline: the squared term multiplies in double (identical
    * in both engines) and SUMS as DECIMAL(38,6) (associative, exact), one
    * double cast per moment, then the t statistic and Welch–Satterthwaite
    * df combine those bit-identical doubles in the same IEEE sequence.
    * Two hash aggregates over the filtered scan; the 2-row pivot is
    * driver-trivial. */
  private val abTtest: Q = (s, dir) => {
    val stats = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .groupBy("event_type")
      .agg(count(lit(1)).cast("double").as("n"),
        Num.dsum(col("value")).as("sx"),
        Num.dsum(col("value") * col("value")).as("sxx"))
      .select(col("event_type"), col("n"),
        (col("sx") / col("n")).as("mean"),
        ((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
          .as("var"))
    def side(c: String, f: String) =
      max(when(col("event_type") === c, col(f))).as(s"${f}_$c")
    val ab = stats.agg(
      side("click", "mean"), side("view", "mean"),
      side("click", "var"), side("view", "var"),
      side("click", "n"), side("view", "n"))
    val se2 = col("var_click") / col("n_click") + col("var_view") / col("n_view")
    ab.select(
      round((col("mean_click") - col("mean_view")) / sqrt(se2), 6).as("t_stat"),
      round(pow(se2, 2) /
        (pow(col("var_click") / col("n_click"), 2) / (col("n_click") - 1) +
          pow(col("var_view") / col("n_view"), 2) / (col("n_view") - 1)), 6)
        .as("welch_df"),
      round(col("mean_click") - col("mean_view"), 6).as("mean_diff"),
      col("n_click").cast("long").as("n1"),
      col("n_view").cast("long").as("n2"))
  }

  private val abTtestSql =
    """WITH s AS (
      |  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sx,
      |    CAST(CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sxx
      |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1
      |), m AS (
      |  SELECT event_type, n, sx/n AS mean, (sxx - sx*sx/n) / (n-1) AS var
      |  FROM s
      |), ab AS (
      |  SELECT
      |    MAX(CASE WHEN event_type='click' THEN mean END) AS m1,
      |    MAX(CASE WHEN event_type='view'  THEN mean END) AS m2,
      |    MAX(CASE WHEN event_type='click' THEN var END) AS v1,
      |    MAX(CASE WHEN event_type='view'  THEN var END) AS v2,
      |    MAX(CASE WHEN event_type='click' THEN n END) AS n1,
      |    MAX(CASE WHEN event_type='view'  THEN n END) AS n2
      |  FROM m
      |)
      |SELECT ROUND((m1 - m2) / SQRT(v1/n1 + v2/n2), 6) AS t_stat,
      |  ROUND(POW(v1/n1 + v2/n2, 2) /
      |    (POW(v1/n1, 2)/(n1-1) + POW(v2/n2, 2)/(n2-1)), 6) AS welch_df,
      |  ROUND(m1 - m2, 6) AS mean_diff,
      |  CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2
      |FROM ab""".stripMargin

  /** Sketch set operations — the Druid/Trino-style pattern for estimating
    * |A ∪ B| and |A ∩ B| WITHOUT re-scanning the raw data: keep one tiny
    * KMV sketch per segment/partition, merge sketches at query time. The
    * union sketch is the k smallest digests of the two (capped) sketches;
    * Jaccard ρ = |k-mins of the union present in both sketches| / k; the
    * intersection estimate is ρ·union_est. When the union holds fewer than
    * k digests the sketches ARE the exact sets and both estimates are
    * exact. Estimate columns sit next to the exact COUNT DISTINCT twins,
    * and the oracle reproduces the md5-prefix arithmetic digit for digit
    * (the [[graft.functions.KmvFunctions]] pattern), so even the estimates
    * hash-match. */
  private val kmvSetOps: Q = (s, dir) => {
    import graft.functions.KmvFunctions
    graft.functions.GraftFunctions.install(s)
    val k = KmvFunctions.DefaultK
    val ev = Tables.events(s, dir)
    val uid = col("user_id").cast("string")
    val a = ev.filter(col("event_type") === "click")
      .agg(KmvFunctions.kmvSketch(uid).as("sa"),
        count_distinct(col("user_id")).as("na"))
    val b = ev.filter(col("event_type") === "view")
      .agg(KmvFunctions.kmvSketch(uid).as("sb"),
        count_distinct(col("user_id")).as("nb"))
    val exact = ev.filter(col("event_type").isin("click", "view"))
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "click", 1).otherwise(0)).as("ia"),
        max(when(col("event_type") === "view", 1).otherwise(0)).as("ib"))
      .agg(count(lit(1)).as("exact_union"),
        sum(col("ia") * col("ib")).as("exact_inter"))
    val u = slice(array_sort(array_union(col("sa"), col("sb"))), 1, k)
    val kth = element_at(col("u"), k)
    val prefix = conv(substring(kth, 1, 12), 16, 10).cast("double")
    val unionEst = when(size(col("u")) < k, size(col("u")).cast("double"))
      .otherwise(lit((k - 1).toDouble * KmvFunctions.FracScale) /
        nullif(prefix, lit(0.0)))
    val rho = size(array_intersect(col("u"),
      array_intersect(col("sa"), col("sb")))).cast("double") /
      least(lit(k), size(col("u"))).cast("double")
    a.crossJoin(b).crossJoin(broadcast(exact))
      .withColumn("u", u)
      .select(unionEst.as("union_est"),
        (rho * unionEst).as("inter_est"),
        rho.as("jaccard_est"),
        col("exact_union"),
        col("exact_inter").cast("long").as("exact_inter"))
  }

  private val kmvSetOpsSql = {
    val k = graft.functions.KmvFunctions.DefaultK
    val frac = graft.functions.KmvFunctions.FracScale
    s"""WITH da AS (
       |  SELECT h FROM (
       |    SELECT md5(CAST(user_id AS VARCHAR)) AS h,
       |      ROW_NUMBER() OVER (ORDER BY md5(CAST(user_id AS VARCHAR))) AS rn
       |    FROM (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'))
       |  WHERE rn <= $k
       |), db AS (
       |  SELECT h FROM (
       |    SELECT md5(CAST(user_id AS VARCHAR)) AS h,
       |      ROW_NUMBER() OVER (ORDER BY md5(CAST(user_id AS VARCHAR))) AS rn
       |    FROM (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'))
       |  WHERE rn <= $k
       |), u AS (
       |  SELECT h FROM (
       |    SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
       |    FROM (SELECT DISTINCT h
       |          FROM (SELECT h FROM da UNION ALL SELECT h FROM db)))
       |  WHERE rn <= $k
       |), ustats AS (
       |  SELECT COUNT(*) AS nu, MAX(h) AS kth FROM u
       |), rho AS (
       |  SELECT COUNT(*) AS nboth FROM u
       |  WHERE h IN (SELECT h FROM da) AND h IN (SELECT h FROM db)
       |), ex AS (
       |  SELECT COUNT(*) AS exact_union,
       |    CAST(SUM(ia * ib) AS BIGINT) AS exact_inter
       |  FROM (SELECT user_id,
       |          MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ia,
       |          MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS ib
       |        FROM events WHERE event_type IN ('click', 'view')
       |        GROUP BY 1)
       |), est AS (
       |  SELECT
       |    CASE WHEN nu < $k THEN CAST(nu AS DOUBLE)
       |         ELSE ${(k - 1).toDouble} * $frac /
       |              NULLIF(list_sum(list_transform(range(1, 13), i ->
       |                (strpos('0123456789abcdef',
       |                   substr(kth, CAST(i AS INTEGER), 1)) - 1)
       |                * power(16, 12 - i))), 0.0) END AS union_est,
       |    CAST(nboth AS DOUBLE) / LEAST($k, nu) AS jaccard_est
       |  FROM ustats, rho
       |)
       |SELECT union_est, jaccard_est * union_est AS inter_est, jaccard_est,
       |  exact_union, exact_inter
       |FROM est, ex""".stripMargin
  }

  /** Product-quantization ADC search — see [[graft.sim.ProductQuantization]]
    * for the full scale rationale (32× corpus compression; one encode scan,
    * broadcast query set, partitioned top-k). Queries are vec_id 16–25
    * against the whole corpus; distances are exact fixed-point longs, so
    * the DuckDB twin reproduces encode argmins and rankings bit-for-bit. */
  private val pqTopK: Q = (s, dir) =>
    graft.sim.ProductQuantization.pqTopK(
      Tables.embeddings(s, dir), qFrom = 16L, qTo = 25L, k = 10)

  private val pqTopKSql =
    """WITH v AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings
      |), sub AS (
      |  SELECT vec_id, CAST((i-1) // 8 AS INT) AS m, (i-1) % 8 AS j, x FROM v
      |), anch AS (
      |  SELECT vec_id AS k, m, j, x FROM sub WHERE vec_id < 16
      |), enc0 AS (
      |  SELECT s.vec_id, s.m, a.k,
      |    SUM(CAST(ROUND(a.x*a.x*1e12, 0) AS BIGINT))
      |      - 2*SUM(CAST(ROUND(s.x*a.x*1e12, 0) AS BIGINT)) AS score
      |  FROM sub s JOIN anch a ON a.m = s.m AND a.j = s.j
      |  GROUP BY 1, 2, 3
      |), enc AS (
      |  SELECT vec_id, m, k FROM (
      |    SELECT vec_id, m, k,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY score, k) AS rn
      |    FROM enc0) WHERE rn = 1
      |), lut AS (
      |  SELECT q.vec_id AS qid, a.m, a.k,
      |    SUM(CAST(ROUND(q.x*q.x*1e12, 0) AS BIGINT))
      |      + SUM(CAST(ROUND(a.x*a.x*1e12, 0) AS BIGINT))
      |      - 2*SUM(CAST(ROUND(q.x*a.x*1e12, 0) AS BIGINT)) AS d2
      |  FROM sub q JOIN anch a ON a.m = q.m AND a.j = q.j
      |  WHERE q.vec_id BETWEEN 16 AND 25
      |  GROUP BY 1, 2, 3
      |), adc AS (
      |  SELECT l.qid, e.vec_id, CAST(SUM(l.d2) AS BIGINT) AS dist_fx
      |  FROM enc e JOIN lut l ON l.m = e.m AND l.k = e.k
      |  GROUP BY 1, 2
      |)
      |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, dist_fx FROM (
      |  SELECT qid, vec_id, dist_fx,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist_fx, vec_id) AS rank
      |  FROM adc)
      |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** IVF-PQ composition — see [[graft.sim.ProductQuantization.ivfPqTopK]]:
    * coarse-cell pruning to each query's 4 closest of 16 cells before the
    * ADC scan (partition pruning at scale). The coarse argmin and the
    * probe ranking are the same exact fixed-point arithmetic, so even the
    * pruned result is hash-exact against the twin. */
  private val ivfPqTopK: Q = (s, dir) =>
    graft.sim.ProductQuantization.ivfPqTopK(
      Tables.embeddings(s, dir), qFrom = 16L, qTo = 25L, k = 10, nprobe = 4)

  private val ivfPqTopKSql =
    """WITH v AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings
      |), sub AS (
      |  SELECT vec_id, CAST((i-1) // 8 AS INT) AS m, (i-1) % 8 AS j, x FROM v
      |), anch AS (
      |  SELECT vec_id AS k, m, j, x FROM sub WHERE vec_id < 16
      |), fa AS (
      |  SELECT s.vec_id, a.k,
      |    SUM(CAST(ROUND(a.x*a.x*1e12, 0) AS BIGINT))
      |      - 2*SUM(CAST(ROUND(s.x*a.x*1e12, 0) AS BIGINT)) AS score
      |  FROM sub s JOIN anch a ON a.m = s.m AND a.j = s.j
      |  GROUP BY 1, 2
      |), ca AS (
      |  SELECT vec_id, k AS cell FROM (
      |    SELECT vec_id, k,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, k) AS rn
      |    FROM fa) WHERE rn = 1
      |), probe AS (
      |  SELECT vec_id AS qid, k AS cell FROM (
      |    SELECT vec_id, k,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, k) AS rn
      |    FROM fa WHERE vec_id BETWEEN 16 AND 25) WHERE rn <= 4
      |), cand AS (
      |  SELECT DISTINCT qid, vec_id FROM (
      |    SELECT p.qid, ca.vec_id FROM probe p JOIN ca ON ca.cell = p.cell
      |    UNION ALL
      |    SELECT vec_id AS qid, vec_id FROM embeddings
      |    WHERE vec_id BETWEEN 16 AND 25)
      |), enc0 AS (
      |  SELECT s.vec_id, s.m, a.k,
      |    SUM(CAST(ROUND(a.x*a.x*1e12, 0) AS BIGINT))
      |      - 2*SUM(CAST(ROUND(s.x*a.x*1e12, 0) AS BIGINT)) AS score
      |  FROM sub s JOIN anch a ON a.m = s.m AND a.j = s.j
      |  GROUP BY 1, 2, 3
      |), enc AS (
      |  SELECT vec_id, m, k FROM (
      |    SELECT vec_id, m, k,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY score, k) AS rn
      |    FROM enc0) WHERE rn = 1
      |), lut AS (
      |  SELECT q.vec_id AS qid, a.m, a.k,
      |    SUM(CAST(ROUND(q.x*q.x*1e12, 0) AS BIGINT))
      |      + SUM(CAST(ROUND(a.x*a.x*1e12, 0) AS BIGINT))
      |      - 2*SUM(CAST(ROUND(q.x*a.x*1e12, 0) AS BIGINT)) AS d2
      |  FROM sub q JOIN anch a ON a.m = q.m AND a.j = q.j
      |  WHERE q.vec_id BETWEEN 16 AND 25
      |  GROUP BY 1, 2, 3
      |), adc AS (
      |  SELECT c.qid, c.vec_id, CAST(SUM(l.d2) AS BIGINT) AS dist_fx
      |  FROM cand c
      |  JOIN enc e ON e.vec_id = c.vec_id
      |  JOIN lut l ON l.qid = c.qid AND l.m = e.m AND l.k = e.k
      |  GROUP BY 1, 2
      |)
      |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, dist_fx FROM (
      |  SELECT qid, vec_id, dist_fx,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist_fx, vec_id) AS rank
      |  FROM adc)
      |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q_mode_argmax", modeArgmax, modeArgmaxSql),
    Entry("q_weighted_median", weightedMedian, weightedMedianSql),
    Entry("q_concurrency", concurrency, concurrencySql),
    Entry("q_ks_test", ksTest, ksTestSql),
    Entry("q_chi2", chi2, chi2Sql),
    Entry("q_runtime_filter", runtimeFilter, runtimeFilterSql),
    Entry("q_autocorr", autocorr, autocorrSql),
    Entry("q_decayed_agg", decayedAgg, decayedAggSql),
    Entry("q_linreg_trend", linregTrend, linregTrendSql),
    Entry("q_kmv_setops", kmvSetOps, kmvSetOpsSql),
    Entry("q_ab_ttest", abTtest, abTtestSql),
    Entry("q_mannwhitney", mannWhitney, mannWhitneySql),
    Entry("q_gini", gini, giniSql),
    Entry("q_cusum", cusum, cusumSql),
    Entry("q_rolling_corr", rollingCorr, rollingCorrSql),
    Entry("q_skew_report", skewReport, skewReportSql),
    Entry("q_benfords", benfords, benfordsSql),
    Entry("sim_pq_topk", pqTopK, pqTopKSql),
    Entry("sim_ivfpq_topk", ivfPqTopK, ivfPqTopKSql),
    Entry("text_bigram_pmi", bigramPmi, bigramPmiSql),
  )
}
