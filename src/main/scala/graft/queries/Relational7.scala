package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize

/** Round-8 closing batch: MOSS-style winnowing fingerprints — the
  * position-aware local fingerprint selection that powers plagiarism /
  * shared-passage detection (Schleimer, Wilkerson, Aiken, "Winnowing:
  * Local Algorithms for Document Fingerprinting", SIGMOD 2003). The
  * existing fingerprint family is either whole-document
  * (`text_fingerprint` = one md5 per doc) or set-based
  * (`dedup_minhash_sigs` = order-free shingle sketches); winnowing sits
  * between: it selects a guaranteed-coverage SUBSET of k-gram hashes (at
  * least one per window of w consecutive k-grams), so any shared run of
  * ≥ w+k−1 tokens between two documents shares at least one selected
  * fingerprint — a detection guarantee MinHash cannot give.
  */
object Relational7 {
  /** k-gram width (tokens) and winnow window (k-grams). A match of
    * ≥ WinnowW + WinnowK − 1 = 6 consecutive tokens is guaranteed to
    * share a fingerprint. */
  private val WinnowK = 3
  private val WinnowW = 4

  /** Position slots per document for the (hash, position) → single-long
    * encoding; documents are capped at 2^20 k-grams (the fixture max is
    * 97; production books are ~10^5 tokens — enforceeable upstream by
    * the chunking op). */
  private val PosSlots = 1 << 20 // 2^20

  /** Robust-winnowing fingerprint selection, one row per SELECTED
    * (doc, position, hash). The per-window argmin with the
    * rightmost-on-tie rule runs as ONE rolling MIN over an encoded long:
    * code = h·2^20 + (2^20−1−pos) — minimizing code minimizes the hash
    * and, among equal hashes, maximizes the position (the MOSS tie rule).
    * Decode is integer division/modulo; no struct-ordering semantics to
    * keep in sync across engines. The window partitions by doc_id (docs
    * are bounded, so no giant partition) and the k-gram hash is the first
    * 9 md5 hex digits (36 bits) — the same cross-engine hash material as
    * the MinHash family. */
  private def winnowed(s: SparkSession, dir: String): DataFrame =
    winnowedFrom(Tables.documents(s, dir))

  /** Same selection over any (doc_id, text) frame — spec entry point for
    * the coverage/guarantee properties on synthetic corpora. */
  private[graft] def winnowedFrom(docs: DataFrame): DataFrame = {
    // spread before tokenize + k-gram explode + md5: pipelined onto the
    // single-split fixture scan this ran as one 0.5 s task (r14 profile);
    // no-op at real scale where the scan has >= cores splits
    val d = Tables.spread(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        graft.text.TextOps.tokens(col("text")).as("toks"))
    val grams = d.select(col("doc_id"), posexplode(
      when(size(col("toks")) >= WinnowK,
        transform(sequence(lit(0), size(col("toks")) - WinnowK),
          i => concat_ws(" ",
            (0 until WinnowK).map(j => element_at(col("toks"), i + j + lit(1))): _*)))
        .otherwise(array().cast("array<string>"))))
    val h = conv(substring(md5(col("col")), 1, 9), 16, 10).cast("long")
    val coded = grams.select(col("doc_id"), col("pos"),
      (h * PosSlots + (lit(PosSlots - 1) - col("pos"))).as("code"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-(WinnowW - 1), 0)
    coded.withColumn("mc", min(col("code")).over(w))
      .filter(col("pos") >= WinnowW - 1)
      // integer div, NOT floor(/): a double quotient of a ~2^56 code is
      // past the 53-bit mantissa and would round the decoded hash
      .select(col("doc_id"),
        expr(s"mc div $PosSlots").as("fp_hash"),
        (lit(PosSlots - 1) - col("mc") % PosSlots).as("fp_pos"))
      .distinct()
  }

  private val winnowedCteSql =
    s"""d AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
       |    AS toks
       |  FROM documents
       |), g AS (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
       |  FROM d, LATERAL unnest(range(1, CASE WHEN len(toks) >= $WinnowK
       |    THEN len(toks) - $WinnowK + 2 ELSE 1 END)) AS u(i)
       |), coded AS (
       |  SELECT doc_id, pos,
       |    CAST(('0x' || substr(md5(gram), 1, 9)) AS BIGINT) * $PosSlots
       |      + (${PosSlots - 1} - pos) AS code
       |  FROM g
       |), sel AS (
       |  SELECT DISTINCT doc_id, mc // $PosSlots AS fp_hash,
       |    ${PosSlots - 1} - (mc % $PosSlots) AS fp_pos
       |  FROM (
       |    SELECT doc_id, pos, MIN(code) OVER (PARTITION BY doc_id
       |      ORDER BY pos ROWS BETWEEN ${WinnowW - 1} PRECEDING
       |      AND CURRENT ROW) AS mc
       |    FROM coded
       |  ) WHERE pos >= ${WinnowW - 1}
       |)""".stripMargin

  /** Per-document winnowing report: k-gram count, selected fingerprint
    * count, and selection density in ppm (expected ≈ 2/(w+1) for random
    * hashes — the paper's bound; integer div keeps the hash gate exact).
    * Sub-k-gram docs stay in the report with zeros. */
  private val winnowing: Q = (s, dir) => {
    val spine = Tables.documents(s, dir)
      .select(col("doc_id"), greatest(
        size(graft.text.TextOps.tokens(col("text"))) - (WinnowK - 1),
        lit(0)).cast("long").as("n_grams"))
    val fp = winnowed(s, dir).groupBy("doc_id")
      .agg(count(lit(1)).as("n_fp"))
    spine.join(fp, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"))
      .withColumn("density_ppm",
        when(col("n_grams") === 0, lit(0L))
          .otherwise(expr("n_fp * 1000000 div n_grams")))
      .orderBy("doc_id")
  }

  private val winnowingSql =
    s"""WITH $winnowedCteSql, spine AS (
       |  SELECT doc_id, CAST(GREATEST(len(toks) - ${WinnowK - 1}, 0)
       |    AS BIGINT) AS n_grams
       |  FROM d
       |), fp AS (SELECT doc_id, COUNT(*) AS n_fp FROM sel GROUP BY 1)
       |SELECT spine.doc_id, spine.n_grams,
       |  COALESCE(fp.n_fp, 0) AS n_fp,
       |  CASE WHEN spine.n_grams = 0 THEN 0
       |    ELSE (COALESCE(fp.n_fp, 0) * 1000000) // spine.n_grams
       |  END AS density_ppm
       |FROM spine LEFT JOIN fp ON fp.doc_id = spine.doc_id
       |ORDER BY spine.doc_id""".stripMargin

  /** Drop fingerprint hashes held by more than this many documents before
    * pairing — the hot-bucket cap every banded-LSH query in the repo
    * applies: a stop-phrase k-gram shared by half the corpus would
    * otherwise contribute O(docs²) pair rows on its own, and carries no
    * discriminative signal anyway (IDF logic). The cap test is a
    * deterministic per-hash doc count, so both engines drop exactly the
    * same buckets. */
  private val WinnowPairCap = 8

  /** Shared-passage candidate pairs: documents sharing ≥ 3 selected
    * fingerprint hashes after the hot-hash cap — the MOSS match report.
    * Join is bucketed by fp_hash (never all-pairs); per-bucket fan-out is
    * ≤ Cap², so the pair stage is linear in the fingerprint count. */
  private val winnowPairs: Q = (s, dir) => {
    val byHash = winnowed(s, dir).select("doc_id", "fp_hash").distinct()
    // hot-hash cap as a count over the fp_hash partition: the old
    // groupBy+join-back pair shuffled byHash twice (partial-agg exchange vs
    // full-row join exchange — not ReuseExchange-shareable); one exchange,
    // identical kept rows (byHash is (doc, hash)-distinct, so COUNT ==
    // distinct doc count)
    val kept = byHash.withColumn("nd", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp_hash")))
      .filter(col("nd") <= WinnowPairCap).drop("nd")
    kept.as("a").join(kept.as("b"),
        col("a.fp_hash") === col("b.fp_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= 3)
      .orderBy(desc("shared_fp"), col("doc_a"), col("doc_b"))
      .limit(100)
  }

  private val winnowPairsSql =
    s"""WITH $winnowedCteSql, bh AS (
       |  SELECT DISTINCT doc_id, fp_hash FROM sel
       |), kept AS (
       |  SELECT doc_id, fp_hash FROM bh
       |  WHERE fp_hash IN (SELECT fp_hash FROM bh GROUP BY 1
       |    HAVING COUNT(*) <= $WinnowPairCap)
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  COUNT(*) AS shared_fp
       |FROM kept a JOIN kept b
       |  ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING COUNT(*) >= 3
       |ORDER BY shared_fp DESC, doc_a, doc_b LIMIT 100""".stripMargin

  /** Positional phrase search — the inverted-index operator the text
    * family lacked: BM25/TF-IDF treat documents as bags of words and
    * cannot answer "which docs contain this exact 3-token phrase".
    * The target phrase is selected in-query (the corpus's most frequent
    * trigram, ties broken lexicographically) so the query is a pure
    * function of the data at any scale factor.
    *
    * Scale shape is the production split: the TOP-phrase scan is a
    * shuffle-free transform+explode count (map-side combinable); the
    * SEARCH never joins the full postings list against itself — postings
    * are first filtered to the phrase's three words against the 1-row
    * broadcast (at 100 TB that predicate reaches the scan of a
    * token-partitioned postings table), and only those survivors do the
    * (doc, pos+1)/(doc, pos+2) adjacency equi-joins. */
  private val phraseSearch: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.text.TextOps.tokens(col("text")).as("toks"))
    val grams = d.select(explode(
      when(size(col("toks")) >= 3,
        transform(sequence(lit(0), size(col("toks")) - 3),
          i => concat_ws(" ", element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2), element_at(col("toks"), i + 3))))
        .otherwise(array().cast("array<string>"))).as("gram"))
    val top = grams.groupBy("gram").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("gram")).limit(1)
    val words = top.select(col("gram").as("phrase"),
      element_at(split(col("gram"), " "), 1).as("w1"),
      element_at(split(col("gram"), " "), 2).as("w2"),
      element_at(split(col("gram"), " "), 3).as("w3"))
    val posts = d.select(col("doc_id"), posexplode(col("toks")))
      .withColumnRenamed("col", "token")
      .crossJoin(broadcast(words))
    val p1 = posts.filter(col("token") === col("w1"))
      .select(col("doc_id"), col("pos"), col("phrase"))
    val p2 = posts.filter(col("token") === col("w2"))
      .select(col("doc_id").as("d2"), col("pos").as("q2"))
    val p3 = posts.filter(col("token") === col("w3"))
      .select(col("doc_id").as("d3"), col("pos").as("q3"))
    p1.join(p2, col("d2") === col("doc_id") && col("q2") === col("pos") + 1)
      .join(p3, col("d3") === col("doc_id") && col("q3") === col("pos") + 2)
      .groupBy("doc_id", "phrase").agg(count(lit(1)).as("n_occ"))
      .orderBy("doc_id")
  }

  private val phraseSearchSql =
    """WITH d AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
      |    AS toks
      |  FROM documents
      |), g AS (
      |  SELECT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
      |  FROM d, LATERAL unnest(range(1, CASE WHEN len(toks) >= 3
      |    THEN len(toks) - 1 ELSE 1 END)) AS u(i)
      |), top AS (
      |  SELECT gram FROM (SELECT gram, COUNT(*) AS n FROM g GROUP BY 1)
      |  ORDER BY n DESC, gram LIMIT 1
      |), w AS (
      |  SELECT gram AS phrase, string_split(gram, ' ')[1] AS w1,
      |    string_split(gram, ' ')[2] AS w2, string_split(gram, ' ')[3] AS w3
      |  FROM top
      |), p AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i] AS token
      |  FROM d, LATERAL unnest(range(1, len(toks) + 1)) AS u(i)
      |)
      |SELECT p1.doc_id, w.phrase, COUNT(*) AS n_occ
      |FROM p p1 CROSS JOIN w
      |JOIN p p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
      |  AND p2.token = w.w2
      |JOIN p p3 ON p3.doc_id = p1.doc_id AND p3.pos = p1.pos + 2
      |  AND p3.token = w.w3
      |WHERE p1.token = w.w1
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** Minimum shared fingerprints for a pair to get span evidence, and
    * the island gap: two matched positions more than w+k−1 apart cannot
    * belong to one contiguous shared passage. */
  private val SpanMinShared = 10
  private val SpanGap = WinnowW + WinnowK - 1

  /** Matched-span evidence for strong winnowing pairs — the MOSS report
    * step after [[winnowPairs]]: candidate pairs say "these documents
    * share material", spans say WHERE. Matched fingerprint positions per
    * pair are merged into islands (gap > w+k−1 starts a new span, since
    * a longer gap cannot sit inside one contiguous shared passage);
    * each span reports its position range in BOTH documents and its
    * fingerprint count. Per-pair windows only — a pair's matched
    * positions are bounded by the shorter document, so no hot partition
    * at any corpus size. */
  private val winnowSpans: Q = (s, dir) => {
    val byHash = winnowed(s, dir)
    // hot-hash cap without the old distinct→groupBy→join-back (three
    // exchanges over the winnowed frame, none ReuseExchange-shareable):
    // ONE forced fp_hash exchange, then two sort-only windows — flag each
    // (hash, doc)'s first row, count flags per hash = distinct-doc count.
    // No per-task set is built, so a degenerate stop-phrase hash costs a
    // spillable sort, never memory (the skew posture the groupBy had).
    val W = org.apache.spark.sql.expressions.Window
    val kept = byHash.repartition(col("fp_hash"))
      .withColumn("__first",
        when(row_number().over(W.partitionBy("fp_hash", "doc_id")
          .orderBy("fp_pos")) === 1, 1L).otherwise(0L))
      .withColumn("nd", sum(col("__first")).over(W.partitionBy("fp_hash")))
      .filter(col("nd") <= WinnowPairCap).drop("nd", "__first")
    val matches = kept.as("a").join(kept.as("b"),
        col("a.fp_hash") === col("b.fp_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.fp_pos").as("pos_a"), col("b.fp_pos").as("pos_b"),
        col("a.fp_hash").as("fp_hash"))
    val strong = matches.groupBy("doc_a", "doc_b")
      .agg(countDistinct(col("fp_hash")).as("shared"))
      .filter(col("shared") >= SpanMinShared)
      .select("doc_a", "doc_b")
    val mw = Window.partitionBy("doc_a", "doc_b")
      .orderBy("pos_a", "pos_b")
    val spans = matches.join(strong, Seq("doc_a", "doc_b"))
      .withColumn("brk", when(col("pos_a") -
        lag("pos_a", 1).over(mw) > SpanGap, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(
        mw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_a", "doc_b", "island")
      .agg(min("pos_a").as("a_start"), max("pos_a").as("a_end"),
        min("pos_b").as("b_start"), max("pos_b").as("b_end"),
        count(lit(1)).as("n_fp"))
      .drop("island")
    spans.orderBy("doc_a", "doc_b", "a_start", "b_start")
  }

  private val winnowSpansSql =
    s"""WITH $winnowedCteSql, kepth AS (
       |  SELECT fp_hash FROM (SELECT DISTINCT doc_id, fp_hash FROM sel)
       |  GROUP BY 1 HAVING COUNT(*) <= $WinnowPairCap
       |), kept AS (
       |  SELECT doc_id, fp_hash, fp_pos FROM sel
       |  WHERE fp_hash IN (SELECT fp_hash FROM kepth)
       |), m AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.fp_pos AS pos_a, b.fp_pos AS pos_b, a.fp_hash
       |  FROM kept a JOIN kept b
       |    ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
       |), strong AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT doc_a, doc_b, COUNT(DISTINCT fp_hash) AS shared
       |    FROM m GROUP BY 1, 2)
       |  WHERE shared >= $SpanMinShared
       |), brk AS (
       |  SELECT m.*, CASE WHEN pos_a - LAG(pos_a) OVER w > $SpanGap
       |      THEN 1 ELSE 0 END AS brk
       |  FROM m JOIN strong USING (doc_a, doc_b)
       |  WINDOW w AS (PARTITION BY doc_a, doc_b ORDER BY pos_a, pos_b)
       |), isl AS (
       |  SELECT brk.*, SUM(brk) OVER (PARTITION BY doc_a, doc_b
       |    ORDER BY pos_a, pos_b ROWS BETWEEN UNBOUNDED PRECEDING
       |    AND CURRENT ROW) AS island
       |  FROM brk
       |)
       |SELECT doc_a, doc_b, MIN(pos_a) AS a_start, MAX(pos_a) AS a_end,
       |  MIN(pos_b) AS b_start, MAX(pos_b) AS b_end, COUNT(*) AS n_fp
       |FROM isl GROUP BY doc_a, doc_b, island
       |ORDER BY doc_a, doc_b, a_start, b_start""".stripMargin

  /** Snapshot diff — the table-version regression gate a pipeline runs
    * after every backfill or code migration: given two versions of a
    * keyed table, classify every key as added / deleted / changed /
    * unchanged and attribute changes to columns. The "new" version here
    * is a deterministic mutation of the events table (drop id%97=0,
    * re-key id%89=0 as inserts past max id, bump value on id%13=0), so
    * both engines diff the identical pair of versions; in production the
    * two sides are two table snapshots. One full-outer join on the key —
    * co-partitioned/bucketed snapshots make it exchange-free — and one
    * hash agg; no row data leaves the executors, only the count matrix. */
  private val snapshotDiff: Q = (s, dir) => {
    val old = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val maxId = old.agg(max("event_id")).collect()(0).getLong(0)
    val base = old.filter(col("event_id") % 97 =!= 0)
    val moved = base.filter(col("event_id") % 89 === 0)
      .select((col("event_id") + maxId + 1).as("event_id"),
        col("event_type"), col("value"))
    val bumped = base
      .withColumn("value", when(col("event_id") % 13 === 0,
        col("value") + 1.0).otherwise(col("value")))
    val nw = bumped.unionByName(moved)
    val o = old.select(col("event_id"), col("event_type").as("ot"),
      col("value").as("ov"))
    val n = nw.select(col("event_id"), col("event_type").as("nt"),
      col("value").as("nv"))
    val j = o.join(n, Seq("event_id"), "full_outer")
      .withColumn("status",
        when(col("ot").isNull, "added")
          .when(col("nt").isNull, "deleted")
          .when(col("ot") =!= col("nt") || col("ov") =!= col("nv"),
            "changed")
          .otherwise("unchanged"))
    j.groupBy("status").agg(count(lit(1)).as("n"),
        sum(when(col("status") === "changed" &&
          col("ov") =!= col("nv"), 1L).otherwise(0L)).as("n_value_diff"),
        sum(when(col("status") === "changed" &&
          col("ot") =!= col("nt"), 1L).otherwise(0L)).as("n_type_diff"))
      .orderBy("status")
  }

  private val snapshotDiffSql =
    """WITH old AS (
      |  SELECT event_id, event_type, value FROM events
      |), mx AS (SELECT MAX(event_id) AS m FROM old),
      |base AS (SELECT * FROM old WHERE event_id % 97 <> 0),
      |moved AS (
      |  SELECT event_id + (SELECT m FROM mx) + 1 AS event_id,
      |    event_type, value
      |  FROM base WHERE event_id % 89 = 0
      |), bumped AS (
      |  SELECT event_id, event_type,
      |    CASE WHEN event_id % 13 = 0 THEN value + 1.0 ELSE value END
      |      AS value
      |  FROM base
      |), nw AS (SELECT * FROM bumped UNION ALL SELECT * FROM moved),
      |j AS (
      |  SELECT COALESCE(o.event_id, n.event_id) AS event_id,
      |    o.event_type AS ot, o.value AS ov,
      |    n.event_type AS nt, n.value AS nv,
      |    CASE WHEN o.event_id IS NULL THEN 'added'
      |      WHEN n.event_id IS NULL THEN 'deleted'
      |      WHEN o.event_type <> n.event_type OR o.value <> n.value
      |        THEN 'changed'
      |      ELSE 'unchanged' END AS status
      |  FROM old o FULL OUTER JOIN nw n ON n.event_id = o.event_id
      |)
      |SELECT status, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN status = 'changed' AND ov <> nv
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_value_diff,
      |  CAST(SUM(CASE WHEN status = 'changed' AND ot <> nt
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_type_diff
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** Information-gain feature ranking against the curation verdict —
    * "which metadata dimension best predicts whether a document
    * survives curation": IG(F) = H(keep) − H(keep|F) for F ∈ {lang,
    * source, length decile, quality bin}. The answer feeds crawler
    * prioritization (fetch more from the predictive strata) and leakage
    * review (a too-predictive feature often means the verdict is keying
    * on metadata, not content).
    *
    * One melt (explode of 4 (feature, value) structs per doc — no
    * per-feature re-scan), one (feature, value, label) count aggregate,
    * entropy terms as −(n_fk/N)·ln(n_fk/n_f) summed decimal-exact (the
    * q_mutual_info pattern). Label marginal H(keep) is a 2-row
    * aggregate broadcast. */
  private val featureGain: Q = (s, dir) => {
    // persistBase = false: this entry localCheckpoints the joined chain
    // right below, which executes the curation plan exactly once — the
    // shared-frame persist that pays off for the other curation riders
    // only adds block-write cost here (guide §5; r13 measured +0.3 s)
    val cf = Extensions.curationFrame(s, dir, persistBase = false)
      .select(col("doc_id"), col("n_toks"), col("quality_score"),
        (col("verdict") === "keep").cast("int").as("keep"))
    val docs = Tables.documents(s, dir).select("doc_id", "lang", "source")
    val base = cf.join(docs, "doc_id").transform(Materialize.checkpoint)
    val n = base.count()
    val melted = base.select(col("keep"), explode(array(
        struct(lit("lang").as("feature"), col("lang").as("fval")),
        struct(lit("source").as("feature"), col("source").as("fval")),
        struct(lit("len_decile").as("feature"),
          least(expr("n_toks div 10"), lit(9L)).cast("string").as("fval")),
        struct(lit("quality_bin").as("feature"),
          least(floor(col("quality_score") * 10), lit(9.0)).cast("long")
            .cast("string").as("fval")))).as("fv"))
      .select(col("keep"), col("fv.feature").as("feature"),
        col("fv.fval").as("fval"))
    val fk = melted.groupBy("feature", "fval", "keep")
      .agg(count(lit(1)).as("nfk"))
    val f = fk.groupBy("feature", "fval").agg(sum("nfk").as("nf"))
    val hcond = fk.join(f, Seq("feature", "fval"))
      .select(col("feature"),
        (-(col("nfk").cast("double") / n) *
          log(col("nfk").cast("double") / col("nf"))).as("term"))
      .groupBy("feature").agg(Num.dsum(col("term"), 12).as("h_cond"))
    val nvals = f.groupBy("feature").agg(count(lit(1)).as("n_values"))
    val hl = base.groupBy("keep").agg(count(lit(1)).as("nk"))
      .agg(Num.dsum(-(col("nk").cast("double") / n) *
        log(col("nk").cast("double") / n), 12).as("h_label"))
    hcond.join(nvals, "feature").crossJoin(broadcast(hl))
      .select(col("feature"), col("n_values"),
        round(col("h_cond"), 6).as("h_cond"),
        round(col("h_label") - col("h_cond"), 6).as("info_gain"))
      .orderBy(desc("info_gain"), col("feature"))
  }

  private val featureGainSql =
    s"""WITH ${Extensions.curationCtesSql},
       |b AS MATERIALIZED (
       |  SELECT v.doc_id,
       |    CASE WHEN v.verdict = 'keep' THEN 1 ELSE 0 END AS keep,
       |    d2.lang, d2.source, v.n_toks, v.quality_score
       |  FROM verdicts v JOIN documents d2 USING (doc_id)
       |), nn AS (SELECT COUNT(*) AS n FROM b),
       |m AS (
       |  SELECT keep, f.feature, f.fval FROM b CROSS JOIN LATERAL (VALUES
       |    ('lang', lang),
       |    ('source', source),
       |    ('len_decile', CAST(LEAST(n_toks // 10, 9) AS VARCHAR)),
       |    ('quality_bin', CAST(CAST(LEAST(FLOOR(quality_score * 10), 9.0)
       |      AS BIGINT) AS VARCHAR))
       |  ) AS f(feature, fval)
       |), fk AS (
       |  SELECT feature, fval, keep, COUNT(*) AS nfk FROM m GROUP BY 1, 2, 3
       |), f AS (
       |  SELECT feature, fval, SUM(nfk) AS nf FROM fk GROUP BY 1, 2
       |), hcond AS (
       |  SELECT fk.feature, CAST(CAST(SUM(CAST(
       |      -(CAST(nfk AS DOUBLE) / (SELECT n FROM nn))
       |      * ln(CAST(nfk AS DOUBLE) / nf) AS DECIMAL(38,12)))
       | AS VARCHAR) AS DOUBLE) AS h_cond
       |  FROM fk JOIN f USING (feature, fval) GROUP BY 1
       |), nvals AS (SELECT feature, COUNT(*) AS n_values FROM f GROUP BY 1),
       |hl AS (
       |  SELECT CAST(CAST(SUM(CAST(
       |      -(CAST(nk AS DOUBLE) / (SELECT n FROM nn))
       |      * ln(CAST(nk AS DOUBLE) / (SELECT n FROM nn))
       |      AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS h_label
       |  FROM (SELECT keep, COUNT(*) AS nk FROM b GROUP BY 1)
       |)
       |SELECT hcond.feature, nvals.n_values,
       |  ROUND(h_cond, 6) AS h_cond,
       |  ROUND((SELECT h_label FROM hl) - h_cond, 6) AS info_gain
       |FROM hcond JOIN nvals USING (feature)
       |ORDER BY info_gain DESC, feature""".stripMargin

  /** Lang-ID confusion matrix — the labeler-evaluation aggregate over
    * the per-doc `text_lang_id` predictions: observed (gold, predicted)
    * counts plus each cell's within-gold-row share in ppm (the recall
    * structure: diagonal ppm = per-language recall). The eval every
    * heuristic labeler needs before its output feeds curation; one
    * count aggregate over the scoring scan, integer `div` ppm in both
    * engines. */
  private val langConfusion: Q = (s, dir) => {
    val pred = Tables.documents(s, dir)
      .select(col("lang"), graft.text.TextOps.tokens(col("text")).as("toks"))
      .select(col("lang"), graft.text.TextOps.langId(col("toks")).as("lang_pred"))
    val cells = pred.groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
    val totals = cells.groupBy("lang").agg(sum("n").as("tot"))
    cells.join(broadcast(totals), "lang")
      .select(col("lang"), col("lang_pred"), col("n"),
        expr("n * 1000000 div tot").as("row_ppm"))
      .orderBy("lang", "lang_pred")
  }

  private val langConfusionSql = {
    val scoreExprs = graft.text.TextOps.LangStopwords.map { case (l, ws) =>
      val list = ws.map(w => s"'$w'").mkString(", ")
      l -> ("len(list_filter(list_filter(string_split(text, ' '), " +
        s"x -> x <> ''), x -> list_contains([$list], x)))")
    }
    val scoreCols = scoreExprs.map { case (l, e) => s"$e AS sc_$l" }
      .mkString(",\n  ")
    val best = scoreExprs.map(e => s"sc_${e._1}")
      .mkString("GREATEST(", ", ", ")")
    val cases = scoreExprs.map { case (l, _) =>
      s"WHEN sc_$l > 0 AND sc_$l = $best THEN '$l'"
    }.mkString("\n    ")
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |  $scoreCols
       |  FROM documents
       |), pred AS (
       |  SELECT lang, CASE $cases ELSE 'und' END AS lang_pred FROM scored
       |), cells AS (
       |  SELECT lang, lang_pred, COUNT(*) AS n FROM pred GROUP BY 1, 2
       |), totals AS (
       |  SELECT lang, CAST(SUM(n) AS BIGINT) AS tot FROM cells GROUP BY 1
       |)
       |SELECT cells.lang, lang_pred, n, (n * 1000000) // tot AS row_ppm
       |FROM cells JOIN totals ON totals.lang = cells.lang
       |ORDER BY cells.lang, lang_pred""".stripMargin
  }

  /** Personalized PageRank from the block-head seed set over the
    * symmetric doc chain (q_pagerank's graph) — seed expansion: "how
    * related is every document to THIS known set", the primitive behind
    * related-docs, flagged-address neighborhoods, and cluster growing.
    * Teleport and dangling mass return to the seeds (1/|S| each), so
    * mass decays with chain distance from a block head — a locality
    * global PageRank cannot express. 3 unrolled decimal-exact
    * iterations via [[graft.analytics.PageRank.runPersonalized]]. */
  private val ppr: Q = (s, dir) => {
    val ids = Tables.documents(s, dir).select(col("doc_id"))
    val fwd = ids.as("x")
      .join(ids.as("y"), col("y.doc_id") === col("x.doc_id") + 1)
      .filter(col("x.doc_id") % 50 =!= 49)
      .select(col("x.doc_id").as("src"), col("y.doc_id").as("dst"))
    val edges = fwd.union(
      fwd.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = ids.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("id"))
    graft.analytics.PageRank.runPersonalized(edges, seeds, iters = 3)
      .select(col("id").as("doc_id"), col("pr").as("ppr"))
      .orderBy("doc_id")
  }

  private val pprSql = {
    def step(prev: String, out: String) =
      s"""d_$out AS (
         |  SELECT CAST(COALESCE(SUM(CAST(p.pr AS DECIMAL(38,12))),
         |    CAST(0 AS DECIMAL(38,12))) AS DOUBLE) AS dm
         |  FROM $prev p JOIN dang ON p.id = dang.id
         |),
         |$out AS (
         |  SELECT n.id,
         |    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)
         |      + CAST(0.85 AS DOUBLE) * (SELECT dm FROM d_$out)) * n.sv
         |    + CAST(0.85 AS DOUBLE) * COALESCE(s.m, CAST(0 AS DOUBLE))
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
       |seeds AS (SELECT doc_id AS id FROM documents WHERE doc_id % 50 = 0),
       |ns AS (SELECT COUNT(*) AS c FROM seeds),
       |n AS (
       |  SELECT u.id, CASE WHEN s2.id IS NOT NULL
       |    THEN CAST(1 AS DOUBLE) / (SELECT c FROM ns) ELSE 0.0 END AS sv
       |  FROM (SELECT DISTINCT id FROM (
       |    SELECT src AS id FROM e UNION ALL SELECT dst FROM e)) u
       |  LEFT JOIN seeds s2 ON s2.id = u.id
       |), deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
       |dang AS (
       |  SELECT id FROM n
       |  WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.src = n.id)
       |), it0 AS (SELECT id, sv AS pr FROM n),
       |${step("it0", "it1")},
       |${step("it1", "it2")},
       |${step("it2", "it3")}
       |SELECT n.id AS doc_id, it3.pr AS ppr
       |FROM n JOIN it3 ON it3.id = n.id ORDER BY doc_id""".stripMargin
  }

  /** Per-document compression-ratio quality signal — DEFLATE output size
    * over raw UTF-8 size in exact integer ppm, via the codegen'd
    * [[graft.functions.DeflateLenExpr]]. Low ratio = repetitive
    * boilerplate, ratio near 1e6 = high-entropy junk; both tails are the
    * Gopher-style drop candidates. One scan, no shuffle before the sort.
    * No DuckDB oracle (zlib output is not pinned across library builds —
    * the same rows-only gate as the binary multimodal family); semantics
    * are spec-proven in `CompressSpec`. */
  private val compressRatio: Q = (s, dir) => {
    graft.functions.GraftFunctions.install(s)
    Tables.documents(s, dir)
      .select(col("doc_id"), octet_length(col("text")).as("raw_bytes"),
        graft.functions.CompressFunctions.deflateLen(col("text"))
          .as("deflate_bytes"))
      .filter(col("raw_bytes") > 0)
      .withColumn("ratio_ppm",
        expr("cast(deflate_bytes as bigint) * 1000000 div raw_bytes"))
      .orderBy("doc_id")
  }

  /** Incremental materialized-view maintenance — the delta-algebra a
    * warehouse uses to keep an aggregate MV current WITHOUT rescanning
    * the base table: for distributive aggregates (count, sum),
    * MV(base ⊎ delta) = merge(MV(base), agg(delta)) with deletions as
    * NEGATIVE multiplicities. The entry maintains a per-(type, hour)
    * count/sum MV through an insert batch AND a delete batch purely via
    * the delta path (aggregate the small delta, full-outer merge into
    * the old MV, drop groups whose count reaches 0) — the base table is
    * never re-read after the initial MV build. The ORACLE recomputes the
    * final state directly from the final table content, so agreement
    * proves the incremental algebra, not the plan.
    *
    * Scale: delta aggregation is proportional to the DELTA; the merge
    * is a keyed outer join on the (small) group space. Sums ride
    * fixed-point longs so merged totals are exact. */
  private val mvMaintain: Q = (s, dir) => {
    val ev = Tables.events(s, dir).select(col("event_type"),
      col("event_id"), hour(col("ts")).cast("long").as("hr"),
      round(col("value") * 1e6, 0).cast("long").as("vfx"))
    def mv(df: DataFrame) = df.groupBy("event_type", "hr")
      .agg(count(lit(1)).as("cnt"), sum("vfx").as("sfx"))
    // initial state: ids ≡ 0 (mod 3) never arrive; build the MV once
    val base = ev.filter(col("event_id") % 3 =!= 0)
    // insert batch: the late arrivals; delete batch: ids ≡ 1 (mod 7)
    val inserts = ev.filter(col("event_id") % 3 === 0)
    val deletes = ev.filter(col("event_id") % 3 =!= 0 &&
      col("event_id") % 7 === 1)
    val delta = inserts.withColumn("mult", lit(1L))
      .unionByName(deletes.withColumn("mult", lit(-1L)))
      .groupBy("event_type", "hr")
      .agg(sum(col("mult")).as("dcnt"),
        sum(col("mult") * col("vfx")).as("dsfx"))
    val merged = mv(base)
      .join(delta, Seq("event_type", "hr"), "full_outer")
      .select(col("event_type"), col("hr"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("dcnt"), lit(0L)))
          .as("cnt"),
        (coalesce(col("sfx"), lit(0L)) + coalesce(col("dsfx"), lit(0L)))
          .as("sfx"))
      .filter(col("cnt") > 0)
    merged.select(col("event_type"), col("hr"), col("cnt"),
        (col("sfx").cast("double") / 1e6).as("sum_value"))
      .orderBy("event_type", "hr")
  }

  /** The oracle computes the FINAL table state directly (all rows except
    * the deleted ids) and aggregates once — a different evaluation
    * strategy from the engine's delta merge. */
  private val mvMaintainSql =
    """WITH fin AS (
      |  SELECT event_type, EXTRACT(hour FROM ts) AS hr,
      |    CAST(ROUND(value * 1e6, 0) AS BIGINT) AS vfx
      |  FROM events
      |  WHERE NOT (event_id % 3 <> 0 AND event_id % 7 = 1)
      |)
      |SELECT event_type, hr, COUNT(*) AS cnt,
      |  CAST(CAST(SUM(vfx) AS BIGINT) AS DOUBLE) / 1e6 AS sum_value
      |FROM fin GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Channels (event types that can appear mid-journey) for the
    * attribution chain; 'purchase' is the absorbing conversion. Static
    * because the removal-variant SQL chains are generated per channel. */
  private val AttrChannels = Seq("click", "error", "signup", "view")
  private val AttrSteps = 24
  private val AttrScale = 1000000000000L // 1e12 fixed-point mass

  /** Markov removal-effect attribution — the data-driven alternative to
    * last-touch: model user journeys as a first-order chain
    * (start → channels → conv|null, absorbing at the FIRST purchase),
    * then credit each channel by how much the start→conv probability
    * drops when that channel is removed (its transitions redirect to
    * null). Shapley-lite, the standard marketing-attribution construct.
    *
    * The DISTRIBUTED stage is the transition-count aggregate (per-user
    * windows + one count agg — the q_markov shape). The chain itself is
    * a codebook-sized object (|channels|+3 states), collected like every
    * other bounded codebook in the repo, and absorbed for a FIXED
    * [[AttrSteps]] steps in exact ×1e12 integer arithmetic: each step's
    * contribution is (v_i·n_ij) div rowTot_i in longs, so addition order
    * cannot matter and the DuckDB twin — the same steps UNROLLED as
    * non-recursive CTEs — reproduces every intermediate mass
    * bit-for-bit. Unabsorbed tail mass past K steps is dropped by both
    * engines identically. */
  private val attribution: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy("user_id")
      .orderBy(unix_micros(col("ts")), col("event_id"))
    val kept = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("cumBefore", coalesce(sum(
        when(col("event_type") === "purchase", 1L).otherwise(0L))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("cumBefore") === 0)
    val kw = Window.partitionBy("user_id")
      .orderBy(unix_micros(col("ts")), col("event_id"))
    val seq = kept
      .withColumn("rn", row_number().over(kw))
      .withColumn("next", lead(col("event_type"), 1).over(kw))
    val mids = seq.filter(col("next").isNotNull)
      .select(col("event_type").as("from_type"),
        when(col("next") === "purchase", "conv").otherwise(col("next"))
          .as("to_type"))
    val starts = seq.filter(col("rn") === 1)
      .select(lit("start").as("from_type"),
        when(col("event_type") === "purchase", "conv")
          .otherwise(col("event_type")).as("to_type"))
    val ends = seq.filter(col("next").isNull &&
        col("event_type") =!= "purchase")
      .select(col("event_type").as("from_type"), lit("null").as("to_type"))
    val trans = mids.unionByName(starts).unionByName(ends)
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // exact integer absorption: v (×1e12) over transient states
    def absorb(edges: Array[(String, String, Long)]): Long = {
      val rowTot = edges.groupBy(_._1).map { case (f, es) =>
        f -> es.map(_._3).sum }
      var v = Map("start" -> AttrScale)
      var conv = 0L
      for (_ <- 1 to AttrSteps) {
        val next = scala.collection.mutable.Map[String, Long]()
        for ((f, t, n) <- edges.sortBy(e => (e._1, e._2))) {
          v.get(f).foreach { m =>
            // 128-bit intermediate: m reaches AttrScale=1e12 (~2^40), so a
            // plain m*n Long product would silently wrap once any transition
            // count n exceeds ~9.2e6 (2^23) — far below 100 TB row counts.
            // BigInt muldiv is exact at any n; the loop is codebook-sized
            // (|channels|+3 states × 24 steps) so the cost is nil. The twin
            // uses HUGEINT for the identical 128-bit floor division.
            val c = (BigInt(m) * n / rowTot(f)).toLong
            if (t == "conv") conv += c
            else if (t != "null")
              next(t) = next.getOrElse(t, 0L) + c
          }
        }
        v = next.toMap
      }
      conv
    }
    def removed(c: String): Array[(String, String, Long)] =
      trans.filter(_._1 != c)
        .map { case (f, t, n) => (f, if (t == c) "null" else t, n) }
        // re-merge edges that collapsed onto (from, 'null')
        .groupBy(e => (e._1, e._2))
        .map { case ((f, t), es) => (f, t, es.map(_._3).sum) }.toArray
    val base = absorb(trans)
    val rows = AttrChannels.map { c =>
      val without = absorb(removed(c))
      val eff = if (base == 0) 0L else (base - without) * 1000000L / base
      (c, base, without, eff)
    }
    rows.toDF("channel", "conv_fx_base", "conv_fx_without",
        "removal_effect_ppm")
      .orderBy("channel")
  }

  private val attributionSql = {
    val transCte =
      """kept AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER w AS rn, lead(event_type) OVER w AS next
        |  FROM (
        |    SELECT user_id, ts, event_id, event_type,
        |      COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1
        |        ELSE 0 END) OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts), event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS cumBefore
        |    FROM events
        |  ) WHERE cumBefore = 0
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |), tr AS MATERIALIZED (
        |  SELECT from_type, to_type, COUNT(*) AS n FROM (
        |    SELECT event_type AS from_type,
        |      CASE WHEN next = 'purchase' THEN 'conv' ELSE next END
        |        AS to_type
        |    FROM kept WHERE next IS NOT NULL
        |    UNION ALL
        |    SELECT 'start',
        |      CASE WHEN event_type = 'purchase' THEN 'conv'
        |        ELSE event_type END
        |    FROM kept WHERE rn = 1
        |    UNION ALL
        |    SELECT event_type, 'null'
        |    FROM kept WHERE next IS NULL AND event_type <> 'purchase'
        |  ) GROUP BY 1, 2
        |)""".stripMargin
    // one removal variant: drop rows FROM c, redirect rows INTO c to
    // 'null', re-merging collapsed edges
    def variant(name: String, c: Option[String]) = c match {
      case None => s"$name AS MATERIALIZED (SELECT * FROM tr)"
      case Some(ch) =>
        s"""$name AS MATERIALIZED (
           |  SELECT from_type,
           |    CASE WHEN to_type = '$ch' THEN 'null' ELSE to_type END
           |      AS to_type,
           |    CAST(SUM(n) AS BIGINT) AS n
           |  FROM tr WHERE from_type <> '$ch' GROUP BY 1, 2
           |)""".stripMargin
    }
    // K exact-integer absorption steps over a variant's edges; emits
    // CTEs <v>_vK (transient mass) and <v>_cK (cumulative conv mass)
    def chain(v: String) = {
      val cte0 =
        s"""${v}_v0(state, m) AS (SELECT 'start', CAST($AttrScale AS BIGINT)),
           |${v}_c0(cm) AS (SELECT CAST(0 AS BIGINT))""".stripMargin
      val steps = (1 to AttrSteps).map { k =>
        val p = k - 1
        s"""${v}_f$k AS MATERIALIZED (
           |  SELECT e.to_type,
           |    CAST((CAST(pv.m AS HUGEINT) * e.n) // rt.tot AS BIGINT) AS c
           |  FROM $v e
           |  JOIN (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot
           |        FROM $v GROUP BY 1) rt ON rt.from_type = e.from_type
           |  JOIN ${v}_v$p pv ON pv.state = e.from_type
           |),
           |${v}_v$k(state, m) AS MATERIALIZED (
           |  SELECT to_type, CAST(SUM(c) AS BIGINT) FROM ${v}_f$k
           |  WHERE to_type NOT IN ('conv', 'null') GROUP BY 1
           |),
           |${v}_c$k(cm) AS MATERIALIZED (
           |  SELECT (SELECT cm FROM ${v}_c$p)
           |    + COALESCE((SELECT CAST(SUM(c) AS BIGINT) FROM ${v}_f$k
           |        WHERE to_type = 'conv'), 0)
           |)""".stripMargin
      }
      (cte0 +: steps).mkString(",\n")
    }
    val variants = variant("t_base", None) +:
      AttrChannels.map(c => variant(s"t_$c", Some(c)))
    val chains = ("t_base" +: AttrChannels.map(c => s"t_$c"))
      .map(chain)
    val selects = AttrChannels.map { c =>
      s"""SELECT '$c' AS channel,
         |  (SELECT cm FROM t_base_c$AttrSteps) AS conv_fx_base,
         |  (SELECT cm FROM t_${c}_c$AttrSteps) AS conv_fx_without,
         |  CASE WHEN (SELECT cm FROM t_base_c$AttrSteps) = 0 THEN 0
         |    ELSE ((SELECT cm FROM t_base_c$AttrSteps)
         |      - (SELECT cm FROM t_${c}_c$AttrSteps)) * 1000000
         |      // (SELECT cm FROM t_base_c$AttrSteps) END
         |    AS removal_effect_ppm""".stripMargin
    }
    s"""WITH $transCte,
       |${variants.mkString(",\n")},
       |${chains.mkString(",\n")}
       |SELECT * FROM (
       |${selects.mkString("\nUNION ALL\n")}
       |) ORDER BY channel""".stripMargin
  }

  /** Kaplan–Meier survival curve for time-to-first-purchase with right
    * censoring — the survival-analysis member of the statistics family
    * (churn/conversion-latency curves; censoring is what a naive
    * "average time to convert" gets WRONG, since never-converters would
    * be silently dropped). Durations are hours from a user's first event
    * to their first purchase (event) or last event (censored); the risk
    * set at h is everyone with duration ≥ h; S(h) = Π_{h'≤h}(1−d/n),
    * computed in log space with decimal-exact term sums (the q_cumprod
    * pattern) so the doubles match across engines.
    *
    * Scale shape: the row-scale stage is ONE per-user aggregate; the
    * curve frame is duration-hour-bounded, so both cumulatives (reverse
    * risk-set, forward log-survival) run as broadcast self-joins over
    * the bounded frame — no single-partition window anywhere. */
  private val kmSurvival: Q = (s, dir) => {
    val hourUs = 3600000000L
    val perUser = Tables.events(s, dir)
      .groupBy("user_id").agg(
        min(unix_micros(col("ts"))).as("t0"),
        min(when(col("event_type") === "purchase",
          unix_micros(col("ts")))).as("tconv"),
        max(unix_micros(col("ts"))).as("tmax"))
      .select(col("tconv").isNotNull.as("converted"),
        expr(s"(coalesce(tconv, tmax) - t0) div $hourUs").as("dur_hr"))
    val grouped = perUser.groupBy("dur_hr").agg(
        sum(when(col("converted"), 1L).otherwise(0L)).as("d"),
        sum(when(col("converted"), 0L).otherwise(1L)).as("c"))
      .transform(Materialize.checkpoint) // bounded curve frame, self-joined twice
    val other = grouped.select(col("dur_hr").as("h2"),
      (col("d") + col("c")).as("dc2"), col("d").as("d2"), col("c").as("c2"))
    val risk = grouped.join(broadcast(other), col("h2") >= col("dur_hr"))
      .groupBy("dur_hr", "d", "c").agg(sum(col("dc2")).as("n_risk"))
    val terms = risk.select(col("dur_hr"),
      when(col("d") === col("n_risk"), lit(0.0))
        .otherwise(log(lit(1.0) - col("d").cast("double") / col("n_risk")))
        .as("lnterm"),
      (col("d") === col("n_risk")).cast("int").as("zero"))
    val tother = terms.select(col("dur_hr").as("h3"),
      col("lnterm").as("lt3"), col("zero").as("z3"))
    val surv = risk.join(broadcast(tother), col("h3") <= col("dur_hr"))
      .groupBy("dur_hr", "d", "c", "n_risk")
      .agg(sum(col("lt3").cast(
          org.apache.spark.sql.types.DecimalType(38, 12))).cast("double")
          .as("cumln"),
        max(col("z3")).as("anyzero"))
      .select(col("dur_hr"), col("n_risk"), col("d"), col("c"),
        when(col("anyzero") === 1, lit(0.0))
          .otherwise(round(exp(col("cumln")), 6)).as("survival"))
    surv.orderBy("dur_hr")
  }

  private val kmSurvivalSql =
    """WITH pu AS (
      |  SELECT user_id,
      |    MIN(epoch_us(ts)) AS t0,
      |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
      |      AS tconv,
      |    MAX(epoch_us(ts)) AS tmax
      |  FROM events GROUP BY 1
      |), dur AS (
      |  SELECT tconv IS NOT NULL AS converted,
      |    (COALESCE(tconv, tmax) - t0) // 3600000000 AS dur_hr
      |  FROM pu
      |), grouped AS (
      |  SELECT dur_hr,
      |    CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |    CAST(SUM(CASE WHEN converted THEN 0 ELSE 1 END) AS BIGINT) AS c
      |  FROM dur GROUP BY 1
      |), risk AS (
      |  SELECT g.dur_hr, g.d, g.c,
      |    CAST(SUM(o.d + o.c) AS BIGINT) AS n_risk
      |  FROM grouped g JOIN grouped o ON o.dur_hr >= g.dur_hr
      |  GROUP BY 1, 2, 3
      |), terms AS (
      |  SELECT dur_hr,
      |    CASE WHEN d = n_risk THEN 0.0
      |      ELSE LN(1.0 - CAST(d AS DOUBLE) / n_risk) END AS lnterm,
      |    CASE WHEN d = n_risk THEN 1 ELSE 0 END AS zero
      |  FROM risk
      |)
      |SELECT r.dur_hr, r.n_risk, r.d, r.c,
      |  CASE WHEN MAX(t.zero) = 1 THEN 0.0
      |    ELSE ROUND(EXP(CAST(CAST(SUM(CAST(t.lnterm AS DECIMAL(38,12)))
      | AS VARCHAR) AS DOUBLE)), 6) END AS survival
      |FROM risk r JOIN terms t ON t.dur_hr <= r.dur_hr
      |GROUP BY r.dur_hr, r.n_risk, r.d, r.c
      |ORDER BY r.dur_hr""".stripMargin

  /** Log-rank test between two conversion-latency survival curves — the
    * hypothesis test that pairs with [[kmSurvival]] (the A/B family's
    * survival member: KS compares value distributions, Welch compares
    * means, Mann–Whitney compares ranks, log-rank compares censored
    * time-to-event curves). Arms are user_id parity (the repo's standing
    * deterministic A/B assignment proxy). At each event hour h:
    * E_A = d·n_A/n and V = d·(n_A/n)·(n_B/n)·(n−d)/(n−1); the statistic
    * is (ΣO_A − ΣE_A)²/ΣV ~ χ²(1). Hour tables are bounded, so the
    * per-arm risk sets come from broadcast spine×arm self-joins (no
    * single-partition window); term sums are decimal-exact. */
  private val logrank: Q = (s, dir) => {
    val hourUs = 3600000000L
    val Dec = org.apache.spark.sql.types.DecimalType(38, 12)
    val perUser = Tables.events(s, dir)
      .groupBy("user_id").agg(
        min(unix_micros(col("ts"))).as("t0"),
        min(when(col("event_type") === "purchase",
          unix_micros(col("ts")))).as("tconv"),
        max(unix_micros(col("ts"))).as("tmax"))
      .select(pmod(col("user_id"), lit(2)).cast("int").as("arm"),
        col("tconv").isNotNull.as("converted"),
        expr(s"(coalesce(tconv, tmax) - t0) div $hourUs").as("dur_hr"))
    val g2 = perUser.groupBy("arm", "dur_hr").agg(
        sum(when(col("converted"), 1L).otherwise(0L)).as("d"),
        count(lit(1)).as("dc"))
      .transform(Materialize.checkpoint)
    val spine = g2.select("dur_hr").distinct()
    val armRows = g2.select(col("arm").as("a2"), col("dur_hr").as("h2"),
      col("dc").as("dc2"))
    val risk = spine.join(broadcast(armRows), col("h2") >= col("dur_hr"))
      .groupBy("dur_hr", "a2").agg(sum("dc2").as("n_risk"))
    val deaths = g2.select(col("dur_hr"), col("arm"), col("d"))
    val byHour = spine
      .join(broadcast(risk.filter(col("a2") === 0)
        .select(col("dur_hr"), col("n_risk").as("nA"))), Seq("dur_hr"), "left")
      .join(broadcast(risk.filter(col("a2") === 1)
        .select(col("dur_hr"), col("n_risk").as("nB"))), Seq("dur_hr"), "left")
      .join(broadcast(deaths.filter(col("arm") === 0)
        .select(col("dur_hr"), col("d").as("dA"))), Seq("dur_hr"), "left")
      .join(broadcast(deaths.filter(col("arm") === 1)
        .select(col("dur_hr"), col("d").as("dB"))), Seq("dur_hr"), "left")
      .select(col("dur_hr"),
        coalesce(col("nA"), lit(0L)).as("nA"),
        coalesce(col("nB"), lit(0L)).as("nB"),
        coalesce(col("dA"), lit(0L)).as("dA"),
        coalesce(col("dB"), lit(0L)).as("dB"))
      .withColumn("n", col("nA") + col("nB"))
      .withColumn("d", col("dA") + col("dB"))
      .filter(col("d") > 0)
    val terms = byHour.select(
      col("dA").cast("double").as("oA"),
      (col("d").cast("double") * col("nA") / col("n")).as("eA"),
      when(col("n") > 1,
        col("d").cast("double") * (col("nA").cast("double") / col("n"))
          * (col("nB").cast("double") / col("n"))
          * (col("n") - col("d")).cast("double") / (col("n") - 1))
        .otherwise(lit(0.0)).as("v"))
    terms.agg(
        sum(col("oA").cast(Dec)).cast("double").as("o_a"),
        sum(col("eA").cast(Dec)).cast("double").as("e_a"),
        sum(col("v").cast(Dec)).cast("double").as("var_a"))
      .select(col("o_a"),
        round(col("e_a"), 6).as("e_a"),
        round(col("var_a"), 6).as("var_a"),
        round(pow(col("o_a") - col("e_a"), 2) / col("var_a"), 6)
          .as("chi2"))
  }

  private val logrankSql =
    """WITH pu AS (
      |  SELECT user_id,
      |    MIN(epoch_us(ts)) AS t0,
      |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
      |      AS tconv,
      |    MAX(epoch_us(ts)) AS tmax
      |  FROM events GROUP BY 1
      |), dur AS (
      |  SELECT CAST(user_id % 2 AS INTEGER) AS arm,
      |    tconv IS NOT NULL AS converted,
      |    (COALESCE(tconv, tmax) - t0) // 3600000000 AS dur_hr
      |  FROM pu
      |), g2 AS (
      |  SELECT arm, dur_hr,
      |    CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |    COUNT(*) AS dc
      |  FROM dur GROUP BY 1, 2
      |), spine AS (SELECT DISTINCT dur_hr FROM g2),
      |risk AS (
      |  SELECT s.dur_hr, a.arm, CAST(SUM(a.dc) AS BIGINT) AS n_risk
      |  FROM spine s JOIN g2 a ON a.dur_hr >= s.dur_hr
      |  GROUP BY 1, 2
      |), byhour AS (
      |  SELECT s.dur_hr,
      |    COALESCE(rA.n_risk, 0) AS nA, COALESCE(rB.n_risk, 0) AS nB,
      |    COALESCE(dA.d, 0) AS dA, COALESCE(dB.d, 0) AS dB
      |  FROM spine s
      |  LEFT JOIN risk rA ON rA.dur_hr = s.dur_hr AND rA.arm = 0
      |  LEFT JOIN risk rB ON rB.dur_hr = s.dur_hr AND rB.arm = 1
      |  LEFT JOIN g2 dA ON dA.dur_hr = s.dur_hr AND dA.arm = 0
      |  LEFT JOIN g2 dB ON dB.dur_hr = s.dur_hr AND dB.arm = 1
      |), terms AS (
      |  SELECT CAST(dA AS DOUBLE) AS oA,
      |    CAST(dA + dB AS DOUBLE) * nA / (nA + nB) AS eA,
      |    CASE WHEN nA + nB > 1 THEN
      |      CAST(dA + dB AS DOUBLE)
      |        * (CAST(nA AS DOUBLE) / (nA + nB))
      |        * (CAST(nB AS DOUBLE) / (nA + nB))
      |        * CAST((nA + nB) - (dA + dB) AS DOUBLE) / ((nA + nB) - 1)
      |      ELSE 0.0 END AS v
      |  FROM byhour WHERE dA + dB > 0
      |), agg AS (
      |  SELECT
      |    CAST(CAST(SUM(CAST(oA AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS o_a,
      |    CAST(CAST(SUM(CAST(eA AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS e_a,
      |    CAST(CAST(SUM(CAST(v AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS var_a
      |  FROM terms
      |)
      |SELECT o_a, ROUND(e_a, 6) AS e_a, ROUND(var_a, 6) AS var_a,
      |  ROUND(POW(o_a - e_a, 2) / var_a, 6) AS chi2
      |FROM agg""".stripMargin

  /** RFM segmentation — the classic behavioral-marketing cube: per-user
    * Recency (hours since last event vs the corpus anchor), Frequency
    * (event count), Monetary (fixed-point value sum), each scored into
    * quintiles, reported as the (r, f, m) segment grid with counts and
    * decimal-exact metric means. Recency scores INVERT (5 = most
    * recent). All three quintiles ride [[DistributedRank]]'s two-phase
    * histogram + `ntileFromRank` — byte-identical to the window NTILE
    * the oracle uses, with (metric, user_id) total order — so no global
    * window anywhere in the engine plan. */
  private val rfm: Q = (s, dir) => {
    val hourUs = 3600000000L
    val ev = Tables.events(s, dir)
    val anchor = ev.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    val pu = ev.groupBy("user_id").agg(
        max(unix_micros(col("ts"))).as("tlast"),
        count(lit(1)).as("freq"),
        sum(round(col("value") * 1e6, 0).cast("long")).as("mfx"))
      .select(col("user_id"),
        expr(s"($anchor - tlast) div $hourUs").as("rec_hr"),
        col("freq"), col("mfx"))
      .transform(Materialize.checkpoint) // ranked three times + final agg
    val nb = math.max(1, s.sparkContext.defaultParallelism * 4)
    def quintile(metric: String): DataFrame = {
      val r0 = pu.agg(min(metric), max(metric)).collect()(0)
      val (mn, mx) = (r0.getLong(0), r0.getLong(1))
      val width = math.max((mx - mn) / nb, 1L)
      val bucket = least(expr(s"($metric - $mn) div $width"), lit(nb - 1L))
      val (ranked, n) = DistributedRank.withRank(pu, bucket,
        Seq(col(metric), col("user_id")))
      ranked.select(col("user_id"),
        DistributedRank.ntileFromRank(col("rank"), n, 5).as(s"t_$metric"))
    }
    val scored = pu
      .join(quintile("rec_hr"), "user_id")
      .join(quintile("freq"), "user_id")
      .join(quintile("mfx"), "user_id")
      .select(col("rec_hr"), col("freq"), col("mfx"),
        (lit(6L) - col("t_rec_hr")).as("r_score"), // recent = high score
        col("t_freq").as("f_score"), col("t_mfx").as("m_score"))
    scored.groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_users"),
        round(Num.dsum(col("rec_hr").cast("double"), 6) / count(lit(1)), 6)
          .as("mean_rec_hr"),
        round(Num.dsum(col("freq").cast("double"), 6) / count(lit(1)), 6)
          .as("mean_freq"),
        round(Num.dsum(col("mfx").cast("double") / 1e6, 6)
          / count(lit(1)), 6).as("mean_value"))
      .orderBy("r_score", "f_score", "m_score")
  }

  private val rfmSql =
    """WITH anchor AS (SELECT MAX(epoch_us(ts)) AS a FROM events),
      |pu AS (
      |  SELECT user_id,
      |    ((SELECT a FROM anchor) - MAX(epoch_us(ts))) // 3600000000
      |      AS rec_hr,
      |    COUNT(*) AS freq,
      |    CAST(SUM(CAST(ROUND(value * 1e6, 0) AS BIGINT)) AS BIGINT)
      |      AS mfx
      |  FROM events GROUP BY 1
      |), scored AS (
      |  SELECT rec_hr, freq, mfx,
      |    6 - NTILE(5) OVER (ORDER BY rec_hr, user_id) AS r_score,
      |    NTILE(5) OVER (ORDER BY freq, user_id) AS f_score,
      |    NTILE(5) OVER (ORDER BY mfx, user_id) AS m_score
      |  FROM pu
      |)
      |SELECT CAST(r_score AS BIGINT) AS r_score,
      |  CAST(f_score AS BIGINT) AS f_score,
      |  CAST(m_score AS BIGINT) AS m_score,
      |  COUNT(*) AS n_users,
      |  ROUND(CAST(CAST(SUM(CAST(CAST(rec_hr AS DOUBLE) AS DECIMAL(38,6)))
      | AS VARCHAR) AS DOUBLE) / COUNT(*), 6) AS mean_rec_hr,
      |  ROUND(CAST(CAST(SUM(CAST(CAST(freq AS DOUBLE) AS DECIMAL(38,6)))
      | AS VARCHAR) AS DOUBLE) / COUNT(*), 6) AS mean_freq,
      |  ROUND(CAST(CAST(SUM(CAST(CAST(mfx AS DOUBLE) / 1e6 AS DECIMAL(38,6)))
      | AS VARCHAR) AS DOUBLE) / COUNT(*), 6) AS mean_value
      |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Difference-in-differences — the pre/post × treat/control causal
    * screen: DiD = (T̄post − T̄pre) − (C̄post − C̄pre) cancels both the
    * group-level baseline difference and the common time trend, which a
    * naive post-period comparison conflates. Arms are user parity (the
    * standing A/B proxy), the period split is the exact midpoint of the
    * observed time range (computed in integer micros). One conditional
    * aggregate over the scan; cell means from decimal-exact fixed-point
    * sums so the four means — and the DiD double — are bit-identical in
    * both engines. */
  private val did: Q = (s, dir) => {
    val Dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val ev0 = Tables.events(s, dir)
    val r0 = ev0.agg(min(unix_micros(col("ts"))),
      max(unix_micros(col("ts")))).collect()(0)
    val mid = (r0.getLong(0) + r0.getLong(1)) / 2
    val ev = ev0.select(
      (pmod(col("user_id"), lit(2)) === 1).as("treat"),
      (unix_micros(col("ts")) >= mid).as("post"),
      round(col("value") * 1e6, 0).cast("long").as("vfx"))
    def cell(t: Boolean, p: Boolean, suffix: String) = Seq(
      sum(when(col("treat") === t && col("post") === p, 1L).otherwise(0L))
        .as(s"n_$suffix"),
      (sum(when(col("treat") === t && col("post") === p,
        col("vfx")).otherwise(0L).cast(Dec)).cast("double") /
        sum(when(col("treat") === t && col("post") === p, 1L)
          .otherwise(0L)) / 1e6).as(s"m_$suffix"))
    val cells = cell(true, false, "t_pre") ++ cell(true, true, "t_post") ++
      cell(false, false, "c_pre") ++ cell(false, true, "c_post")
    ev.agg(cells.head, cells.tail: _*)
      .withColumn("did", round((col("m_t_post") - col("m_t_pre")) -
        (col("m_c_post") - col("m_c_pre")), 6))
      .select(col("n_t_pre"), col("n_t_post"), col("n_c_pre"),
        col("n_c_post"),
        round(col("m_t_pre"), 6).as("m_t_pre"),
        round(col("m_t_post"), 6).as("m_t_post"),
        round(col("m_c_pre"), 6).as("m_c_pre"),
        round(col("m_c_post"), 6).as("m_c_post"), col("did"))
  }

  private val didSql =
    """WITH rng AS (
      |  SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid
      |  FROM events
      |), e AS (
      |  SELECT user_id % 2 = 1 AS treat,
      |    epoch_us(ts) >= (SELECT mid FROM rng) AS post,
      |    CAST(ROUND(value * 1e6, 0) AS BIGINT) AS vfx
      |  FROM events
      |), agg AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN treat AND NOT post THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_t_pre,
      |    CAST(SUM(CASE WHEN treat AND post THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_t_post,
      |    CAST(SUM(CASE WHEN NOT treat AND NOT post THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_c_pre,
      |    CAST(SUM(CASE WHEN NOT treat AND post THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_c_post,
      |    CAST(CAST(SUM(CAST(CASE WHEN treat AND NOT post THEN vfx ELSE 0 END
      |      AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
      |      / SUM(CASE WHEN treat AND NOT post THEN 1 ELSE 0 END) / 1e6
      |      AS m_t_pre,
      |    CAST(CAST(SUM(CAST(CASE WHEN treat AND post THEN vfx ELSE 0 END
      |      AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
      |      / SUM(CASE WHEN treat AND post THEN 1 ELSE 0 END) / 1e6
      |      AS m_t_post,
      |    CAST(CAST(SUM(CAST(CASE WHEN NOT treat AND NOT post THEN vfx
      |      ELSE 0 END AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
      |      / SUM(CASE WHEN NOT treat AND NOT post THEN 1 ELSE 0 END)
      |      / 1e6 AS m_c_pre,
      |    CAST(CAST(SUM(CAST(CASE WHEN NOT treat AND post THEN vfx ELSE 0 END
      |      AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
      |      / SUM(CASE WHEN NOT treat AND post THEN 1 ELSE 0 END) / 1e6
      |      AS m_c_post
      |  FROM e
      |)
      |SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
      |  ROUND(m_t_pre, 6) AS m_t_pre, ROUND(m_t_post, 6) AS m_t_post,
      |  ROUND(m_c_pre, 6) AS m_c_pre, ROUND(m_c_post, 6) AS m_c_post,
      |  ROUND((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 6) AS did
      |FROM agg""".stripMargin

  /** Zipf-law fit of the token frequency spectrum — the third member of
    * the corpus-statistics trio (Heaps = vocabulary growth, heavy
    * hitters = the head, Zipf = the SHAPE of the head): OLS slope of
    * ln(tf) on ln(rank) over the top-100 tokens. Natural corpora fit
    * slope ≈ −1; a much flatter slope flags synthetic/templated text —
    * exactly the signal this fixture should (and does) trip. Ranks are
    * assigned on the 100-row head by a broadcast self-join (no global
    * window); the moment sums are decimal-exact; ln/exp follow the
    * q_cumprod parity precedent. */
  private val zipfFit: Q = (s, dir) => {
    val Dec = org.apache.spark.sql.types.DecimalType(38, 12)
    val top = Tables.documents(s, dir)
      .select(explode(graft.text.TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("tf"))
      .orderBy(desc("tf"), col("token")).limit(100)
      .transform(Materialize.checkpoint)
    val other = top.select(col("tf").as("tf2"), col("token").as("tok2"))
    val ranked = top.join(broadcast(other),
        col("tf2") > col("tf") ||
          (col("tf2") === col("tf") && col("tok2") < col("token")),
        "left")
      .groupBy("token", "tf")
      .agg((count(col("tok2")) + 1).as("rank"))
    val xy = ranked.select(log(col("rank").cast("double")).as("x"),
      log(col("tf").cast("double")).as("y"))
    xy.agg(count(lit(1)).as("n"),
        sum(col("x").cast(Dec)).cast("double").as("sx"),
        sum(col("y").cast(Dec)).cast("double").as("sy"),
        sum((col("x") * col("y")).cast(Dec)).cast("double").as("sxy"),
        sum((col("x") * col("x")).cast(Dec)).cast("double").as("sxx"))
      .select(col("n"),
        round((col("sxy") - col("sx") * col("sy") / col("n")) /
          (col("sxx") - col("sx") * col("sx") / col("n")), 6)
          .as("zipf_slope"),
        round((col("sy") - ((col("sxy") - col("sx") * col("sy") / col("n"))
          / (col("sxx") - col("sx") * col("sx") / col("n"))) * col("sx"))
          / col("n"), 6).as("intercept"))
  }

  private val zipfFitSql =
    """WITH tok AS (
      |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
      |    AS token
      |  FROM documents
      |), top AS (
      |  SELECT token, COUNT(*) AS tf FROM tok GROUP BY 1
      |  ORDER BY tf DESC, token LIMIT 100
      |), ranked AS (
      |  SELECT a.token, a.tf, COUNT(b.token) + 1 AS rank
      |  FROM top a LEFT JOIN top b
      |    ON b.tf > a.tf OR (b.tf = a.tf AND b.token < a.token)
      |  GROUP BY 1, 2
      |), xy AS (
      |  SELECT LN(CAST(rank AS DOUBLE)) AS x, LN(CAST(tf AS DOUBLE)) AS y
      |  FROM ranked
      |), agg AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(CAST(SUM(CAST(x AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sx,
      |    CAST(CAST(SUM(CAST(y AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sy,
      |    CAST(CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sxy,
      |    CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sxx
      |  FROM xy
      |)
      |SELECT n,
      |  ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS zipf_slope,
      |  ROUND((sy - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * sx) / n,
      |    6) AS intercept
      |FROM agg""".stripMargin

  /** Degree assortativity of the doc graph — Newman's r: the Pearson
    * correlation of endpoint degrees over all (directed-both-ways)
    * edges. Positive = hubs link hubs (social nets), negative = hubs
    * link leaves (infrastructure); it decides whether hub-removal or
    * periphery-sampling strategies make sense on this graph. One degree
    * aggregate + one keyed join of degrees onto edges + exact integer
    * moment sums (degrees are small ints, so Σd², Σd·d' etc. stay well
    * inside long range at any edge count via decimal casts). */
  private val assortativity: Q = (s, dir) => {
    val Dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val e0 = Relational4.docEdges(s, dir)
    val edges = e0.select(col("u"), col("v"))
      .union(e0.select(col("v").as("u"), col("u").as("v")))
    val deg = edges.groupBy("u").agg(count(lit(1)).as("deg"))
    val du = deg.select(col("u"), col("deg").as("du"))
    val dv = deg.select(col("u").as("v"), col("deg").as("dv"))
    val j = edges.join(du, "u").join(dv, "v")
    j.agg(count(lit(1)).as("m"),
        sum(col("du").cast(Dec)).cast("double").as("sx"),
        sum(col("dv").cast(Dec)).cast("double").as("sy"),
        sum((col("du") * col("dv")).cast(Dec)).cast("double").as("sxy"),
        sum((col("du") * col("du")).cast(Dec)).cast("double").as("sxx"),
        sum((col("dv") * col("dv")).cast(Dec)).cast("double").as("syy"))
      .select(col("m"),
        round((col("sxy") - col("sx") * col("sy") / col("m")) /
          (sqrt(col("sxx") - col("sx") * col("sx") / col("m")) *
            sqrt(col("syy") - col("sy") * col("sy") / col("m"))), 6)
          .as("assortativity"))
  }

  private val assortativitySql =
    s"""WITH ${Relational4.docEdgesCte},
       |ed AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
       |deg AS (SELECT u, COUNT(*) AS deg FROM ed GROUP BY 1),
       |j AS (
       |  SELECT a.deg AS du, b.deg AS dv
       |  FROM ed JOIN deg a ON a.u = ed.u JOIN deg b ON b.u = ed.v
       |), agg AS (
       |  SELECT COUNT(*) AS m,
       |    CAST(CAST(SUM(CAST(du AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sx,
       |    CAST(CAST(SUM(CAST(dv AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sy,
       |    CAST(CAST(SUM(CAST(du * dv AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sxy,
       |    CAST(CAST(SUM(CAST(du * du AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sxx,
       |    CAST(CAST(SUM(CAST(dv * dv AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS syy
       |  FROM j
       |)
       |SELECT m,
       |  ROUND((sxy - sx * sy / m) /
       |    (SQRT(sxx - sx * sx / m) * SQRT(syy - sy * sy / m)), 6)
       |    AS assortativity
       |FROM agg""".stripMargin

  /** Token burstiness (Church–Gale): variance-to-mean ratio of a token's
    * per-document counts over the whole corpus. VMR ≈ 1 = Poisson
    * (function words); VMR ≫ 1 = bursty content words; an
    * anomalously bursty head token flags keyword stuffing / template
    * spam. Per-token moments come from ONE (token, doc) count aggregate
    * — Σc and Σc² with the zero-docs correction applied analytically
    * (docs where the token is absent contribute 0 to both sums, so only
    * N_docs is needed), never a dense token×doc matrix. Top-20 by VMR
    * among tokens appearing in ≥ 20 docs, fixed-point tie-safe rank. */
  private val burstiness: Q = (s, dir) => {
    val Dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val docs = Tables.documents(s, dir)
    val nDocs = docs.count()
    val td = docs.select(col("doc_id"),
        explode(graft.text.TextOps.tokens(col("text"))).as("token"))
      .groupBy("token", "doc_id").agg(count(lit(1)).as("c"))
    val mom = td.groupBy("token").agg(
      count(lit(1)).as("n_docs_present"),
      sum(col("c").cast(Dec)).cast("double").as("sc"),
      sum((col("c") * col("c")).cast(Dec)).cast("double").as("scc"))
    // mean/variance over ALL docs (absent docs contribute zeros)
    val withVmr = mom.filter(col("n_docs_present") >= 20)
      .withColumn("mean_c", col("sc") / nDocs)
      .withColumn("var_c", (col("scc") - col("sc") * col("sc") / nDocs)
        / (nDocs - 1))
      .withColumn("vmr", col("var_c") / col("mean_c"))
    withVmr.select(col("token"), col("n_docs_present"),
        round(col("mean_c"), 6).as("mean_c"),
        round(col("vmr"), 6).as("vmr"),
        round(col("vmr") * 1e6, 0).cast("long").as("fx"))
      .orderBy(desc("fx"), col("token")).limit(20)
      .drop("fx")
  }

  private val burstinessSql =
    """WITH nd AS (SELECT COUNT(*) AS n FROM documents),
      |td AS (
      |  SELECT token, doc_id, COUNT(*) AS c FROM (
      |    SELECT doc_id, unnest(list_filter(string_split(text, ' '),
      |      x -> x <> '')) AS token
      |    FROM documents
      |  ) GROUP BY 1, 2
      |), mom AS (
      |  SELECT token, COUNT(*) AS n_docs_present,
      |    CAST(CAST(SUM(CAST(c AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sc,
      |    CAST(CAST(SUM(CAST(c * c AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS scc
      |  FROM td GROUP BY 1
      |), v AS (
      |  SELECT token, n_docs_present,
      |    sc / (SELECT n FROM nd) AS mean_c,
      |    ((scc - sc * sc / (SELECT n FROM nd))
      |      / ((SELECT n FROM nd) - 1))
      |      / (sc / (SELECT n FROM nd)) AS vmr
      |  FROM mom WHERE n_docs_present >= 20
      |)
      |SELECT token, n_docs_present, ROUND(mean_c, 6) AS mean_c,
      |  ROUND(vmr, 6) AS vmr
      |FROM v
      |ORDER BY CAST(ROUND(vmr * 1e6, 0) AS BIGINT) DESC, token
      |LIMIT 20""".stripMargin

  /** Restricted-mean survival time horizon (hours). One week: the
    * standard reporting window for conversion latency. */
  private val RmstTau = 168

  /** Per-arm RMST and median survival — the effect-SIZE companion to
    * [[logrank]]'s p-value (and the correct "average conversion latency
    * under censoring": a naive mean of min(T, τ) over users is biased by
    * censoring; the area under the KM curve is not). For each parity arm:
    * S_g as in [[kmSurvival]], RMST(τ) = Σ_{h<τ} S_g(h) over an hourly
    * spine (as-of join of each spine hour to the last event hour ≤ h —
    * bounded frames throughout), and the median = first hour with
    * S ≤ 0.5 (−1 when the curve never crosses). */
  private val rmst: Q = (s, dir) => {
    val hourUs = 3600000000L
    val Dec = org.apache.spark.sql.types.DecimalType(38, 12)
    val perUser = Tables.events(s, dir)
      .groupBy("user_id").agg(
        min(unix_micros(col("ts"))).as("t0"),
        min(when(col("event_type") === "purchase",
          unix_micros(col("ts")))).as("tconv"),
        max(unix_micros(col("ts"))).as("tmax"))
      .select(pmod(col("user_id"), lit(2)).cast("int").as("arm"),
        col("tconv").isNotNull.as("converted"),
        expr(s"(coalesce(tconv, tmax) - t0) div $hourUs").as("dur_hr"))
    val g2 = perUser.groupBy("arm", "dur_hr").agg(
        sum(when(col("converted"), 1L).otherwise(0L)).as("d"),
        count(lit(1)).as("dc"))
      .transform(Materialize.checkpoint)
    val armRows = g2.select(col("arm").as("a2"), col("dur_hr").as("h2"),
      col("dc").as("dc2"))
    val risk = g2.join(broadcast(armRows),
        col("a2") === col("arm") && col("h2") >= col("dur_hr"))
      .groupBy("arm", "dur_hr", "d").agg(sum("dc2").as("n_risk"))
    val terms = risk.select(col("arm"), col("dur_hr"),
      when(col("d") === col("n_risk"), lit(0.0))
        .otherwise(log(lit(1.0) - col("d").cast("double") / col("n_risk")))
        .as("lnterm"),
      (col("d") === col("n_risk")).cast("int").as("zero"))
    val tother = terms.select(col("arm").as("a3"), col("dur_hr").as("h3"),
      col("lnterm").as("lt3"), col("zero").as("z3"))
    val surv = risk.join(broadcast(tother),
        col("a3") === col("arm") && col("h3") <= col("dur_hr"))
      .groupBy("arm", "dur_hr")
      .agg(sum(col("lt3").cast(Dec)).cast("double").as("cumln"),
        max(col("z3")).as("anyzero"))
      .select(col("arm"), col("dur_hr"),
        when(col("anyzero") === 1, lit(0.0))
          .otherwise(exp(col("cumln"))).as("s"))
      .transform(Materialize.checkpoint)
    val arms = surv.select(col("arm").as("sa")).distinct()
    val spine = arms.crossJoin(broadcast(
      s.range(0, RmstTau).select(col("id").as("h"))))
    // as-of: S at spine hour h = S of the last event hour <= h (1.0
    // before the first event hour)
    val sAt = spine.join(broadcast(surv),
        col("arm") === col("sa") && col("dur_hr") <= col("h"), "left")
      .groupBy(col("sa").as("arm"), col("h"))
      .agg(coalesce(max_by(col("s"), col("dur_hr")), lit(1.0)).as("sh"))
    val rmstCol = sAt.groupBy("arm")
      .agg(sum(col("sh").cast(Dec)).cast("double").as("rmst_hr"))
    val med = surv.filter(col("s") <= 0.5)
      .groupBy("arm").agg(min(col("dur_hr")).as("median_hr"))
    val nUsers = perUser.groupBy("arm").agg(count(lit(1)).as("n_users"))
    nUsers.join(rmstCol, "arm").join(med, Seq("arm"), "left")
      .select(col("arm"), col("n_users"),
        round(col("rmst_hr"), 6).as("rmst_hr"),
        coalesce(col("median_hr"), lit(-1L)).as("median_hr"))
      .orderBy("arm")
  }

  private val rmstSql =
    s"""WITH pu AS (
       |  SELECT user_id,
       |    MIN(epoch_us(ts)) AS t0,
       |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
       |      AS tconv,
       |    MAX(epoch_us(ts)) AS tmax
       |  FROM events GROUP BY 1
       |), dur AS (
       |  SELECT CAST(user_id % 2 AS INTEGER) AS arm,
       |    tconv IS NOT NULL AS converted,
       |    (COALESCE(tconv, tmax) - t0) // 3600000000 AS dur_hr
       |  FROM pu
       |), g2 AS (
       |  SELECT arm, dur_hr,
       |    CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS d,
       |    COUNT(*) AS dc
       |  FROM dur GROUP BY 1, 2
       |), risk AS (
       |  SELECT g.arm, g.dur_hr, g.d, CAST(SUM(o.dc) AS BIGINT) AS n_risk
       |  FROM g2 g JOIN g2 o ON o.arm = g.arm AND o.dur_hr >= g.dur_hr
       |  GROUP BY 1, 2, 3
       |), terms AS (
       |  SELECT arm, dur_hr,
       |    CASE WHEN d = n_risk THEN 0.0
       |      ELSE LN(1.0 - CAST(d AS DOUBLE) / n_risk) END AS lnterm,
       |    CASE WHEN d = n_risk THEN 1 ELSE 0 END AS zero
       |  FROM risk
       |), surv AS (
       |  SELECT r.arm, r.dur_hr,
       |    CASE WHEN MAX(t.zero) = 1 THEN 0.0
       |      ELSE EXP(CAST(CAST(SUM(CAST(t.lnterm AS DECIMAL(38,12)))
       | AS VARCHAR) AS DOUBLE)) END AS s
       |  FROM risk r JOIN terms t ON t.arm = r.arm AND t.dur_hr <= r.dur_hr
       |  GROUP BY r.arm, r.dur_hr
       |), spine AS (
       |  SELECT a.arm, h FROM (SELECT DISTINCT arm FROM surv) a
       |  CROSS JOIN (SELECT unnest(range(0, $RmstTau)) AS h)
       |), s_at AS (
       |  SELECT sp.arm, sp.h,
       |    COALESCE(arg_max(sv.s, sv.dur_hr), 1.0) AS sh
       |  FROM spine sp LEFT JOIN surv sv
       |    ON sv.arm = sp.arm AND sv.dur_hr <= sp.h
       |  GROUP BY 1, 2
       |), rm AS (
       |  SELECT arm, CAST(CAST(SUM(CAST(sh AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
       |    AS rmst_hr
       |  FROM s_at GROUP BY 1
       |), med AS (
       |  SELECT arm, MIN(dur_hr) AS median_hr FROM surv
       |  WHERE s <= 0.5 GROUP BY 1
       |), nu AS (SELECT arm, COUNT(*) AS n_users FROM dur GROUP BY 1)
       |SELECT nu.arm, nu.n_users, ROUND(rm.rmst_hr, 6) AS rmst_hr,
       |  COALESCE(med.median_hr, -1) AS median_hr
       |FROM nu JOIN rm ON rm.arm = nu.arm
       |LEFT JOIN med ON med.arm = nu.arm
       |ORDER BY nu.arm""".stripMargin

  /** Deterministic hard-negative mining for contrastive training — the
    * dataset-construction op a retrieval/embedding trainer runs after
    * dedup: for each anchor document, pick the 4 most CONFUSABLE
    * non-duplicates (same language, closest length) as negatives. Easy
    * negatives (random docs) teach a model nothing; near-dup "negatives"
    * poison it — so candidates block on (lang, length-bucket), exclude
    * exact duplicates by text digest, and rank by |Δn_chars| with an
    * md5 tiebreak so the mined set is a pure function of the corpus.
    * The join is block-bucketed (never all-pairs); the per-anchor rank
    * partitions on the anchor. Anchors subsample doc_id ≡ 0 (mod 5) to
    * bound the output like the other pair reports. */
  private[queries] val hardNegatives: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(col("text")).as("h"),
        expr("n_chars div 50").as("bkt"))
      // repartition -> checkpoint -> fan out (the r9 sf10 lesson): the
      // (lang, bkt) block join amplifies pairs quadratically in block
      // size, and without this the whole pair+rank stage inherits the
      // compact scan's 3-4 input splits (measured 25+ min at sf10 on 4
      // tasks; minutes once spread across the box).
      .repartition(s.sparkContext.defaultParallelism)
      .transform(Materialize.checkpoint)
    val anchors = d.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("anchor"), col("lang"),
        col("n_chars").as("alen"), col("h").as("ah"), col("bkt"))
    val cands = d.select(col("doc_id").as("neg"), col("lang"),
      col("n_chars").as("nlen"), col("h").as("nh"), col("bkt"))
    val paired = anchors.join(cands, Seq("lang", "bkt"))
      .filter(col("anchor") =!= col("neg") && col("ah") =!= col("nh"))
      .select(col("anchor"), col("neg"),
        abs(col("alen") - col("nlen")).as("dn"),
        md5(concat(col("anchor").cast("string"), lit("|"),
          col("neg").cast("string"))).as("tie"))
    val w = Window.partitionBy("anchor").orderBy(col("dn"), col("tie"))
    paired.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 4)
      .select(col("anchor"), col("rk").cast("long").as("rk"),
        col("neg"), col("dn"))
      .orderBy("anchor", "rk")
  }

  /** Sorted-neighborhood rank window for [[hardNegativesBounded]]: each
    * anchor considers only candidates within this many positions in its
    * block's (n_chars, doc_id) ordering. 10× the per-anchor depth (4)
    * so equal-length runs rarely clip the neighborhood. */
  private[graft] val HardNegWindow = 40

  /** The 100 TB form of [[hardNegatives]]: the plain miner's
    * (lang, n_chars div 50) blocks grow linearly with the corpus, so its
    * block-pair join is QUADRATIC in corpus size (measured: ~10 min at
    * sf10 vs seconds at sf1). This variant defines the candidate pool as
    * the [[HardNegWindow]] sorted-neighborhood of the anchor in its
    * block's (n_chars, doc_id) order — because the ranking criterion IS
    * length proximity, the nearest-by-length candidates are exactly the
    * neighborhood's members — and mines the same top-4 by (dn, tie)
    * within it. Pair work is ≤ anchors × (2W+1) via band replication
    * (candidate → bands b−1, b, b+1 of width W; any |Δpos| ≤ W pair
    * lands in one of them), i.e. linear in the corpus at any scale.
    * Semantics are exact BY DEFINITION (the operator is "top-4 within
    * the W-neighborhood"), so the DuckDB twin mirrors it exactly with a
    * BETWEEN join on the same rank. */
  private val hardNegativesBounded: Q = (s, dir) =>
    hardNegativesBoundedOver(s, Tables.documents(s, dir))

  /** [[hardNegativesBounded]] over any (doc_id, lang, n_chars, text)
    * frame — the seam the giant-block linearity spec drives. */
  private[graft] def hardNegativesBoundedOver(
      s: SparkSession, docs: DataFrame): DataFrame = {
    val W = HardNegWindow
    val ranked = docs
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(col("text")).as("h"),
        expr("n_chars div 50").as("bkt"))
      .withColumn("pos", row_number().over(
        Window.partitionBy("lang", "bkt").orderBy("n_chars", "doc_id")))
      .repartition(s.sparkContext.defaultParallelism)
      .transform(Materialize.checkpoint)
    val band = expr(s"(pos - 1) div $W") // integer band of width W
    val anchors = ranked.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("anchor"), col("lang"), col("bkt"),
        col("n_chars").as("alen"), col("h").as("ah"),
        band.as("band"), col("pos").as("apos"))
    val cands = ranked
      .select(col("doc_id").as("neg"), col("lang"), col("bkt"),
        col("n_chars").as("nlen"), col("h").as("nh"),
        band.as("b0"), col("pos").as("cpos"))
      .withColumn("band",
        explode(array(col("b0") - 1, col("b0"), col("b0") + 1)))
    val paired = anchors.join(cands, Seq("lang", "bkt", "band"))
      .filter(abs(col("cpos") - col("apos")) <= W &&
        col("anchor") =!= col("neg") && col("ah") =!= col("nh"))
      .select(col("anchor"), col("neg"),
        abs(col("alen") - col("nlen")).as("dn"),
        md5(concat(col("anchor").cast("string"), lit("|"),
          col("neg").cast("string"))).as("tie"))
    val w = Window.partitionBy("anchor").orderBy(col("dn"), col("tie"))
    paired.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 4)
      .select(col("anchor"), col("rk").cast("long").as("rk"),
        col("neg"), col("dn"))
      .orderBy("anchor", "rk")
  }

  private val hardNegativesBoundedSql = {
    val W = HardNegWindow
    s"""WITH d AS (
      |  SELECT doc_id, lang, n_chars, md5(text) AS h,
      |    n_chars // 50 AS bkt
      |  FROM documents
      |), r AS MATERIALIZED (
      |  SELECT doc_id, lang, n_chars, h, bkt,
      |    row_number() OVER (PARTITION BY lang, bkt
      |      ORDER BY n_chars, doc_id) AS pos
      |  FROM d
      |), paired AS (
      |  SELECT a.doc_id AS anchor, c.doc_id AS neg,
      |    ABS(a.n_chars - c.n_chars) AS dn,
      |    md5(CAST(a.doc_id AS VARCHAR) || '|'
      |      || CAST(c.doc_id AS VARCHAR)) AS tie
      |  FROM r a JOIN r c ON c.lang = a.lang AND c.bkt = a.bkt
      |    AND c.pos BETWEEN a.pos - $W AND a.pos + $W
      |    AND c.doc_id <> a.doc_id AND c.h <> a.h
      |  WHERE a.doc_id % 5 = 0
      |), ranked AS (
      |  SELECT anchor, neg, dn,
      |    row_number() OVER (PARTITION BY anchor ORDER BY dn, tie) AS rk
      |  FROM paired
      |)
      |SELECT anchor, CAST(rk AS BIGINT) AS rk, neg, dn
      |FROM ranked WHERE rk <= 4 ORDER BY anchor, rk""".stripMargin
  }

  private val hardNegativesSql = hardNegativesSqlOver("")

  /** [[hardNegativesSql]] with an optional extra ANCHOR predicate (over
    * `a.*`) — the probe twin's restriction slot: the candidate side stays
    * corpus-wide per surviving anchor (the rank is anchor-partitioned, so
    * dropping anchors never changes another anchor's negatives), while the
    * twin's join shrinks by the selected fraction. */
  private[queries] def hardNegativesSqlOver(anchorPred: String): String = {
    val pred = if (anchorPred.isEmpty) "" else s" AND $anchorPred"
    s"""WITH d AS (
      |  SELECT doc_id, lang, n_chars, md5(text) AS h,
      |    n_chars // 50 AS bkt
      |  FROM documents
      |), paired AS (
      |  SELECT a.doc_id AS anchor, c.doc_id AS neg,
      |    ABS(a.n_chars - c.n_chars) AS dn,
      |    md5(CAST(a.doc_id AS VARCHAR) || '|'
      |      || CAST(c.doc_id AS VARCHAR)) AS tie
      |  FROM d a JOIN d c ON c.lang = a.lang AND c.bkt = a.bkt
      |    AND c.doc_id <> a.doc_id AND c.h <> a.h
      |  WHERE a.doc_id % 5 = 0$pred
      |), ranked AS (
      |  SELECT anchor, neg, dn,
      |    row_number() OVER (PARTITION BY anchor ORDER BY dn, tie) AS rk
      |  FROM paired
      |)
      |SELECT anchor, CAST(rk AS BIGINT) AS rk, neg, dn
      |FROM ranked WHERE rk <= 4 ORDER BY anchor, rk""".stripMargin
  }

  /** Masking-rate numerator: mask a position when its md5 draw falls
    * below MlmRate/MlmRateDen of the 32-bit space (exact integer
    * threshold — no float compare). */
  private val MlmRate = 15
  private val MlmRateDen = 100

  /** Deterministic MLM masking plan — the span-corruption layout step of
    * an MLM/T5 pretraining pipeline, as data: each token position is
    * masked when its seeded md5 draw clears the 15% integer threshold,
    * and consecutive masked positions merge into spans (the islands
    * trick, per-doc windows). The plan is a pure function of
    * (doc_id, position), so re-running a shard — or recovering a failed
    * one — regenerates the identical corruption without storing it; the
    * report gives per-doc masked counts and span structure. */
  private val mlmPlan: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), graft.text.TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
    val pos = d.filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(lit(1L), col("n_tokens"))).as("p"))
      .withColumn("u", conv(substring(md5(concat(
        col("doc_id").cast("string"), lit("|"), col("p").cast("string"))),
        1, 8), 16, 10).cast("long"))
      .withColumn("masked",
        (col("u") * MlmRateDen < lit(MlmRate) * lit(4294967296L))
          .cast("int"))
    val w = Window.partitionBy("doc_id").orderBy("p")
    val spans = pos
      .withColumn("newSpan", when(col("masked") === 1 &&
        coalesce(lag(col("masked"), 1).over(w), lit(0)) === 0, 1L)
        .otherwise(0L))
    spans.groupBy("doc_id", "n_tokens").agg(
        sum(col("masked").cast("long")).as("n_masked"),
        sum(col("newSpan")).as("n_spans"))
      .withColumn("mask_ppm",
        expr("n_masked * 1000000 div n_tokens"))
      .orderBy("doc_id")
  }

  private val mlmPlanSql =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
       |      AS BIGINT) AS n_tokens
       |  FROM documents
       |), pos AS (
       |  SELECT doc_id, n_tokens, CAST(p AS BIGINT) AS p,
       |    CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
       |        || '|' || CAST(p AS VARCHAR)), 1, 8)) AS BIGINT)
       |        * $MlmRateDen < $MlmRate * 4294967296 THEN 1 ELSE 0 END
       |      AS masked
       |  FROM d, LATERAL unnest(range(1, n_tokens + 1)) AS u(p)
       |  WHERE n_tokens > 0
       |), spans AS (
       |  SELECT pos.*, CASE WHEN masked = 1 AND COALESCE(
       |      lag(masked) OVER (PARTITION BY doc_id ORDER BY p), 0) = 0
       |    THEN 1 ELSE 0 END AS newSpan
       |  FROM pos
       |)
       |SELECT doc_id, n_tokens,
       |  CAST(SUM(masked) AS BIGINT) AS n_masked,
       |  CAST(SUM(newSpan) AS BIGINT) AS n_spans,
       |  (CAST(SUM(masked) AS BIGINT) * 1000000) // n_tokens AS mask_ppm
       |FROM spans GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** Global clustering coefficient — 3·triangles / wedges, the one-row
    * transitivity summary over [[Relational4]]'s per-node triangle
    * machinery: wedges come from the degree distribution alone
    * (Σ d(d−1)/2, one aggregate), triangles from the degree-ordered
    * orientation count (the m^1.5-bounded plan q_triangles already
    * proves out) — so the summary inherits the celebrity-vertex-safe
    * shape instead of re-enumerating paths. */
  private val clusteringCoef: Q = (s, dir) => {
    val Dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val edges = Relational4.docEdges(s, dir)
    val deg = edges.select(col("u").as("id"))
      .union(edges.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val wedges = deg.agg(sum((col("deg") * (col("deg") - 1) / 2)
      .cast(Dec)).cast("long").as("wedges"))
    // degree-ordered orientation (the q_triangles plan), counted once
    val du = deg.select(col("id").as("u"), col("deg").as("du"))
    val dv = deg.select(col("id").as("v"), col("deg").as("dv"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = edges.join(du, "u").join(dv, "v")
      .select(when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"))
      .transform(Materialize.checkpoint)
    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.dst").as("b"), col("e2.dst").as("c"))
      .join(oriented,
        (col("b") === col("src") && col("c") === col("dst")) ||
          (col("c") === col("src") && col("b") === col("dst")),
        "left_semi")
      .agg(count(lit(1)).as("triangles"))
    tri.crossJoin(wedges)
      .select(col("triangles"), col("wedges"),
        round(col("triangles") * 3.0 / col("wedges"), 6)
          .as("clustering_coef"))
  }

  private val clusteringCoefSql =
    s"""WITH ${Relational4.docEdgesCte},
       |ed AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
       |deg AS (SELECT u AS id, COUNT(*) AS deg FROM ed GROUP BY 1),
       |wedges AS (
       |  SELECT CAST(SUM(CAST(deg * (deg - 1) / 2 AS DECIMAL(38,0)))
       |    AS BIGINT) AS wedges
       |  FROM deg
       |), tri AS (
       |  SELECT COUNT(*) AS triangles FROM (
       |    SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |    FROM e e1 JOIN e e2 ON e2.u = e1.v
       |    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
       |  )
       |)
       |SELECT triangles, wedges,
       |  ROUND(triangles * 3.0 / wedges, 6) AS clustering_coef
       |FROM tri, wedges""".stripMargin

  /** Inverse-propensity-weighted treatment effect — the observational
    * causal estimator that complements [[did]] (DiD needs a time
    * dimension; IPW needs a confounder model): propensity is estimated
    * per stratum (event_type here) as the exact fraction
    * p̂ = n_treat/n, each unit is weighted 1/p̂ (treated) or 1/(1−p̂)
    * (control), and the ATE is the difference of weighted outcome
    * means. Propensities are exact rationals of integer counts, so
    * each per-row weighted term is one identical IEEE sequence in both
    * engines, decimal-quantized before the (order-free) sum — the
    * standard hash-exactness recipe. One stratum aggregate broadcast
    * back over the scan. */
  private val ipw: Q = (s, dir) => {
    val ev = Tables.events(s, dir).select(col("event_type"),
      (pmod(col("user_id"), lit(2)) === 1).as("treat"),
      round(col("value") * 1e6, 0).cast("long").as("vfx"))
    val strata = ev.groupBy("event_type").agg(
        sum(when(col("treat"), 1L).otherwise(0L)).as("nt"),
        count(lit(1)).as("n"))
      .withColumn("nc", col("n") - col("nt"))
    // weight for a treated unit is n/nt, control n/nc — keep the
    // numerator (n·vfx or n·1) in DECIMAL and divide by the integer
    // stratum count inside the final ratio, so sums stay exact
    val j = ev.join(broadcast(strata), "event_type")
    def wsum(cond: org.apache.spark.sql.Column,
             num: org.apache.spark.sql.Column,
             den: org.apache.spark.sql.Column) =
      sum(when(cond, num.cast("double") * col("n") / den)
        .otherwise(lit(0.0)).cast(
          org.apache.spark.sql.types.DecimalType(38, 6)))
        .cast("double")
    val agg = j.agg(
      wsum(col("treat"), col("vfx"), col("nt")).as("swy_t"),
      wsum(col("treat"), lit(1L), col("nt")).as("sw_t"),
      wsum(!col("treat"), col("vfx"), col("nc")).as("swy_c"),
      wsum(!col("treat"), lit(1L), col("nc")).as("sw_c"))
    agg.select(
      round(col("swy_t") / col("sw_t") / 1e6, 6).as("mean_treated"),
      round(col("swy_c") / col("sw_c") / 1e6, 6).as("mean_control"),
      round((col("swy_t") / col("sw_t") - col("swy_c") / col("sw_c"))
        / 1e6, 6).as("ate"))
  }

  private val ipwSql =
    """WITH e AS (
      |  SELECT event_type, user_id % 2 = 1 AS treat,
      |    CAST(ROUND(value * 1e6, 0) AS BIGINT) AS vfx
      |  FROM events
      |), strata AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS nt,
      |    COUNT(*) AS n
      |  FROM e GROUP BY 1
      |), j AS (
      |  SELECT e.*, s.nt, s.n, s.n - s.nt AS nc
      |  FROM e JOIN strata s USING (event_type)
      |), agg AS (
      |  SELECT
      |    CAST(CAST(SUM(CAST(CASE WHEN treat
      |      THEN CAST(vfx AS DOUBLE) * n / nt ELSE 0.0 END
      |      AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS swy_t,
      |    CAST(CAST(SUM(CAST(CASE WHEN treat
      |      THEN CAST(1 AS DOUBLE) * n / nt ELSE 0.0 END
      |      AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sw_t,
      |    CAST(CAST(SUM(CAST(CASE WHEN NOT treat
      |      THEN CAST(vfx AS DOUBLE) * n / nc ELSE 0.0 END
      |      AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS swy_c,
      |    CAST(CAST(SUM(CAST(CASE WHEN NOT treat
      |      THEN CAST(1 AS DOUBLE) * n / nc ELSE 0.0 END
      |      AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sw_c
      |  FROM j
      |)
      |SELECT ROUND(swy_t / sw_t / 1e6, 6) AS mean_treated,
      |  ROUND(swy_c / sw_c / 1e6, 6) AS mean_control,
      |  ROUND((swy_t / sw_t - swy_c / sw_c) / 1e6, 6) AS ate
      |FROM agg""".stripMargin

  /** Exact-cell matching ATT — the third member of the causal trio
    * (DiD = time dimension, IPW = reweighting, matching = direct
    * comparison): every treated unit is compared to the mean control
    * outcome in its exact (event_type, hour) confounder cell, and
    * treated units in cells with NO controls are reported as unmatched
    * instead of silently imputed — the honesty property matching has
    * over regression. Control cell means are rationals of decimal-exact
    * sums; the ATT accumulates decimal-quantized per-unit differences.
    * One cell aggregate + one broadcast join back over the treated
    * scan. */
  private val matchingAtt: Q = (s, dir) => {
    val Dec0 = org.apache.spark.sql.types.DecimalType(38, 0)
    val Dec6 = org.apache.spark.sql.types.DecimalType(38, 6)
    val ev = Tables.events(s, dir).select(col("event_type"),
      hour(col("ts")).cast("int").as("hr"),
      (pmod(col("user_id"), lit(2)) === 1).as("treat"),
      round(col("value") * 1e6, 0).cast("long").as("vfx"))
    val cells = ev.filter(!col("treat"))
      .groupBy("event_type", "hr")
      .agg(sum(col("vfx").cast(Dec0)).cast("double").as("sc"),
        count(lit(1)).as("nc"))
    val t = ev.filter(col("treat"))
      .join(broadcast(cells), Seq("event_type", "hr"), "left")
    t.agg(count(lit(1)).as("n_treated"),
        sum(when(col("nc").isNotNull, 1L).otherwise(0L)).as("n_matched"),
        sum(when(col("nc").isNull, 1L).otherwise(0L)).as("n_unmatched"),
        sum(when(col("nc").isNotNull,
          (col("vfx").cast("double") - col("sc") / col("nc")).cast(Dec6))
          .otherwise(lit(null))).cast("double").as("sdiff"))
      .select(col("n_treated"), col("n_matched"), col("n_unmatched"),
        round(col("sdiff") / col("n_matched") / 1e6, 6).as("att"))
  }

  private val matchingAttSql =
    """WITH e AS (
      |  SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hr,
      |    user_id % 2 = 1 AS treat,
      |    CAST(ROUND(value * 1e6, 0) AS BIGINT) AS vfx
      |  FROM events
      |), cells AS (
      |  SELECT event_type, hr,
      |    CAST(CAST(SUM(CAST(vfx AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sc,
      |    COUNT(*) AS nc
      |  FROM e WHERE NOT treat GROUP BY 1, 2
      |), t AS (
      |  SELECT e.vfx, c.sc, c.nc
      |  FROM e LEFT JOIN cells c USING (event_type, hr)
      |  WHERE e.treat
      |)
      |SELECT COUNT(*) AS n_treated,
      |  CAST(SUM(CASE WHEN nc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_matched,
      |  CAST(SUM(CASE WHEN nc IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_unmatched,
      |  ROUND(CAST(SUM(CASE WHEN nc IS NOT NULL THEN
      |      CAST(CAST(vfx AS DOUBLE) - sc / nc AS DECIMAL(38,6))
      |    END) AS DOUBLE)
      |    / SUM(CASE WHEN nc IS NOT NULL THEN 1 ELSE 0 END) / 1e6, 6)
      |    AS att
      |FROM t""".stripMargin

  /** Effective sample size of the IPW weights — Kish's
    * ESS = (Σw)²/Σw² per arm, the standard "are my weights degenerate"
    * diagnostic that should gate any [[ipw]] readout: an ESS ratio near
    * 1 means the reweighting cost nothing; a collapsed ratio means a
    * near-empty propensity cell is dominating and the estimate is one
    * stratum in disguise. Same exact rational weights as q_ipw_ate,
    * decimal-quantized sums, one stratum broadcast + one aggregate. */
  private val ipwEss: Q = (s, dir) => {
    val Dec6 = org.apache.spark.sql.types.DecimalType(38, 6)
    val ev = Tables.events(s, dir).select(col("event_type"),
      (pmod(col("user_id"), lit(2)) === 1).as("treat"))
    val strata = ev.groupBy("event_type").agg(
        sum(when(col("treat"), 1L).otherwise(0L)).as("nt"),
        count(lit(1)).as("n"))
      .withColumn("nc", col("n") - col("nt"))
    val j = ev.join(broadcast(strata), "event_type")
      .select(col("treat").cast("int").as("arm"),
        when(col("treat"), col("n").cast("double") / col("nt"))
          .otherwise(col("n").cast("double") / col("nc")).as("w"))
    j.groupBy("arm").agg(count(lit(1)).as("n_rows"),
        sum(col("w").cast(Dec6)).cast("double").as("sw"),
        sum((col("w") * col("w")).cast(Dec6)).cast("double").as("sww"))
      .select(col("arm"), col("n_rows"),
        round(col("sw") * col("sw") / col("sww"), 6).as("ess"),
        round(col("sw") * col("sw") / col("sww") / col("n_rows"), 6)
          .as("ess_ratio"))
      .orderBy("arm")
  }

  private val ipwEssSql =
    """WITH e AS (
      |  SELECT event_type, user_id % 2 = 1 AS treat FROM events
      |), strata AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS nt,
      |    COUNT(*) AS n
      |  FROM e GROUP BY 1
      |), j AS (
      |  SELECT CAST(e.treat AS INTEGER) AS arm,
      |    CASE WHEN e.treat THEN CAST(s.n AS DOUBLE) / s.nt
      |      ELSE CAST(s.n AS DOUBLE) / (s.n - s.nt) END AS w
      |  FROM e JOIN strata s USING (event_type)
      |)
      |SELECT arm, COUNT(*) AS n_rows,
      |  ROUND(CAST(CAST(SUM(CAST(w AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
      |    * CAST(CAST(SUM(CAST(w AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
      |    / CAST(CAST(SUM(CAST(w * w AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE), 6) AS ess,
      |  ROUND(CAST(CAST(SUM(CAST(w AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
      |    * CAST(CAST(SUM(CAST(w AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
      |    / CAST(CAST(SUM(CAST(w * w AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
      |    / COUNT(*), 6) AS ess_ratio
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** Doubly-robust (AIPW) treatment effect — the estimator that stays
    * consistent if EITHER the propensity model or the outcome model is
    * right (here both are exact cell tables over (event_type, hour), so
    * the two single-model estimators and this one cross-validate):
    * ψ = [T(y−m̂₁)/p̂ + m̂₁] − [(1−T)(y−m̂₀)/(1−p̂) + m̂₀], ATE = mean ψ.
    * Cells missing an arm are dropped and REPORTED (n_dropped), not
    * imputed. Cell models and propensities are rationals of exact
    * integer sums; ψ is one identical IEEE sequence per row,
    * decimal-quantized before the order-free sum. */
  private val aipw: Q = (s, dir) => {
    val Dec0 = org.apache.spark.sql.types.DecimalType(38, 0)
    val Dec6 = org.apache.spark.sql.types.DecimalType(38, 6)
    val ev = Tables.events(s, dir).select(col("event_type"),
      hour(col("ts")).cast("int").as("hr"),
      (pmod(col("user_id"), lit(2)) === 1).as("treat"),
      round(col("value") * 1e6, 0).cast("long").as("vfx"))
    val cells = ev.groupBy("event_type", "hr").agg(
        sum(when(col("treat"), col("vfx")).otherwise(0L).cast(Dec0))
          .cast("double").as("s1"),
        sum(when(col("treat"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("treat"), col("vfx")).otherwise(0L).cast(Dec0))
          .cast("double").as("s0"),
        sum(when(!col("treat"), 1L).otherwise(0L)).as("n0"))
      .filter(col("n1") > 0 && col("n0") > 0)
      .select(col("event_type"), col("hr"),
        (col("s1") / col("n1")).as("m1"),
        (col("s0") / col("n0")).as("m0"),
        (col("n1").cast("double") / (col("n1") + col("n0"))).as("p"))
    val j = ev.join(broadcast(cells), Seq("event_type", "hr"), "left")
    val psi = when(col("treat"),
        (col("vfx").cast("double") - col("m1")) / col("p") + col("m1"))
      .otherwise(col("m1")) -
      (when(!col("treat"),
        (col("vfx").cast("double") - col("m0")) / (lit(1.0) - col("p"))
          + col("m0"))
        .otherwise(col("m0")))
    j.agg(count(lit(1)).as("n_rows"),
        sum(when(col("m1").isNull, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("m1").isNotNull, psi.cast(Dec6))
          .otherwise(lit(null))).cast("double").as("spsi"),
        sum(when(col("m1").isNotNull, 1L).otherwise(0L)).as("n_used"))
      .select(col("n_rows"), col("n_used"), col("n_dropped"),
        round(col("spsi") / col("n_used") / 1e6, 6).as("ate_dr"))
  }

  private val aipwSql =
    """WITH e AS (
      |  SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hr,
      |    user_id % 2 = 1 AS treat,
      |    CAST(ROUND(value * 1e6, 0) AS BIGINT) AS vfx
      |  FROM events
      |), cells AS (
      |  SELECT event_type, hr,
      |    CAST(CAST(SUM(CAST(CASE WHEN treat THEN vfx ELSE 0 END
      |      AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS s1,
      |    CAST(SUM(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(CAST(SUM(CAST(CASE WHEN NOT treat THEN vfx ELSE 0 END
      |      AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS s0,
      |    CAST(SUM(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n0
      |  FROM e GROUP BY 1, 2
      |), mdl AS (
      |  SELECT event_type, hr, s1 / n1 AS m1, s0 / n0 AS m0,
      |    CAST(n1 AS DOUBLE) / (n1 + n0) AS p
      |  FROM cells WHERE n1 > 0 AND n0 > 0
      |), j AS (
      |  SELECT e.treat, e.vfx, m.m1, m.m0, m.p
      |  FROM e LEFT JOIN mdl m USING (event_type, hr)
      |), terms AS (
      |  SELECT m1,
      |    (CASE WHEN treat
      |      THEN (CAST(vfx AS DOUBLE) - m1) / p + m1 ELSE m1 END) -
      |    (CASE WHEN NOT treat
      |      THEN (CAST(vfx AS DOUBLE) - m0) / (1.0 - p) + m0
      |      ELSE m0 END) AS psi
      |  FROM j
      |)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN m1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_used,
      |  CAST(SUM(CASE WHEN m1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dropped,
      |  ROUND(CAST(SUM(CASE WHEN m1 IS NOT NULL
      |      THEN CAST(psi AS DECIMAL(38,6)) END) AS DOUBLE)
      |    / SUM(CASE WHEN m1 IS NOT NULL THEN 1 ELSE 0 END) / 1e6, 6)
      |    AS ate_dr
      |FROM terms""".stripMargin

  /** MMR trade-off weight: score = rel − λ·max-sim-to-selected. 0.5
    * balances relevance and diversity (Carbonell & Goldstein 1998). */
  private val MmrLambda = 0.5
  private val MmrCandidates = 20
  private val MmrK = 5

  /** Maximal-marginal-relevance diversified top-k — the retrieval
    * diversification step the sim family lacked: cosine top-k returns
    * near-duplicates of each other when the corpus has them; MMR greedily
    * re-picks from the candidate pool penalizing similarity to what's
    * already selected (Carbonell & Goldstein, SIGIR 1998).
    *
    * Scale shape is the standard recall-then-rerank architecture: the
    * ONLY corpus-sized stage is the existing cosine top-k scan; the MMR
    * stage operates on the bounded candidate pool (20 rows, 380 pair
    * sims) and unrolls [[MmrK]] greedy steps as bounded joins — for a
    * multi-query deployment every frame adds a qid key and the same
    * steps run partitioned per query. All similarities ride the
    * fixed-point dot (long ×1e12), so rel − λ·maxSim is the identical
    * IEEE sequence in both engines and the greedy argmax (ties → lowest
    * vec_id) picks identical chains. */
  private val mmrTopK: Q = (s, dir) => {
    import graft.sim.VectorOps
    graft.functions.GraftFunctions.install(s)
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val cand = VectorOps.cosineTopK(Tables.embeddings(s, dir), 0L,
        MmrCandidates + 1)
      .filter(col("vec_id") =!= 0L) // drop the query's self-match
      .withColumnRenamed("cosine", "rel")
      .join(emb, "vec_id")
      .withColumn("nrm", VectorOps.norm(col("embedding")))
      .transform(Materialize.checkpoint) // bounded (20 rows); cut the scan lineage
    val a = cand.select(col("vec_id").as("va"), col("embedding").as("ea"),
      col("nrm").as("na"))
    val b = cand.select(col("vec_id").as("vb"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    val sims = a.join(b, col("va") =!= col("vb"))
      .select(col("va"), col("vb"),
        ((VectorOps.fixedDot(col("ea"), col("eb")).cast("double") / 1e12)
          / (col("na") * col("nb"))).as("sim"))
      .transform(Materialize.checkpoint) // 380 rows
    val scores = cand.select("vec_id", "rel")
    // Each greedy step's argmax is ONE row — collect it to the driver (the
    // BPE top-1 pattern) instead of growing a lazily-unioned `selected`
    // frame: the union form embedded every earlier step's plan in each
    // later step TWICE (anti-join side + selected-ids side), so the final
    // plan was 4 200+ lines and steps re-executed combinatorially. The
    // selected set is ≤ MmrK ids; sims/scores are checkpointed leaves, so
    // each step is one bounded job. mmr values are computed by the same
    // Spark expressions and re-emitted as collected literals — identical
    // doubles, identical (desc mmr, vec_id) tie-break chain.
    import s.implicits._
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    scores.orderBy(desc("rel"), col("vec_id")).limit(1)
      .select(col("vec_id"), col("rel")).collect()
      .foreach(r => selected += ((1, r.getLong(0), r.getDouble(1))))
    for (t <- 2 to MmrK if selected.nonEmpty && selected.size == t - 1) {
      val selIds = selected.map(_._2).toSeq
      val maxSim = sims.filter(col("vb").isin(selIds: _*))
        .groupBy(col("va").as("vec_id")).agg(max(col("sim")).as("ms"))
      scores.filter(!col("vec_id").isin(selIds: _*))
        .join(maxSim, "vec_id")
        .select(col("vec_id"), (col("rel") - lit(MmrLambda) * col("ms"))
          .as("mmr"))
        .orderBy(desc("mmr"), col("vec_id")).limit(1).collect()
        .foreach(r => selected += ((t, r.getLong(0), r.getDouble(1))))
    }
    selected.toSeq.toDF("step", "vec_id", "mmr")
      .select(col("step"), col("vec_id"), col("mmr")).orderBy("step")
  }

  private val mmrTopKSql = {
    // one greedy step: among unselected candidates, mmr = rel − λ·max sim
    // to the selected set; argmax with the vec_id tie-break
    // Every bounded CTE is AS MATERIALIZED: DuckDB inlines plain CTEs at
    // every reference, and the greedy steps reference pairs/candf through
    // the growing prev-unions — the re-expansion recomputed the
    // corpus-sized stages combinatorially and spilled >60 GB at sf10.
    // Materialized, the whole twin runs in ~4 s there.
    def step(t: Int) = {
      val prev = (1 until t).map(i => s"SELECT vec_id FROM s$i")
        .mkString(" UNION ALL ")
      s"""s$t AS MATERIALIZED (
         |  SELECT c.vec_id, $t AS step,
         |    c.rel - $MmrLambda * MAX(p.sim) AS mmr
         |  FROM candf c JOIN pairs p ON p.va = c.vec_id
         |    AND p.vb IN ($prev)
         |  WHERE c.vec_id NOT IN ($prev)
         |  GROUP BY c.vec_id, c.rel
         |  ORDER BY mmr DESC, c.vec_id LIMIT 1
         |)""".stripMargin
    }
    s"""WITH v AS (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings
       |), q AS (SELECT i, x AS qx FROM v WHERE vec_id = 0),
       |nrm AS (
       |  SELECT vec_id, SQRT(CAST(CAST(SUM(CAST(ROUND(x * x * 1e12, 0)
       |    AS BIGINT)) AS VARCHAR) AS DOUBLE) / 1e12) AS nrm
       |  FROM v GROUP BY 1
       |), cand AS MATERIALIZED (
       |  SELECT d.vec_id,
       |    (CAST(d.dot AS DOUBLE) / 1e12) / (nrm.nrm *
       |      (SELECT nrm FROM nrm WHERE vec_id = 0)) AS rel
       |  FROM (
       |    SELECT v.vec_id, SUM(CAST(ROUND(v.x * q.qx * 1e12, 0)
       |      AS BIGINT)) AS dot
       |    FROM v JOIN q ON v.i = q.i GROUP BY 1) d
       |  JOIN nrm ON nrm.vec_id = d.vec_id
       |  ORDER BY rel DESC, d.vec_id LIMIT ${MmrCandidates + 1}
       |), candf AS MATERIALIZED (SELECT * FROM cand WHERE vec_id <> 0),
       |cvec AS MATERIALIZED (
       |  -- pin the candidate-only unnest: joining the full corpus-sized v
       |  -- to itself on the dimension index first (a join order DuckDB
       |  -- picked at sf10) is quadratic in the corpus and spilled >60 GB;
       |  -- materializing the 20-candidate slice bounds the pair stage
       |  SELECT v.vec_id, v.x, v.i FROM v
       |  WHERE v.vec_id IN (SELECT vec_id FROM candf)
       |),
       |pairs AS MATERIALIZED (
       |  SELECT a.vec_id AS va, b.vec_id AS vb,
       |    (CAST(CAST(SUM(CAST(ROUND(x1.x * x2.x * 1e12, 0) AS BIGINT))
       | AS VARCHAR) AS DOUBLE) / 1e12) / (na.nrm * nb.nrm) AS sim
       |  FROM candf a JOIN candf b ON a.vec_id <> b.vec_id
       |  JOIN cvec x1 ON x1.vec_id = a.vec_id
       |  JOIN cvec x2 ON x2.vec_id = b.vec_id AND x2.i = x1.i
       |  JOIN nrm na ON na.vec_id = a.vec_id
       |  JOIN nrm nb ON nb.vec_id = b.vec_id
       |  GROUP BY 1, 2, na.nrm, nb.nrm
       |), s1 AS MATERIALIZED (
       |  SELECT vec_id, 1 AS step, rel AS mmr FROM candf
       |  ORDER BY rel DESC, vec_id LIMIT 1
       |),
       |${(2 to MmrK).map(step).mkString(",\n")}
       |SELECT step, vec_id, mmr FROM (
       |  ${(1 to MmrK).map(i => s"SELECT * FROM s$i").mkString(
            " UNION ALL ")})
       |ORDER BY step""".stripMargin
  }

  /** Permutation replicates. p-values resolve to multiples of
    * 1/(B+1) = 1/100; the +1 numerator offset (Phipson & Smyth 2010)
    * keeps p > 0 so the FDR compare never divides by zero. */
  private val PermB = 99

  /** Seeded permutation test per event type + Benjamini–Hochberg FDR
    * across the family — the multiple-testing control the screen family
    * (chi², KS, Mann–Whitney, PSI, CUSUM…) lacked: run m screens and at
    * α=0.05 you expect m/20 false alarms; BH bounds the false-discovery
    * RATE instead. Per type, H₀: morning (hour<12) and evening values are
    * exchangeable; the statistic is |meanAM − meanPM|; the null is B=99
    * seeded md5 re-labelings (i.i.d. with the observed AM fraction — the
    * scalable approximation of a label permutation), giving the
    * INTEGER-EXACT p = (1 + #{stat_b ≥ obs}) / (B+1). The BH step
    * compares p₍ₖ₎ ≤ k·α/m entirely in cross-multiplied integers
    * (p_num·m·20 ≤ k·p_den), so no float decision anywhere.
    *
    * Scale: the only heavy stage is one explode ×B with map-side
    * combinable (type, b) partial sums — B is the cost lever, no
    * per-replicate resort or shuffle of the raw rows; the BH frame is
    * m rows (one per type) joined against a 1-row K. Sums ride
    * DECIMAL(38,0) fixed-point (value×1e6), counts are longs, and the
    * mean-difference doubles derive from identical integers in both
    * engines. The m-row rank is a broadcast self-join, not a
    * single-partition window. */
  private def permutationFdrImpl(sampleDen: Long): Q = (s, dir) => {
    import org.apache.spark.sql.types.DecimalType
    val Dec = DecimalType(38, 0)
    def dsum(c: org.apache.spark.sql.Column) = sum(c.cast(Dec))
    val evAll = Tables.events(s, dir).select(col("event_type"),
      col("event_id"),
      round(col("value") * 1e6, 0).cast("long").as("vfx"),
      (hour(col("ts")) < 12).cast("int").as("ga"))
    // md5-prefix row sample (rate 1/sampleDen): the ×B explode then costs
    // B×sample instead of B×corpus — the 100 TB posture of the sampled
    // variant. Seeded and twin-computable, so the sampled statistic is
    // still oracle-exact; the test simply runs on the (valid i.i.d.)
    // subsample, trading power for a B×8 cost cut.
    // REPARTITION BEFORE THE ×B STAGE (round-9 sweep finding): the events
    // parquet is one input split up to sf10 (86 MB < maxPartitionBytes),
    // so without this the 99× explode + partial aggregation ran as ONE
    // task at every scale — 13.5 s at sf0.1 was a single core chewing
    // 10 M exploded rows while 31 sat idle. The explode amplifies work
    // AFTER the scan, so parallelism must be set by the engine, not
    // inherited from input splits. Hash-distributing on event_id is
    // deterministic under retries (round-robin is not); the per-partition
    // long partials stay exact and the decimal finals make the total
    // partitioning-invariant, so the result hash is unchanged.
    val ev = (if (sampleDen <= 1L) evAll
      else evAll.filter(
        conv(substring(md5(concat(lit("pfs|"),
          col("event_id").cast("string"))), 1, 8), 16, 10).cast("long")
          * sampleDen < lit(4294967296L)))
      .repartition(s.sparkContext.defaultParallelism, col("event_id"))
      .transform(Materialize.checkpoint) // read by tc AND the ×B replicate explode
    val tc = ev.groupBy("event_type").agg(
      dsum(when(col("ga") === 1, col("vfx")).otherwise(0L)).as("sA"),
      dsum(when(col("ga") === 0, col("vfx")).otherwise(0L)).as("sB"),
      sum(col("ga").cast("long")).as("nA"),
      count(lit(1)).as("n"))
      .withColumn("nB", col("n") - col("nA"))
      .withColumn("obs", when(col("nA") === 0 || col("nB") === 0, lit(0.0))
        .otherwise(abs(col("sA").cast("double") / col("nA")
          - col("sB").cast("double") / col("nB"))))
      .transform(Materialize.checkpoint) // m rows; read by the join, p, and broadcast
    // 4 independent 32-bit draws per md5 (the MinHash hash-window trick),
    // staged as TWO explodes so each digest is computed exactly once and
    // no row carries a B-long array: explode the ⌈B/4⌉ digest groups,
    // project the md5 as a plain attribute (Catalyst doesn't CSE inside
    // HOF lambdas — an inline md5 would run once per window), then
    // posexplode its four 8-hex windows. Replicate id b = 4g + w + 1.
    val groups = (PermB + 3) / 4
    // fused digest→windows extractor ([[graft.functions.Md5Windows32Expr]]):
    // bit-identical to the old md5 → 4×(substr + conv) chain, without
    // materializing the 32-char hex string or parsing it four times per
    // digest — 25 digests per event row make that the stage's per-task cost
    graft.functions.GraftFunctions.install(s)
    val reps = ev.select(col("event_type"), col("event_id"), col("vfx"),
        explode(sequence(lit(0), lit(groups - 1))).as("g"))
      .select(col("event_type"), col("vfx"), col("g"),
        posexplode(graft.functions.Md5WindowsFunctions.md5Windows32(
          concat(col("g").cast("string"), lit("|"),
            col("event_id").cast("string")))).as(Seq("w", "u")))
      .withColumn("b", col("g") * 4 + col("w") + 1)
      .filter(col("b") <= PermB)
      .join(broadcast(tc.select("event_type", "nA", "n")), "event_type")
      .withColumn("ra", (col("u") * col("n") <
        col("nA") * lit(4294967296L)).cast("int"))
    // two-phase sums: primitive-long partials per (type, b, partition) —
    // a DECIMAL(38) accumulator leaves the compact-long fast path and was
    // the dominant cost of the 60M-row replicate aggregation — then a
    // 495×parallelism-row decimal-exact final. Long partials are exact
    // (≤ maxPartitionRows·2³³ ≪ 2⁶³); decimal finals make the TOTAL exact
    // at any row count, so partitioning cannot change the result.
    val part = reps.withColumn("pid", spark_partition_id())
      .groupBy("event_type", "b", "pid").agg(
        sum(when(col("ra") === 1, col("vfx")).otherwise(0L)).as("psA"),
        sum(when(col("ra") === 0, col("vfx")).otherwise(0L)).as("psB"),
        sum(col("ra").cast("long")).as("pnA"),
        count(lit(1)).as("pn"))
    val rstats = part.groupBy("event_type", "b").agg(
      dsum(col("psA")).as("rsA"),
      dsum(col("psB")).as("rsB"),
      sum(col("pnA")).as("rnA"),
      sum(col("pn")).as("rn"))
      .withColumn("rnB", col("rn") - col("rnA"))
      .withColumn("stat", when(col("rnA") === 0 || col("rnB") === 0,
        lit(0.0)).otherwise(abs(col("rsA").cast("double") / col("rnA")
          - col("rsB").cast("double") / col("rnB"))))
    // m rows (one per event_type) — MATERIALIZE before the BH step:
    // bhReject consumes p through four differently-projected branches
    // (rank self-join probe + broadcast build, the m-count cross join, the
    // bigK cross join), and column pruning makes each branch's copy of the
    // whole ×B replicate subtree canonicalize DIFFERENTLY, so ReuseExchange
    // shared nothing and the 99×-explode map stage executed twice (r14
    // profile: twin 1.5 s + 2.1 s 32-task stages; the before-plan embeds
    // md5_windows32 six times). The checkpoint runs the replicate chain
    // once; every BH branch then reads an m-row leaf (guide §2.4, the r13
    // branch-re-execution lesson).
    val p = rstats.join(broadcast(tc.select("event_type", "obs")),
        "event_type")
      .groupBy("event_type")
      .agg((lit(1L) + sum(when(col("stat") >= col("obs"), 1L)
        .otherwise(0L))).as("p_num"), max(col("obs")).as("obs_diff"))
      .withColumn("p_den", lit(PermB + 1L))
      .transform(Materialize.checkpoint)
    bhReject(p, alphaNum = 1, alphaDen = 20)
      .select(col("event_type"),
        (col("obs_diff") / 1e6).as("obs_diff"), col("p_num"),
        col("p_den"), col("k"), col("reject"))
      .orderBy("event_type")
  }

  /** Exact permutation FDR: every event row enters the ×B replicate
    * explode. Statistically canonical; at 100 TB the 99× row
    * amplification is the stated cost — see the sampled variant. */
  private val permutationFdr: Q = permutationFdrImpl(1L)

  /** Sample rate denominator for the sampled permutation variant: 1/8 of
    * rows kept. B×(n/8) replicate rows instead of B×n — the scale-path
    * form; the exact variant remains the full-power reference. */
  private val PfsDen = 8L

  /** Sampled permutation FDR ([[permutationFdrImpl]] over an md5-prefix
    * 1/8 row sample): same seeded draws, same BH step, ~8× cheaper ×B
    * stage. The p-values move with the subsample (less power, wider
    * null), but the DECISION procedure is identical and the oracle twin
    * replays the same sample, so the entry stays hash-exact. */
  private val permutationFdrSampled: Q = permutationFdrImpl(PfsDen)

  /** Benjamini–Hochberg step over an m-row frame of exact-fraction
    * p-values (event_type, p_num, p_den, obs_diff): rank by (p_num,
    * type) via a broadcast self-join — never a single-partition window —
    * flag p₍ₖ₎ ≤ k·α/m as the all-integer cross-multiplication
    * p_num·m·αDen ≤ k·p_den·αNum, and reject every rank at or below the
    * LARGEST flagged rank (the BH step-up rule: a small rank whose own
    * flag fails is still rejected when a larger flagged rank exists).
    * Spec entry point ([[graft.FdrSpec]]). */
  private[graft] def bhReject(p: DataFrame, alphaNum: Int,
                              alphaDen: Int): DataFrame = {
    val pr = p.select(col("event_type").as("t2"), col("p_num").as("pn2"))
    val ranked = p.join(broadcast(pr),
        col("pn2") < col("p_num") ||
          (col("pn2") === col("p_num") && col("t2") <= col("event_type")),
        "left")
      .groupBy("event_type", "p_num", "p_den", "obs_diff")
      .agg(count(col("t2")).as("k"))
    val withM = ranked.crossJoin(broadcast(
      ranked.agg(count(lit(1)).as("m"))))
      .withColumn("flag", col("p_num") * col("m") * alphaDen <=
        col("k") * col("p_den") * alphaNum)
    val bigK = withM.agg(coalesce(max(when(col("flag"), col("k"))), lit(0L))
      .as("bigk"))
    withM.crossJoin(broadcast(bigK))
      .withColumn("reject", col("k") <= col("bigk"))
  }

  /** Quantile normalization of the per-type value distributions onto the
    * POOLED distribution — the rank-based feature transform (microarray
    * lineage, standard ML feature prep): each row maps to its within-type
    * percent rank p, then to the pooled distribution's interpolated
    * quantile at p. After the transform every type has (up to rank
    * granularity) the SAME distribution — the report shows the per-type
    * means collapsing onto the pooled mean while the raw means differ.
    *
    * Scale shape: NO per-type or global rank window anywhere in the
    * engine plan — both ranks come from [[DistributedRank]]'s two-phase
    * histogram form (the per-type rank rides a composite
    * typeIdx·nb+bucket key, so one hot type never funnels through one
    * task); the quantile lookup is two keyed joins on the pooled rank.
    * The oracle recomputes with plain SQL windows — a different
    * evaluation strategy entirely, so agreement checks the rank
    * arithmetic, not the plan. All inputs are fixed-point longs; the
    * interpolation is the identical IEEE sequence in both engines. */
  private val quantileNorm: Q = (s, dir) => {
    val ev = Tables.events(s, dir).select(col("event_type"),
        col("event_id"), round(col("value") * 1e6, 0).cast("long").as("vfx"))
      .transform(Materialize.checkpoint) // scanned by 2 rank passes + the final agg
    val r0 = ev.agg(min("vfx").as("mn"), max("vfx").as("mx")).collect()(0)
    val (mn, mx) = (r0.getLong(0), r0.getLong(1))
    val nb = math.max(1, s.sparkContext.defaultParallelism * 4)
    val width = math.max((mx - mn) / nb, 1L)
    val bucket = least(expr(s"(vfx - $mn) div $width"), lit(nb - 1L))
    val (pooled, nTot) = DistributedRank.withRank(ev, bucket,
      Seq(col("vfx"), col("event_id")))
    val types = ev.select("event_type").distinct()
      .collect().map(_.getString(0)).sorted
    val gi = element_at(typedlit(types.zipWithIndex.toMap),
      col("event_type"))
    val (gRanked, _) = DistributedRank.withRank(
      ev.withColumn("gi", gi), gi * nb + bucket,
      Seq(col("gi"), col("vfx"), col("event_id")))
    val gStats = gRanked.groupBy(col("event_type").as("et"))
      .agg(min("rank").as("st"), count(lit(1)).as("ng"))
    val p = when(col("ng") === 1, lit(0.0))
      .otherwise((col("rank") - col("st")).cast("double") / (col("ng") - 1))
    val t = p * lit((nTot - 1).toDouble)
    val iv = gRanked.join(broadcast(gStats),
        col("et") === col("event_type"))
      .select(col("event_type"), col("vfx"), t.as("t"),
        (floor(t) + 1).as("lo"), (ceil(t) + 1).as("hi"))
    val pv = pooled.select(col("rank"), col("vfx").as("pv"))
    val tv = iv
      .join(pv.withColumnRenamed("rank", "lo")
        .withColumnRenamed("pv", "pvlo"), "lo")
      .join(pv.withColumnRenamed("rank", "hi")
        .withColumnRenamed("pv", "pvhi"), "hi")
      .select(col("event_type"), col("vfx"),
        (col("pvlo") + (col("t") - floor(col("t")))
          * (col("pvhi") - col("pvlo"))).as("tv"))
    tv.groupBy("event_type").agg(count(lit(1)).as("n"),
        round(sum(col("vfx").cast(
          org.apache.spark.sql.types.DecimalType(38, 0))).cast("double")
          / count(lit(1)) / 1e6, 6).as("mean_raw"),
        round(Num.dsum(col("tv"), 6) / count(lit(1)) / 1e6, 6)
          .as("mean_qnorm"),
        round(min(col("tv")) / 1e6, 6).as("min_qnorm"),
        round(max(col("tv")) / 1e6, 6).as("max_qnorm"))
      .orderBy("event_type")
  }

  private val quantileNormSql =
    """WITH base AS (
      |  SELECT event_type, event_id,
      |    CAST(ROUND(value * 1e6, 0) AS BIGINT) AS vfx
      |  FROM events
      |), nn AS (SELECT COUNT(*) AS n FROM base),
      |pooled AS (
      |  SELECT vfx, row_number() OVER (ORDER BY vfx, event_id) AS r
      |  FROM base
      |), g AS (
      |  SELECT event_type, vfx,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY vfx, event_id) AS rg,
      |    COUNT(*) OVER (PARTITION BY event_type) AS ng
      |  FROM base
      |), tt AS (
      |  SELECT event_type, vfx,
      |    (CASE WHEN ng = 1 THEN 0.0
      |      ELSE CAST(rg - 1 AS DOUBLE) / (ng - 1) END)
      |      * ((SELECT n FROM nn) - 1) AS t
      |  FROM g
      |), iv AS (
      |  SELECT event_type, vfx, t,
      |    CAST(FLOOR(t) AS BIGINT) + 1 AS lo,
      |    CAST(CEIL(t) AS BIGINT) + 1 AS hi
      |  FROM tt
      |), tv AS (
      |  SELECT i.event_type, i.vfx,
      |    pl.vfx + (i.t - FLOOR(i.t)) * (ph.vfx - pl.vfx) AS tv
      |  FROM iv i JOIN pooled pl ON pl.r = i.lo
      |  JOIN pooled ph ON ph.r = i.hi
      |)
      |SELECT event_type, COUNT(*) AS n,
      |  ROUND(CAST(CAST(SUM(CAST(vfx AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
      |    / COUNT(*) / 1e6, 6) AS mean_raw,
      |  ROUND(CAST(CAST(SUM(CAST(tv AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
      |    / COUNT(*) / 1e6, 6) AS mean_qnorm,
      |  ROUND(MIN(tv) / 1e6, 6) AS min_qnorm,
      |  ROUND(MAX(tv) / 1e6, 6) AS max_qnorm
      |FROM tv GROUP BY 1 ORDER BY 1""".stripMargin

  /** DSIR importance resampling ([[graft.text.TextOps.dsirSample]]):
    * target = English documents, 256 hashed unigram buckets, Gumbel
    * top-40. The oracle replays bucket hashing, the smoothed log-ratio
    * model (ROUND 9 → DECIMAL sum), and the seeded Gumbel rank. */
  private val dsirSample: Q = (s, dir) =>
    graft.text.TextOps.dsirSample(
      Tables.documents(s, dir), col("lang") === "en", 256, 40)

  private val dsirSampleSql =
    """WITH tok AS (
      |  SELECT doc_id, lang, lang = 'en' AS is_t,
      |    CAST(list_sum(list_transform(range(1, 9), p ->
      |      (strpos('0123456789abcdef', substr(md5('dsir|' || w),
      |        CAST(p AS INTEGER), 1)) - 1) * power(16, 8 - p)))
      |      AS BIGINT) % 256 AS b
      |  FROM (SELECT doc_id, lang,
      |          unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      |        FROM documents)
      |), tot AS (
      |  SELECT COUNT(*) AS nr, SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS nt
      |  FROM tok
      |), model AS (
      |  SELECT b, CAST(ROUND(
      |      ln(CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) + 1 AS DOUBLE)
      |         / (MAX(tot.nt) + 256))
      |    - ln(CAST(COUNT(*) + 1 AS DOUBLE) / (MAX(tot.nr) + 256)), 9)
      |    AS DECIMAL(38,12)) AS lr
      |  FROM tok, tot GROUP BY b
      |), w AS (
      |  SELECT doc_id, lang,
      |    ROUND(CAST(SUM(lr) AS DOUBLE), 6) AS logw
      |  FROM tok JOIN model USING (b)
      |  GROUP BY 1, 2
      |), keyed AS (
      |  SELECT doc_id, lang, logw,
      |    ROUND(ln(-ln((CAST(list_sum(list_transform(range(1, 9), p ->
      |      (strpos('0123456789abcdef', substr(md5('dsir-u|' ||
      |        CAST(doc_id AS VARCHAR)), CAST(p AS INTEGER), 1)) - 1)
      |      * power(16, 8 - p))) AS BIGINT) + 0.5) / 4294967296.0))
      |      - logw, 6) AS gk
      |  FROM w
      |)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY gk, doc_id) AS INTEGER) AS rk,
      |  doc_id, lang, logw
      |FROM keyed ORDER BY gk, doc_id LIMIT 40""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("text_dsir_sample", dsirSample, dsirSampleSql),
    Entry("text_winnowing", winnowing, winnowingSql),
    Entry("text_winnow_pairs", winnowPairs, winnowPairsSql),
    Entry("text_phrase_search", phraseSearch, phraseSearchSql),
    Entry("sim_mmr_topk", mmrTopK, mmrTopKSql),
    Entry("q_permutation_fdr", permutationFdr, permutationFdrSql),
    Entry("q_permutation_fdr_sampled", permutationFdrSampled, permutationFdrSampledSql),
    Entry("q_quantile_norm", quantileNorm, quantileNormSql),
    Entry("text_winnow_spans", winnowSpans, winnowSpansSql),
    Entry("q_snapshot_diff", snapshotDiff, snapshotDiffSql),
    Entry("q_feature_gain", featureGain, featureGainSql),
    Entry("text_lang_confusion", langConfusion, langConfusionSql),
    Entry("q_ppr", ppr, pprSql),
    Entry("text_compress_ratio", compressRatio),
    Entry("q_mv_maintain", mvMaintain, mvMaintainSql),
    Entry("q_attribution", attribution, attributionSql),
    Entry("q_km_survival", kmSurvival, kmSurvivalSql),
    Entry("q_logrank", logrank, logrankSql),
    Entry("q_rfm", rfm, rfmSql),
    Entry("q_did", did, didSql),
    Entry("text_zipf_fit", zipfFit, zipfFitSql),
    Entry("q_assortativity", assortativity, assortativitySql),
    Entry("text_burstiness", burstiness, burstinessSql),
    Entry("q_rmst", rmst, rmstSql),
    Entry("sim_hard_negatives", hardNegatives, hardNegativesSql),
    Entry("sim_hard_negatives_bounded", hardNegativesBounded, hardNegativesBoundedSql),
    Entry("text_mlm_plan", mlmPlan, mlmPlanSql),
    Entry("q_clustering_coef", clusteringCoef, clusteringCoefSql),
    Entry("q_ipw_ate", ipw, ipwSql),
    Entry("q_matching_att", matchingAtt, matchingAttSql),
    Entry("q_ipw_ess", ipwEss, ipwEssSql),
    Entry("q_aipw_ate", aipw, aipwSql),
  )

  private def permutationFdrSqlImpl(sampleDen: Long) =
    s"""WITH base AS (
       |  SELECT event_type, event_id,
       |    CAST(ROUND(value * 1e6, 0) AS BIGINT) AS vfx,
       |    CASE WHEN EXTRACT(hour FROM ts) < 12 THEN 1 ELSE 0 END AS ga
       |  FROM events${
      if (sampleDen <= 1L) ""
      else s"""
       |  WHERE CAST(('0x' || substr(md5('pfs|' || CAST(event_id AS VARCHAR)),
       |    1, 8)) AS BIGINT) * $sampleDen < 4294967296"""}
       |), tc AS (
       |  SELECT event_type,
       |    SUM(CASE WHEN ga = 1 THEN CAST(vfx AS DECIMAL(38,0))
       |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS sA,
       |    SUM(CASE WHEN ga = 0 THEN CAST(vfx AS DECIMAL(38,0))
       |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS sB,
       |    CAST(SUM(ga) AS BIGINT) AS nA, COUNT(*) AS n
       |  FROM base GROUP BY 1
       |), obs AS (
       |  SELECT event_type, nA, n, n - nA AS nB,
       |    CASE WHEN nA = 0 OR n - nA = 0 THEN 0.0
       |      ELSE ABS(CAST(sA AS DOUBLE) / nA
       |        - CAST(sB AS DOUBLE) / (n - nA)) END AS obs
       |  FROM tc
       |), reps AS (
       |  SELECT b.event_type, r.b, b.vfx,
       |    CASE WHEN CAST(('0x' || substr(
       |        md5(CAST((r.b - 1) // 4 AS VARCHAR) || '|'
       |          || CAST(b.event_id AS VARCHAR)),
       |        ((r.b - 1) % 4) * 8 + 1, 8)) AS BIGINT)
       |        * o.n < o.nA * 4294967296 THEN 1 ELSE 0 END AS ra
       |  FROM base b
       |  CROSS JOIN LATERAL unnest(range(1, ${PermB + 1})) AS r(b)
       |  JOIN obs o ON o.event_type = b.event_type
       |), rstats AS (
       |  SELECT event_type, b,
       |    SUM(CASE WHEN ra = 1 THEN CAST(vfx AS DECIMAL(38,0))
       |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS rsA,
       |    SUM(CASE WHEN ra = 0 THEN CAST(vfx AS DECIMAL(38,0))
       |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS rsB,
       |    CAST(SUM(ra) AS BIGINT) AS rnA, COUNT(*) AS rn
       |  FROM reps GROUP BY 1, 2
       |), rs AS (
       |  SELECT event_type,
       |    CASE WHEN rnA = 0 OR rn - rnA = 0 THEN 0.0
       |      ELSE ABS(CAST(rsA AS DOUBLE) / rnA
       |        - CAST(rsB AS DOUBLE) / (rn - rnA)) END AS stat
       |  FROM rstats
       |), p AS (
       |  SELECT rs.event_type,
       |    1 + SUM(CASE WHEN rs.stat >= o.obs THEN 1 ELSE 0 END) AS p_num,
       |    CAST(${PermB + 1} AS BIGINT) AS p_den, MAX(o.obs) AS obs_diff
       |  FROM rs JOIN obs o ON o.event_type = rs.event_type
       |  GROUP BY 1
       |), ranked AS (
       |  SELECT a.event_type, a.obs_diff, CAST(a.p_num AS BIGINT) AS p_num,
       |    a.p_den, COUNT(b.event_type) AS k
       |  FROM p a LEFT JOIN p b ON b.p_num < a.p_num
       |    OR (b.p_num = a.p_num AND b.event_type <= a.event_type)
       |  GROUP BY 1, 2, 3, 4
       |), mm AS (SELECT COUNT(*) AS m FROM ranked),
       |flags AS (
       |  SELECT ranked.*, (p_num * (SELECT m FROM mm) * 20 <= k * p_den)
       |    AS flag
       |  FROM ranked
       |), bigk AS (
       |  SELECT COALESCE(MAX(CASE WHEN flag THEN k END), 0) AS bigk
       |  FROM flags
       |)
       |SELECT event_type, obs_diff / 1e6 AS obs_diff, p_num, p_den, k,
       |  k <= (SELECT bigk FROM bigk) AS reject
       |FROM flags ORDER BY event_type""".stripMargin

  private val permutationFdrSql = permutationFdrSqlImpl(1L)
  private val permutationFdrSampledSql = permutationFdrSqlImpl(PfsDen)
}
