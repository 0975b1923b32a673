package graft.queries

import org.apache.logging.log4j.LogManager
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize
import graft.dedup.{Dedup, FrameStore}
import graft.mm.Multimodal
import graft.sim.VectorOps
import graft.text.TextOps

/** Training-data-pipeline extension operators (BASELINE.json north star):
  * text analysis, dedup family, similarity search, multimodal plumbing —
  * over the driver's `documents` and `embeddings` tables, oracle-checked
  * wherever DuckDB can express the twin (all hash material is md5 and all
  * float outputs derive from integer counts or decimal-exact sums, so the
  * checks are exact, not tolerance-based).
  */
object Extensions {
  private val logger = LogManager.getLogger(getClass.getName.stripSuffix("$"))
  // Shared oracle SQL fragments (DuckDB dialect)
  private val toksSql =
    "list_filter(string_split(text, ' '), x -> x <> '')"
  private def shinglesCte =
    s"""toks AS (
       |  SELECT doc_id, $toksSql AS l FROM documents
       |), sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(l)-1),
       |    i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS shingle FROM toks
       |)""".stripMargin

  // ------------------------------------------------------------------ text
  private val textStats: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"),
        TextOps.tokens(col("text")).as("toks"))
      .select(
        // bigint counts: DuckDB length/len are BIGINT, Spark's are INT
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_uniq_tokens"),
        TextOps.bpeishTokenCount(col("text")).cast("long").as("n_bpeish"),
        (length(concat_ws("", col("toks"))).cast("double") / size(col("toks")))
          .as("avg_token_len"))
      .orderBy("doc_id")

  private val textStatsSql =
    s"""SELECT doc_id,
       |  length(text) AS n_chars,
       |  len($toksSql) AS n_tokens,
       |  len(list_distinct($toksSql)) AS n_uniq_tokens,
       |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_bpeish,
       |  CAST(length(array_to_string($toksSql, '')) AS DOUBLE)
       |    / NULLIF(len($toksSql), 0) AS avg_token_len
       |FROM documents ORDER BY doc_id""".stripMargin

  private val textQuality: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text"),
        TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"),
        TextOps.qualityScore(col("text"), col("toks")).as("quality_score"))
      .orderBy("doc_id")

  /** The quality-score scalar (DuckDB dialect) over a `documents` row —
    * shared by [[textQualitySql]] and [[textCurationSql]]. NULLIF guards:
    * Spark's divide-by-zero yields NULL while DuckDB's IEEE float division
    * yields inf/NaN — a zero-token doc must be NULL on both. */
  private lazy val qualityScalarSql = {
    val allStops = TextOps.LangStopwords.flatMap(_._2).distinct
      .map(w => s"'$w'").mkString(", ")
    s"""0.4 * LEAST(1.0, CAST(length(text) AS DOUBLE) / 500.0)
       |  + 0.3 * (CAST(len(list_distinct($toksSql)) AS DOUBLE)
       |           / NULLIF(CAST(len($toksSql) AS DOUBLE), 0.0))
       |  + 0.3 * LEAST(1.0, CAST(len(list_filter($toksSql,
       |      x -> list_contains([$allStops], x))) AS DOUBLE)
       |           / NULLIF(CAST(len($toksSql) AS DOUBLE), 0.0) * 10.0)""".stripMargin
  }

  private val textQualitySql =
    s"""SELECT doc_id, lang,
       |  $qualityScalarSql AS quality_score
       |FROM documents ORDER BY doc_id""".stripMargin

  private val textLangId: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"),
        TextOps.langId(col("toks")).as("lang_pred"))
      .orderBy("doc_id")

  private val textLangIdSql = {
    val scoreExprs = TextOps.LangStopwords.map { case (l, ws) =>
      val list = ws.map(w => s"'$w'").mkString(", ")
      l -> s"len(list_filter($toksSql, x -> list_contains([$list], x)))"
    }
    val scoreCols = scoreExprs.map { case (l, e) => s"$e AS sc_$l" }.mkString(",\n  ")
    val best = scoreExprs.map(e => s"sc_${e._1}").mkString("GREATEST(", ", ", ")")
    val cases = scoreExprs.map { case (l, _) =>
      s"WHEN sc_$l > 0 AND sc_$l = $best THEN '$l'"
    }.mkString("\n    ")
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |  $scoreCols
       |  FROM documents
       |)
       |SELECT doc_id, lang,
       |  CASE $cases ELSE 'und' END AS lang_pred
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  private val textFingerprint: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val fps = docs.select(col("doc_id"),
      TextOps.fingerprint(col("text")).as("fp"))
    val sketch = Dedup.shingled(docs)
      .groupBy("doc_id").agg(min(md5(col("shingle"))).as("sketch"))
    fps.join(sketch, Seq("doc_id"), "left").orderBy("doc_id")
  }

  private val textFingerprintSql =
    s"""WITH $shinglesCte, sk AS (
       |  SELECT doc_id, min(md5(shingle)) AS sketch FROM sh GROUP BY doc_id
       |)
       |SELECT d.doc_id,
       |  md5(lower(array_to_string($toksSql, ' '))) AS fp,
       |  sk.sketch AS sketch
       |FROM documents d LEFT JOIN sk ON d.doc_id = sk.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Vocabulary builder: top-30 tokens by document frequency (then term
    * frequency, then token) — the tokenizer-training / stopword-mining
    * pass. One explode + one partial/final agg + TakeOrdered. */
  private val textVocab: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("df").desc, col("tf").desc, col("token"))
      .limit(30)

  private val textVocabSql =
    s"""SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
       |FROM (SELECT doc_id, unnest($toksSql) AS token FROM documents)
       |GROUP BY 1 ORDER BY df DESC, tf DESC, token LIMIT 30""".stripMargin

  /** Bigram-LM quality score ([[TextOps.bigramLmScore]]): corpus-trained
    * P(w2|w1), per-doc mean bigram probability — the CCNet-style
    * predictability filter in its log-free engine-exact form (each term a
    * ratio of exact integers, summed decimal-exact). */
  private val textLmScore: Q = (s, dir) =>
    TextOps.bigramLmScore(Tables.documents(s, dir))

  private val textLmScoreSql =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS l FROM documents),
       |bg AS (
       |  SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
       |  FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM toks)
       |),
       |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
       |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2)
       |SELECT doc_id, COUNT(*) AS n_bigrams,
       |  CAST(CAST(SUM(CAST(CAST(c12 AS DOUBLE) / c1 AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
       |    / COUNT(*) AS lm_score
       |FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Sampled-and-broadcast bigram LM ([[TextOps.bigramLmScoreSampled]]):
    * the 100-TB form — model trained on the md5-prefix half-sample,
    * pruned at min count 2, broadcast; every doc scored in one scan.
    * Unseen bigrams score 0. */
  private val textLmSampled: Q = (s, dir) =>
    TextOps.bigramLmScoreSampled(Tables.documents(s, dir),
      sampleRate = 0.5, minCount = 2L)

  private val textLmSampledSql = {
    val bound = graft.analytics.CorpusOps.rateBoundary(0.5)
    s"""WITH toks AS (SELECT doc_id, $toksSql AS l FROM documents),
       |bg AS (
       |  SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
       |  FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM toks)
       |),
       |tbg AS (SELECT * FROM bg
       |        WHERE substr(md5(doc_id::VARCHAR), 1, 12) < '$bound'),
       |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM tbg GROUP BY 1, 2),
       |c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY 1),
       |model AS (
       |  SELECT w1, w2, CAST(c12 AS DOUBLE) / c1 AS p
       |  FROM c12 JOIN c1 USING (w1) WHERE c12 >= 2
       |)
       |SELECT doc_id, COUNT(*) AS n_bigrams,
       |  CAST(CAST(SUM(CAST(COALESCE(p, CAST(0 AS DOUBLE)) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
       |    / COUNT(*) AS lm_score
       |FROM bg LEFT JOIN model USING (w1, w2)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Decontamination scan: every non-eval doc with the count of distinct
    * 8-gram shingles it shares with the eval slice (doc_id % 20 = 0 stands
    * in for the benchmark set). Zero-overlap docs are kept in the output
    * (n_shared = 0) so the clean/contaminated split is total. */
  private val textDecontaminate: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val evalSet = docs.filter(col("doc_id") % 20 === 0)
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    val counts = Dedup.contaminationCounts(corpus, evalSet, n = 8)
    corpus.select("doc_id").join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  private val textDecontaminateSql = {
    val gram8 = (1 to 8).map(j => s"l[i+${j - 1}]").mkString(" || ' ' || ")
    s"""WITH t AS (
       |  SELECT doc_id, $toksSql AS l FROM documents
       |), sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, len(l) - 6), i -> $gram8))) AS s
       |  FROM t
       |), ev AS (
       |  SELECT DISTINCT md5(s) AS d FROM sh WHERE doc_id % 20 = 0
       |), c AS (
       |  SELECT sh.doc_id, COUNT(DISTINCT md5(s)) AS n_shared
       |  FROM sh JOIN ev ON md5(sh.s) = ev.d
       |  WHERE sh.doc_id % 20 <> 0 GROUP BY 1
       |)
       |SELECT d.doc_id, COALESCE(c.n_shared, 0) AS n_shared,
       |  COALESCE(c.n_shared, 0) > 0 AS contaminated
       |FROM documents d LEFT JOIN c USING (doc_id)
       |WHERE d.doc_id % 20 <> 0 ORDER BY doc_id""".stripMargin
  }

  /** Gopher-style repetition filters at token granularity: top-bigram
    * coverage, duplicate-trigram fraction, duplicate-token fraction — the
    * quality signals that catch boilerplate/looping text before training. */
  private val textRepetition: Q = (s, dir) => {
    val (b, t, k) = TextOps.repetitionStats(col("toks"), col("bg"), col("tg"))
    // spread before the n-gram stats: the fixture scan is one input split
    // and the per-row HOF scoring pipelined onto it ran as a single 1.8 s
    // task at sf0.1 (r14 profile: two 1-task stages, 31 cores idle); at
    // real scale the scan has >= cores splits and spread is a no-op
    Tables.spread(Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        TextOps.ngrams(col("toks"), 2).as("bg"),
        TextOps.ngrams(col("toks"), 3).as("tg"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        b.as("top_bigram_frac"), t.as("dup_trigram_frac"),
        k.as("dup_token_frac"))
      .orderBy("doc_id")
  }

  private val textRepetitionSql =
    s"""WITH t AS (
       |  SELECT doc_id, $toksSql AS l FROM documents
       |), g AS (
       |  SELECT doc_id, l,
       |    list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1]) AS bg,
       |    list_transform(range(1, len(l) - 1),
       |      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]) AS tg
       |  FROM t
       |)
       |SELECT doc_id, len(l) AS n_tokens,
       |  CAST(list_max(list_transform(list_distinct(bg),
       |    x -> len(list_filter(bg, y -> y = x)))) * 2 AS DOUBLE)
       |    / NULLIF(len(l), 0) AS top_bigram_frac,
       |  CAST(len(tg) - len(list_distinct(tg)) AS DOUBLE)
       |    / NULLIF(len(tg), 0) AS dup_trigram_frac,
       |  CAST(len(l) - len(list_distinct(l)) AS DOUBLE)
       |    / NULLIF(len(l), 0) AS dup_token_frac
       |FROM g ORDER BY doc_id""".stripMargin

  /** PII redaction. The driver corpus is PII-free by construction, so the
    * query plants deterministic synthetic PII derived from doc_id (email
    * always, wallet on doc_id%3=0, phone on doc_id%5=0) and then proves
    * the scrubber finds and replaces exactly those spans on both engines. */
  private val textRedact: Q = (s, dir) => {
    val planted = Tables.documents(s, dir).select(col("doc_id"), concat(
      col("text"),
      lit(" contact u"), col("doc_id").cast("string"), lit("@example.com"),
      when(col("doc_id") % 3 === 0, concat(lit(" wallet 0x"),
        md5(col("doc_id").cast("string")),
        substring(md5(col("doc_id").cast("string")), 1, 8))).otherwise(""),
      when(col("doc_id") % 5 === 0, concat(lit(" call +1 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise("")
    ).as("text"))
    planted.select(col("doc_id"),
        regexp_count(col("text"), lit(TextOps.EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(TextOps.WalletRe)).cast("long").as("n_wallets"),
        regexp_count(col("text"), lit(TextOps.PhoneRe)).cast("long").as("n_phones"),
        md5(TextOps.redactPii(col("text"))).as("redacted_fp"))
      .orderBy("doc_id")
  }

  private val textRedactSql = {
    val (em, wa, ph) = (TextOps.EmailRe, TextOps.WalletRe, TextOps.PhoneRe)
    s"""WITH planted AS (
       |  SELECT doc_id, text
       |    || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'
       |    || CASE WHEN doc_id % 3 = 0 THEN ' wallet 0x'
       |         || md5(CAST(doc_id AS VARCHAR))
       |         || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) ELSE '' END
       |    || CASE WHEN doc_id % 5 = 0 THEN ' call +1 555-'
       |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
       |    AS text
       |  FROM documents
       |)
       |SELECT doc_id,
       |  len(regexp_extract_all(text, '$em')) AS n_emails,
       |  len(regexp_extract_all(text, '$wa')) AS n_wallets,
       |  len(regexp_extract_all(text, '$ph')) AS n_phones,
       |  md5(regexp_replace(regexp_replace(regexp_replace(text,
       |    '$em', '<EMAIL>', 'g'),
       |    '$wa', '<WALLET>', 'g'),
       |    '$ph', '<PHONE>', 'g')) AS redacted_fp
       |FROM planted ORDER BY doc_id""".stripMargin
  }

  /** BM25 keyword search: fixed 3-term query, top-20. The oracle carries
    * the identical float expression tree over identical integer inputs;
    * the LN goes through DECIMAL(38,12) on both engines (cumprod pattern). */
  private val Bm25Terms = Seq("spark", "vector", "stream")

  private val textBm25: Q = (s, dir) =>
    graft.text.KeywordSearch.bm25TopK(
      Tables.documents(s, dir), col("doc_id"),
      TextOps.tokens(col("text")), Bm25Terms, k = 20)

  private val bm25TfDefs = Bm25Terms.map(t =>
    s"len(list_filter($toksSql, x -> x = '$t')) AS tf_$t").mkString(",\n    ")
  private val bm25DfDefs = Bm25Terms.map(t =>
    s"SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS df_$t").mkString(",\n    ")
  // every float literal is e0-suffixed: DuckDB parses plain decimals as
  // DECIMAL (exact arithmetic, diverges from Spark's doubles) but 2.2e0
  // as DOUBLE — and 1.2+1.0 == 2.2 bitwise, so lit(k1+1.0) matches 2.2e0
  private val bm25WExpr = Bm25Terms.map(t =>
    s"""CAST(CAST(LN(1.0e0 + (n_docs - df_$t + 0.5e0) / (df_$t + 0.5e0))
       |      AS DECIMAL(38,12)) AS DOUBLE)
       |    * (tf_$t * 2.2e0) / (tf_$t + 1.2e0 * (0.25e0
       |      + 0.75e0 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))""".stripMargin)
    .mkString("\n    + ")

  private val textBm25Sql = {
    val tfDefs = bm25TfDefs
    val dfDefs = bm25DfDefs
    val wTerms = bm25WExpr
    s"""WITH d AS (
       |  SELECT doc_id, len($toksSql) AS dl,
       |    $tfDefs
       |  FROM documents
       |), st AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(dl) AS BIGINT) AS sum_dl,
       |    $dfDefs
       |  FROM d
       |)
       |SELECT doc_id, dl, ${Bm25Terms.map(t => s"tf_$t").mkString(", ")},
       |  ROUND($wTerms, 6) AS score
       |FROM d, st
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
  }

  // ----------------------------------------------------------------- dedup
  private val dedupExact: Q = (s, dir) =>
    Dedup.exact(Tables.documents(s, dir))

  private val dedupExactSql =
    """SELECT md5(text) AS h, min(doc_id) AS doc_id, COUNT(*) AS n
      |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin

  private val dedupMinhash: Q = (s, dir) =>
    Dedup.minhashSignatures(Tables.documents(s, dir)).orderBy("doc_id")

  private val dedupMinhashSql = {
    val mins = (0 until Dedup.MinhashK)
      .map(k => s"${Dedup.minhashHashSql(k)} AS h$k").mkString(",\n  ")
    s"""WITH $shinglesCte
       |SELECT doc_id,
       |  $mins
       |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  private val dedupLshPairs: Q = (s, dir) =>
    Dedup.lshCandidates(Tables.documents(s, dir)).orderBy("d1", "d2")

  private val dedupLshPairsSql = {
    val mins = (0 until Dedup.MinhashK)
      .map(k => s"${Dedup.minhashHashSql(k)} AS h$k").mkString(",\n  ")
    val rows = Dedup.MinhashK / Dedup.LshBands
    val bandSelects = (0 until Dedup.LshBands).map { b =>
      val cols = (0 until rows).map(r => s"h${b * rows + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($cols) AS sig FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH $shinglesCte, sigs AS (
       |  SELECT doc_id,
       |  $mins
       |  FROM sh GROUP BY doc_id
       |), bands AS (
       |  $bandSelects
       |)
       |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |ORDER BY d1, d2""".stripMargin
  }

  val JaccardThreshold = 0.5

  private val dedupJaccard: Q = (s, dir) =>
    Dedup.jaccardPairs(Tables.documents(s, dir), JaccardThreshold)

  private val dedupJaccardSql =
    s"""WITH $shinglesCte, sizes AS (
       |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
       |), pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
       |  FROM sh a JOIN sh b
       |    ON md5(a.shingle) = md5(b.shingle) AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT d1, d2, common,
       |  CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
       |FROM pairs JOIN sizes sa ON d1 = sa.doc_id JOIN sizes sb ON d2 = sb.doc_id
       |WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= $JaccardThreshold
       |ORDER BY d1, d2""".stripMargin

  val JaccardMaxDf = 10

  /** DF-filtered exact Jaccard — the scale-path exact pass (ubiquitous
    * shingles dropped before the equi-join). */
  private val dedupJaccardRare: Q = (s, dir) =>
    Dedup.jaccardPairsRare(Tables.documents(s, dir), JaccardThreshold, JaccardMaxDf)

  private val dedupJaccardRareSql =
    s"""WITH $shinglesCte, rare AS (
       |  SELECT shingle FROM sh GROUP BY 1 HAVING COUNT(*) <= $JaccardMaxDf
       |), shr AS (
       |  SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)
       |), sizes AS (
       |  SELECT doc_id, COUNT(*) AS n FROM shr GROUP BY 1
       |), pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
       |  FROM shr a JOIN shr b
       |    ON md5(a.shingle) = md5(b.shingle) AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT d1, d2, common,
       |  CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
       |FROM pairs JOIN sizes sa ON d1 = sa.doc_id JOIN sizes sb ON d2 = sb.doc_id
       |WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= $JaccardThreshold
       |ORDER BY d1, d2""".stripMargin

  val ContainmentThreshold = 0.8

  /** Asymmetric containment near-dups (|A∩B|/|A| or /|B| ≥ 0.8) — the
    * subset/quote-detection dimension Jaccard misses. */
  private val dedupContainment: Q = (s, dir) =>
    Dedup.containmentPairs(Tables.documents(s, dir), ContainmentThreshold)

  private val dedupContainmentSql =
    s"""WITH $shinglesCte, sizes AS (
       |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
       |), pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
       |  FROM sh a JOIN sh b
       |    ON md5(a.shingle) = md5(b.shingle) AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT d1, d2, common,
       |  CAST(common AS DOUBLE) / sa.n AS containment_a,
       |  CAST(common AS DOUBLE) / sb.n AS containment_b
       |FROM pairs JOIN sizes sa ON d1 = sa.doc_id JOIN sizes sb ON d2 = sb.doc_id
       |WHERE CAST(common AS DOUBLE) / sa.n >= $ContainmentThreshold
       |   OR CAST(common AS DOUBLE) / sb.n >= $ContainmentThreshold
       |ORDER BY d1, d2""".stripMargin

  private val dedupSimhash: Q = (s, dir) =>
    Dedup.simhash(Tables.documents(s, dir))

  private val dedupSimhashSql = {
    val votes = (1 to Dedup.SimhashBits).map(j =>
      s"SUM(CASE WHEN substr(md5(w), $j, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v$j")
      .mkString(",\n  ")
    val bits = (1 to Dedup.SimhashBits)
      .map(j => s"CASE WHEN v$j > 0 THEN '1' ELSE '0' END").mkString(" || ")
    s"""WITH words AS (
       |  SELECT doc_id, unnest($toksSql) AS w FROM documents
       |), votes AS (
       |  SELECT doc_id,
       |  $votes
       |  FROM words GROUP BY doc_id
       |)
       |SELECT doc_id, $bits AS simhash FROM votes ORDER BY doc_id""".stripMargin
  }

  /** MinHash+LSH near-dup end-to-end (candidates → exact verify) — the
    * 100 TB path. The oracle mirrors the ALGORITHM, not an idealized
    * exhaustive pass: it recomputes the minhash→banding candidate pairs,
    * takes the docs they touch, and runs the exact-jaccard verify over
    * those docs' shingles — exactly [[graft.dedup.Dedup.nearDuplicates]]'s
    * semantics (verify = all pairs among candidate DOCS, per its semi-join
    * on the shingle frame). This makes the twin exact at ANY scale: LSH
    * recall is probabilistic by design, and at sf1 (50 k docs) 2 of 2 560
    * near-dup pairs legitimately miss every band — the earlier
    * exhaustive-jaccard oracle relied on the complete-recall precondition
    * that DedupSpec asserts only for sf0.001/sf0.01. The one remaining
    * precondition is the `maxBucket` cap never binding (buckets are
    * near-dup cluster sized — the same precondition dedup_lsh_pairs'
    * oracle has always had). */
  private val dedupNearDup: Q = (s, dir) =>
    Dedup.nearDuplicates(Tables.documents(s, dir), JaccardThreshold)

  /** CTE chain computing the LSH-candidate-restricted verified pairs (the
    * engine's actual near-dup output): shingles → minhash sigs → band
    * buckets → candidate pairs → verify restricted to candidate docs.
    * `jp` = (d1, d2, common, jaccard) pairs clearing the threshold. */
  private val lshVerifiedCtes = {
    val mins = (0 until Dedup.MinhashK)
      .map(k => s"${Dedup.minhashHashSql(k)} AS h$k").mkString(",\n  ")
    val rows = Dedup.MinhashK / Dedup.LshBands
    val bandSelects = (0 until Dedup.LshBands).map { b =>
      val cols = (0 until rows).map(r => s"h${b * rows + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($cols) AS sig FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""$shinglesCte, sigs AS (
       |  SELECT doc_id,
       |  $mins
       |  FROM sh GROUP BY doc_id
       |), bands AS (
       |  $bandSelects
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |), cids AS (
       |  -- DISTINCT over UNION ALL, NOT a bare UNION: under WITH RECURSIVE
       |  -- DuckDB 1.0 gives a non-recursive CTE's UNION recursive-union
       |  -- semantics and emits every row twice
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT d1 AS doc_id FROM cand UNION ALL SELECT d2 FROM cand)
       |), shc AS (
       |  SELECT sh.doc_id, sh.shingle FROM sh JOIN cids USING (doc_id)
       |), sizes AS (
       |  SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id
       |), jp AS (
       |  SELECT d1, d2, common,
       |    CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
       |  FROM (
       |    SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
       |    FROM shc a JOIN shc b
       |      ON md5(a.shingle) = md5(b.shingle) AND a.doc_id < b.doc_id
       |    GROUP BY 1, 2
       |  ) p JOIN sizes sa ON d1 = sa.doc_id JOIN sizes sb ON d2 = sb.doc_id
       |  WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= $JaccardThreshold
       |)""".stripMargin
  }

  private val dedupNearDupSql =
    s"""WITH RECURSIVE $lshVerifiedCtes
       |SELECT d1, d2, common, jaccard FROM jp ORDER BY d1, d2""".stripMargin

  /** Incremental dedup ([[graft.dedup.Dedup.incrementalFlags]]): the
    * hash-split 'train' fraction (md5-prefix < 0.8) plays the accumulated
    * corpus, the remaining 20% plays the arriving batch — each arriving
    * doc flagged keep / exact_dup / near_dup against the accumulated side
    * only. The oracle recomputes both layers (digest join; banding →
    * cross-side candidates → docs-restricted verify) per side. */
  private val dedupIncremental: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val isEx = substring(md5(col("doc_id").cast("string")), 1, 12) <
      graft.analytics.EventAnalytics.TrainBoundary
    Dedup.incrementalFlags(d.filter(isEx), d.filter(!isEx), JaccardThreshold)
  }

  private val dedupIncrementalSql = {
    val bd = graft.analytics.EventAnalytics.TrainBoundary
    val split = s"substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) < '$bd'"
    val mins = (0 until Dedup.MinhashK)
      .map(k => s"${Dedup.minhashHashSql(k)} AS h$k").mkString(",\n  ")
    val rows = Dedup.MinhashK / Dedup.LshBands
    val bandSelects = (0 until Dedup.LshBands).map { b =>
      val cols = (0 until rows).map(r => s"h${b * rows + r}").mkString(" || '|' || ")
      s"SELECT doc_id, is_ex, $b AS band, md5($cols) AS sig FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH toks AS (
       |  SELECT doc_id, $toksSql AS l, $split AS is_ex FROM documents
       |), sh AS (
       |  SELECT doc_id, is_ex, unnest(list_distinct(list_transform(range(1, len(l)-1),
       |    i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS shingle FROM toks
       |), exd AS (
       |  SELECT md5(text) AS h, min(doc_id) AS exact_match
       |  FROM documents WHERE $split GROUP BY 1
       |), inc AS (
       |  SELECT doc_id, md5(text) AS h FROM documents WHERE NOT ($split)
       |), sigs AS (
       |  SELECT doc_id, is_ex,
       |  $mins
       |  FROM sh GROUP BY doc_id, is_ex
       |), bands AS (
       |  $bandSelects
       |), cand AS (
       |  SELECT DISTINCT a.doc_id, b.doc_id AS ex_id
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
       |  WHERE NOT a.is_ex AND b.is_ex
       |), shi AS (
       |  SELECT sh.doc_id, sh.shingle FROM sh
       |  JOIN (SELECT DISTINCT doc_id FROM cand) c USING (doc_id)
       |), she AS (
       |  SELECT sh.doc_id AS ex_id, sh.shingle FROM sh
       |  JOIN (SELECT DISTINCT ex_id AS doc_id FROM cand) c
       |    ON sh.doc_id = c.doc_id
       |), sizes_i AS (SELECT doc_id, COUNT(*) AS na FROM shi GROUP BY 1),
       |sizes_e AS (SELECT ex_id, COUNT(*) AS nb FROM she GROUP BY 1),
       |near AS (
       |  SELECT doc_id, min(ex_id) AS near_match FROM (
       |    SELECT i.doc_id, e.ex_id, COUNT(*) AS common
       |    FROM shi i JOIN she e ON md5(i.shingle) = md5(e.shingle)
       |    GROUP BY 1, 2
       |  ) p JOIN sizes_i USING (doc_id) JOIN sizes_e USING (ex_id)
       |  WHERE CAST(common AS DOUBLE) / (na + nb - common) >= $JaccardThreshold
       |  GROUP BY 1
       |)
       |SELECT inc.doc_id, exd.exact_match, near.near_match,
       |  CASE WHEN exd.exact_match IS NOT NULL THEN 'exact_dup'
       |       WHEN near.near_match IS NOT NULL THEN 'near_dup'
       |       ELSE 'keep' END AS verdict
       |FROM inc LEFT JOIN exd USING (h) LEFT JOIN near USING (doc_id)
       |ORDER BY inc.doc_id""".stripMargin
  }

  /** Near-dup pairs consolidated into clusters (connected components, min
    * doc_id as representative) — what a pipeline actually keys its "keep
    * one copy" pass on. */
  private val dedupClusters: Q = (s, dir) =>
    Dedup.connectedComponents(
      Dedup.nearDuplicates(Tables.documents(s, dir), JaccardThreshold))

  /** The recursive transitive-closure CTE chain shared by the cluster
    * oracles: the algorithm's own verified pairs ([[lshVerifiedCtes]])
    * closed transitively, min label per component available as `reach`. */
  private val clusterCtes =
    s"""WITH RECURSIVE $lshVerifiedCtes, edges AS (
       |  SELECT d1 AS a, d2 AS b FROM jp UNION SELECT d2, d1 FROM jp
       |), reach(a, b) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
       |  UNION
       |  SELECT e.a, r.b FROM edges e JOIN reach r ON e.b = r.a
       |)""".stripMargin

  /** DuckDB twin of dedup_clusters: min label per component. */
  private val dedupClustersSql =
    s"""$clusterCtes
       |SELECT a AS doc_id, min(b) AS rep_id
       |FROM reach GROUP BY a ORDER BY a""".stripMargin

  /** Large-star/small-star connected components on a CHAIN-shaped edge set
    * (consecutive doc_ids in runs of 50) — the adversarial large-diameter /
    * skew case the min-label+jump strategy is wrong for at scale; see
    * [[graft.dedup.Dedup.connectedComponentsStars]]. The fixture derives
    * edges, not similarities, so the oracle is the pure transitive-closure
    * twin of the same derivation. */
  private val dedupClustersChain: Q = (s, dir) => {
    val ids = Tables.documents(s, dir).select(col("doc_id"))
    val chainPairs = ids.as("x")
      .join(ids.as("y"), col("y.doc_id") === col("x.doc_id") + 1)
      .filter(col("x.doc_id") % 50 =!= 49)
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
    Dedup.connectedComponentsStars(chainPairs)
  }

  private val dedupClustersChainSql =
    """WITH RECURSIVE e AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2
      |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      |  WHERE a.doc_id % 50 <> 49
      |), edges AS (
      |  SELECT d1 AS a, d2 AS b FROM e UNION SELECT d2, d1 FROM e
      |), reach(a, b) AS (
      |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      |  UNION
      |  SELECT e2.a, r.b FROM edges e2 JOIN reach r ON e2.b = r.a
      |)
      |SELECT a AS doc_id, min(b) AS rep_id
      |FROM reach GROUP BY a ORDER BY a""".stripMargin

  // ------------------------------------------------------------ similarity
  val CosineThreshold = 0.3

  /** Survivor selection over the near-dup clusters: per connected
    * component, keep the highest-quality member (ties → lowest id).
    * Detection says what is duplicated; this says which copy ships in the
    * training set. The oracle composes the recursive-CTE transitive
    * closure (dedup_clusters' twin) with the quality-score twin. */
  private val dedupCanonical: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    Dedup.survivors(docs,
      Dedup.connectedComponents(Dedup.nearDuplicates(docs, JaccardThreshold)))
  }

  private val dedupCanonicalSql = {
    // the quality score twin (same expression as text_quality)
    val allStops = TextOps.LangStopwords.flatMap(_._2).distinct
      .map(w => s"'$w'").mkString(", ")
    s"""$clusterCtes, cl AS (
       |  SELECT a AS doc_id, min(b) AS rep_id FROM reach GROUP BY a
       |), q AS (
       |  SELECT doc_id,
       |    0.4 * LEAST(1.0, CAST(length(text) AS DOUBLE) / 500.0)
       |    + 0.3 * (CAST(len(list_distinct($toksSql)) AS DOUBLE)
       |             / NULLIF(CAST(len($toksSql) AS DOUBLE), 0.0))
       |    + 0.3 * LEAST(1.0, CAST(len(list_filter($toksSql,
       |        x -> list_contains([$allStops], x))) AS DOUBLE)
       |             / NULLIF(CAST(len($toksSql) AS DOUBLE), 0.0) * 10.0) AS q
       |  FROM documents
       |), ranked AS (
       |  SELECT cl.rep_id, cl.doc_id,
       |    row_number() OVER (PARTITION BY cl.rep_id
       |      ORDER BY q.q DESC, cl.doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY cl.rep_id) AS n_docs
       |  FROM cl JOIN q USING (doc_id)
       |)
       |SELECT rep_id, doc_id AS survivor_id, CAST(n_docs AS BIGINT) AS n_docs
       |FROM ranked WHERE rn = 1 ORDER BY rep_id""".stripMargin
  }


  /** The composed pipeline entry ([[graft.dedup.Dedup.pipeline]]): one
    * shingle materialization feeding LSH→verify→CC→survivors, emitting the
    * per-document verdict. Where dedup_near_dup, dedup_clusters and
    * dedup_canonical each redo the chain (standalone-query contract), this
    * is the form a production pipeline runs — its bench time should sit
    * near dedup_canonical's alone, not near the three queries' sum. The
    * oracle composes the same recursive-CTE closure + quality twin as
    * dedup_canonical, then joins the survivor back to every member doc. */
  private val dedupPipelineQ: Q = (s, dir) => {
    val art = Dedup.pipeline(Tables.documents(s, dir), JaccardThreshold)
    // publish the clusters leaf for downstream consumers (q_leak_split,
    // pipeline_corpus) — the production dedup-then-consume order
    FrameStore.getOrCompute(s, s"clusters|$dir|$JaccardThreshold")(art.clusters)
    art.verdict
  }

  private val dedupPipelineSql = {
    val allStops = TextOps.LangStopwords.flatMap(_._2).distinct
      .map(w => s"'$w'").mkString(", ")
    s"""$clusterCtes, cl AS (
       |  SELECT a AS doc_id, min(b) AS rep_id FROM reach GROUP BY a
       |), q AS (
       |  SELECT doc_id,
       |    0.4 * LEAST(1.0, CAST(length(text) AS DOUBLE) / 500.0)
       |    + 0.3 * (CAST(len(list_distinct($toksSql)) AS DOUBLE)
       |             / NULLIF(CAST(len($toksSql) AS DOUBLE), 0.0))
       |    + 0.3 * LEAST(1.0, CAST(len(list_filter($toksSql,
       |        x -> list_contains([$allStops], x))) AS DOUBLE)
       |             / NULLIF(CAST(len($toksSql) AS DOUBLE), 0.0) * 10.0) AS q
       |  FROM documents
       |), ranked AS (
       |  SELECT cl.rep_id, cl.doc_id,
       |    row_number() OVER (PARTITION BY cl.rep_id
       |      ORDER BY q.q DESC, cl.doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY cl.rep_id) AS n_docs
       |  FROM cl JOIN q USING (doc_id)
       |), sv AS (
       |  SELECT rep_id, doc_id AS survivor_id, CAST(n_docs AS BIGINT) AS n_docs
       |  FROM ranked WHERE rn = 1
       |)
       |SELECT cl.doc_id, cl.rep_id, sv.survivor_id, sv.n_docs,
       |  cl.doc_id = sv.survivor_id AS keep
       |FROM cl JOIN sv USING (rep_id)
       |ORDER BY cl.doc_id""".stripMargin
  }

  private val embCosinePairs: Q = (s, dir) =>
    VectorOps.cosinePairs(Tables.embeddings(s, dir), CosineThreshold)

  // Fixed-point dot products (×1e12 as BIGINT): long addition is
  // associative, so SUM order doesn't matter and the Spark inline
  // zip_with/aggregate computes the bit-identical value.
  private val embCosinePairsSql =
    s"""WITH v AS (
       |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings
       |), dots AS (
       |  SELECT a.vec_id AS v1, b.vec_id AS v2,
       |    SUM(CAST(ROUND(a.x * b.x * 1e12, 0) AS BIGINT)) AS dot
       |  FROM v a JOIN v b ON a.i = b.i AND a.label = b.label
       |    AND a.vec_id < b.vec_id
       |  GROUP BY 1, 2
       |), nrm AS (
       |  SELECT vec_id,
       |    SQRT(CAST(CAST(SUM(CAST(ROUND(x * x * 1e12, 0) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 1e12) AS nrm
       |  FROM v GROUP BY 1
       |)
       |SELECT v1, v2,
       |  (CAST(dot AS DOUBLE) / 1e12) / (na.nrm * nb.nrm) AS cosine
       |FROM dots JOIN nrm na ON v1 = na.vec_id JOIN nrm nb ON v2 = nb.vec_id
       |WHERE (CAST(dot AS DOUBLE) / 1e12) / (na.nrm * nb.nrm) >= $CosineThreshold
       |ORDER BY v1, v2""".stripMargin

  /** Label-free embedding near-dup: cosine pairs inside LSH buckets (the
    * blocking that exists at 100 TB, where no curated label does). Exact
    * within buckets up to [[VectorOps.LshBucketPairCap]] rows; hot buckets
    * (bucket population grows linearly under the fixed 8-plane grid, so
    * uncapped in-bucket pairing is quadratic per decade — measured 2,103 s
    * at the 2 M-vector sweep) take the sorted-neighborhood sub-blocking of
    * [[VectorOps.cosinePairsBy]]. The oracle mirrors the ALGORITHM
    * (bucket → size route → plane-0 rank → two staggered band passes) via
    * the embedded plane literals, the `dedup_near_dup` pattern, so the
    * result hashes exactly at every scale. */
  private[queries] val embLshPairs: Q = (s, dir) =>
    VectorOps.cosinePairsLsh(Tables.embeddings(s, dir), CosineThreshold)

  private lazy val embLshPairsSql: String = embLshPairsSqlOver("")

  /** [[embLshPairsSql]] with an optional extra predicate on the pair's
    * LEFT endpoint (`a.vec_id`) inside the pair-forming CTEs — the probe
    * twin's restriction slot: candidates stay corpus-wide, only the
    * anchored side narrows, so the twin's pair/dot stages shrink by the
    * selected fraction while still exercising the full bucket (and band)
    * computation. */
  private[queries] def embLshPairsSqlOver(v1Pred: String,
      cap: Int = VectorOps.LshBucketPairCap): String = {
    val pred = if (v1Pred.isEmpty) "" else s"\n    AND $v1Pred"
    val half = cap / 2
    val planes = VectorOps.planeMatrixFor(EmbeddingDim)
    val values = (for {
      p <- 0 until VectorOps.LshPlanes
      i <- 0 until EmbeddingDim
    } yield s"($p, ${i + 1}, ${planes(p)(i).toDouble})").mkString(",\n    ")
    s"""WITH v AS MATERIALIZED (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings
       |), planes(p, i, c) AS (VALUES
       |    $values
       |), buckets AS MATERIALIZED (
       |  SELECT vec_id, string_agg(
       |    CASE WHEN bit THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
       |  FROM (
       |    SELECT v.vec_id, pl.p,
       |      SUM(CAST(ROUND(v.x * pl.c * 1e12, 0) AS BIGINT)) >= 0 AS bit
       |    FROM v JOIN planes pl ON v.i = pl.i
       |    GROUP BY 1, 2
       |  ) GROUP BY vec_id
       |), sized AS MATERIALIZED (
       |  SELECT vec_id, bucket,
       |    COUNT(*) OVER (PARTITION BY bucket) AS blk_n
       |  FROM buckets
       |), hotproj AS MATERIALIZED (
       |  -- hot buckets only: rank by the plane-0 fixed-point projection
       |  -- (near-duplicates project near-identically, so rank adjacency
       |  -- preserves them), vec_id tie-break — mirrors cosinePairsBy
       |  SELECT s.vec_id, s.bucket,
       |    row_number() OVER (PARTITION BY s.bucket
       |      ORDER BY pj.proj, s.vec_id) - 1 AS rn
       |  FROM sized s JOIN (
       |    SELECT v.vec_id,
       |      SUM(CAST(ROUND(v.x * pl.c * 1e12, 0) AS BIGINT)) AS proj
       |    FROM v JOIN planes pl ON pl.p = 0 AND v.i = pl.i
       |    GROUP BY 1
       |  ) pj ON pj.vec_id = s.vec_id
       |  WHERE s.blk_n > $cap
       |), pairs AS (
       |  SELECT a.vec_id AS v1, b.vec_id AS v2
       |  FROM sized a JOIN sized b
       |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |    AND a.blk_n <= $cap$pred
       |  UNION ALL
       |  -- two staggered band passes over hot buckets: any two rows
       |  -- within $half ranks share a sub-block in at least one pass
       |  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
       |  FROM hotproj a JOIN hotproj b
       |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |    AND (FLOOR(a.rn / $cap.0) = FLOOR(b.rn / $cap.0)
       |      OR FLOOR((a.rn + $half) / $cap.0)
       |         = FLOOR((b.rn + $half) / $cap.0))$pred
       |), dots AS (
       |  SELECT p.v1, p.v2,
       |    SUM(CAST(ROUND(a.x * b.x * 1e12, 0) AS BIGINT)) AS dot
       |  FROM pairs p JOIN v a ON a.vec_id = p.v1
       |    JOIN v b ON b.vec_id = p.v2 AND a.i = b.i
       |  GROUP BY 1, 2
       |), nrm AS (
       |  SELECT vec_id,
       |    SQRT(CAST(CAST(SUM(CAST(ROUND(x * x * 1e12, 0) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 1e12) AS nrm
       |  FROM v GROUP BY 1
       |)
       |SELECT v1, v2,
       |  (CAST(dot AS DOUBLE) / 1e12) / (na.nrm * nb.nrm) AS cosine
       |FROM dots JOIN nrm na ON v1 = na.vec_id JOIN nrm nb ON v2 = nb.vec_id
       |WHERE (CAST(dot AS DOUBLE) / 1e12) / (na.nrm * nb.nrm) >= $CosineThreshold
       |ORDER BY v1, v2""".stripMargin
  }

  private val simTopK: Q = (s, dir) =>
    VectorOps.cosineTopK(Tables.embeddings(s, dir), queryId = 0L, k = 10)

  private val simTopKSql =
    """WITH v AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings
      |), q AS (
      |  SELECT i, x AS qx FROM v WHERE vec_id = 0
      |), dots AS (
      |  SELECT v.vec_id, SUM(CAST(ROUND(v.x * q.qx * 1e12, 0) AS BIGINT)) AS dot
      |  FROM v JOIN q ON v.i = q.i GROUP BY 1
      |), nrm AS (
      |  SELECT vec_id,
      |    SQRT(CAST(CAST(SUM(CAST(ROUND(x * x * 1e12, 0) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 1e12) AS nrm
      |  FROM v GROUP BY 1
      |), qn AS (SELECT nrm AS qnrm FROM nrm WHERE vec_id = 0)
      |SELECT dots.vec_id,
      |  (CAST(dot AS DOUBLE) / 1e12) / (nrm.nrm * qn.qnrm) AS cosine
      |FROM dots JOIN nrm ON dots.vec_id = nrm.vec_id, qn
      |ORDER BY cosine DESC, dots.vec_id LIMIT 10""".stripMargin

  /** RRF additive constant — 60, the value from Cormack et al.'s original
    * reciprocal-rank-fusion evaluation, which every production hybrid
    * search stack has inherited since. */
  private val RrfC = 60

  /** Rank a bounded top-k frame without a global window: rank(row) = 1 +
    * count of rows strictly ahead in (score desc, id asc) order, via a
    * broadcast self-join. The frame is at most k rows
    * (post-TakeOrderedAndProject), so the join is k² driver-scale work and
    * the plan stays free of Exchange SinglePartition — the registry's
    * standing discipline for windows. The frame is localCheckpointed first
    * so the self-join doesn't re-run the corpus scan that produced it. */
  private def boundedRank(df: DataFrame, id: String, score: String,
                          rankName: String): DataFrame = {
    val top = df.transform(Materialize.checkpoint)
    val b = top.select(col(id).as("__bid"), col(score).as("__bs"))
    top.join(broadcast(b),
        col("__bs") > col(score) ||
          (col("__bs") === col(score) && col("__bid") < col(id)), "left")
      .groupBy(col(id))
      .agg((count(col("__bid")) + 1L).as(rankName))
  }

  /** Hybrid lexical+semantic retrieval fused by reciprocal rank fusion —
    * the standard production combination of the two retrieval legs this
    * engine already ships (BM25 keyword probes + exact-cosine ANN):
    * rrf(d) = Σ_r 1/(C + rank_r(d)) over the rankers that surfaced d.
    * Rank-based fusion needs no score calibration between the legs, which
    * is exactly why it composes cleanly at scale: each leg runs its own
    * distributed top-k (TakeOrderedAndProject), and fusion touches only
    * 2k rows. Numeric parity: ranks are exact integers, each reciprocal
    * is quantized to round(1e12/(C+rank)) so the fused score is integer
    * arithmetic; the oracle re-derives both legs and ranks them with a
    * window — a different strategy over the same total order. */
  private val hybridRrf: Q = (s, dir) => {
    val lexTop = graft.text.KeywordSearch.bm25TopK(
        Tables.documents(s, dir), col("doc_id"),
        TextOps.tokens(col("text")), Bm25Terms, k = 20)
      .select(col("doc_id"), col("score"))
    val lex = boundedRank(lexTop, "doc_id", "score", "lex_rank")
    val semTop = VectorOps.cosineTopK(Tables.embeddings(s, dir), 0L, 20)
      .select(col("vec_id").as("doc_id"), col("cosine"))
    val sem = boundedRank(semTop, "doc_id", "cosine", "sem_rank")
    def rr(r: Column) =
      round(lit(1e12) / (lit(RrfC) + r), 0).cast("long")
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
        (coalesce(rr(col("lex_rank")), lit(0L)) +
          coalesce(rr(col("sem_rank")), lit(0L))).as("fx"))
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
        round(col("fx").cast("double") / lit(1e12), 6).as("rrf"), col("fx"))
      .orderBy(col("fx").desc, col("doc_id"))
      .limit(20)
      .drop("fx")
  }

  private val hybridRrfSql =
    s"""WITH d AS (
       |  SELECT doc_id, len($toksSql) AS dl,
       |    $bm25TfDefs
       |  FROM documents
       |), st AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(dl) AS BIGINT) AS sum_dl,
       |    $bm25DfDefs
       |  FROM d
       |), lex AS (
       |  SELECT doc_id, ROUND($bm25WExpr, 6) AS score
       |  FROM d, st ORDER BY score DESC, doc_id LIMIT 20
       |), lexr AS (
       |  SELECT doc_id,
       |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS lex_rank
       |  FROM lex
       |), v AS (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings
       |), qv AS (
       |  SELECT i, x AS qx FROM v WHERE vec_id = 0
       |), dots AS (
       |  SELECT v.vec_id, SUM(CAST(ROUND(v.x * qv.qx * 1e12, 0) AS BIGINT)) AS dot
       |  FROM v JOIN qv ON v.i = qv.i GROUP BY 1
       |), nrm AS (
       |  SELECT vec_id,
       |    SQRT(CAST(CAST(SUM(CAST(ROUND(x * x * 1e12, 0) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 1e12) AS nrm
       |  FROM v GROUP BY 1
       |), qn AS (SELECT nrm AS qnrm FROM nrm WHERE vec_id = 0
       |), sem AS (
       |  SELECT dots.vec_id AS doc_id,
       |    (CAST(dot AS DOUBLE) / 1e12) / (nrm.nrm * qn.qnrm) AS cosine
       |  FROM dots JOIN nrm ON dots.vec_id = nrm.vec_id, qn
       |  ORDER BY cosine DESC, dots.vec_id LIMIT 20
       |), semr AS (
       |  SELECT doc_id,
       |    ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS sem_rank
       |  FROM sem
       |), f AS (
       |  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
       |    l.lex_rank, s.sem_rank,
       |    COALESCE(CAST(ROUND(1.0e12 / ($RrfC + l.lex_rank), 0) AS BIGINT), 0)
       |    + COALESCE(CAST(ROUND(1.0e12 / ($RrfC + s.sem_rank), 0) AS BIGINT), 0)
       |      AS fx
       |  FROM lexr l FULL OUTER JOIN semr s ON s.doc_id = l.doc_id
       |)
       |SELECT doc_id, lex_rank, sem_rank,
       |  ROUND(CAST(fx AS DOUBLE) / 1.0e12, 6) AS rrf
       |FROM f ORDER BY fx DESC, doc_id LIMIT 20""".stripMargin

  /** int8 scalar-quantized top-k ([[VectorOps.sqTopK]]): per-vector
    * scales cancel in the cosine, so the approximate score is pure
    * integer arithmetic and the twin is hash-exact, not rows-only. */
  private val simSqTopK: Q = (s, dir) =>
    VectorOps.sqTopK(Tables.embeddings(s, dir), queryId = 0L, k = 10)

  private val simSqTopKSql =
    """WITH v AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings
      |), sc AS (
      |  SELECT vec_id, CASE WHEN MAX(ABS(x)) = 0 THEN 1.0
      |    ELSE MAX(ABS(x)) / 127.0 END AS s
      |  FROM v GROUP BY 1
      |), qz AS (
      |  SELECT v.vec_id, v.i, CAST(ROUND(v.x / sc.s, 0) AS INTEGER) AS q
      |  FROM v JOIN sc USING (vec_id)
      |), qn AS (
      |  SELECT vec_id, SQRT(CAST(CAST(SUM(CAST(q AS BIGINT) * q) AS VARCHAR) AS DOUBLE)) AS nrm
      |  FROM qz GROUP BY 1
      |), qvec AS (SELECT i, q AS qj FROM qz WHERE vec_id = 0),
      |dq AS (
      |  SELECT qz.vec_id, SUM(CAST(qz.q * qvec.qj AS BIGINT)) AS dot
      |  FROM qz JOIN qvec ON qz.i = qvec.i GROUP BY 1
      |), fq AS (SELECT i, x AS qx FROM v WHERE vec_id = 0),
      |dots AS (
      |  SELECT v.vec_id, SUM(CAST(ROUND(v.x * fq.qx * 1e12, 0) AS BIGINT)) AS fdot
      |  FROM v JOIN fq ON v.i = fq.i GROUP BY 1
      |), nrm AS (
      |  SELECT vec_id,
      |    SQRT(CAST(CAST(SUM(CAST(ROUND(x * x * 1e12, 0) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 1e12)
      |      AS nrm
      |  FROM v GROUP BY 1
      |)
      |SELECT dq.vec_id,
      |  CAST(dq.dot AS DOUBLE)
      |    / (qn.nrm * (SELECT nrm FROM qn WHERE vec_id = 0)) AS approx_cosine,
      |  (CAST(dots.fdot AS DOUBLE) / 1e12)
      |    / (nrm.nrm * (SELECT nrm FROM nrm WHERE vec_id = 0)) AS cosine
      |FROM dq JOIN qn ON qn.vec_id = dq.vec_id
      |JOIN dots ON dots.vec_id = dq.vec_id
      |JOIN nrm ON nrm.vec_id = dq.vec_id
      |ORDER BY approx_cosine DESC, dq.vec_id LIMIT 10""".stripMargin

  /** LSH-bucketed ANN — scale path; recall vs brute force asserted in
    * ExtensionSpec, and since round 2 ALSO oracle-verified: the hyperplane
    * matrix is deterministic, so the DuckDB twin embeds the identical
    * literals and reproduces bucket bits, hamming probe, and fixed-point
    * rerank bit-for-bit. */
  private val simAnnTopK: Q = (s, dir) =>
    VectorOps.annTopK(Tables.embeddings(s, dir), queryId = 0L, k = 10)

  /** The fixture embedding dimensionality the oracle twins are authored
    * for (the engine side adapts to any dim; the SQL text pins one). */
  val EmbeddingDim = 64

  private val vCte =
    """v AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings
      |), nrm AS (
      |  SELECT vec_id,
      |    SQRT(CAST(CAST(SUM(CAST(ROUND(x * x * 1e12, 0) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 1e12) AS nrm
      |  FROM v GROUP BY 1
      |)""".stripMargin

  private def rerankSql(candCte: String): String =
    s"""WITH $vCte, $candCte, q AS (
       |  SELECT i, x AS qx FROM v WHERE vec_id = 0
       |), dots AS (
       |  SELECT v.vec_id, SUM(CAST(ROUND(v.x * q.qx * 1e12, 0) AS BIGINT)) AS dot
       |  FROM v JOIN q ON v.i = q.i JOIN cand ON v.vec_id = cand.vec_id
       |  GROUP BY 1
       |), qn AS (SELECT nrm AS qnrm FROM nrm WHERE vec_id = 0)
       |SELECT dots.vec_id,
       |  (CAST(dot AS DOUBLE) / 1e12) / (nrm.nrm * qn.qnrm) AS cosine
       |FROM dots JOIN nrm ON dots.vec_id = nrm.vec_id, qn
       |ORDER BY cosine DESC, dots.vec_id LIMIT 10""".stripMargin

  /** DuckDB twin of [[VectorOps.annTopK]]: identical plane literals (the
    * float values printed as their exact double), identical fixed-point
    * sign bits, hamming ≤ 3 probe, identical rerank. */
  private lazy val simAnnTopKSql: String = {
    val planes = VectorOps.planeMatrixFor(EmbeddingDim)
    val values = (for {
      p <- 0 until VectorOps.LshPlanes
      i <- 0 until EmbeddingDim
    } yield s"($p, ${i + 1}, ${planes(p)(i).toDouble})").mkString(",\n    ")
    val candCte =
      s"""planes(p, i, c) AS (VALUES
         |    $values
         |), proj AS (
         |  SELECT v.vec_id, pl.p,
         |    SUM(CAST(ROUND(v.x * pl.c * 1e12, 0) AS BIGINT)) >= 0 AS bit
         |  FROM v JOIN planes pl ON v.i = pl.i
         |  GROUP BY 1, 2
         |), qbits AS (
         |  SELECT p, bit AS qbit FROM proj WHERE vec_id = 0
         |), cand AS (
         |  SELECT proj.vec_id FROM proj JOIN qbits ON proj.p = qbits.p
         |  GROUP BY 1
         |  HAVING SUM(CASE WHEN proj.bit <> qbits.qbit THEN 1 ELSE 0 END) <= 3
         |)""".stripMargin
    rerankSql(candCte)
  }

  /** IVF-bucketed ANN — the other scale path (coarse quantizer + nprobe);
    * oracle-verified: the codebook is the first 16 vectors of the table
    * itself, so the DuckDB twin derives identical assignments and probes. */
  private val simIvfTopK: Q = (s, dir) =>
    VectorOps.ivfTopK(Tables.embeddings(s, dir), queryId = 0L, k = 10)

  val IvfCells = 16
  val IvfProbe = 4

  /** DuckDB twin of [[VectorOps.ivfTopK]]: cell score = fixed-point
    * dot/|c| (row-norm free, same as the engine projection), argmax with
    * cell-ascending ties, probe = top-nprobe centroid cosines, candidates =
    * probed cells ∪ the query row, identical rerank. */
  private lazy val simIvfTopKSql: String = {
    val candCte =
      s"""cvals AS (
         |  SELECT vec_id AS cell, i, x AS cx FROM v WHERE vec_id < $IvfCells
         |), cn AS (
         |  SELECT vec_id AS cell, nrm AS cnrm FROM nrm WHERE vec_id < $IvfCells
         |), scores AS (
         |  SELECT v.vec_id, cv.cell,
         |    SUM(CAST(ROUND(v.x * cv.cx * 1e12, 0) AS BIGINT)) AS cdot
         |  FROM v JOIN cvals cv ON v.i = cv.i
         |  GROUP BY 1, 2
         |), assign AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT s.vec_id, s.cell,
         |      row_number() OVER (PARTITION BY s.vec_id
         |        ORDER BY (CAST(s.cdot AS DOUBLE) / 1e12) / cn.cnrm DESC, s.cell ASC) AS rn
         |    FROM scores s JOIN cn ON s.cell = cn.cell
         |  ) WHERE rn = 1
         |), qn0 AS (SELECT nrm AS qnrm FROM nrm WHERE vec_id = 0)
         |, probed AS (
         |  SELECT cell FROM (
         |    SELECT s.cell,
         |      row_number() OVER (
         |        ORDER BY (CAST(s.cdot AS DOUBLE) / 1e12) / (cn.cnrm * qn0.qnrm) DESC,
         |          s.cell ASC) AS rn
         |    FROM scores s JOIN cn ON s.cell = cn.cell, qn0
         |    WHERE s.vec_id = 0
         |  ) WHERE rn <= $IvfProbe
         |), cand AS (
         |  SELECT a.vec_id FROM assign a JOIN probed pr ON a.cell = pr.cell
         |  UNION SELECT 0 AS vec_id
         |)""".stripMargin
    rerankSql(candCte)
  }

  // -------------------------------------------------------------- sketches
  /** KMV distinct sketch (custom TypedImperativeAggregate) — the
    * determinism-friendly approx-distinct: unlike HLL++ the estimate is
    * bit-reproducible by any engine with md5, so this one gets a hash-exact
    * oracle (q_approx_distinct hashes exact + a tolerance verdict, the
    * HLL++ estimate being engine-private). */
  /** Distributed k-means: 2 full Lloyd rounds from the first-8 seed
    * codebook, final assignment as output. The oracle UNROLLS both rounds
    * in SQL — every assign (fixed-point integer argmin) and every update
    * (fixed-point dimension means, Float32-quantized) is recomputed by
    * DuckDB from the same seeds, so the driver check verifies the whole
    * iterative loop, not just the last projection. */
  private val KmeansK = 8
  private val KmeansIters = 2

  private val simKmeans: Q = (s, dir) =>
    graft.sim.KMeans.lloyd(Tables.embeddings(s, dir), KmeansK, KmeansIters)
      .select("vec_id", "cell")
      .orderBy("vec_id")

  private val simKmeansSql = {
    // centroid relations c<n> are (cell, i, cx): cx is float-valued but
    // carried as DOUBLE, mirroring Spark's Float32 storage + exact
    // widening inside the fixed-point dot
    def assignCtes(n: Int) =
      s"""d$n AS (
         |  SELECT v.vec_id, c.cell,
         |    SUM(CAST(ROUND(v.x * c.cx * 1e12, 0) AS BIGINT)) AS dot
         |  FROM v JOIN c$n c ON v.i = c.i GROUP BY 1, 2
         |), s$n AS (
         |  SELECT cell, SUM(CAST(ROUND(cx * cx * 1e12, 0) AS BIGINT)) AS self
         |  FROM c$n GROUP BY 1
         |), a$n AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT d.vec_id, d.cell,
         |      row_number() OVER (PARTITION BY d.vec_id
         |        ORDER BY s.self - 2 * d.dot, d.cell) AS rn
         |    FROM d$n d JOIN s$n s USING (cell)
         |  ) WHERE rn = 1
         |)""".stripMargin
    def updateCtes(n: Int) =
      s"""u$n AS (
         |  SELECT a.cell, v.i,
         |    CAST(CAST(CAST(CAST(SUM(CAST(ROUND(v.x * 1e12, 0) AS BIGINT)) AS VARCHAR) AS DOUBLE)
         |      / 1e12 / COUNT(*) AS REAL) AS DOUBLE) AS cx
         |  FROM a${n - 1} a JOIN v USING (vec_id) GROUP BY 1, 2
         |), c$n AS (SELECT cell, i, cx FROM u$n)""".stripMargin
    val rounds = (1 to KmeansIters)
      .map(n => updateCtes(n) + ",\n" + assignCtes(n)).mkString(",\n")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings
       |), c0 AS (
       |  SELECT vec_id AS cell, CAST(unnest(embedding) AS DOUBLE) AS cx,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings WHERE vec_id < $KmeansK
       |),
       |${assignCtes(0)},
       |$rounds
       |SELECT vec_id, cell FROM a$KmeansIters ORDER BY vec_id""".stripMargin
  }

  /** Distributed quantile sketch: exact interpolated percentiles over the
    * bottom-1024 hash sample ([[graft.analytics.CorpusOps.hashSample]]).
    * Mergeable and partitioning-invariant like the KMV distinct sketch;
    * the exact full-data p50 rides along so the one output row shows the
    * estimate against its target. */
  private val kmvQuantile: Q = (s, dir) => {
    val ev = Tables.events(s, dir).select("event_id", "value")
    val sample = graft.analytics.CorpusOps
      .hashSample(ev, col("event_id"), k = 1024)
    val est = sample.agg(
      count(lit(1)).as("n_sample"),
      round(expr("percentile(value, 0.5)"), 6).as("p50_est"),
      round(expr("percentile(value, 0.95)"), 6).as("p95_est"))
    val exact = ev.agg(
      round(expr("percentile(value, 0.5)"), 6).as("p50_exact"),
      round(expr("percentile(value, 0.95)"), 6).as("p95_exact"))
    est.crossJoin(exact)
  }

  private val kmvQuantileSql =
    """WITH s AS (
      |  SELECT value FROM events
      |  ORDER BY md5(CAST(event_id AS VARCHAR)), event_id LIMIT 1024
      |), est AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_sample,
      |    ROUND(quantile_cont(value, 0.5), 6) AS p50_est,
      |    ROUND(quantile_cont(value, 0.95), 6) AS p95_est
      |  FROM s
      |), ex AS (
      |  SELECT ROUND(quantile_cont(value, 0.5), 6) AS p50_exact,
      |    ROUND(quantile_cont(value, 0.95), 6) AS p95_exact
      |  FROM events
      |)
      |SELECT n_sample, p50_est, p95_est, p50_exact, p95_exact
      |FROM est, ex""".stripMargin

  private val kmvDistinct: Q = (s, dir) => {
    graft.functions.GraftFunctions.install(s)
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(graft.functions.KmvFunctions
        .kmvDistinct(col("event_id").cast("string")).as("distinct_est"))
      .orderBy("event_type")
  }

  private val kmvDistinctSql = {
    val k = graft.functions.KmvFunctions.DefaultK
    // prefix48(h): 12 hex digits as an exact-in-double integer, built from
    // per-digit powers (every partial sum < 2^53, so float addition never
    // rounds and the value is engine-exact)
    val v = "list_sum(list_transform(range(1, 13), i -> " +
      "(strpos('0123456789abcdef', substr(h, CAST(i AS INTEGER), 1)) - 1) " +
      "* power(16, 12 - i)))"
    s"""WITH d AS (
       |  SELECT DISTINCT event_type, md5(CAST(event_id AS VARCHAR)) AS h
       |  FROM events
       |), r AS (
       |  SELECT event_type, h,
       |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
       |    COUNT(*) OVER (PARTITION BY event_type) AS nd
       |  FROM d
       |)
       |SELECT event_type,
       |  CASE WHEN nd < $k THEN CAST(nd AS DOUBLE)
       |       ELSE ${(k - 1).toDouble} * ${graft.functions.KmvFunctions.FracScale}
       |            / NULLIF($v, 0.0) END AS distinct_est
       |FROM r
       |WHERE rn = CASE WHEN nd < $k THEN 1 ELSE $k END
       |ORDER BY event_type""".stripMargin
  }

  // ------------------------------------------------------------ multimodal
  /** Binary-column pipeline with stubbed codec — rows-only check. The
    * library API keeps `hist` as array<bigint>; the CONTRACT projection
    * stringifies it (the driver's pandas compare sorts every column and
    * cannot hash an ndarray cell). */
  private val mmFeatures: Q = (s, dir) =>
    Multimodal.extractFeatures(
      Multimodal.syntheticMedia(Tables.documents(s, dir)))
      .toDF()
      .withColumn("hist", concat_ws(",", col("hist")))
      .orderBy("media_id")

  /** Perceptual image hashes (aHash + dHash over the decoded BMP grid) —
    * rows-only like mm_features (the codec is not SQL-expressible);
    * MultimodalSpec pins the hash vectors (identical / 1-px-shifted /
    * recolored / unrelated images). */
  private val mmPhash: Q = (s, dir) =>
    Multimodal.perceptualHashes(
      Multimodal.syntheticMedia(Tables.documents(s, dir)))
      .toDF().orderBy("media_id")

  /** Hamming-banded near-duplicate image pairs (full recall to hamming 3
    * by pigeonhole over 4×16-bit bands — the LSH banding pattern on
    * perceptual bits). The fingerprint frame is PUBLISHED as parquet so
    * the DuckDB twin reads the same integers and replays the banding join
    * independently — the codec half stays spec-only (MultimodalSpec pins
    * the hash vectors), but the relational half is hash-checked. */
  private val mmPhashPairs: Q = (s, dir) =>
    Multimodal.nearDupImages(
      Multimodal.publishFingerprints(
        Multimodal.perceptualHashes(
          Multimodal.syntheticMedia(Tables.documents(s, dir))).toDF(),
        "mm_phash_fp"), 3)

  /** DuckDB twin of the image-pair banding join, fed by the published
    * fingerprint parquet: same 4×16-bit band keys ((h >> 16b) & 0xFFFF is
    * shift-mode-agnostic — the mask keeps only bits that came from h),
    * same distinct-candidates → exact-hamming verify. */
  private val mmPhashPairsSql =
    s"""WITH fp AS (
       |  SELECT media_id, dhash
       |  FROM read_parquet('${Multimodal.artifactDir}/mm_phash_fp/*.parquet')
       |), bands AS (
       |  SELECT media_id, dhash, unnest([0, 1, 2, 3]) AS bnd FROM fp
       |), keyed AS (
       |  SELECT media_id, dhash, bnd,
       |    (dhash >> (bnd * 16)) & 65535 AS key
       |  FROM bands
       |), cand AS (
       |  SELECT DISTINCT a.media_id AS m1, b.media_id AS m2,
       |    a.dhash AS h1, b.dhash AS h2
       |  FROM keyed a JOIN keyed b
       |    ON a.bnd = b.bnd AND a.key = b.key AND a.media_id < b.media_id
       |)
       |SELECT m1, m2, CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming
       |FROM cand WHERE bit_count(xor(h1, h2)) <= 3
       |ORDER BY m1, m2""".stripMargin

  /** Energy-delta audio fingerprints of the WAV rows
    * ([[graft.mm.Codecs.audioFingerprint]]) — rows-only like its image
    * sibling (binary-derived); determinism and gain-invariance vectors
    * live in MultimodalSpec. */
  private val mmAudioFp: Q = (s, dir) =>
    Multimodal.audioFingerprints(
      Multimodal.syntheticMedia(Tables.documents(s, dir)))
      .toDF().orderBy("media_id")

  /** Hamming-banded near-duplicate audio pairs — the image banding
    * machinery over audio fingerprints; complete to hamming 3 by the
    * same pigeonhole argument. Fingerprints published for the DuckDB
    * twin like the image leg. */
  private val mmAudioFpPairs: Q = (s, dir) =>
    Multimodal.nearDupAudio(
      Multimodal.publishFingerprints(
        Multimodal.audioFingerprints(
          Multimodal.syntheticMedia(Tables.documents(s, dir))).toDF(),
        "mm_audio_fp"), 3)

  /** DuckDB twin of the audio-pair banding join over the published
    * fingerprint parquet (column `fp` — the audio frame's name for the
    * 64-bit fingerprint the banding treats as dhash). */
  private val mmAudioFpPairsSql =
    s"""WITH fp AS (
       |  SELECT media_id, fp AS dhash
       |  FROM read_parquet('${Multimodal.artifactDir}/mm_audio_fp/*.parquet')
       |), bands AS (
       |  SELECT media_id, dhash, unnest([0, 1, 2, 3]) AS bnd FROM fp
       |), keyed AS (
       |  SELECT media_id, dhash, bnd,
       |    (dhash >> (bnd * 16)) & 65535 AS key
       |  FROM bands
       |), cand AS (
       |  SELECT DISTINCT a.media_id AS m1, b.media_id AS m2,
       |    a.dhash AS h1, b.dhash AS h2
       |  FROM keyed a JOIN keyed b
       |    ON a.bnd = b.bnd AND a.key = b.key AND a.media_id < b.media_id
       |)
       |SELECT m1, m2, CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming
       |FROM cand WHERE bit_count(xor(h1, h2)) <= 3
       |ORDER BY m1, m2""".stripMargin

  /** Embedding centroid-drift screen — PSI's sibling for vector columns:
    * split each label's vectors into two snapshots (even/odd vec_id — the
    * stationary no-drift baseline; production feeds two ingestion dates)
    * and report, per label, the exact L2 distance between the snapshot
    * centroids (`mean_shift` — the drift statistic: an embedding-model
    * regression or upstream content shift moves the mean, and under
    * stationarity it concentrates near 0 at rate 1/√n), plus the
    * centroid cosine and norm ratio as direction/scale diagnostics (on
    * near-zero-mean corpora the cosine of two noise centroids is itself
    * noisy — mean_shift is the decision signal, the cosine is context).
    * Shape: one posexplode shuffle keyed (label, dim), one per-label
    * aggregate. Parity: per-dim sums are fixed-point longs; cross terms
    * go through DECIMAL(38,0) (s₁s₂ overflows Long at production
    * snapshot sizes); the per-dim squared mean difference is quantized
    * at 1e12 so the 64-term sum is exact. */
  private[graft] def embDriftOf(emb: DataFrame): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val v = emb
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), col("label"), col("i"),
        round(col("x") * lit(1e12), 0).cast("long").as("fx"))
    val dims = v.groupBy("label", "i").agg(
      sum(when(col("vec_id") % 2 === 0, col("fx")).otherwise(0L)).as("s1"),
      sum(when(col("vec_id") % 2 === 1, col("fx")).otherwise(0L)).as("s2"))
    val cnt = emb.groupBy("label").agg(
      sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("n_old"),
      sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L)).as("n_new"))
    // md = (µ1_i − µ2_i)·1e12 exactly (integer cross-difference over the
    // exact count product); its square re-quantized at 1e12 per dim
    val md = (dec(col("s1")) * col("n_new") - dec(col("s2")) * col("n_old"))
      .cast("double") / (col("n_old") * col("n_new")).cast("double")
    dims.join(cnt, "label")
      .select(col("label"), col("n_old"), col("n_new"),
        dec(col("s1")).as("s1"), dec(col("s2")).as("s2"),
        round(md * md / lit(1e12), 0).cast("long").as("t"))
      .groupBy("label", "n_old", "n_new").agg(
        sum(col("s1") * col("s2")).as("dot"),
        sum(col("s1") * col("s1")).as("q1"),
        sum(col("s2") * col("s2")).as("q2"),
        sum(col("t")).as("shift_fx"))
      .select(col("label"), col("n_old"), col("n_new"),
        round(sqrt(col("shift_fx").cast("double") / lit(1e12)), 6)
          .as("mean_shift"),
        round(col("dot").cast("double") /
          (sqrt(col("q1").cast("double")) * sqrt(col("q2").cast("double"))),
          6).as("centroid_cosine"),
        round((sqrt(col("q2").cast("double")) / col("n_new")) /
          (sqrt(col("q1").cast("double")) / col("n_old")), 6)
          .as("norm_ratio"))
      .orderBy("label")
  }

  private val embDrift: Q = (s, dir) => embDriftOf(Tables.embeddings(s, dir))

  private val embDriftSql =
    """WITH v AS (
      |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
      |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1e12, 0)
      |      AS BIGINT) AS fx
      |  FROM embeddings
      |), dims AS (
      |  SELECT label, i,
      |    SUM(CASE WHEN vec_id % 2 = 0 THEN fx ELSE 0 END) AS s1,
      |    SUM(CASE WHEN vec_id % 2 = 1 THEN fx ELSE 0 END) AS s2
      |  FROM v GROUP BY 1, 2
      |), agg AS (
      |  SELECT label,
      |    SUM(CAST(s1 AS HUGEINT) * s2) AS dot,
      |    SUM(CAST(s1 AS HUGEINT) * s1) AS q1,
      |    SUM(CAST(s2 AS HUGEINT) * s2) AS q2
      |  FROM dims GROUP BY 1
      |), cnt AS (
      |  SELECT label,
      |    CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_old,
      |    CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_new
      |  FROM embeddings GROUP BY 1
      |), sh AS (
      |  SELECT dims.label,
      |    CAST(SUM(CAST(ROUND(
      |      (CAST(CAST(s1 AS HUGEINT) * n_new - CAST(s2 AS HUGEINT) * n_old
      |         AS DOUBLE)
      |       / CAST(n_old * n_new AS DOUBLE))
      |      * (CAST(CAST(s1 AS HUGEINT) * n_new - CAST(s2 AS HUGEINT) * n_old
      |           AS DOUBLE)
      |         / CAST(n_old * n_new AS DOUBLE)) / 1e12, 0) AS BIGINT))
      |      AS BIGINT) AS shift_fx
      |  FROM dims JOIN cnt ON cnt.label = dims.label
      |  GROUP BY 1
      |)
      |SELECT agg.label, n_old, n_new,
      |  ROUND(SQRT(CAST(shift_fx AS DOUBLE) / 1e12), 6) AS mean_shift,
      |  ROUND(CAST(dot AS DOUBLE)
      |    / (SQRT(CAST(q1 AS DOUBLE)) * SQRT(CAST(q2 AS DOUBLE))), 6)
      |    AS centroid_cosine,
      |  ROUND((SQRT(CAST(q2 AS DOUBLE)) / n_new)
      |    / (SQRT(CAST(q1 AS DOUBLE)) / n_old), 6) AS norm_ratio
      |FROM agg JOIN cnt ON cnt.label = agg.label
      |JOIN sh ON sh.label = agg.label
      |ORDER BY agg.label""".stripMargin

  /** Cohen's kappa between two independent document-quality labelers —
    * the inter-rater-agreement screen a labeling pipeline runs before
    * trusting any single heuristic: rater A = the composite quality score
    * at its 0.5 midpoint, rater B = "not repetitive" (duplicate-token
    * fraction ≤ 0.2). κ = (p_o − p_e)/(1 − p_e) corrects raw agreement
    * for chance; both raters derive from integer counts and shared float
    * expression trees already proven hash-exact (text_quality /
    * text_repetition), so the 2×2 table and κ are bit-identical across
    * engines. One corpus scan, one 4-counter aggregate — no joins, no
    * windows. Cross products go through DECIMAL(38,0) so p_e stays exact
    * past the Long range at 100 TB row counts. */
  private val qualityKappa: Q = (s, dir) => {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"),
        TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
    val a = TextOps.qualityScore(col("text"), col("toks")) >= 0.5
    val b = (size(col("toks")) - size(array_distinct(col("toks"))))
      .cast("double") / size(col("toks")) <= 0.2
    val cnt = base.select(a.as("a"), b.as("b")).agg(
      sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
      sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
      sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"),
      sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val n = col("n11") + col("n10") + col("n01") + col("n00")
    val nd = n.cast("double")
    val po = (col("n11") + col("n00")).cast("double") / nd
    val pe = (dec(col("n11") + col("n10")) * dec(col("n11") + col("n01")) +
        dec(col("n01") + col("n00")) * dec(col("n10") + col("n00")))
      .cast("double") / (nd * nd)
    cnt.select(col("n11"), col("n10"), col("n01"), col("n00"),
      round(po, 6).as("po"), round(pe, 6).as("pe"),
      when(pe < 1.0, round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"))
  }

  private val qualityKappaSql =
    s"""WITH f AS (
       |  SELECT text, $toksSql AS l FROM documents WHERE len($toksSql) > 0
       |), r AS (
       |  SELECT ($qualityScalarSql) >= 0.5e0 AS a,
       |    (CAST(len(l) - len(list_distinct(l)) AS DOUBLE) / len(l))
       |      <= 0.2e0 AS b
       |  FROM f
       |), c AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
       |    CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
       |    CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
       |    CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00
       |  FROM r
       |)
       |SELECT n11, n10, n01, n00,
       |  ROUND((n11 + n00) / CAST(n11 + n10 + n01 + n00 AS DOUBLE), 6) AS po,
       |  ROUND(CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
       |      AS DOUBLE)
       |    / (CAST(n11 + n10 + n01 + n00 AS DOUBLE)
       |       * CAST(n11 + n10 + n01 + n00 AS DOUBLE)), 6) AS pe,
       |  CASE WHEN CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
       |        AS DOUBLE)
       |      / (CAST(n11 + n10 + n01 + n00 AS DOUBLE)
       |         * CAST(n11 + n10 + n01 + n00 AS DOUBLE)) < 1.0e0 THEN
       |    ROUND(((n11 + n00) / CAST(n11 + n10 + n01 + n00 AS DOUBLE)
       |      - CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
       |          AS DOUBLE)
       |        / (CAST(n11 + n10 + n01 + n00 AS DOUBLE)
       |           * CAST(n11 + n10 + n01 + n00 AS DOUBLE)))
       |      / (1.0e0 - CAST((n11 + n10) * (n11 + n01)
       |            + (n01 + n00) * (n10 + n00) AS DOUBLE)
       |          / (CAST(n11 + n10 + n01 + n00 AS DOUBLE)
       |             * CAST(n11 + n10 + n01 + n00 AS DOUBLE))), 6)
       |  END AS kappa
       |FROM c""".stripMargin

  /** JL random-projection norm-preservation report
    * ([[VectorOps.randomProjectionReport]]): 64-d → 16-d with the md5 ±1
    * sign matrix; hash-exact because every cross-element sum is
    * fixed-point. The oracle re-derives the projection from the identical
    * sign literals via unnest + join — a different evaluation strategy
    * over the same matrix. */
  private val embRandProj: Q = (s, dir) =>
    VectorOps.randomProjectionReport(Tables.embeddings(s, dir))

  private val embRandProjSql = {
    val signs = VectorOps.rpSignMatrixFor(64)
    val rows = (for (j <- 0 until VectorOps.RpDims; i <- 0 until 64)
      yield s"($j,${i + 1},${signs(j)(i).toInt})").mkString(", ")
    s"""WITH m(j, i, s) AS (
       |  SELECT * FROM (VALUES $rows)
       |), v AS (
       |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings
       |), y AS (
       |  SELECT v.vec_id, m.j,
       |    CAST(SUM(CAST(ROUND(v.x * m.s * 1e12, 0) AS BIGINT)) AS BIGINT)
       |      AS yfx
       |  FROM v JOIN m ON m.i = v.i GROUP BY 1, 2
       |), p AS (
       |  SELECT vec_id,
       |    CAST(SUM(CAST(ROUND((CAST(yfx AS DOUBLE) / 1e12)
       |      * (CAST(yfx AS DOUBLE) / 1e12) * 1e6, 0) AS BIGINT)) AS BIGINT)
       |      AS pfx
       |  FROM y GROUP BY 1
       |), n AS (
       |  SELECT vec_id, ANY_VALUE(label) AS label,
       |    CAST(SUM(CAST(ROUND(x * x * 1e12, 0) AS BIGINT)) AS BIGINT) AS nfx
       |  FROM v GROUP BY 1
       |)
       |SELECT n.vec_id, n.label,
       |  SQRT(CAST(nfx AS DOUBLE) / 1e12) AS norm_orig,
       |  SQRT(CAST(pfx AS DOUBLE) / 1e6 / ${VectorOps.RpDims}) AS norm_proj,
       |  CASE WHEN SQRT(CAST(nfx AS DOUBLE) / 1e12) > 0 THEN
       |    ROUND(SQRT(CAST(pfx AS DOUBLE) / 1e6 / ${VectorOps.RpDims})
       |      / SQRT(CAST(nfx AS DOUBLE) / 1e12), 6) END AS ratio
       |FROM n JOIN p ON p.vec_id = n.vec_id
       |ORDER BY n.vec_id""".stripMargin
  }

  /** Per-sampled-frame video hashes ([[graft.mm.Multimodal
    * .videoFrameHashes]], every 2nd frame) — rows-only like the image and
    * audio legs (binary-derived); determinism and clip-detection vectors
    * live in MultimodalSpec. */
  private val mmVideoFhash: Q = (s, dir) =>
    Multimodal.videoFrameHashes(
      Multimodal.syntheticMedia(Tables.documents(s, dir)), everyK = 2)
      .toDF().orderBy("media_id", "frame_idx")

  /** Video near-dup by shared frame hashes, exercised on planted clips:
    * each fixture video gets a twin missing its first two frames (the
    * "re-encoded clip" case) — the pair query must recover the
    * original↔clip pairs from frame-hash overlap alone. Sampling is
    * every frame here because the fixture videos are only ~4 frames
    * long; production would keep everyK ≥ 2 on both sides. */
  private val mmVideoPairs: Q = (s, dir) => {
    import graft.mm.{Codecs, MediaFile, MediaMeta}
    val docs = Tables.documents(s, dir)
    val spark = s
    import spark.implicits._
    val media = Multimodal.syntheticMedia(docs).filter(_.kind == "video")
    val frameBytes = Multimodal.VideoWidth * Multimodal.VideoHeight * 3
    val clips = docs.filter(col("doc_id") % 3 === 2)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val raw = text.getBytes("UTF-8").drop(2 * frameBytes)
        MediaFile(id + 1000000L, "video",
          Codecs.encodeAvi(raw, Multimodal.VideoWidth,
            Multimodal.VideoHeight),
          MediaMeta(Multimodal.VideoWidth, Multimodal.VideoHeight,
            16000, 0L, "avi"))
      }
    Multimodal.nearDupVideos(
      Multimodal.publishFingerprints(
        Multimodal.videoFrameHashes(media.union(clips), everyK = 1).toDF(),
        "mm_video_fhash_fp"),
      minShared = 2)
  }

  /** DuckDB twin of the video shared-frame overlap join over the
    * published frame-hash parquet: same within-video frame dedup,
    * hot-key cap (≤32 videos per hash), exact-hash self-join, and
    * shared-frame threshold as [[Multimodal.nearDupVideos]]. */
  private val mmVideoPairsSql =
    s"""WITH fh AS (
       |  SELECT DISTINCT media_id, fhash
       |  FROM read_parquet(
       |    '${Multimodal.artifactDir}/mm_video_fhash_fp/*.parquet')
       |), cool AS (
       |  SELECT fhash FROM fh GROUP BY fhash HAVING COUNT(*) <= 32
       |), keep AS (
       |  SELECT fh.media_id, fh.fhash FROM fh JOIN cool USING (fhash)
       |)
       |SELECT a.media_id AS m1, b.media_id AS m2,
       |  COUNT(*) AS shared_frames
       |FROM keep a JOIN keep b
       |  ON a.fhash = b.fhash AND a.media_id < b.media_id
       |GROUP BY 1, 2 HAVING COUNT(*) >= 2
       |ORDER BY m1, m2""".stripMargin

  /** Simplified silhouette per label ([[VectorOps.silhouette]]): the
    * clustering-quality screen; centroid codebook driver-collected,
    * distances fixed-point inside one codegen projection, label means
    * decimal-exact ⇒ hash-exact oracle. */
  private val simSilhouette: Q = (s, dir) =>
    VectorOps.silhouette(Tables.embeddings(s, dir))

  private val simSilhouetteSql =
    """WITH v AS (
      |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings
      |), cent AS (
      |  SELECT label, i,
      |    CAST(CAST(SUM(CAST(ROUND(x * 1e12, 0) AS BIGINT)) AS VARCHAR) AS DOUBLE)
      |      / 1e12 / COUNT(*) AS cx
      |  FROM v GROUP BY 1, 2
      |), d AS (
      |  SELECT v.vec_id, v.label AS own, cent.label AS cl,
      |    SQRT(CAST(CAST(SUM(CAST(ROUND((v.x - cent.cx) * (v.x - cent.cx) * 1e12,
      |      0) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 1e12) AS dist
      |  FROM v JOIN cent ON cent.i = v.i GROUP BY 1, 2, 3
      |), ab AS (
      |  SELECT vec_id, own,
      |    MAX(CASE WHEN cl = own THEN dist END) AS a,
      |    MIN(CASE WHEN cl <> own THEN dist END) AS b
      |  FROM d GROUP BY 1, 2
      |), sc AS (
      |  SELECT own AS label,
      |    CASE WHEN GREATEST(a, b) = 0 THEN 0.0
      |      ELSE (b - a) / GREATEST(a, b) END AS s
      |  FROM ab
      |)
      |SELECT label, COUNT(*) AS n_vecs,
      |  ROUND(CAST(CAST(SUM(CAST(s AS DECIMAL(38, 12))) AS VARCHAR) AS DOUBLE) / COUNT(*), 6)
      |    AS silhouette
      |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-label embedding centroids — class prototypes / drift monitors /
    * IVF seed codebook. Fixed-point element sums make the per-dimension
    * means bit-identical to the oracle. */
  private val embCentroids: Q = (s, dir) =>
    VectorOps.centroids(Tables.embeddings(s, dir))

  private val embCentroidsSql =
    """WITH v AS (
      |  SELECT label, CAST(unnest(embedding) AS DOUBLE) AS x,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings
      |)
      |SELECT label, CAST(i AS INTEGER) AS dim, COUNT(*) AS n_vecs,
      |  CAST(CAST(SUM(CAST(ROUND(x * 1e12, 0) AS BIGINT)) AS VARCHAR) AS DOUBLE)
      |    / 1e12 / COUNT(*) AS centroid_x
      |FROM v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Leakage-safe train/val/test split: the split key is the near-dup
    * CLUSTER representative, not the document — near-duplicates always
    * land in the same split, so the test set can't be contaminated by a
    * training-set twin (the classic eval-leak a per-doc hash split
    * permits). Unclustered docs anchor on themselves.
    *
    * Artifact-reuse form: feeds the split from [[graft.dedup.Dedup.pipeline]]'s
    * materialized `clusters` leaf (one shingle pass, checkpointed pairs)
    * instead of re-deriving nearDuplicates→CC from scratch — the pattern
    * every cluster consumer should follow. `DedupSpec` proves the inline
    * fallback ([[graft.dedup.Dedup.leakSplit]]) produces identical output. */
  private val leakSplit: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val clusters = FrameStore.getOrCompute(s, s"clusters|$dir|$JaccardThreshold") {
      Dedup.pipeline(docs, JaccardThreshold).clusters
    }
    Dedup.leakSplitFromClusters(docs, clusters)
      .orderBy("doc_id")
  }

  private val leakSplitSql = {
    import graft.analytics.EventAnalytics.{TrainBoundary, ValBoundary}
    s"""$clusterCtes, cl AS (
       |  SELECT a AS doc_id, min(b) AS rep_id FROM reach GROUP BY a
       |)
       |SELECT d.doc_id, coalesce(cl.rep_id, d.doc_id) AS anchor,
       |  CASE WHEN substr(md5(CAST(coalesce(cl.rep_id, d.doc_id) AS VARCHAR)),
       |         1, 12) < '$TrainBoundary' THEN 'train'
       |       WHEN substr(md5(CAST(coalesce(cl.rep_id, d.doc_id) AS VARCHAR)),
       |         1, 12) < '$ValBoundary' THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents d LEFT JOIN cl USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Token capacity of one packed training bin in [[pipelineCorpus]]. */
  private val CorpusBinTokens = 2000L

  /** The composed end-to-end "curate a corpus" entry — the proof that the
    * artifact-reuse pattern composes: ONE registry query chaining
    *
    *   near-dup clusters (fetched from [[graft.dedup.FrameStore]], so a
    *   session that already ran `dedup_pipeline` pays nothing)
    *   → near-dup survivor selection ([[Dedup.survivors]])
    *   → curation verdicts ([[curationFrame]], the `text_curation` chain)
    *   → leak-safe split ([[Dedup.leakSplitFromClusters]], same clusters
    *     artifact — the expensive stage is computed AT MOST once)
    *   → token-budget packing ([[CorpusOps.packSequences]] per split).
    *
    * A document ships iff its curation verdict is `keep` AND it is not a
    * near-dup loser; survivors pack into [[CorpusBinTokens]]-token bins in
    * doc_id order within each split. Output is the training-shard
    * manifest: (split, bin_id, n_docs, total_tokens, first_id, last_id).
    * The oracle replays every stage (recursive-CTE closure, quality +
    * novelty twins, md5 split, windowed packing) in one statement. */
  private val pipelineCorpus: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val clusters = FrameStore.getOrCompute(s, s"clusters|$dir|$JaccardThreshold") {
      Dedup.pipeline(docs, JaccardThreshold).clusters
    }
    val losers = clusters.join(Dedup.survivors(docs, clusters), "rep_id")
      .filter(col("doc_id") =!= col("survivor_id")).select("doc_id")
    val split = Dedup.leakSplitFromClusters(docs, clusters)
      .select("doc_id", "split")
    val kept = curationFrame(s, dir)
      .filter(col("verdict") === "keep")
      .join(losers, Seq("doc_id"), "left_anti")
      .join(split, "doc_id")
    graft.analytics.CorpusOps.packSequences(kept, col("doc_id"),
        col("n_toks"), CorpusBinTokens, partitionCols = Seq("split"))
      .orderBy("split", "bin_id")
  }

  // lazy: interpolates SpanK and the curation thresholds, which are
  // declared later in this file — an eager val would capture their
  // pre-initialization zeros
  private lazy val pipelineCorpusSql = {
    import graft.analytics.EventAnalytics.{TrainBoundary, ValBoundary}
    s"""$clusterCtes, cl AS (
       |  SELECT a AS doc_id, min(b) AS rep_id FROM reach GROUP BY a
       |), q AS (
       |  SELECT doc_id, $qualityScalarSql AS q FROM documents
       |), ranked AS (
       |  SELECT cl.rep_id, cl.doc_id,
       |    row_number() OVER (PARTITION BY cl.rep_id
       |      ORDER BY q.q DESC, cl.doc_id) AS rn
       |  FROM cl JOIN q USING (doc_id)
       |), sv AS (
       |  SELECT rep_id, doc_id AS survivor_id FROM ranked WHERE rn = 1
       |), losers AS (
       |  SELECT cl.doc_id FROM cl JOIN sv USING (rep_id)
       |  WHERE cl.doc_id <> sv.survivor_id
       |), $curationCtesSql, spl AS (
       |  SELECT d.doc_id,
       |    CASE WHEN substr(md5(CAST(coalesce(cl.rep_id, d.doc_id)
       |           AS VARCHAR)), 1, 12) < '$TrainBoundary' THEN 'train'
       |         WHEN substr(md5(CAST(coalesce(cl.rep_id, d.doc_id)
       |           AS VARCHAR)), 1, 12) < '$ValBoundary' THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents d LEFT JOIN cl USING (doc_id)
       |), kept AS (
       |  SELECT s.split, v.doc_id, v.n_toks
       |  FROM verdicts v JOIN spl s USING (doc_id)
       |  WHERE v.verdict = 'keep'
       |    AND v.doc_id NOT IN (SELECT doc_id FROM losers)
       |), packed AS (
       |  SELECT split, doc_id, n_toks,
       |    SUM(n_toks) OVER (PARTITION BY split ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM kept
       |)
       |SELECT split, CAST((cum - n_toks) // $CorpusBinTokens AS BIGINT)
       |    AS bin_id,
       |  COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
       |  MIN(doc_id) AS first_id, MAX(doc_id) AS last_id
       |FROM packed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Power-iteration rounds for [[embPowerPc1]]. */
  private val PowerRounds = 3

  /** Top principal direction of the (uncentered) embedding corpus by
    * [[PowerRounds]] rounds of exact fixed-point power iteration — the
    * dimension-reduction / drift-monitoring primitive (XᵀX's dominant
    * eigenvector) computed WITHOUT materializing the 64×64 Gram matrix:
    * each round is two aggregates over the unnested corpus (per-vector
    * dot x·v as an integer sum in dimension order, then per-dimension
    * Σ x_d·(x·v) in DECIMAL(38,0)), normalized by max|s| (an
    * order-invariant max, not a float L2 sum) and re-quantized to the
    * ×1e6 grid HALF_UP — so every round's iterate is bit-identical in
    * both engines and the ORACLE replays the unrolled rounds. The
    * iterate vector is a 64-entry driver literal per round, the same
    * codebook-sized boundary as the k-means/IVF anchors. */
  private val embPowerPc1: Q = (s, dir) => {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val dims = emb.select(size(col("embedding"))).first().getInt(0)
    val d = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("p", "x")))
      .select(col("vec_id"), (col("p") + 1).cast("long").as("dim"),
        round(col("x").cast("double") * 1e6, 0).cast("long").as("xfx"))
      .transform(Materialize.checkpoint)
    var v: Array[Long] =
      Array.tabulate(dims)(i => if (i == 0) 1000000L else 0L)
    for (_ <- 1 to PowerRounds) {
      val vMap = typedlit(
        v.zipWithIndex.map { case (w, i) => (i + 1).toLong -> w }.toMap)
      val dot = d.withColumn("vfx", element_at(vMap, col("dim")))
        .groupBy("vec_id").agg(sum(col("xfx") * col("vfx")).as("dotv"))
      val sRows = d.join(dot, "vec_id")
        .groupBy("dim")
        .agg(sum(col("xfx").cast("decimal(38,0)") * col("dotv")).as("sd"))
        .collect()
      val sArr = new Array[BigInt](dims)
      sRows.foreach(r =>
        sArr(r.getLong(0).toInt - 1) = BigInt(r.getDecimal(1).toBigInteger))
      val mx = new java.math.BigDecimal(sArr.map(_.abs).max.bigInteger)
        .doubleValue
      v = sArr.map { x =>
        BigDecimal(new java.math.BigDecimal(x.bigInteger).doubleValue
          / mx * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }
    }
    v.zipWithIndex.map { case (w, i) => (i + 1, w.toDouble / 1e6) }.toSeq
      .toDF("dim", "pc1").orderBy("dim")
  }

  private lazy val embPowerPc1Sql = {
    def round(i: Int) =
      s"""dot$i AS (
         |  SELECT d.vec_id, SUM(d.xfx * v${i - 1}.vfx) AS dotv
         |  FROM d JOIN v${i - 1} USING (dim) GROUP BY 1
         |), s$i AS (
         |  SELECT d.dim, SUM(CAST(d.xfx AS HUGEINT) * dot$i.dotv) AS sd
         |  FROM d JOIN dot$i USING (vec_id) GROUP BY 1
         |), m$i AS (SELECT MAX(ABS(sd)) AS mx FROM s$i),
         |v$i AS (
         |  SELECT dim, CAST(ROUND(CAST(sd AS DOUBLE) / CAST(mx AS DOUBLE)
         |    * 1e6, 0) AS BIGINT) AS vfx
         |  FROM s$i, m$i
         |)""".stripMargin
    s"""WITH d AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS BIGINT)
       |      AS dim,
       |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1e6, 0)
       |      AS BIGINT) AS xfx
       |  FROM embeddings
       |), v0 AS (
       |  SELECT dim, CASE WHEN dim = 1 THEN 1000000 ELSE 0 END AS vfx
       |  FROM (SELECT DISTINCT dim FROM d)
       |), ${(1 to PowerRounds).map(round).mkString(", ")}
       |SELECT CAST(dim AS INTEGER) AS dim, CAST(vfx AS DOUBLE) / 1e6 AS pc1
       |FROM v$PowerRounds ORDER BY dim""".stripMargin
  }

  /** Nearest-centroid confusion matrix: every vector assigned to its
    * closest label centroid (fixed-point squared distance, label-asc
    * ties), counted against its true label — the drift/quality check a
    * labeled embedding corpus gets on every refresh. */
  private val simCentroidAssign: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val cents = VectorOps.centroids(emb)
      .select("label", "dim", "centroid_x").collect()
      .groupBy(_.getInt(0))
      .map { case (l, rows) =>
        l -> rows.sortBy(_.getInt(1)).map(_.getDouble(2))
      }
      .toSeq.sortBy(_._1)
    VectorOps.assignToCentroids(emb, cents)
      .groupBy(col("label").as("true_label"), col("assigned_label"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy("true_label", "assigned_label")
  }

  /** SemDeDup over the embeddings table: nearest-centroid clusters (the
    * geometry blocking), then within-cluster cosine pruning with the
    * greedy lowest-id survivor rule ([[VectorOps.semDedup]]). The oracle
    * replays centroid means, the argmin assignment, the fixed-point pair
    * cosines, and the EXISTS prune — every stage integer/IEEE-exact, so
    * the per-cluster prune counts hash. */
  private val simSemDedup: Q = (s, dir) =>
    semDedupOver(Tables.embeddings(s, dir))

  /** [[simSemDedup]] over a caller-chosen corpus — the probe twin's
    * entry point ([[Probes]]): centroids are recomputed from the GIVEN
    * corpus, so a deterministic sub-corpus run is the identical operator
    * end to end, independently derivable by both engines. `maxBlock`
    * overrides the pair-stage banding cap (default
    * [[VectorOps.PairBlockCap]]) — the [[simSemDedupBanded]] gate entry
    * forces it low enough to engage banding at sf0.01. */
  private[queries] def semDedupOver(
      emb: org.apache.spark.sql.DataFrame,
      maxBlock: Int = VectorOps.PairBlockCap)
      : org.apache.spark.sql.DataFrame = {
    val cents = VectorOps.centroids(emb)
      .select("label", "dim", "centroid_x").collect()
      .groupBy(_.getInt(0))
      .map { case (l, rows) =>
        l -> rows.sortBy(_.getInt(1)).map(_.getDouble(2))
      }
      .toSeq.sortBy(_._1)
    VectorOps.semDedup(emb, cents, CosineThreshold, maxBlock)
  }

  /** Cap low enough that the sorted-neighborhood banding ENGAGES at the
    * driver's sf0.01 correctness gate (clusters there are ~50 rows; LSH
    * buckets peak at 7): the production caps (4096 / 512) first engage at
    * sf10, which is how round 12's latent twin divergence — the engine
    * banded, the old twin paired exhaustively — survived eleven rounds of
    * green sf0.01 gates. The `_banded` entries pin the band-mirroring
    * arms of BOTH twins per-round at the gate, at any fixture size
    * (ADVICE r12: "a mirroring error in the hot path would currently go
    * undetected"). */
  private[queries] val SemDedupBandedCap = 16
  private[queries] val LshBandedCap = 4

  /** [[simSemDedup]] with the pair cap forced to [[SemDedupBandedCap]] so
    * the hot-block banding (rank by plane-0 projection, two staggered
    * band passes) runs on every cluster at sf0.01 — the oracle twin
    * mirrors with the same cap. */
  private val simSemDedupBanded: Q = (s, dir) =>
    semDedupOver(Tables.embeddings(s, dir), SemDedupBandedCap)

  /** [[embLshPairs]] with the bucket-pair cap forced to [[LshBandedCap]]
    * so the banded arm runs on the sf0.01 fixture's hot buckets. */
  private val embLshPairsBanded: Q = (s, dir) =>
    VectorOps.cosinePairsLsh(Tables.embeddings(s, dir), CosineThreshold,
      LshBandedCap)

  /** Fixed-point LIST-lambda dot product: Σᵢ ROUND(a[i]·b[i]·1e12) as
    * BIGINT — the identical value to the historical unnest-join form
    * (same per-term rounding; long addition is associative) with NO
    * (row × dimension) explosion. Round-12 twin diet: the unnest form of
    * the semdedup twins materialized a 12.8-billion-row join at sf10 and
    * exhausted every temp/memory budget (r11 sweep: 67 min → OOM, r12:
    * 2 h → timeout); the list form streams one row per (pair) with the
    * 64 terms evaluated inline. */
  private def sqlListDot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a)+1), i -> " +
      s"CAST(ROUND(CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) * 1e12, 0)" +
      " AS BIGINT)))"

  /** Fixed-point LIST-lambda squared distance (same contract as
    * [[sqlListDot]], mirroring the engine's `centroidDist`). */
  private def sqlListDist(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a)+1), i -> " +
      s"CAST(ROUND((CAST($a[i] AS DOUBLE) - $b[i]) * " +
      s"(CAST($a[i] AS DOUBLE) - $b[i]) * 1e12, 0) AS BIGINT)))"

  /** Plane-0 literals (p, i, c) for the sorted-neighborhood rank the
    * banded-pair twins mirror ([[VectorOps.cosinePairsBy]] hot path). */
  private def sqlPlane0Values: String = {
    val p0 = VectorOps.planeMatrixFor(EmbeddingDim)(0)
    (0 until EmbeddingDim)
      .map(i => s"(0, ${i + 1}, ${p0(i).toDouble})").mkString(",\n    ")
  }

  /** Oracle twin of [[VectorOps.semDedup]]. Mirrors the ALGORITHM, not an
    * idealized exhaustive variant: the engine's within-cluster pair stage
    * is [[VectorOps.cosinePairsBy]] with its [[VectorOps.PairBlockCap]]
    * sorted-neighborhood banding, which ENGAGES at sf10+ (duplicate
    * centroid positions collapse 1 000 labels to ~10 distinct clusters of
    * ~20 k vectors each — above the 4 096 cap), so the twin reproduces
    * the same exact-below-cap / two-staggered-band-passes-above pair set
    * (the `dedup_near_dup` / `emb_lsh_pairs` mirroring pattern). Distance
    * and dot products use the fixed-point list-lambda forms. */
  private lazy val simSemDedupSql: String = simSemDedupSqlOver("")

  /** [[simSemDedupSql]] with an optional corpus restriction pushed into
    * a leading `emb` CTE — the probe twin's slot: BOTH engines run the
    * identical operator over the identically-derived sub-corpus
    * (centroids, assignment, banding, prune all recomputed from it), the
    * [[Probes]] `tokenGraphProbe` pattern. Shrinking the corpus 4x cuts
    * the twin's dominant banded-pair stage ~4x linearly (pair work is
    * n-by-cap) — the full twin's sf10 temp appetite exceeds every grant
    * this box can make (measured: >55 GB). */
  private[queries] def simSemDedupSqlOver(embPred: String,
      cap: Int = VectorOps.PairBlockCap): String = {
    val half = cap / 2
    val where = if (embPred.isEmpty) "" else s" WHERE $embPred"
    s"""WITH emb AS MATERIALIZED (
      |  SELECT vec_id, label, embedding FROM embeddings$where
      |), v AS MATERIALIZED (
      |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM emb
      |), planes(p, i, c) AS (VALUES
      |    $sqlPlane0Values
      |), c AS (
      |  SELECT label AS clabel, i,
      |    CAST(CAST(SUM(CAST(ROUND(x * 1e12, 0) AS BIGINT)) AS VARCHAR) AS DOUBLE)
      |      / 1e12 / COUNT(*) AS cx
      |  FROM v GROUP BY 1, 2
      |), cl AS MATERIALIZED (
      |  SELECT clabel, list(cx ORDER BY i) AS cvec FROM c GROUP BY 1
      |), d AS MATERIALIZED (
      |  SELECT e.vec_id, cl.clabel,
      |    ${sqlListDist("e.embedding", "cl.cvec")} AS dist
      |  FROM emb e, cl
      |), md AS (
      |  SELECT vec_id, MIN(dist) AS mdist FROM d GROUP BY 1
      |), m AS MATERIALIZED (
      |  -- (min dist, then min clabel) == row_number ORDER BY dist, clabel
      |  SELECT d.vec_id, MIN(d.clabel) AS cluster
      |  FROM d JOIN md ON d.vec_id = md.vec_id AND d.dist = md.mdist
      |  GROUP BY 1
      |), sized AS MATERIALIZED (
      |  SELECT vec_id, cluster,
      |    COUNT(*) OVER (PARTITION BY cluster) AS blk_n
      |  FROM m
      |), hotproj AS MATERIALIZED (
      |  SELECT s.vec_id, s.cluster,
      |    row_number() OVER (PARTITION BY s.cluster
      |      ORDER BY pj.proj, s.vec_id) - 1 AS rn
      |  FROM sized s JOIN (
      |    SELECT v.vec_id,
      |      SUM(CAST(ROUND(v.x * pl.c * 1e12, 0) AS BIGINT)) AS proj
      |    FROM v JOIN planes pl ON pl.p = 0 AND v.i = pl.i
      |    GROUP BY 1
      |  ) pj ON pj.vec_id = s.vec_id
      |  WHERE s.blk_n > $cap
      |), pairs AS (
      |  SELECT a.vec_id AS v1, b.vec_id AS v2
      |  FROM sized a JOIN sized b
      |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      |    AND a.blk_n <= $cap
      |  UNION ALL
      |  -- the two staggered band passes, made DISJOINT arithmetically
      |  -- (second arm: staggered band WITHOUT a shared primary band) so
      |  -- no dedup hash over the ~n·cap hot pairs is needed — the r12
      |  -- full-twin run died offloading exactly that DISTINCT at sf10;
      |  -- the union equals the engine's two-pass dropDuplicates set
      |  SELECT a.vec_id AS v1, b.vec_id AS v2
      |  FROM hotproj a JOIN hotproj b
      |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      |    AND FLOOR(a.rn / $cap.0) = FLOOR(b.rn / $cap.0)
      |  UNION ALL
      |  SELECT a.vec_id AS v1, b.vec_id AS v2
      |  FROM hotproj a JOIN hotproj b
      |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      |    AND FLOOR(a.rn / $cap.0) <> FLOOR(b.rn / $cap.0)
      |    AND FLOOR((a.rn + $half) / $cap.0)
      |        = FLOOR((b.rn + $half) / $cap.0)
      |), dots AS (
      |  SELECT p.v1, p.v2,
      |    ${sqlListDot("a.embedding", "b.embedding")} AS dot
      |  FROM pairs p JOIN emb a ON a.vec_id = p.v1
      |    JOIN emb b ON b.vec_id = p.v2
      |), nrm AS (
      |  SELECT vec_id,
      |    SQRT(CAST(CAST(SUM(CAST(ROUND(x * x * 1e12, 0) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 1e12) AS nrm
      |  FROM v GROUP BY 1
      |), pruned AS (
      |  SELECT DISTINCT v2 AS vec_id FROM dots
      |  JOIN nrm na ON v1 = na.vec_id JOIN nrm nb ON v2 = nb.vec_id
      |  WHERE (CAST(dot AS DOUBLE) / 1e12) / (na.nrm * nb.nrm) >= $CosineThreshold
      |)
      |SELECT m.cluster, COUNT(*) AS n_vecs, COUNT(p.vec_id) AS n_pruned,
      |  COUNT(*) - COUNT(p.vec_id) AS n_kept
      |FROM m LEFT JOIN pruned p USING (vec_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Incremental SemDeDup: corpus = vec_id % 10 != 0, arriving batch =
    * the rest; centroids come from the CORPUS only (the published
    * artifact an ingest job would read). The oracle replays the split,
    * corpus-only centroid means, both argmin assignments, and the two
    * EXISTS prunes. */
  private val simSemDedupInc: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    val cents = VectorOps.centroids(corpus)
      .select("label", "dim", "centroid_x").collect()
      .groupBy(_.getInt(0))
      .map { case (l, rows) =>
        l -> rows.sortBy(_.getInt(1)).map(_.getDouble(2))
      }
      .toSeq.sortBy(_._1)
    VectorOps.semDedupIncremental(corpus, batch, cents, CosineThreshold)
  }

  /** Oracle twin of [[VectorOps.semDedupIncremental]] — the engine's
    * corpus×batch / batch×batch in-cluster crosses are EXHAUSTIVE (no
    * band cap), so the twin mirrors them exactly; the round-12 diet is
    * purely structural (list-lambda dots replace the unnest ×dim join
    * that spilled past every sf10 budget). */
  private val simSemDedupIncSql =
    s"""WITH v AS MATERIALIZED (
      |  SELECT vec_id, label, vec_id % 10 <> 0 AS in_corpus,
      |    CAST(unnest(embedding) AS DOUBLE) AS x,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings
      |), c AS (
      |  SELECT label AS clabel, i,
      |    CAST(CAST(SUM(CAST(ROUND(x * 1e12, 0) AS BIGINT)) AS VARCHAR) AS DOUBLE)
      |      / 1e12 / COUNT(*) AS cx
      |  FROM v WHERE in_corpus GROUP BY 1, 2
      |), cl AS MATERIALIZED (
      |  SELECT clabel, list(cx ORDER BY i) AS cvec FROM c GROUP BY 1
      |), d AS MATERIALIZED (
      |  SELECT e.vec_id, cl.clabel,
      |    ${sqlListDist("e.embedding", "cl.cvec")} AS dist
      |  FROM embeddings e, cl
      |), md AS (
      |  SELECT vec_id, MIN(dist) AS mdist FROM d GROUP BY 1
      |), m AS MATERIALIZED (
      |  SELECT d.vec_id, MIN(d.clabel) AS cluster
      |  FROM d JOIN md ON d.vec_id = md.vec_id AND d.dist = md.mdist
      |  GROUP BY 1
      |), nrm AS MATERIALIZED (
      |  SELECT vec_id,
      |    SQRT(CAST(CAST(SUM(CAST(ROUND(x * x * 1e12, 0) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 1e12) AS nrm
      |  FROM v GROUP BY 1
      |), ve AS MATERIALIZED (
      |  SELECT e.vec_id, e.vec_id % 10 <> 0 AS in_corpus, m.cluster,
      |    e.embedding, nrm.nrm
      |  FROM embeddings e JOIN m ON e.vec_id = m.vec_id
      |  JOIN nrm ON e.vec_id = nrm.vec_id
      |), close AS (
      |  SELECT a.vec_id AS v1, a.in_corpus AS c1, b.vec_id AS v2
      |  FROM ve a JOIN ve b ON a.cluster = b.cluster
      |    AND NOT b.in_corpus AND a.vec_id <> b.vec_id
      |  WHERE (CAST(${sqlListDot("a.embedding", "b.embedding")} AS DOUBLE)
      |         / 1e12) / (a.nrm * b.nrm) >= $CosineThreshold
      |), bc AS (SELECT DISTINCT v2 AS vec_id FROM close WHERE c1),
      |ib AS (SELECT DISTINCT v2 AS vec_id FROM close
      |       WHERE NOT c1 AND v1 < v2)
      |SELECT m.vec_id, m.cluster,
      |  bc.vec_id IS NOT NULL AS by_corpus,
      |  ib.vec_id IS NOT NULL AS in_batch,
      |  bc.vec_id IS NULL AND ib.vec_id IS NULL AS keep
      |FROM m JOIN ve ON m.vec_id = ve.vec_id AND NOT ve.in_corpus
      |LEFT JOIN bc ON m.vec_id = bc.vec_id
      |LEFT JOIN ib ON m.vec_id = ib.vec_id
      |ORDER BY m.vec_id""".stripMargin

  private val simCentroidAssignSql =
    """WITH v AS (
      |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings
      |), c AS (
      |  SELECT label AS clabel, i,
      |    CAST(CAST(SUM(CAST(ROUND(x * 1e12, 0) AS BIGINT)) AS VARCHAR) AS DOUBLE)
      |      / 1e12 / COUNT(*) AS cx
      |  FROM v GROUP BY 1, 2
      |), d AS (
      |  SELECT v.vec_id, v.label, c.clabel,
      |    SUM(CAST(ROUND((v.x - c.cx) * (v.x - c.cx) * 1e12, 0) AS BIGINT))
      |      AS dist
      |  FROM v JOIN c ON v.i = c.i
      |  GROUP BY 1, 2, 3
      |), a AS (
      |  SELECT vec_id, label, clabel,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, clabel) AS rn
      |  FROM d
      |)
      |SELECT label AS true_label, clabel AS assigned_label,
      |  COUNT(*) AS n_vecs
      |FROM a WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Fuzzy prefix matching — the entity-resolution shape: block on
    * (lang, length bucket) so the candidate set is an equi-join (never
    * all-pairs), then exact edit distance on the 40-char prefixes inside
    * each block. Levenshtein is integer-exact on both engines, so the
    * whole result hashes. The blocking key is the scale story: at 100 TB
    * the same query runs with whatever cheap deterministic key bounds
    * block sizes (sorted-neighborhood, phonetic, LSH band) — here the
    * prefix's first character joins the key, a 12× candidate cut at
    * sf0.1 that left the matched pair set bit-identical (ER blocking
    * trades recall for cost; the refinement is part of the operator's
    * definition on both engines).
    *
    * Two kernel refinements, both output-bit-identical (sf1 bench finding:
    * this was the one super-linear query, 55× cost at 10× rows, because a
    * fixed blocking key makes block sizes — hence candidate pairs — grow
    * quadratically with the corpus):
    *  1. The DP runs on DISTINCT prefixes per block and expands back to
    *     doc pairs through a membership join, so corpora with many docs
    *     per identical prefix (true duplicates — the operator's subject)
    *     pay the DP once per distinct pair, and same-prefix doc pairs
    *     skip it entirely (dist = 0 by identity). The expansion join is
    *     linear in output size, which is the answer itself.
    *  2. The DP is the THRESHOLD form `levenshtein(a, b, 5)` — a banded
    *     O(len·threshold) computation that abandons a pair as soon as the
    *     band floor exceeds 5, returning -1 (hence the BETWEEN 0 AND 5
    *     filter). Exact distances for every surviving pair, measured 5.6×
    *     cheaper than the unbounded O(len²) form on the ~94% of candidate
    *     pairs that miss (117.9 s → 21.1 s over 3.86 M pairs at sf1).
    * The remaining scale lever is the key itself (finer buckets as the
    * corpus grows), which the paragraph above already frames as part of
    * the operator's definition on both engines. */
  /** Distinct-prefix count above which a plain-[[dedupFuzzy]] block is
    * flagged as quadratic-hot: a block of b distinct prefixes prices b²/2
    * Levenshtein DPs, so 20k prefixes ≈ 2·10⁸ banded DPs per block — the
    * point where [[dedupFuzzyBounded]]'s windowed form is the right tool. */
  private[graft] val FuzzyGuardBlock = 20000L

  /** Loud guard for the documented quadratic (plain fuzzy ER is O(Σ block²)
    * by construction — PROFILE.md round 6 measured 31× at 10× rows).
    * Returns the max distinct-prefix block size and logs a warning above
    * `cap`, pointing at the bounded twin. One cheap count pass — noise next
    * to the DP it predicts. */
  private[graft] def fuzzyBlockGuard(groups: DataFrame,
                                     cap: Long = FuzzyGuardBlock): Long = {
    val r = groups.groupBy("lang", "bucket", "c1").count()
      .agg(max(col("count"))).collect()(0)
    val maxBlock = if (r.isNullAt(0)) 0L else r.getLong(0)
    if (maxBlock > cap)
      logger.warn(
        s"[graft] dedup_fuzzy block with $maxBlock distinct prefixes " +
          s"(cap $cap): the all-pairs DP inside it is quadratic. Use " +
          "dedup_fuzzy_bounded (block-capped, O(n*w)) above ~1M rows per " +
          "block key - see DEPLOY.md.")
    maxBlock
  }

  private val dedupFuzzy: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        expr("n_chars div 100").as("bucket"),
        substring(col("text"), 1, 40).as("prefix"))
    // one row per distinct (block, prefix); pid = min doc_id in the group
    val groups = d
      .groupBy(col("lang"), col("bucket"),
        substring(col("prefix"), 1, 1).as("c1"), col("prefix"))
      .agg(min(col("doc_id")).as("pid"))
    fuzzyBlockGuard(groups)
    val members = groups.select(col("lang"), col("bucket"), col("c1"),
      col("prefix"), col("pid"))
      .join(d, Seq("lang", "bucket", "prefix"))
      .select(col("pid"), col("doc_id"))
    // DP on distinct-prefix pairs only; pid <= pid keeps the diagonal
    // (identical prefixes, dist 0 with no DP) for same-prefix doc pairs
    val dp = groups.as("a").join(groups.as("b"),
        col("a.lang") === col("b.lang") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.c1") === col("b.c1") &&
        col("a.pid") <= col("b.pid"))
      .withColumn("dist",
        when(col("a.pid") === col("b.pid"), lit(0L))
          .otherwise(levenshtein(col("a.prefix"), col("b.prefix"), 5)
            .cast("long")))
      .filter(col("dist").between(0, 5))
      .select(col("a.pid").as("p1"), col("b.pid").as("p2"), col("dist"))
    // expand prefix pairs to doc pairs; the diagonal needs x < y to emit
    // each unordered same-prefix pair once, cross groups are unique by
    // construction and only need canonical (least, greatest) ordering
    dp.join(members.as("m1"), col("p1") === col("m1.pid"))
      .join(members.as("m2"), col("p2") === col("m2.pid"))
      .filter(col("p1") =!= col("p2") ||
        col("m1.doc_id") < col("m2.doc_id"))
      .select(
        least(col("m1.doc_id"), col("m2.doc_id")).as("d1"),
        greatest(col("m1.doc_id"), col("m2.doc_id")).as("d2"),
        col("dist"))
      .orderBy("d1", "d2")
  }

  private val dedupFuzzySql =
    """WITH d AS (
      |  SELECT doc_id, lang, n_chars // 100 AS bucket,
      |    substr(text, 1, 40) AS prefix
      |  FROM documents
      |)
      |SELECT a.doc_id AS d1, b.doc_id AS d2,
      |  CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS dist
      |FROM d a JOIN d b
      |  ON a.lang = b.lang AND a.bucket = b.bucket
      |  AND substr(a.prefix, 1, 1) = substr(b.prefix, 1, 1)
      |  AND a.doc_id < b.doc_id
      |WHERE levenshtein(a.prefix, b.prefix) <= 5
      |ORDER BY d1, d2""".stripMargin

  /** Sorted-neighborhood matching — the window-shaped complement of
    * [[dedupFuzzy]]'s hash blocking: sort each language by prefix, compare
    * every row only to its next 2 neighbors in the sort order. Candidates
    * are generated by one partitioned window (lead), not a join — O(n·w)
    * pairs by construction, the classic bound when no good hash block key
    * exists. Both engines sort strings bytewise, so the neighbor sets —
    * and the exact levenshtein survivors — hash-match. */
  private val dedupSortedNeighbors: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("prefix", "doc_id")
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        substring(col("text"), 1, 40).as("prefix"))
      .withColumn("n1_id", lead(col("doc_id"), 1).over(w))
      .withColumn("n1_p", lead(col("prefix"), 1).over(w))
      .withColumn("n2_id", lead(col("doc_id"), 2).over(w))
      .withColumn("n2_p", lead(col("prefix"), 2).over(w))
    d.select(col("doc_id"), col("prefix"), explode(array(
        struct(col("n1_id").as("nid"), col("n1_p").as("np")),
        struct(col("n2_id").as("nid"), col("n2_p").as("np")))).as("nb"))
      .filter(col("nb.nid").isNotNull)
      .withColumn("dist",
        levenshtein(col("prefix"), col("nb.np")).cast("long"))
      .filter(col("dist") <= 5)
      .select(least(col("doc_id"), col("nb.nid")).as("d1"),
        greatest(col("doc_id"), col("nb.nid")).as("d2"), col("dist"))
      .orderBy("d1", "d2")
  }

  private val dedupSortedNeighborsSql =
    """WITH d AS (
      |  SELECT doc_id, lang, substr(text, 1, 40) AS prefix FROM documents
      |), w AS (
      |  SELECT doc_id, prefix,
      |    lead(doc_id, 1) OVER win AS n1_id,
      |    lead(prefix, 1) OVER win AS n1_p,
      |    lead(doc_id, 2) OVER win AS n2_id,
      |    lead(prefix, 2) OVER win AS n2_p
      |  FROM d WINDOW win AS (PARTITION BY lang ORDER BY prefix, doc_id)
      |), p AS (
      |  SELECT doc_id, prefix, n1_id AS nid, n1_p AS np FROM w
      |  WHERE n1_id IS NOT NULL
      |  UNION ALL
      |  SELECT doc_id, prefix, n2_id, n2_p FROM w WHERE n2_id IS NOT NULL
      |)
      |SELECT LEAST(doc_id, nid) AS d1, GREATEST(doc_id, nid) AS d2,
      |  CAST(levenshtein(prefix, np) AS BIGINT) AS dist
      |FROM p WHERE levenshtein(prefix, np) <= 5
      |ORDER BY d1, d2""".stripMargin

  /** Max distinct prefixes per block before [[dedupFuzzyBounded]] degrades
    * the block from exact all-pairs DP to a sorted-neighborhood window.
    * Chosen below the sf0.01 max block (10) so the oracle gate exercises
    * BOTH branches at verification scale. */
  private val FuzzyCap = 8
  /** Neighborhood width inside over-cap blocks: each distinct prefix is
    * compared to its next `FuzzyWindow` prefixes in (prefix, pid) order. */
  private val FuzzyWindow = 4

  /** Block-capped fuzzy ER — the 100-TB form of [[dedupFuzzy]]. The plain
    * form's in-block pair count is O(block²): the sf1 scale study
    * (PROFILE.md round 6) measured 31× wall at 10× rows because replicas
    * share (lang, length-bucket, first-char) blocks. This variant keeps the
    * exact all-pairs Levenshtein DP for blocks with at most [[FuzzyCap]]
    * distinct prefixes (bounded at CAP²/2 pairs) and switches larger blocks
    * to a sorted-neighborhood pass — each distinct prefix against its next
    * [[FuzzyWindow]] neighbors in (prefix, pid) order, the
    * [[dedupSortedNeighbors]] discipline applied WITHIN the block — so no
    * block anywhere in the corpus can go quadratic. The price is recall on
    * over-cap blocks only: a pair lexicographically farther than the window
    * yet within edit distance 5 is missed there; identical-prefix pairs
    * (dist 0) are always found in both branches because distinct prefixes
    * are the join/window unit and each group self-pairs. Output shape and
    * semantics otherwise match [[dedupFuzzy]]: canonical (d1 < d2) doc
    * pairs with the prefix edit distance. */
  private val dedupFuzzyBounded: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        expr("n_chars div 100").as("bucket"),
        substring(col("text"), 1, 40).as("prefix"))
    val groups = d
      .groupBy(col("lang"), col("bucket"),
        substring(col("prefix"), 1, 1).as("c1"), col("prefix"))
      .agg(min(col("doc_id")).as("pid"))
    val blockW = org.apache.spark.sql.expressions.Window
      .partitionBy("lang", "bucket", "c1")
    val rankW = blockW.orderBy("prefix", "pid")
    val r = groups
      .withColumn("n", count(lit(1)).over(blockW))
      .withColumn("rk", row_number().over(rankW))
    // small blocks: exact all-pairs DP, <= FuzzyCap^2 / 2 pairs per block
    val small = r.filter(col("n") <= FuzzyCap)
    val smallPairs = small.as("a").join(small.as("b"),
        col("a.lang") === col("b.lang") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.c1") === col("b.c1") &&
        col("a.pid") <= col("b.pid"))
      .withColumn("dist",
        when(col("a.pid") === col("b.pid"), lit(0L))
          .otherwise(levenshtein(col("a.prefix"), col("b.prefix"), 5)
            .cast("long")))
      .filter(col("dist").between(0, 5))
      .select(col("a.pid").as("p1"), col("b.pid").as("p2"), col("dist"))
    // over-cap blocks: k = 1..FuzzyWindow leads per row (O(n·w), never
    // a self-join) plus the k = 0 self-pair that carries identical-prefix
    // doc pairs. Leads stay in-block: n is a per-block constant, so the
    // filter keeps or drops whole partitions of rankW.
    val large = (1 to FuzzyWindow).foldLeft(r.filter(col("n") > FuzzyCap)) {
      (acc, k) =>
        acc.withColumn(s"npid_$k", lead(col("pid"), k).over(rankW))
          .withColumn(s"npre_$k", lead(col("prefix"), k).over(rankW))
    }
    val neighbors = struct(col("pid").as("npid"), col("prefix").as("npre")) +:
      (1 to FuzzyWindow).map(k =>
        struct(col(s"npid_$k").as("npid"), col(s"npre_$k").as("npre")))
    val largePairs = large
      .select(col("pid"), col("prefix"), explode(array(neighbors: _*)).as("nb"))
      .filter(col("nb.npid").isNotNull)
      .withColumn("dist",
        when(col("pid") === col("nb.npid"), lit(0L))
          .otherwise(levenshtein(col("prefix"), col("nb.npre"), 5)
            .cast("long")))
      .filter(col("dist").between(0, 5))
      .select(least(col("pid"), col("nb.npid")).as("p1"),
        greatest(col("pid"), col("nb.npid")).as("p2"), col("dist"))
    val members = groups
      .select(col("lang"), col("bucket"), col("prefix"), col("pid"))
      .join(d, Seq("lang", "bucket", "prefix"))
      .select(col("pid"), col("doc_id"))
    smallPairs.unionByName(largePairs)
      .join(members.as("m1"), col("p1") === col("m1.pid"))
      .join(members.as("m2"), col("p2") === col("m2.pid"))
      .filter(col("p1") =!= col("p2") ||
        col("m1.doc_id") < col("m2.doc_id"))
      .select(
        least(col("m1.doc_id"), col("m2.doc_id")).as("d1"),
        greatest(col("m1.doc_id"), col("m2.doc_id")).as("d2"),
        col("dist"))
      .orderBy("d1", "d2")
  }

  /** Oracle twin of [[dedupFuzzyBounded]]. The window branch is expressed
    * as a rank-distance-bounded join (rk_b - rk_a <= W) — at oracle scale
    * DuckDB can afford enumerating in-block pairs and filtering, and the
    * pair SET equals the engine's lead-based O(n·w) form exactly: each
    * unordered pair of distinct prefixes has one rank ordering, and leads
    * k = 1..W are precisely the pairs with rank distance in [1, W]. */
  private val dedupFuzzyBoundedSql =
    s"""WITH d AS (
       |  SELECT doc_id, lang, n_chars // 100 AS bucket,
       |    substr(text, 1, 40) AS prefix
       |  FROM documents
       |), g AS (
       |  SELECT lang, bucket, substr(prefix, 1, 1) AS c1, prefix,
       |    min(doc_id) AS pid
       |  FROM d GROUP BY 1, 2, 3, 4
       |), r AS (
       |  SELECT *,
       |    COUNT(*) OVER (PARTITION BY lang, bucket, c1) AS n,
       |    row_number() OVER (
       |      PARTITION BY lang, bucket, c1 ORDER BY prefix, pid) AS rk
       |  FROM g
       |), gp AS (
       |  SELECT LEAST(a.pid, b.pid) AS p1, GREATEST(a.pid, b.pid) AS p2,
       |    CASE WHEN a.pid = b.pid THEN 0
       |         ELSE levenshtein(a.prefix, b.prefix) END AS dist
       |  FROM r a JOIN r b
       |    ON a.lang = b.lang AND a.bucket = b.bucket AND a.c1 = b.c1
       |    AND a.rk <= b.rk
       |    AND (a.n <= $FuzzyCap OR b.rk - a.rk <= $FuzzyWindow)
       |  WHERE (CASE WHEN a.pid = b.pid THEN 0
       |              ELSE levenshtein(a.prefix, b.prefix) END) <= 5
       |), m AS (
       |  SELECT g.pid, d.doc_id
       |  FROM g JOIN d USING (lang, bucket, prefix)
       |)
       |SELECT LEAST(m1.doc_id, m2.doc_id) AS d1,
       |  GREATEST(m1.doc_id, m2.doc_id) AS d2,
       |  CAST(dist AS BIGINT) AS dist
       |FROM gp
       |JOIN m m1 ON gp.p1 = m1.pid
       |JOIN m m2 ON gp.p2 = m2.pid
       |WHERE gp.p1 <> gp.p2 OR m1.doc_id < m2.doc_id
       |ORDER BY d1, d2""".stripMargin

  /** Window width (tokens) for [[dedupSpans]] and the novelty/curation
    * family — see [[TextOps.WindowK]] (shared with streaming ingest
    * curation so batch and stream agree on the window unit). */
  private val SpanK = TextOps.WindowK

  /** Exact duplicated-substring spans — the training-data dedup that
    * removes repeated PASSAGES, not whole documents (the published method
    * builds a corpus suffix array; see PAPERS.md on dedup families). The
    * Spark-first re-expression needs no suffix array: hash every
    * [[SpanK]]-token sliding window (md5 over the space-joined tokens, so
    * the oracle recomputes it bit-exactly), count occurrences corpus-wide
    * — a combiner-friendly groupBy on the window hash, the only shuffle,
    * linear in corpus tokens — keep windows seen at least twice anywhere
    * (second copy in the same doc counts, as in the suffix-array method),
    * then merge each doc's runs of consecutive duplicated windows into
    * spans with the islands trick (pos − row_number() is constant within a
    * consecutive run), and finally interval-merge spans that still overlap
    * or touch in TOKEN space (two duplicated windows whose positions differ
    * by a gap in (1, K) land in different islands but cover overlapping
    * tokens — without the merge, summing span_tokens double-counts them).
    * Returns one row per maximal duplicated span: (doc_id, span_start,
    * span_end, span_tokens), token positions 1-based inclusive, spans
    * disjoint and non-adjacent per doc. At 100 TB every stage is a scan,
    * one hash-shuffle agg, and a per-doc window — nothing quadratic,
    * nothing global. */
  private val dedupSpans: Q = (s, dir) => {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), expr("filter(split(text, ' '), x -> x != '')").as("t"))
      .filter(size(col("t")) >= SpanK)
    val wins = toks.select(col("doc_id"),
        explode(expr(
          s"""transform(sequence(1, size(t) - ${SpanK - 1}),
             |  i -> struct(i AS pos,
             |    md5(concat_ws(' ', slice(t, i, $SpanK))) AS h))""".stripMargin))
          .as("w"))
      .select(col("doc_id"), col("w.pos").cast("long").as("pos"), col("w.h").as("h"))
    // duplicated-window cut as a count over the h partition: the dup-set
    // form (groupBy(h) ≥2 → join back) shuffled the explode output twice —
    // the aggregate's partial-combine exchange and the join side's full-row
    // exchange have different payloads, so ReuseExchange cannot share them
    // and the tokenize→window→md5 map stage ran twice (r13 profile: two
    // ~0.7 s single-stage twin jobs). One exchange, same rows kept.
    val hW = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val islandW = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val spans = wins
      .withColumn("c", count(lit(1)).over(hW))
      .filter(col("c") >= 2)
      .withColumn("island", col("pos") - row_number().over(islandW))
      .groupBy("doc_id", "island")
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(SpanK - 1).cast("long")).as("span_end"))
    // interval-merge: islands whose window positions differ by a gap in
    // (1, K) overlap in token space; chain spans while each starts at or
    // before the running max end + 1 (classic gaps-and-islands cumsum)
    val mergeW = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("span_start")
    val prevEnd = max(col("span_end"))
      .over(mergeW.rowsBetween(Long.MinValue, -1))
    spans
      .withColumn("brk",
        when(prevEnd.isNull || col("span_start") > prevEnd + 1L, 1L).otherwise(0L))
      .withColumn("grp", sum(col("brk"))
        .over(mergeW.rowsBetween(Long.MinValue, 0)))
      .groupBy("doc_id", "grp")
      .agg(min(col("span_start")).as("span_start"),
        max(col("span_end")).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_tokens"))
      .orderBy("doc_id", "span_start")
  }

  private val dedupSpansSql = {
    val winConcat = (0 until SpanK).map(j => s"l[i+$j]").mkString(" || ' ' || ")
    s"""WITH toks AS (
       |  SELECT doc_id, $toksSql AS l FROM documents
       |), wins AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos, md5($winConcat) AS h
       |  FROM toks, unnest(range(1, len(l) - ${SpanK - 2})) AS u(i)
       |  WHERE len(l) >= $SpanK
       |), dup AS (
       |  SELECT h FROM wins GROUP BY h HAVING COUNT(*) >= 2
       |), isl AS (
       |  SELECT doc_id, pos,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM wins JOIN dup USING (h)
       |), sp AS (
       |  SELECT doc_id, min(pos) AS span_start,
       |    max(pos) + ${SpanK - 1} AS span_end
       |  FROM isl GROUP BY doc_id, island
       |), pe AS (
       |  SELECT doc_id, span_start, span_end,
       |    MAX(span_end) OVER (PARTITION BY doc_id ORDER BY span_start
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |  FROM sp
       |), mg AS (
       |  SELECT doc_id, span_start, span_end,
       |    SUM(CASE WHEN prev_end IS NULL OR span_start > prev_end + 1
       |             THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY span_start
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
       |  FROM pe
       |)
       |SELECT doc_id, min(span_start) AS span_start, max(span_end) AS span_end,
       |  max(span_end) - min(span_start) + 1 AS span_tokens
       |FROM mg GROUP BY doc_id, grp
       |ORDER BY doc_id, span_start""".stripMargin
  }

  /** Per-document n-gram novelty — the curation signal behind "how much of
    * this doc is boilerplate seen elsewhere": the fraction of a doc's
    * [[SpanK]]-token sliding windows whose hash is corpus-unique. Shares
    * [[dedupSpans]]'s window frame; the only shuffle is the same
    * combiner-friendly count on the window hash, so the operator is linear
    * in corpus tokens at any scale. novelty = (n_windows − n_dup) /
    * n_windows as an exact integer ratio (identical IEEE division both
    * engines — hash-exact, no tolerance). Docs with fewer than [[SpanK]]
    * tokens have no windows and are excluded, as in the LM scorers. */
  /** (doc_id, n_windows, n_dup, novelty) for every doc of `docs` (any
    * frame with doc_id + text) having at least [[SpanK]] tokens — the
    * shared core of [[textNovelty]] and [[textCuration]]. */
  private def noveltyFrameOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // spread first: with a raw single-split scan as input the tokenize →
    // window → md5 explode ran 1-wide ahead of the (h, doc) exchange; a
    // no-op for already-wide inputs (curationFrame's canonical frame) and
    // at real scale
    val toks = Tables.spread(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), expr("filter(split(text, ' '), x -> x != '')").as("t"))
      .filter(size(col("t")) >= SpanK)
    // n_windows is arithmetic on the token count — no explode pass needed
    // (the old per-doc COUNT over the exploded windows re-ran the whole
    // tokenize→window→md5 map stage a second time; guide §2.4)
    val perDoc = toks.select(col("doc_id"),
      (size(col("t")) - (SpanK - 1)).cast("long").as("n_windows"))
    val wins = toks.select(col("doc_id"),
        explode(expr(
          s"""transform(sequence(1, size(t) - ${SpanK - 1}),
             |  i -> md5(concat_ws(' ', slice(t, i, $SpanK))))""".stripMargin))
          .as("h"))
    // n_dup = windows whose hash occurs globally ≥ 2 times, WITH
    // multiplicity: one map-side-combinable (h, doc) count, a global
    // per-hash total as a window over the h clustering, then the per-doc
    // sum — same three exchanges as the old dup-set join plan, but the
    // explode runs once instead of three times and the hash self-join
    // disappears. Values are identical: Σ k over (h, doc) with tot ≥ 2
    // ≡ count of window rows whose h is in the ≥2 set.
    val dupPerDoc = wins.groupBy("h", "doc_id").agg(count(lit(1)).as("k"))
      .withColumn("tot", sum(col("k")).over(Window.partitionBy("h")))
      .filter(col("tot") >= 2)
      .groupBy("doc_id").agg(sum(col("k")).as("n_dup"))
    perDoc.join(dupPerDoc, Seq("doc_id"), "left")
      .withColumn("n_dup", coalesce(col("n_dup"), lit(0L)))
      .select(col("doc_id"), col("n_windows"), col("n_dup"),
        ((col("n_windows") - col("n_dup")).cast("double") /
          col("n_windows")).as("novelty"))
  }

  /** The CTE chain behind [[noveltyFrameOf]] (DuckDB dialect), ending in
    * `nv(doc_id, n_windows, n_dup, novelty)` over the `src` relation —
    * shared by [[textNoveltySql]] and [[textCurationSql]]. */
  private def noveltyCtesSql(src: String) = {
    val winConcat = (0 until SpanK).map(j => s"l[i+$j]").mkString(" || ' ' || ")
    s"""nv_toks AS (
       |  SELECT doc_id, $toksSql AS l FROM $src
       |), nv_wins AS MATERIALIZED (
       |  SELECT doc_id, md5($winConcat) AS h
       |  FROM nv_toks, unnest(range(1, len(l) - ${SpanK - 2})) AS u(i)
       |  WHERE len(l) >= $SpanK
       |), nv_dup AS (
       |  SELECT h FROM nv_wins GROUP BY h HAVING COUNT(*) >= 2
       |), nv_per_doc AS (
       |  SELECT doc_id, COUNT(*) AS n_windows FROM nv_wins GROUP BY doc_id
       |), nv_dup_per_doc AS (
       |  SELECT doc_id, COUNT(*) AS n_dup FROM nv_wins JOIN nv_dup USING (h)
       |  GROUP BY doc_id
       |), nv AS (
       |  SELECT p.doc_id, p.n_windows,
       |    COALESCE(d.n_dup, 0) AS n_dup,
       |    CAST(p.n_windows - COALESCE(d.n_dup, 0) AS DOUBLE) / p.n_windows
       |      AS novelty
       |  FROM nv_per_doc p LEFT JOIN nv_dup_per_doc d USING (doc_id)
       |)""".stripMargin
  }

  private val textNovelty: Q = (s, dir) =>
    noveltyFrameOf(Tables.documents(s, dir)).orderBy("doc_id")

  private val textNoveltySql =
    s"""WITH ${noveltyCtesSql("documents")}
       |SELECT doc_id, n_windows, n_dup, novelty FROM nv
       |ORDER BY doc_id""".stripMargin

  /** Cross-source overlap matrix — the dataset-mixing diagnostic: for every
    * pair of sources sharing at least one [[SpanK]]-token window, the count
    * of distinct shared window hashes and the Jaccard overlap of the two
    * sources' window-hash sets (exact integer ratio). The (hash, source)
    * frame is DISTINCT before the self-join, so a hash joins at most
    * n_sources rows against n_sources — per-hash fan-out is bounded by the
    * (small) source count squared no matter how hot the window is, and the
    * output is at most C(n_sources, 2) rows. Pairs with zero shared
    * windows are absent (inner join). */
  private val textOverlapMatrix: Q = (s, dir) => {
    // spread before the window explode: the tokenize→window→md5 map work
    // pipelined onto the single-split fixture scan as one 0.86 s task
    // (r14 profile); no-op at real scale where the scan has >= cores splits
    val wins = Tables.spread(
        Tables.documents(s, dir).select(col("source"), col("text")))
      .select(col("source"), expr("filter(split(text, ' '), x -> x != '')").as("t"))
      .filter(size(col("t")) >= SpanK)
      .select(col("source"),
        explode(expr(
          s"""transform(sequence(1, size(t) - ${SpanK - 1}),
             |  i -> md5(concat_ws(' ', slice(t, i, $SpanK))))""".stripMargin))
          .as("h"))
      .distinct()
      // persisted: feeds per-source counts + both self-join sides — the
      // tokenize→window→md5 explode + distinct shuffle otherwise re-executes
      // per consumer (the join sides share one exchange via ReuseExchange,
      // the per-source count does not)
      .transform(Materialize.persist)
    val perSrc = wins.groupBy("source").agg(count(lit(1)).as("n"))
    wins.as("a").join(wins.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("shared_windows"))
      .join(perSrc.select(col("source").as("src_a"), col("n").as("n_a")), Seq("src_a"))
      .join(perSrc.select(col("source").as("src_b"), col("n").as("n_b")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("shared_windows"),
        (col("shared_windows").cast("double") /
          (col("n_a") + col("n_b") - col("shared_windows"))).as("overlap"))
      .orderBy("src_a", "src_b")
  }

  private val textOverlapMatrixSql = {
    val winConcat = (0 until SpanK).map(j => s"l[i+$j]").mkString(" || ' ' || ")
    s"""WITH toks AS (
       |  SELECT source, $toksSql AS l FROM documents
       |), wins AS (
       |  SELECT DISTINCT source, md5($winConcat) AS h
       |  FROM toks, unnest(range(1, len(l) - ${SpanK - 2})) AS u(i)
       |  WHERE len(l) >= $SpanK
       |), per_src AS (
       |  SELECT source, COUNT(*) AS n FROM wins GROUP BY source
       |), shared AS (
       |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared_windows
       |  FROM wins a JOIN wins b ON a.h = b.h AND a.source < b.source
       |  GROUP BY 1, 2
       |)
       |SELECT s.src_a, s.src_b,
       |  pa.n AS n_a, pb.n AS n_b, s.shared_windows,
       |  CAST(s.shared_windows AS DOUBLE) / (pa.n + pb.n - s.shared_windows)
       |    AS overlap
       |FROM shared s
       |JOIN per_src pa ON s.src_a = pa.source
       |JOIN per_src pb ON s.src_b = pb.source
       |ORDER BY s.src_a, s.src_b""".stripMargin
  }

  /** Curation verdict precedence thresholds ([[textCuration]]) — shared
    * with streaming ingest curation via [[TextOps]]. */
  private val CurationQualityMin = TextOps.CurationQualityMin
  private val CurationNoveltyMin = TextOps.CurationNoveltyMin

  /** One-pass corpus curation — the composed keep/drop decision a
    * training-data pipeline runs over every document, with the FIRST
    * failing rule as the recorded reason (precedence mirrors the cheap-to-
    * expensive order a production filter chain short-circuits in):
    * `too_short` (< [[SpanK]] tokens — nothing to window), `exact_dup`
    * (not the canonical md5 copy; keeper = min doc_id), `low_quality`
    * (composite quality score < [[CurationQualityMin]]), `boilerplate`
    * (n-gram novelty < [[CurationNoveltyMin]]), else `keep`. Composes the
    * exact-dedup digest, the quality scalar, and [[noveltyFrameOf]] — three
    * per-doc signals, each one scan + one hash agg, joined on doc_id/digest;
    * nothing here shuffles more than the signals do standalone. Novelty is
    * computed among CANONICAL docs only (dedup-then-novelty, the production
    * order): an exact copy must flag its keeper `exact_dup`-side, not
    * poison the keeper's window uniqueness into a spurious `boilerplate`.
    * Short docs and non-keepers have NULL novelty: the NULL comparison
    * falls through the CASE identically on both engines. */
  private[queries] def curationFrame(s: SparkSession, dir: String,
      persistBase: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // keeper = min doc_id over the digest PARTITION (same value set the old
    // groupBy+self-join produced, one exchange instead of two plan branches)
    // and the frame is persisted: it feeds the verdict projection AND the
    // canonical-doc novelty chain — unpersisted, the tokenize + quality +
    // md5 scan re-executed 4-6× across the branches (text_curation was
    // 3.2 s at sf0.1; this frame also backs pipeline_corpus, q_feature_gain
    // and text_domain_curation). Evictable blocks, recompute fallback.
    // `persistBase = false` is for callers that immediately localCheckpoint
    // the whole chain (q_feature_gain): the checkpoint executes the plan
    // once anyway — ReuseExchange shares the h-window exchange across the
    // two branches there — so the persist only adds block-write cost
    // (measured +0.3-0.4 s in r13).
    // spread before tokenize/quality/md5: that map work sits BELOW the
    // h-window exchange and inherited the single-split fixture scan's
    // 1-wide parallelism; no-op at real scale (>= cores splits)
    val scored = Tables.spread(
        Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("toks"))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("quality_score", TextOps.qualityScore(col("text"), col("toks")))
      .withColumn("h", md5(col("text")))
      .withColumn("keeper", min(col("doc_id")).over(Window.partitionBy("h")))
      .drop("toks")
    val withKeeper =
      if (persistBase)
        scored.transform(Materialize.persist)
      else scored
    val canonDocs = withKeeper
      .filter(col("doc_id") === col("keeper"))
      .select(col("doc_id"), col("text"))
    withKeeper
      .join(noveltyFrameOf(canonDocs).select("doc_id", "novelty"),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"), col("quality_score"), col("novelty"),
        when(col("n_toks") < SpanK, "too_short")
          .when(col("doc_id") =!= col("keeper"), "exact_dup")
          .when(col("quality_score") < CurationQualityMin, "low_quality")
          .when(col("novelty") < CurationNoveltyMin, "boilerplate")
          .otherwise("keep").as("verdict"))
  }

  private val textCuration: Q = (s, dir) =>
    curationFrame(s, dir).orderBy("doc_id")

  /** The curation CTE chain (base → canon → canon_docs → novelty →
    * verdicts(doc_id, n_toks, quality_score, novelty, verdict)) without a
    * WITH prefix — the SQL twin of [[curationFrame]] for composing
    * oracles ([[graft.queries.Web]]'s per-domain curation). Lazy for the
    * same declaration-order reason as pipelineCorpusSql. */
  private[queries] lazy val curationCtesSql =
    s"""base AS MATERIALIZED (
       |  SELECT doc_id, text, md5(text) AS h,
       |    CAST(len($toksSql) AS BIGINT) AS n_toks,
       |    $qualityScalarSql AS quality_score
       |  FROM documents
       |), canon AS MATERIALIZED (
       |  SELECT h, min(doc_id) AS keeper FROM base GROUP BY h
       |), canon_docs AS (
       |  SELECT b.doc_id, b.text FROM base b JOIN canon c USING (h)
       |  WHERE b.doc_id = c.keeper
       |), ${noveltyCtesSql("canon_docs")}, verdicts AS MATERIALIZED (
       |  SELECT b.doc_id, b.n_toks, b.quality_score, nv.novelty,
       |    CASE WHEN b.n_toks < $SpanK THEN 'too_short'
       |         WHEN b.doc_id <> c.keeper THEN 'exact_dup'
       |         WHEN b.quality_score < $CurationQualityMin THEN 'low_quality'
       |         WHEN nv.novelty < $CurationNoveltyMin THEN 'boilerplate'
       |         ELSE 'keep' END AS verdict
       |  FROM base b JOIN canon c USING (h) LEFT JOIN nv USING (doc_id)
       |)""".stripMargin

  private val textCurationSql =
    s"""WITH base AS MATERIALIZED (
       |  SELECT doc_id, text, md5(text) AS h,
       |    CAST(len($toksSql) AS BIGINT) AS n_toks,
       |    $qualityScalarSql AS quality_score
       |  FROM documents
       |), canon AS MATERIALIZED (
       |  SELECT h, min(doc_id) AS keeper FROM base GROUP BY h
       |), canon_docs AS (
       |  SELECT b.doc_id, b.text FROM base b JOIN canon c USING (h)
       |  WHERE b.doc_id = c.keeper
       |), ${noveltyCtesSql("canon_docs")}
       |SELECT b.doc_id, b.n_toks, b.quality_score, nv.novelty,
       |  CASE WHEN b.n_toks < $SpanK THEN 'too_short'
       |       WHEN b.doc_id <> c.keeper THEN 'exact_dup'
       |       WHEN b.quality_score < $CurationQualityMin THEN 'low_quality'
       |       WHEN nv.novelty < $CurationNoveltyMin THEN 'boilerplate'
       |       ELSE 'keep' END AS verdict
       |FROM base b JOIN canon c USING (h) LEFT JOIN nv USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin

  /** Incremental curation ([[graft.streaming.IngestCuration.batchTwin]]):
    * the hash-split 'train' fraction plays the accumulated corpus, the
    * remaining 20% plays the arriving stream — each arriving doc gets the
    * full curation verdict with FIRST-COPY-WINS incremental semantics
    * (exact_dup on any earlier digest, corpus or stream; a window
    * occurrence is non-novel iff seen in a corpus-canonical doc, an
    * earlier canonical arrival, or an earlier position of the same doc).
    * The streaming form over any batching lands this exact table —
    * StreamingSpec proves it across a restart. */
  private val textCurationInc: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val isEx = substring(md5(col("doc_id").cast("string")), 1, 12) <
      graft.analytics.EventAnalytics.TrainBoundary
    graft.streaming.IngestCuration.batchTwin(d.filter(isEx), d.filter(!isEx))
  }

  private val textCurationIncSql = {
    val bd = graft.analytics.EventAnalytics.TrainBoundary
    val split = s"substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) < '$bd'"
    val winConcat = (0 until SpanK).map(j => s"l[i+$j]").mkString(" || ' ' || ")
    s"""WITH ex AS (
       |  SELECT doc_id, text FROM documents WHERE $split
       |), inc AS (
       |  SELECT doc_id, text FROM documents WHERE NOT ($split)
       |), exd AS (
       |  SELECT DISTINCT md5(text) AS h FROM ex
       |), exk AS (
       |  SELECT md5(text) AS h, min(doc_id) AS k FROM ex GROUP BY 1
       |), ex_canon AS (
       |  SELECT e.doc_id, e.text FROM ex e
       |  JOIN exk ON md5(e.text) = exk.h AND e.doc_id = exk.k
       |), ec_toks AS (
       |  SELECT doc_id, $toksSql AS l FROM ex_canon
       |), ecw AS (
       |  SELECT DISTINCT md5($winConcat) AS h
       |  FROM ec_toks, unnest(range(1, len(l) - ${SpanK - 2})) AS u(i)
       |  WHERE len(l) >= $SpanK
       |), inc_base AS (
       |  SELECT doc_id, text, md5(text) AS h,
       |    CAST(len($toksSql) AS BIGINT) AS n_toks,
       |    $qualityScalarSql AS quality_score
       |  FROM inc
       |), firsti AS (
       |  SELECT h, min(doc_id) AS first_id FROM inc_base GROUP BY 1
       |), flagged AS (
       |  SELECT b.*, (exd.h IS NOT NULL OR b.doc_id > f.first_id) AS is_exact
       |  FROM inc_base b
       |  LEFT JOIN exd ON b.h = exd.h
       |  JOIN firsti f ON b.h = f.h
       |), ic_toks AS (
       |  SELECT doc_id, $toksSql AS l FROM flagged WHERE NOT is_exact
       |), occ AS (
       |  SELECT o.doc_id, o.pos, o.h,
       |    (ecw.h IS NOT NULL) AS in_idx,
       |    row_number() OVER (PARTITION BY o.h ORDER BY o.doc_id, o.pos) AS rn
       |  FROM (
       |    SELECT doc_id, CAST(i AS BIGINT) AS pos, md5($winConcat) AS h
       |    FROM ic_toks, unnest(range(1, len(l) - ${SpanK - 2})) AS u(i)
       |    WHERE len(l) >= $SpanK
       |  ) o LEFT JOIN ecw ON o.h = ecw.h
       |), nv AS (
       |  SELECT doc_id, COUNT(*) AS n_windows,
       |    SUM(CASE WHEN in_idx OR rn > 1 THEN 1 ELSE 0 END) AS n_dup
       |  FROM occ GROUP BY doc_id
       |)
       |SELECT f.doc_id, f.n_toks, f.quality_score,
       |  CAST(nv.n_windows - nv.n_dup AS DOUBLE) / nv.n_windows AS novelty,
       |  CASE WHEN f.n_toks < $SpanK THEN 'too_short'
       |       WHEN f.is_exact THEN 'exact_dup'
       |       WHEN f.quality_score < ${TextOps.CurationQualityMin} THEN 'low_quality'
       |       WHEN (CAST(nv.n_windows - nv.n_dup AS DOUBLE) / nv.n_windows)
       |            < ${TextOps.CurationNoveltyMin} THEN 'boilerplate'
       |       ELSE 'keep' END AS verdict
       |FROM flagged f LEFT JOIN nv USING (doc_id)
       |ORDER BY f.doc_id""".stripMargin
  }

  // -------------------------------------------------------------- registry
  val entries: Seq[Entry] = Seq(
    Entry("text_stats", textStats, textStatsSql),
    Entry("text_quality", textQuality, textQualitySql),
    Entry("text_lang_id", textLangId, textLangIdSql),
    Entry("text_fingerprint", textFingerprint, textFingerprintSql),
    Entry("text_bm25", textBm25, textBm25Sql),
    Entry("text_repetition", textRepetition, textRepetitionSql),
    Entry("text_redact", textRedact, textRedactSql),
    Entry("text_vocab", textVocab, textVocabSql),
    Entry("text_decontaminate", textDecontaminate, textDecontaminateSql),
    Entry("dedup_canonical", dedupCanonical, dedupCanonicalSql),
    Entry("dedup_pipeline", dedupPipelineQ, dedupPipelineSql),
    Entry("dedup_incremental", dedupIncremental, dedupIncrementalSql),
    Entry("text_lm_score", textLmScore, textLmScoreSql),
    Entry("text_lm_sampled", textLmSampled, textLmSampledSql),
    Entry("dedup_exact", dedupExact, dedupExactSql),
    Entry("dedup_minhash_sigs", dedupMinhash, dedupMinhashSql),
    Entry("dedup_lsh_pairs", dedupLshPairs, dedupLshPairsSql),
    Entry("dedup_jaccard", dedupJaccard, dedupJaccardSql),
    Entry("dedup_jaccard_rare", dedupJaccardRare, dedupJaccardRareSql),
    Entry("dedup_simhash", dedupSimhash, dedupSimhashSql),
    // PRECONDITION: this oracle is the EXHAUSTIVE jaccard — it equals the
    // LSH-candidate-restricted engine result only while LSH recall is
    // complete on the corpus (asserted for sf0.001/sf0.01/sf0.1 by the
    // round-2 verify runs + DedupSpec's recall test). At a larger sf where
    // a true near-dup pair misses every band, a mismatch here means lost
    // RECALL, not a wrong engine answer — re-check recall before debugging.
    Entry("dedup_near_dup", dedupNearDup, dedupNearDupSql),
    Entry("dedup_clusters", dedupClusters, dedupClustersSql),
    Entry("dedup_clusters_lss", dedupClustersChain, dedupClustersChainSql),
    Entry("dedup_containment", dedupContainment, dedupContainmentSql),
    Entry("dedup_fuzzy", dedupFuzzy, dedupFuzzySql),
    Entry("dedup_fuzzy_bounded", dedupFuzzyBounded, dedupFuzzyBoundedSql),
    Entry("dedup_spans", dedupSpans, dedupSpansSql),
    Entry("text_novelty", textNovelty, textNoveltySql),
    Entry("text_curation", textCuration, textCurationSql),
    Entry("text_overlap_matrix", textOverlapMatrix, textOverlapMatrixSql),
    Entry("text_curation_inc", textCurationInc, textCurationIncSql),
    Entry("dedup_sorted_nbrs", dedupSortedNeighbors, dedupSortedNeighborsSql),
    Entry("emb_cosine_pairs", embCosinePairs, embCosinePairsSql),
    Entry("emb_lsh_pairs", embLshPairs, embLshPairsSql),
    Entry("emb_lsh_pairs_banded", embLshPairsBanded,
      embLshPairsSqlOver("", LshBandedCap)),
    Entry("emb_centroids", embCentroids, embCentroidsSql),
    Entry("emb_power_pc1", embPowerPc1, embPowerPc1Sql),
    Entry("sim_centroid_assign", simCentroidAssign, simCentroidAssignSql),
    Entry("sim_semdedup", simSemDedup, simSemDedupSql),
    Entry("sim_semdedup_banded", simSemDedupBanded,
      simSemDedupSqlOver("", SemDedupBandedCap)),
    Entry("sim_semdedup_inc", simSemDedupInc, simSemDedupIncSql),
    Entry("q_leak_split", leakSplit, leakSplitSql),
    Entry("pipeline_corpus", pipelineCorpus, pipelineCorpusSql),
    Entry("sim_cosine_topk", simTopK, simTopKSql),
    Entry("sim_hybrid_rrf", hybridRrf, hybridRrfSql),
    Entry("sim_sq_topk", simSqTopK, simSqTopKSql),
    Entry("sim_silhouette", simSilhouette, simSilhouetteSql),
    Entry("sim_ann_topk", simAnnTopK, simAnnTopKSql),
    Entry("sim_ivf_topk", simIvfTopK, simIvfTopKSql),
    Entry("q_kmv_distinct", kmvDistinct, kmvDistinctSql),
    Entry("q_kmv_quantile", kmvQuantile, kmvQuantileSql),
    Entry("sim_kmeans", simKmeans, simKmeansSql),
    Entry("mm_features", mmFeatures),
    Entry("mm_phash", mmPhash),
    Entry("mm_phash_pairs", mmPhashPairs, mmPhashPairsSql),
    Entry("mm_audio_fp", mmAudioFp),
    Entry("mm_audio_fp_pairs", mmAudioFpPairs, mmAudioFpPairsSql),
    Entry("mm_video_fhash", mmVideoFhash),
    Entry("mm_video_pairs", mmVideoPairs, mmVideoPairsSql),
    Entry("emb_rand_proj", embRandProj, embRandProjSql),
    Entry("text_quality_kappa", qualityKappa, qualityKappaSql),
    Entry("emb_drift", embDrift, embDriftSql),
  )
}
