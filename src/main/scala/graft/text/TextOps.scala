package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize

/** Text-analysis operators for large-scale training-data pipelines: token
  * statistics, quality scoring, language ID, fingerprinting, and the shingle
  * machinery shared by the dedup family ([[graft.dedup.Dedup]]).
  *
  * Every op is a pure column expression (whole-stage codegen, no UDFs), and
  * every numeric output is derived from integer counts or decimal-exact sums
  * so the DuckDB oracle twins hash-match bit-for-bit.
  */
object TextOps {

  /** Whitespace tokens, empties dropped. DuckDB twin:
    * `list_filter(string_split(text, ' '), x -> x <> '')`. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= lit(""))

  /** Sliding-window width (tokens) shared by the substring-dedup /
    * novelty / curation family (`dedup_spans`, `text_novelty`,
    * `text_curation`, `text_overlap_matrix`, streaming ingest curation).
    * Production substring dedup uses ~50; 8 keeps the fixtures' planted
    * duplicates detectable. */
  val WindowK = 8

  /** Curation thresholds shared by the batch verdict query
    * (`text_curation`) and streaming ingest curation: drop below these on
    * the composite quality score / n-gram novelty respectively. */
  val CurationQualityMin = 0.45
  val CurationNoveltyMin = 0.5

  /** BPE-ish subword count: runs of letters, runs of digits, or single
    * other non-space chars. DuckDB twin:
    * `len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))`. */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"))

  /** Distinct n-gram word shingles (default 3). Guarded for short docs.
    * PERFORMANCE: pass a *materialized* token column (`.as("toks")` in a
    * prior projection), never `tokens(text)` inline — Catalyst doesn't CSE
    * inside HOF lambdas, so an inline token expression is re-evaluated per
    * element access. DuckDB twin:
    * `list_distinct(list_transform(range(1, len(l)-1), i -> l[i]||' '||l[i+1]||' '||l[i+2]))`. */
  def shingles(toks: Column, n: Int = 3): Column =
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + lit(1))): _*))))
      .otherwise(array().cast("array<string>"))

  /** Function words per language for the n-gram/stopword language-ID
    * heuristic. The zh entry uses romanized function words (the fixture
    * corpus is latin-script). */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "a"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un"),
    "es" -> Seq("el", "los", "las", "es", "y", "un"),
    "zh" -> Seq("de", "shi", "le", "zai", "he"),
  )

  /** Count of tokens contained in `words` (with repeats). */
  def stopwordCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit(_)): _*)))

  /** Language ID: argmax of per-language function-word hits; ties resolve in
    * [[LangStopwords]] order; zero hits → "und". */
  def langId(toks: Column): Column = {
    val scores = LangStopwords.map { case (l, ws) => l -> stopwordCount(toks, ws) }
    val best = greatest(scores.map(_._2): _*)
    scores.reverse.foldLeft(lit("und")) { case (acc, (l, s)) =>
      when(s > 0 && s === best, lit(l)).otherwise(acc)
    }
  }

  /** Composite quality score in [0,1]:
    * 0.4·min(1, chars/500) + 0.3·type-token-ratio + 0.3·min(1, 10·stop-ratio).
    * All terms from integer counts → engine-exact, so the raw double is
    * bit-identical across engines and needs NO rounding (ROUND at a fixed
    * scale is itself an engine-divergence risk: exact .5·10⁻ⁿ boundaries
    * round differently between Spark's BigDecimal HALF_UP and DuckDB —
    * observed once in 5000 docs at sf0.1).
    * `toks` should be a materialized token column (see [[shingles]]). */
  def qualityScore(text: Column, toks: Column): Column = {
    val n = size(toks).cast("double")
    val lengthScore = least(lit(1.0), length(text).cast("double") / 500.0)
    val ttr = size(array_distinct(toks)).cast("double") / n
    val stopRatio = stopwordCount(toks, LangStopwords.flatMap(_._2).distinct)
      .cast("double") / n
    lit(0.4) * lengthScore + lit(0.3) * ttr +
      lit(0.3) * least(lit(1.0), stopRatio * 10.0)
  }

  /** Whole-document fingerprint: md5 of the token-normalized text (lowercase,
    * single-space). Identical md5 on the DuckDB side. */
  def fingerprint(text: Column): Column =
    md5(lower(concat_ws(" ", tokens(text))))

  /** Non-distinct word n-grams — the repetition-measure companion to the
    * (distinct) [[shingles]]. Same materialized-token caveat. DuckDB twin:
    * `list_transform(range(1, len(l) - n + 2), i -> l[i]||' '||…)`. */
  def ngrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + lit(1))): _*)))
      .otherwise(array().cast("array<string>"))

  /** Occurrence count of the most frequent element of `arr` (null on
    * empty): longest run of equal adjacent elements after a sort —
    * O(n log n) per row vs the naive O(distinct·n) count-per-distinct
    * form, which was 18 s over the sf0.1 corpus against ~1 s for this.
    * Tie-safe: only the max COUNT is used, never which element attains
    * it. PERFORMANCE: pass a *materialized* array column — Catalyst
    * doesn't CSE inside HOF lambdas, so an inline array expression is
    * re-evaluated per element access. DuckDB twin (values identical, its
    * own cost model):
    * `list_max(list_transform(list_distinct(a), g -> len(list_filter(a, x -> x = g))))`. */
  def topCount(arr: Column): Column = {
    val best = aggregate(array_sort(arr),
      struct(lit(null).cast("string").as("prev"),
        lit(0).as("run"), lit(0).as("best")),
      (st, x) => {
        val run = when(x === st("prev"), st("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(st("best"), run).as("best"))
      },
      st => st("best"))
    when(best > 0, best) // empty array -> null, as array_max would return
  }

  /** Gopher-style repetition signals (Rae et al. 2112.11446 §A1.1, adapted
    * to token granularity): fraction of tokens covered by the single most
    * frequent bigram, and fraction of trigram slots occupied by repeats.
    * All outputs derive from integer counts → oracle hash-exact.
    *
    * `bg`/`tg` must be MATERIALIZED columns holding `ngrams(toks, 2)` /
    * `ngrams(toks, 3)` (project them first): each is referenced by
    * several sub-expressions, and HOF lambdas re-evaluate inline array
    * expressions per element access. */
  def repetitionStats(toks: Column, bg: Column, tg: Column)
      : (Column, Column, Column) = {
    val topBigramFrac = (topCount(bg) * lit(2)).cast("double") / size(toks)
    val dupTrigramFrac = when(size(tg) > 0,
      (size(tg) - size(array_distinct(tg))).cast("double") / size(tg))
    val dupTokenFrac =
      (size(toks) - size(array_distinct(toks))).cast("double") / size(toks)
    (topBigramFrac, dupTrigramFrac, dupTokenFrac)
  }

  /** PII patterns, restricted to the Java-regex ∩ RE2 common subset so the
    * Spark and DuckDB engines match the same spans. */
  val EmailRe  = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val WalletRe = "0x[a-fA-F0-9]{40}"
  val PhoneRe  = "\\+[0-9]{1,2} [0-9]{3}-[0-9]{4}"

  /** Scrub PII spans, innermost-first (wallets before emails would not
    * matter here, but a fixed order makes the output reproducible).
    * DuckDB twin needs the 'g' flag — its regexp_replace is first-match
    * by default where Spark's replaces all. */
  /** Bigram language-model quality score per document — the CCNet-style
    * "how predictable is this text under a corpus LM" filter, in a
    * log-free engine-exact form. The model is trained on the corpus
    * itself: P(w2 | w1) = c(w1 w2) / c(w1 ·) over bigram OCCURRENCES
    * (repeats count). A document's score is the arithmetic mean of its
    * bigrams' probabilities — the mean (not the geometric mean behind
    * true perplexity) because log/exp differ across libm implementations
    * in the last ulp and would break the bit-exact oracle hash; ranking
    * power is equivalent for filtering. Each probability is a ratio of
    * exact integers (double division, identical IEEE op both engines)
    * summed decimal-exact. Docs with < 2 tokens have no bigrams and are
    * excluded.
    *
    * Scale note: the model counts shuffle on (w1, w2) — correct and
    * oracle-exact, but a full-corpus shuffle. The 100-TB form is
    * [[bigramLmScoreSampled]]: train on a hash sample, prune, broadcast.
    * Returns (doc_id, n_bigrams, lm_score).
    *
    * Persists the bigram frame (it feeds the model counts AND the scoring
    * scan), under the block-lifetime contract on [[graft.Materialize]]. */
  def bigramLmScore(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    // one row per bigram occurrence; feeds the model counts AND scoring
    val bg = toks.select(col("doc_id"),
        explode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .transform(Materialize.persist)
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    bg.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .withColumn("p", col("c12").cast("double") / col("c1"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("p").cast(org.apache.spark.sql.types.DecimalType(38, 12)))
          .cast("double") / count(lit(1))).as("lm_score"))
      .orderBy("doc_id")
  }

  /** The 100-TB scale path for [[bigramLmScore]]: train the bigram model
    * on a deterministic md5-prefix hash sample of the corpus (the
    * [[graft.analytics.CorpusOps.rateBoundary]] draw — engine-exact and
    * partitioning-invariant), prune bigrams seen fewer than `minCount`
    * times in the sample, broadcast the pruned model, and score EVERY
    * document in one scan + one broadcast-hash join. No full-corpus
    * shuffle on (w1, w2) anywhere: the only shuffle is the sample's model
    * aggregation, and c(w1 ·) is derived from the (w1, w2) counts by a
    * second re-aggregation of the SAME shuffle output (Σ_w2 c12 — the
    * exchange is identical in both branches, so Spark's ReuseExchange
    * runs it once).
    *
    * Semantics vs the in-query form: P(w2|w1) = c_s(w1 w2) / c_s(w1 ·)
    * over the sample, with pruned/unseen bigrams contributing probability
    * 0 — the model assigns them no mass, a harsher penalty than smoothing
    * but monotone-equivalent for filtering (DedupSpec measures the rank
    * agreement on a predictability gradient and the per-doc value
    * agreement on the fixtures). `n_bigrams` still counts ALL of a doc's
    * bigrams, so
    * the mean's denominator is the document, not the model's coverage.
    * Docs with < 2 tokens are excluded, as in the full form. Returns
    * (doc_id, n_bigrams, lm_score). */
  def bigramLmScoreSampled(docs: DataFrame, sampleRate: Double,
                           minCount: Long = 2L): DataFrame = {
    val model = bigramLmModel(docs, sampleRate, minCount)
    lmBigrams(docs)
      .join(broadcast(model), Seq("w1", "w2"), "left")
      .withColumn("p", coalesce(col("p"), lit(0.0)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("p").cast(org.apache.spark.sql.types.DecimalType(38, 12)))
          .cast("double") / count(lit(1))).as("lm_score"))
      .orderBy("doc_id")
  }

  /** One row per bigram occurrence of `docs` — the shared front end of the
    * sampled-LM train and score passes. */
  private def lmBigrams(d: DataFrame): DataFrame = {
    val toks = d.select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    toks.select(col("doc_id"),
        explode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
  }

  /** The pruned conditional-probability table [[bigramLmScoreSampled]]
    * broadcasts: (w1, w2, p) with p = c_s(w1 w2)/c_s(w1 ·) over the
    * md5-prefix hash sample, keeping only bigrams seen >= `minCount`
    * times. */
  private def bigramLmModel(docs: DataFrame, sampleRate: Double,
                    minCount: Long): DataFrame = {
    val bound = graft.analytics.CorpusOps.rateBoundary(sampleRate)
    val trainBg = lmBigrams(docs.filter(
      substring(md5(col("doc_id").cast("string")), 1, 12) < lit(bound)))
    val c12 = trainBg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    // denominator BEFORE pruning: dropping rare (w1,w2) rows thins the
    // broadcast table, it must not remove mass from c(w1 ·)
    val c1 = c12.groupBy("w1").agg(sum(col("c12")).as("c1"))
    c12.filter(col("c12") >= minCount)
      .join(c1, Seq("w1"))
      .select(col("w1"), col("w2"),
        (col("c12").cast("double") / col("c1")).as("p"))
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
    * 2023, arXiv:2302.03169): select raw-corpus documents that look like a
    * TARGET distribution by (1) hashing tokens into `buckets` features,
    * (2) scoring each document with the importance log-ratio
    * Σ_tokens [ln p̂_target(b) − ln p̂_raw(b)] under add-one-smoothed
    * bucket unigram models, and (3) sampling ∝ weight via the Gumbel
    * trick (rank by ln(−ln u) − logw, u a seeded md5 uniform — the same
    * A-ES family as `q_weighted_sample`, done in log space so exp() is
    * never evaluated).
    *
    * Engine-exactness: every ln() is rounded to 9 dp and summed as
    * DECIMAL(38,12) (order-independent), the Gumbel key is rounded to
    * 6 dp with a doc_id tie-break before ranking — the house discipline
    * for transcendental chains. The md5 bucket/draw replays in SQL.
    *
    * Scale: two bucket-count aggregates (`buckets` rows each, broadcast
    * back), one scan to score, a two-phase top-k. No all-corpus shuffle:
    * the model is O(buckets), exactly DSIR's point — at 100 TB the
    * hashed model still fits one broadcast. */
  def dsirSample(docs: DataFrame, isTarget: Column, buckets: Int,
                 k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // spread before the token explode + per-token md5 (1-wide on the
    // single-split fixture scan otherwise; no-op at real scale)
    val tok = graft.queries.Tables.spread(
        docs.select(col("doc_id"), col("lang"), isTarget.as("is_t"),
          col("text")))
      .select(col("doc_id"), col("lang"), col("is_t"),
        explode(tokens(col("text"))).as("w"))
      .withColumn("b",
        conv(substring(md5(concat(lit("dsir|"), col("w"))), 1, 8), 16, 10)
          .cast("long") % buckets)
    // `buckets` rows, materialized once: the corpus totals are exactly the
    // column sums of the per-bucket counts, so deriving them here removes
    // a THIRD full execution of the token-explode subtree (totals, model
    // and the scoring join were three differently-keyed consumers; the
    // scoring scan below stays the intended second pass — DSIR's
    // two-scan shape)
    val bucketCounts = tok.groupBy("b")
      .agg(count(lit(1)).as("cr"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"))
      .transform(Materialize.checkpoint)
    val totals = bucketCounts.agg(sum(col("cr")).as("nr"),
      sum(col("ct")).as("nt"))
    val model = bucketCounts
      .crossJoin(broadcast(totals))
      .select(col("b"), round(
        log((col("ct") + 1).cast("double") / (col("nt") + buckets)) -
          log((col("cr") + 1).cast("double") / (col("nr") + buckets)), 9)
        .cast(org.apache.spark.sql.types.DecimalType(38, 12)).as("lr"))
    // the PUBLISHED (and key-feeding) weight is the 6-dp round of the
    // exact decimal sum — the Gumbel key must subtract the same rounded
    // value the oracle ranks with, not the raw double
    val logw = tok.join(broadcast(model), "b")
      .groupBy("doc_id", "lang")
      .agg(round(sum(col("lr")).cast("double"), 6).as("logw"))
    val u = (conv(substring(md5(concat(lit("dsir-u|"),
      col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long").cast("double") + lit(0.5)) / lit(4294967296.0)
    val keyed = logw.select(col("doc_id"), col("lang"), col("logw"),
      round(log(-log(u)) - col("logw"), 6).as("gk"))
    // orderBy().limit() plans as TakeOrderedAndProject — per-partition
    // top-k then a k-row merge, so no task ever sorts the corpus; the
    // row_number window after it runs over exactly k rows (a bounded
    // constant frame, the sim_hybrid_rrf precedent)
    val top = keyed.orderBy(col("gk"), col("doc_id")).limit(k)
    top.withColumn("rk", row_number().over(
        Window.orderBy(col("gk"), col("doc_id"))))
      .select(col("rk"), col("doc_id"), col("lang"), col("logw"))
      .orderBy("rk")
  }

  def redactPii(text: Column): Column = {
    val passes = Seq(EmailRe -> "<EMAIL>", WalletRe -> "<WALLET>",
      PhoneRe -> "<PHONE>")
    passes.foldLeft(text) { case (c, (re, tag)) =>
      regexp_replace(c, re, tag)
    }
  }
}
