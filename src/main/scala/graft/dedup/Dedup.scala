package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize
import graft.queries.Tables
import graft.text.TextOps

/** Deduplication operators for training-data pipelines, each designed
  * shuffle-light for the 100 TB posture:
  *
  *  - exact: one hash-aggregate on md5(text) — the only shuffle is on the
  *    16-byte digest, never the document body.
  *  - MinHash: shingle explode → k min-aggregates (partial+final combine
  *    means the shuffle carries k×32-byte signatures per doc, not shingles).
  *  - LSH banding: signatures → band keys → self-join *on band key only* —
  *    candidate generation is an equi-join Catalyst can hash-partition;
  *    no all-pairs comparison ever happens.
  *  - SimHash: token explode → 16 conditional-sum votes → bit string.
  *  - n-gram Jaccard: exact verify on LSH candidates (or standalone at
  *    moderate scale) via shingle equi-join.
  *  - embedding cosine: same-bucket (here: same-label) pair join with
  *    decimal-exact dot products.
  *
  * All hash material is md5 (identical in Spark and DuckDB), so every
  * operator has an exact oracle twin.
  *
  * Persisted and checkpointed intermediates follow the block-lifetime
  * contract written down on [[graft.Materialize]].
  */
object Dedup {

  /** Exact dedup: representative (min doc_id) + multiplicity per distinct
    * text hash. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n"))
      .orderBy("h")

  val MinhashK = 16
  val LshBands = 4 // 4 bands × 4 rows

  /** Per-doc exploded distinct shingles: (doc_id, shingle), via the fused
    * codegen'd [[graft.functions.WordShinglesExpr]] (identical semantics to
    * the composable TextOps.shingles form — see its scaladoc for why the
    * HOF route was 8× slower even with materialized tokens). */
  def shingled(docsRaw: DataFrame, n: Int = 3): DataFrame = {
    val docs = Tables.spread(docsRaw)
    if (n == 3) {
      graft.functions.GraftFunctions.install(docs.sparkSession)
      docs.select(col("doc_id"),
        explode(graft.functions.WordShingleFunctions.wordShingles(col("text")))
          .as("shingle"))
    } else {
      // composable fallback for non-default n (registry function is fixed
      // at 3); tokens materialized first — Catalyst doesn't CSE inside HOF
      // lambdas
      docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          explode(TextOps.shingles(col("toks"), n)).as("shingle"))
    }
  }

  /** Hash windows per md5: each of the 16 minhash functions h_k is a
    * non-overlapping 8-hex-digit (32-bit) window of md5("(k/4)|"+shingle) —
    * 4 md5 evaluations per shingle row instead of 16 (the digest work is
    * THE dominant cost of the signature pass at scale), with fully
    * independent bits per window. The DuckDB oracle computes the identical
    * substrings, so signatures stay engine-exact. */
  val HashesPerMd5 = 4

  private[graft] def minhashHashSql(k: Int): String =
    s"min(substr(md5('${k / HashesPerMd5}|' || shingle), ${(k % HashesPerMd5) * 8 + 1}, 8))"

  /** MinHash signatures from a pre-built shingle frame — lets pipelines that
    * already materialized (or persisted) shingles reuse them instead of
    * re-deriving the tokenize→shingle DAG. */
  private[graft] def minhashFromShingles(sh: DataFrame): DataFrame = {
    val aggs = (0 until MinhashK).map { k =>
      val h = md5(concat(lit(s"${k / HashesPerMd5}|"), col("shingle")))
      min(substring(h, (k % HashesPerMd5) * 8 + 1, 8)).as(s"h$k")
    }
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash signatures: h_k = min over shingles of md5("k|" + shingle). */
  def minhashSignatures(docs: DataFrame): DataFrame =
    minhashFromShingles(shingled(docs))

  /** Per-bucket membership cap (see [[lshCandidates]]): pair generation per
    * (band, sig) bucket is quadratic in bucket size, so one degenerate
    * duplicate cluster (every shingle identical across millions of docs)
    * would otherwise concentrate O(M²) work and O(M) aggregation-buffer
    * memory in a single task. Buckets are truncated to the `maxBucket`
    * smallest doc_ids — deterministic, and lossless whenever every real
    * near-dup cluster is smaller than the cap. */
  val DefaultMaxBucket = 10000
  /** Salt fan-out for the two-phase bucket build: phase 1 groups on
    * (band, sig, doc_id % Salts) so a degenerate bucket's collect_list is
    * spread over [[BucketSalts]] tasks before the capped phase-2 combine. */
  val BucketSalts = 16

  /** LSH candidate pairs from a signature frame (band b =
    * md5(h_{4b}‖…‖h_{4b+3})), deduplicated, d1 < d2.
    *
    * One pass: the 4 band keys explode from a single projection of the
    * signature frame (a self-join would re-evaluate the whole minhash DAG
    * per branch — measured 8× recompute, ~100 s at sf0.1), then pairs are
    * generated *within* each (band, sig) bucket from a sorted collect_list.
    * Bucket sizes are near-dup cluster sizes, so the quadratic step is
    * bounded by the largest duplicate cluster — and, against degenerate
    * clusters, hard-capped at `maxBucket` via a salted two-phase combine:
    * phase 1 collects per (band, sig, salt) so no single task materializes
    * the whole bucket, phase 2 merges the per-salt lists and truncates to
    * the `maxBucket` smallest doc_ids. Results are identical to the
    * uncapped form whenever no bucket exceeds the cap. */
  /** (doc_id, band, sig) band keys from a signature frame — the LSH
    * bucket addresses, shared by pair generation and the incremental
    * probe. All 4 band keys explode from one projection. */
  private[graft] def bandKeys(sigs: DataFrame): DataFrame = {
    val rowsPerBand = MinhashK / LshBands
    val bandStructs = (0 until LshBands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws("|", cols: _*)).as("sig"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Always emits DEDUPLICATED pairs. A skip-the-distinct variant for
    * candidate-set consumers (the downstream id-distinct subsumes the
    * pair-level one semantically) was tried in r13 and MEASURED WORSE in
    * full-bench context (+0.5 s on each CC-chain entry: the persisted cand
    * frame carried up to band-count× duplicate pairs — cache growth plus a
    * 2-4× larger candIds distinct input ate the saved shuffle); the knob
    * was removed so the measured-regression path cannot be flipped back on
    * without re-measuring. */
  private[graft] def lshFromSignatures(sigs: DataFrame,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val pairs = bandKeys(sigs)
      .groupBy(col("band"), col("sig"),
        pmod(col("doc_id"), lit(BucketSalts)).as("salt"))
      .agg(slice(sort_array(collect_list(col("doc_id"))), 1, maxBucket).as("ids"))
      .groupBy("band", "sig")
      .agg(slice(sort_array(flatten(collect_list(col("ids")))), 1, maxBucket)
        .as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(flatten(transform(col("ids"), x =>
        transform(filter(col("ids"), y => y > x),
          y => struct(x.as("d1"), y.as("d2")))))).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
    pairs.distinct()
  }

  /** LSH candidate pairs over a document frame. */
  def lshCandidates(docs: DataFrame,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    lshFromSignatures(minhashSignatures(docs), maxBucket)

  /** Exact n-gram Jaccard over all colliding pairs (shingle equi-join).
    * `threshold` keeps only near-dups. Persists the shingle digest frame. */
  def jaccardPairs(docs: DataFrame, threshold: Double): DataFrame =
    jaccardOverShingles(shingled(docs), threshold)

  /** Jaccard over the shingles of document frequency ≤ maxDf — the 100 TB
    * exact pass. Ubiquitous shingles contribute quadratically to the
    * equi-join but almost nothing to discrimination; dropping them bounds
    * join fan-out by maxDf per shingle while near-dup pairs (whose shared
    * shingles are rare by definition) keep their overlap.
    *
    * The document-frequency cut is a count over the shingle partition —
    * one exchange, one pass. The old aggregate + semi-join pair ran the
    * tokenize→shingle DAG into two non-shareable exchanges (partial-agg vs
    * full-row payloads) and needed a persist to avoid recomputing it; the
    * window form has a single consumer chain, so no cache either. Hot
    * shingles land on one sort-spillable window task — the same skew
    * posture the semi-join's probe side had. */
  def jaccardPairsRare(docs: DataFrame, threshold: Double, maxDf: Int): DataFrame = {
    val hW = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
    val rare = shingled(docs)
      .withColumn("df", count(lit(1)).over(hW))
      .filter(col("df") <= maxDf).drop("df")
    jaccardOverShingles(rare, threshold)
  }

  /** Asymmetric containment: |A∩B| / |A| (and /|B|) over shingle sets —
    * catches subset/quote relationships Jaccard misses (a doc fully
    * contained in a much larger one has low Jaccard but containment ≈ 1).
    * Same digest equi-join skeleton as [[jaccardPairs]]; a pair is kept
    * when EITHER direction clears `threshold`. Persists the digest
    * frame. */
  def containmentPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val sh = digested(shingled(docs))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = sh.as("a"); val b = sh.as("b")
    a.join(b, col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n", "na"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n", "nb"), "d2")
      .withColumn("containment_a", col("common").cast("double") / col("na"))
      .withColumn("containment_b", col("common").cast("double") / col("nb"))
      .filter(col("containment_a") >= threshold ||
        col("containment_b") >= threshold)
      .select("d1", "d2", "common", "containment_a", "containment_b")
      .orderBy("d1", "d2")
  }

  /** The persisted digest frame shared by the pair generators. */
  private def digested(shRaw: DataFrame): DataFrame =
    shRaw.select(col("doc_id"), unhex(md5(col("shingle"))).as("shingle"))
      .transform(Materialize.persist)

  private def jaccardOverShingles(shRaw: DataFrame,
      threshold: Double): DataFrame = {
    // Join key: the 16-byte md5 digest instead of the raw shingle string —
    // a fixed-width binary exchange with cheaper comparisons (measured 3.5×
    // on the self-join at sf0.1, and the gap widens with shingle length).
    // BOTH engines hash with md5, so even a (cryptographically improbable)
    // digest collision produces identical counts on both sides —
    // engine-exactness holds by construction, not by luck.
    //
    // The digest frame feeds three plan branches (sizes + both sides of
    // the self-join); [[digested]] caches it so the tokenize→shingle(→df
    // filter)→digest DAG isn't re-executed per branch. persist (not
    // localCheckpoint): blocks are evictable under memory pressure with
    // recompute fallback, and no job runs at construction time.
    val sh = digested(shRaw)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = sh.as("a"); val b = sh.as("b")
    val common = a.join(b, col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n", "na"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n", "nb"), "d2")
      // raw double ratio of exact integers — bit-identical across engines;
      // ROUND would *introduce* divergence at exact .5·10⁻ⁿ boundaries
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("d1", "d2", "common", "jaccard")
      .orderBy("d1", "d2")
  }

  /** MinHash+LSH near-dup pipeline: LSH candidates verified with exact
    * Jaccard — the 100 TB path (candidates only, never all pairs).
    *
    * The shingle frame is built ONCE and persisted: it feeds the minhash→LSH
    * candidate DAG *and* the exact-Jaccard verify (restricted to candidate
    * docs by a semi-join on the shingle frame itself, so the verify never
    * re-tokenizes). `cand` is persisted too — it is consumed by both union
    * branches of the candidate-id frame, and without the cache each branch
    * would re-execute the whole LSH DAG (the round-1 41 s plan ran the
    * shingle explode ≥3×; this one runs it once). */
  def nearDuplicates(docs: DataFrame, threshold: Double): DataFrame = {
    val sh = shingled(docs)
      .transform(Materialize.persist)
    // pairs arrive DEDUPLICATED — see lshFromSignatures' scaladoc for the
    // r13 measurement that killed the skip-the-distinct variant
    val cand = lshFromSignatures(minhashFromShingles(sh))
      .transform(Materialize.persist)
    val candIds = cand.select(col("d1").as("doc_id"))
      .union(cand.select(col("d2").as("doc_id"))).distinct()
    jaccardOverShingles(sh.join(candIds, Seq("doc_id"), "left_semi"), threshold)
  }

  /** Consolidate near-dup PAIRS into clusters: connected components by
    * iterative min-label propagation (each round, every node takes the
    * smallest label among itself and its neighbors; fixpoint = components).
    * Each iteration is one distributed join + aggregate; rounds needed =
    * graph diameter, which for near-dup clusters is tiny (they are cliques
    * or near-cliques — LSH+verify emits most intra-cluster pairs). A
    * giant-diameter graph would want the large-star/small-star variant; for
    * dedup consolidation this simple form is the right cost. Returns
    * (doc_id, rep_id = min doc_id of the component) for every doc that
    * appears in a pair — downstream keeps rep_id rows and drops the rest.
    *
    * The returned frame reads the final iteration's checkpointed labels. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // localCheckpoint the pair input FIRST, not persist: persist caches the
    // PHYSICAL result but the LOGICAL plan still carries the whole
    // LSH+verify DAG, the symmetric union then doubles it, and every round
    // references edges once and labels three times — Catalyst would
    // re-analyze ~10 copies of the giant input plan per round (measured:
    // seconds of driver CPU per round on a 256-pair graph). The checkpoint
    // analyzes and executes the input DAG exactly once — the
    // materialization that has to happen anyway — and everything downstream
    // plans over tiny leaves.
    val p = pairs.transform(Materialize.checkpoint)
    val edges = p.select(col("d1").as("a"), col("d2").as("b"))
      .union(p.select(col("d2").as("a"), col("d1").as("b")))
      .transform(Materialize.checkpoint)
    var labels = edges.select(col("a")).distinct()
      .withColumn("rep", col("a")).transform(Materialize.checkpoint)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // ONE plan, ONE eager materialization per round. `labels` is already
      // a materialized leaf (a localCheckpoint in every round), so
      // it can appear on three sides — neighbor join, step, jump — without
      // re-executing anything.
      val neighborMin = edges
        .join(labels.select(col("a").as("b"), col("rep").as("nrep")), "b")
        .groupBy("a").agg(min(col("nrep")).as("nmin"))
      // t = min(own rep, neighbor reps); then pointer-jump THROUGH THE
      // PREVIOUS round's labels (rep(t) one more hop) — label distance
      // still doubles per round (radius r → 2r+1 on a chain, O(log
      // diameter) rounds), but unlike jumping through `t` itself the jump
      // side is a materialized leaf, so the round needs no intermediate
      // checkpoint. The eager localCheckpoint (NOT persist) truncates
      // lineage: labels appears several times per round, and without
      // truncation the LOGICAL plan doubles per round and Catalyst
      // re-analysis goes exponential.
      val stepped = labels.join(neighborMin, Seq("a"), "left")
        .select(col("a"),
          least(col("rep"), coalesce(col("nmin"), col("rep"))).as("t"),
          col("rep").as("old"))
      val jumped = stepped
        .join(labels.select(col("a").as("t"), col("rep").as("jump")),
          Seq("t"), "left")
        .select(col("a"),
          least(col("t"), coalesce(col("jump"), col("t"))).as("rep"),
          col("old"))
      // the convergence count rides the checkpoint job, so no separate
      // aggregation job runs per round; no labels → null sum → 0 changed
      val (next, row) = graft.Observed.checkpoint(jumped, s"cc_changed_$iter",
        sum(when(col("rep") =!= col("old"), 1L).otherwise(0L)).as("changed"))
      changed = if (row.isNullAt(0)) 0L else row.getLong(0)
      labels = next
      iter += 1
    }
    // silent wrong answers are worse than a loud stop: unconverged labels
    // are NOT components (ADVICE r3)
    require(changed == 0,
      s"connected components did not converge in $maxIter iterations")
    labels.select(col("a").as("doc_id"), col("rep").as("rep_id"))
      .orderBy("doc_id")
  }

  /** Iterations the last [[connectedComponentsStars]] call took. */
  @volatile private[graft] var lastStarIterations: Int = 0

  /** Connected components by alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the alternate strategy for graphs where min-label +
    * pointer jumping ([[connectedComponents]]) is the wrong shape:
    *
    *  - LARGE diameter: a chain needs O(log n) jump rounds too, but each
    *    jump round keys a join on the CURRENT representative, so late
    *    rounds hash every node of a giant component onto one reducer key.
    *  - SKEW: large-star/small-star only ever groups by a node over its
    *    direct neighborhood and provably shrinks the edge set toward
    *    per-component stars in O(log n) alternations, with per-key fan-out
    *    bounded by the neighborhood rewrite — no single hot key grows with
    *    component size.
    *
    * Edge invariant: every edge is kept as (hi, lo) with hi > lo.
    *  - large-star: for each node u with neighborhood N(u), connect every
    *    LARGER neighbor v > u to m = min(N(u) ∪ {u}).
    *  - small-star: for each node u over its SMALLER neighbors N⁻(u),
    *    connect every v ∈ N⁻(u) ∪ {u} (except m itself) to m = min(N⁻(u)).
    *
    * Convergence = the (count, bit_xor of xxhash64) signature of the edge
    * set repeating — both ride the round's checkpoint job via `observe`,
    * so a round is exactly two small jobs (large-star, small-star) over
    * leaf plans. At the fixpoint the edges are per-component stars
    * (v → component min), which is exactly the (doc_id, rep_id) answer.
    *
    * Same contract as [[connectedComponents]]: returns (doc_id, rep_id =
    * component-min doc_id) for every doc that appears in a pair. */
  def connectedComponentsStars(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    // one analysis + one execution of the (possibly giant) input DAG — see
    // connectedComponents for why checkpoint, not persist
    val p = pairs.filter(col("d1") =!= col("d2")).transform(Materialize.checkpoint)
    var edges = p.select(greatest(col("d1"), col("d2")).as("hi"),
        least(col("d1"), col("d2")).as("lo"))
      .distinct().transform(Materialize.checkpoint)
    val nodes = edges.select(col("hi").as("v"))
      .union(edges.select(col("lo").as("v")))
      .distinct().transform(Materialize.checkpoint)
    var prev = (-1L, 0L)
    var converged = false
    var iter = 0
    // Both star steps as WINDOW minima over one forced partitioning instead
    // of groupBy+join-back pairs (the r13 cap/cut pattern: an aggregate's
    // partial-combine exchange and a join's full-row exchange never
    // canonicalize equal, so each groupBy+join pair ran the round's input
    // twice through two exchanges). One round is now a single checkpointed
    // job over 2 exchanges: window min over u → large-star rewrite →
    // repartition(hi) → local distinct → window min over hi (hash(hi)
    // satisfies both the (hi,lo) distinct and the hi window, so neither
    // adds an exchange) → small-star emit → local distinct. The small-star
    // arm2 rows ((hi, m), once per hi in the old union) are emitted per
    // ROW here and collapsed by the same final distinct — identical SET,
    // and the observed (cnt, sig) fixpoint signature reads after the
    // distinct, so convergence is unchanged. The old per-round `ls`
    // checkpoint disappears: `ls` now has exactly one consumer chain.
    // Skew posture is the documented window trade: a celebrity node costs
    // one sort-spillable task, same as the groupBy's hot key did.
    val wU = org.apache.spark.sql.expressions.Window.partitionBy("u")
    val wHi = org.apache.spark.sql.expressions.Window.partitionBy("hi")
    while (!converged && iter < maxIter) {
      // large-star over the symmetric view
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .union(edges.select(col("lo").as("u"), col("hi").as("v")))
      val ls = sym
        .withColumn("m", least(col("u"), min(col("v")).over(wU)))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo")) // (hi, lo): v > u ≥ m
        .repartition(col("hi"))
        .distinct()
      // small-star: key = the larger endpoint, rewrite its smaller fringe
      val star = ls
        .withColumn("m", min(col("lo")).over(wHi))
        .select(explode(when(col("lo") =!= col("m"),
            array(struct(col("lo").as("hi"), col("m").as("lo")),
              struct(col("hi").as("hi"), col("m").as("lo"))))
          .otherwise(array(struct(col("hi").as("hi"), col("m").as("lo")))))
          .as("e"))
        .select(col("e.hi").as("hi"), col("e.lo").as("lo"))
        .distinct()
      // fixpoint signature rides the checkpoint job — no extra pass; an
      // empty edge set has a null bit_xor, read as 0
      val (next, row) = graft.Observed.checkpoint(star, s"lss_sig_$iter",
        count(lit(1)).as("cnt"), expr("bit_xor(xxhash64(hi, lo))").as("sig"))
      val stats = (row.getAs[Long]("cnt"),
        Option(row.getAs[java.lang.Long]("sig")).fold(0L)(_.longValue))
      converged = stats == prev
      prev = stats
      edges = next
      iter += 1
    }
    lastStarIterations = iter
    require(converged,
      s"large-star/small-star did not converge in $maxIter iterations")
    // the fixpoint is a star per component: each non-representative node
    // has exactly one edge, to the component min (min() is a defensive
    // no-op there); representatives have none and map to themselves
    val stars = edges.groupBy("hi").agg(min(col("lo")).as("rep"))
    nodes
      .join(stars.withColumnRenamed("hi", "v"), Seq("v"), "left")
      .select(col("v").as("doc_id"),
        coalesce(col("rep"), col("v")).as("rep_id"))
      .orderBy("doc_id")
  }

  val SimhashBits = 16

  /** 16-bit SimHash over tokens (with repeats): bit j votes +1 when the
    * high bit of hex digit j of md5(token) is set. Output is a '0'/'1'
    * string, engine-exact. */
  def simhash(docsRaw: DataFrame): DataFrame = {
    val docs = Tables.spread(docsRaw)
    val toks = docs.select(col("doc_id"),
      explode(TextOps.tokens(col("text"))).as("w"))
      .withColumn("h", md5(col("w")))
    val votes = (1 to SimhashBits).map(j =>
      sum(when(substring(col("h"), j, 1)
        .isin("8", "9", "a", "b", "c", "d", "e", "f"), 1).otherwise(-1))
        .as(s"v$j"))
    val bits = (1 to SimhashBits).map(j =>
      when(col(s"v$j") > 0, "1").otherwise("0"))
    toks.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), concat(bits: _*).as("simhash"))
      .orderBy("doc_id")
  }

  /** Survivor selection — detection's other half: within each exact
    * duplicate group (same token-normalized fingerprint) KEEP the
    * highest-quality document, ties to the lowest doc_id. One hash
    * aggregation; the argmax is an exact struct-min (no window, no
    * second pass). Returns (fp, survivor_id, n_docs) per group. */
  def canonicalByFingerprint(docsRaw: DataFrame): DataFrame =
    Tables.spread(docsRaw).transform(Materialize.checkpoint)
      .select(col("doc_id"), col("text"),
        TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"),
        TextOps.qualityScore(col("text"), col("toks")).as("q"))
      .groupBy("fp")
      .agg(min(struct(negate(col("q")).as("nq"), col("doc_id").as("id")))
        .as("m"), count(lit(1)).as("n_docs"))
      .select(col("fp"), col("m.id").as("survivor_id"), col("n_docs"))
      .orderBy("fp")

  /** Survivor selection over NEAR-dup clusters: given a (doc_id, rep_id)
    * cluster assignment (from [[connectedComponents]]), keep the
    * highest-quality member per cluster, ties to the lowest doc_id —
    * which copy of each near-duplicate family ships in the training set.
    * Same single-aggregation struct-min as [[canonicalByFingerprint]]. */
  def survivors(docsRaw: DataFrame, clusters: DataFrame): DataFrame =
    Tables.spread(docsRaw).select(col("doc_id"), col("text"),
        TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        TextOps.qualityScore(col("text"), col("toks")).as("q"))
      .join(clusters, "doc_id")
      .groupBy("rep_id")
      .agg(min(struct(negate(col("q")).as("nq"), col("doc_id").as("id")))
        .as("m"), count(lit(1)).as("n_docs"))
      .select(col("rep_id"), col("m.id").as("survivor_id"), col("n_docs"))
      .orderBy("rep_id")

  /** All artifacts of one [[Dedup.pipeline]] run. `pairs` and the final
    * cluster labels are materialized leaves, so any subset of the four
    * frames can be consumed (in any order, several times) without
    * re-running the shingle→LSH→verify→CC chain. */
  final case class PipelineResult(pairs: DataFrame, clusters: DataFrame,
      survivors: DataFrame, verdict: DataFrame)

  /** The whole near-dup pipeline off ONE shingle materialization:
    * shingles → minhash signatures → LSH candidates → exact-Jaccard
    * verify → connected components → survivor selection.
    *
    * The standalone contract queries (`dedup_near_dup`, `dedup_clusters`,
    * `dedup_canonical`, `q_leak_split`) each re-derive this chain from
    * scratch — correct under the per-query contract, but a real pipeline
    * wants the shingle frame built once and every downstream consumer fed
    * from it. This entry point is that composition: the shingle frame is
    * persisted once and feeds both the LSH candidate DAG and the Jaccard
    * verify; the verified pairs are checkpointed once and feed both the
    * returned `pairs` artifact and connected components; the final labels
    * leaf feeds both `clusters` and the survivor join. `verdict` is the
    * per-document outcome: (doc_id, rep_id, survivor_id, n_docs, keep).
    */
  def pipeline(docs: DataFrame, threshold: Double): PipelineResult = {
    // one materialization of the verified pairs; CC's own input checkpoint
    // then just re-snapshots these blocks instead of re-running the verify
    val pairs = nearDuplicates(docs, threshold).transform(Materialize.checkpoint)
    val clusters = connectedComponents(pairs, 20)
    val surv = survivors(docs, clusters)
    val verdict = clusters.join(surv, "rep_id")
      .select(col("doc_id"), col("rep_id"), col("survivor_id"),
        col("n_docs"), (col("doc_id") === col("survivor_id")).as("keep"))
      .orderBy("doc_id")
    PipelineResult(pairs, clusters, surv, verdict)
  }

  /** Leak-safe train/val/test split from a PRECOMPUTED near-dup clusters
    * frame ((doc_id, rep_id), e.g. [[PipelineResult.clusters]] or a
    * parquet-materialized copy of it). The split key is the cluster
    * representative, so near-duplicates always land in the same split;
    * unclustered docs anchor on themselves. Returns
    * (doc_id, anchor, split).
    *
    * This is the artifact-reuse form: the cluster assignment is the most
    * expensive artifact in the stack (shingle → LSH → verify → CC), and a
    * pipeline that has already run [[pipeline]] (or persisted its
    * `clusters` output) must NOT pay for it again just to assign splits.
    * Downstream consumers of cluster labels should all take the frame as
    * an argument like this one does. */
  def leakSplitFromClusters(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val anchored = docs.select("doc_id")
      .join(clusters.select("doc_id", "rep_id"), Seq("doc_id"), "left")
      .withColumn("anchor", coalesce(col("rep_id"), col("doc_id")))
    graft.analytics.EventAnalytics.hashSplit(anchored, col("anchor"))
      .select("doc_id", "anchor", "split")
  }

  /** Inline fallback of [[leakSplitFromClusters]] for one-shot callers
    * with no materialized artifacts: derives the clusters from scratch
    * (full shingle → LSH → verify → CC chain) and splits. Prefer the
    * artifact-fed form whenever a [[pipeline]] run exists. */
  def leakSplit(docs: DataFrame, threshold: Double): DataFrame =
    leakSplitFromClusters(docs,
      connectedComponents(nearDuplicates(docs, threshold)))

  /** Incremental dedup — the production ingest form at 100 TB: flag each
    * document of a NEW batch against the accumulated corpus WITHOUT
    * re-clustering the world. Two layers, both index-shaped:
    *
    *  1. exact: md5(text) equi-join against the existing digest set —
    *     only 16-byte digests move, never bodies.
    *  2. near: minhash band keys on both sides; candidates = same
    *     (band, sig) increment×existing pairs; exact-jaccard verify
    *     restricted to the candidate docs (same docs-restricted semantics
    *     as [[nearDuplicates]]).
    *
    * At scale the existing side's digest set and (band, sig) index are
    * materialized once (the [[graft.sources.Bucketing]] /
    * [[graft.sources.BloomFilters]] layouts) and only the increment is
    * scanned fresh — per-batch cost is O(increment), not O(corpus).
    *
    * Returns one row per increment doc: (doc_id, exact_match, near_match,
    * verdict ∈ keep | exact_dup | near_dup); matches are the smallest
    * matching existing doc_id, exact taking precedence in the verdict.
    *
    * Persists the corpus shingle frame plus [[IncrementalIndex.probe]]'s
    * frames (each feeds two or more plan branches). The per-batch ingest
    * form is [[graft.streaming.IngestDedup.processBatch]], which releases
    * its probe frames after every batch.
    */
  def incrementalFlags(existing: DataFrame, increment: DataFrame,
                       threshold: Double): DataFrame = {
    // the one-shot form: derive the corpus-side index inline (the corpus
    // shingle frame persisted — it feeds both the band keys and the
    // verify digests) and run the SAME probe the materialized-index path
    // uses. The production form reads the index from its compacted tables
    // instead: [[IncrementalIndex]].
    val shEx = shingled(existing)
      .transform(Materialize.persist)
    val idx = IncrementalIndex.Index(
      digests = existing.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("exact_match")),
      bands = bandKeys(minhashFromShingles(shEx))
        .withColumnRenamed("doc_id", "ex_id"),
      shingles = shEx.select(col("doc_id").as("ex_id"),
        unhex(md5(col("shingle"))).as("d")))
    IncrementalIndex.probe(increment, idx, threshold)
  }

  /** n-gram decontamination: for each corpus doc, the number of distinct
    * `n`-gram shingles it shares with the (small) eval set — the standard
    * train/test-leakage scan before training. The eval side reduces to
    * distinct shingle DIGESTS and is broadcast, so the corpus-side shuffle
    * never happens: one scan over corpus shingles, a broadcast-hash
    * semi-ish join, one partial+final count per doc. */
  def contaminationCounts(corpus: DataFrame, evalDocs: DataFrame,
                          n: Int = 8): DataFrame = {
    val corpusSh = shingled(corpus, n)
      .select(col("doc_id"), md5(col("shingle")).as("d"))
    val evalSh = shingled(evalDocs, n)
      .select(md5(col("shingle")).as("d")).distinct()
    corpusSh.join(broadcast(evalSh), Seq("d"))
      .groupBy("doc_id")
      .agg(countDistinct(col("d")).as("n_shared"))
  }
}
