package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.text.TextOps

/** End-to-end streaming ingest CURATION: every arriving document gets the
  * full `text_curation` verdict against the accumulated corpus —
  *
  *   (doc_id, n_toks, quality_score, novelty,
  *    verdict ∈ too_short | exact_dup | low_quality | boilerplate | keep)
  *
  * with the same precedence as the batch query. The incremental semantics
  * are ORDER-AWARE (first-copy-wins, the deployable form of
  * dedup-then-novelty):
  *
  *  - `exact_dup`: the digest was seen in the corpus OR in an earlier
  *    arriving doc (smaller doc_id — with ingest-monotone ids, arrival
  *    order). Monotonicity is ENFORCED per batch, not assumed: a batch
  *    containing an unseen doc_id at or below the max already-flagged id
  *    fails loudly (crash replays still pass — their ids are already
  *    flagged).
  *  - novelty: a window occurrence is NON-novel iff its hash was seen in
  *    a corpus-canonical doc, in an EARLIER canonical arriving doc, or at
  *    an earlier position of the same doc. The first-ever occurrence of a
  *    window stays novel — later copies are the boilerplate. Non-canonical
  *    (exact-dup) docs contribute no windows and get NULL novelty, exactly
  *    as the batch query's canonical-only novelty.
  *
  * ALL mutable state lives in compacted tables maintained through
  * [[UpsertSink]]'s crash-safe swap — no Spark state store:
  *
  *  - `<state>/flags`: the output, upserted by doc_id.
  *  - `<state>/stream_digests`: (h, first_id) min-per-key — exact layer.
  *  - `<state>/stream_wins`: (h, first_id) min-per-key over window hashes
  *    of CANONICAL arrivals — novelty layer.
  *
  * Exactly-once across restart without transactions, by the
  * [[IngestDedup]] discipline: every per-batch computation is
  * deterministic given (batch rows, index tables), every merge is
  * idempotent, and both maintained tables carry the contributing doc_id so
  * a replayed batch ignores its own prior contribution (`first_id <
  * doc_id` guards). Merge order flags → digests → wins: a crash between
  * any two replays the batch into identical rows.
  *
  * Scale shape per batch: O(increment tokens + matched index rows) — the
  * batch is tokenized/windowed once, the three index probes are hash
  * equi-joins on the increment's own hashes, and nothing rescans the
  * corpus. The compacted-table trade is as documented on [[UpsertSink]];
  * at 100 TB `stream_wins` (the big one — distinct window hashes of kept
  * docs) becomes a MERGE target in a transactional format, bucketed by
  * hash, while every transform here is unchanged.
  */
object IngestCuration {
  private val K = TextOps.WindowK

  /** (doc_id, pos, h) — one row per sliding window occurrence. */
  private def occurrences(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x != '')").as("t"))
      .filter(size(col("t")) >= K)
      .select(col("doc_id"),
        explode(expr(
          s"""transform(sequence(1, size(t) - ${K - 1}),
             |  i -> struct(i AS pos,
             |    md5(concat_ws(' ', slice(t, i, $K))) AS h))""".stripMargin))
          .as("w"))
      .select(col("doc_id"), col("w.pos").cast("long").as("pos"),
        col("w.h").as("h"))

  /** (doc_id, text, h, n_toks, quality_score) for arriving docs. */
  private def scored(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"),
        TextOps.tokens(col("text")).as("toks"))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("quality_score",
        TextOps.qualityScore(col("text"), col("toks")))
      .withColumn("h", md5(col("text")))
      .drop("toks")

  /** Assemble verdicts from the scored batch plus per-doc exact/novelty
    * columns. `isExact` marks exact dups; nv carries (doc_id, novelty)
    * for canonical docs. */
  private def verdicts(base: DataFrame, nv: DataFrame): DataFrame =
    base.join(nv, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"), col("quality_score"),
        col("novelty"),
        when(col("n_toks") < K, "too_short")
          .when(col("is_exact"), "exact_dup")
          .when(col("quality_score") < TextOps.CurationQualityMin, "low_quality")
          .when(col("novelty") < TextOps.CurationNoveltyMin, "boilerplate")
          .otherwise("keep").as("verdict"))
      .orderBy("doc_id")

  /** One-shot batch equivalent of the whole streaming pipeline, for
    * verification: the streaming run over ANY batching of `increment`
    * (ids monotone across batches) lands exactly this table. Corpus side:
    * digests of ALL corpus docs; windows of corpus-CANONICAL docs
    * (min-doc_id keeper per digest). */
  def batchTwin(corpus: DataFrame, increment: DataFrame): DataFrame = {
    val corpusH = corpus.select(md5(col("text")).as("h"))
    val corpusDigests = corpusH.distinct()
    val exK = corpus.select(col("doc_id"), col("text"), md5(col("text")).as("h"))
    val exCanon = exK.join(
        exK.groupBy("h").agg(min(col("doc_id")).as("k")), Seq("h"))
      .filter(col("doc_id") === col("k")).select("doc_id", "text")
    val corpusWins = occurrences(exCanon).select("h").distinct()

    val base0 = scored(increment)
    val firstInc = base0.groupBy("h").agg(min(col("doc_id")).as("first_id"))
    val base = base0
      .join(corpusDigests.withColumn("in_corpus", lit(true)), Seq("h"), "left")
      .join(firstInc, Seq("h"))
      .withColumn("is_exact",
        coalesce(col("in_corpus"), lit(false)) ||
          col("doc_id") > col("first_id"))
    val canonInc = base.filter(!col("is_exact")).select("doc_id", "text")
    val rnW = Window.partitionBy("h").orderBy("doc_id", "pos")
    val occ = occurrences(canonInc)
      .join(corpusWins.withColumn("in_idx", lit(true)), Seq("h"), "left")
      .withColumn("rn", row_number().over(rnW))
      .withColumn("dup",
        coalesce(col("in_idx"), lit(false)) || col("rn") > 1)
    val nv = occ.groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"),
        ((col("n_windows") - col("n_dup")).cast("double") /
          col("n_windows")).as("novelty"))
    verdicts(base, nv)
  }

  /** Materialize the corpus side of the index: `<idxDir>/digests` (h) and
    * `<idxDir>/wins` (h, distinct window hashes of corpus-canonical
    * docs). */
  def writeIndex(corpus: DataFrame, idxDir: String): Unit = {
    val exK = corpus.select(col("doc_id"), col("text"), md5(col("text")).as("h"))
    exK.select("h").distinct()
      .write.mode("overwrite").parquet(s"$idxDir/digests")
    val exCanon = exK.join(
        exK.groupBy("h").agg(min(col("doc_id")).as("k")), Seq("h"))
      .filter(col("doc_id") === col("k")).select("doc_id", "text")
    occurrences(exCanon).select("h").distinct()
      .write.mode("overwrite").parquet(s"$idxDir/wins")
  }

  /** Process one micro-batch: probe corpus index + stream tables, land
    * flags (upsert by doc_id), then stream_digests and stream_wins
    * (min-per-key). Deterministic and idempotent — safe under
    * foreachBatch replay even when a crash lands between merges: the
    * `first_id < doc_id` guards make a batch blind to its own prior
    * contribution. */
  def processBatch(batch: DataFrame, idxDir: String, stateDir: String): Unit = {
    val spark = batch.sparkSession
    val emptyFirst = batch.sparkSession.range(0)
      .select(concat(lit("")).as("h"), col("id").as("first_id")).limit(0)
    val corpusDigests = spark.read.parquet(s"$idxDir/digests")
    val corpusWins = spark.read.parquet(s"$idxDir/wins")
    val streamDigests = readOr(spark, s"$stateDir/stream_digests")(emptyFirst)
    val streamWins = readOr(spark, s"$stateDir/stream_wins")(emptyFirst)

    val base0 = scored(batch)

    // Monotone-id guard — the replay-safety precondition, ENFORCED rather
    // than assumed: the first-copy-wins guards compare doc_id to stored
    // first_id, so a genuinely out-of-order source would silently diverge
    // from batchTwin. A fresh doc's id must exceed every id already
    // flagged; a crash-replayed batch still passes (its ids are already in
    // flags — the anti-join removes them), so exactly-once restart is
    // unaffected. Cost: one scalar max + one indexed anti-join per batch.
    val priorIds = readOr(spark, s"$stateDir/flags")(
      spark.range(0).select(col("id").as("doc_id"))).select("doc_id")
    val maxSeenRow = priorIds.agg(max(col("doc_id"))).collect()(0)
    if (!maxSeenRow.isNullAt(0)) {
      val maxSeen = maxSeenRow.getLong(0)
      val outOfOrder = base0.select("doc_id")
        .filter(col("doc_id") <= maxSeen)
        .join(priorIds, Seq("doc_id"), "left_anti")
        .limit(1).count()
      require(outOfOrder == 0L,
        s"IngestCuration requires doc_ids monotone across micro-batches: " +
          s"batch contains unseen doc_id <= max flagged id $maxSeen " +
          "(out-of-order source). Re-key or buffer the source; see scaladoc.")
    }

    val wInBatch = Window.partitionBy("h").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = base0
      .join(corpusDigests.withColumn("in_corpus", lit(true)), Seq("h"), "left")
      .join(streamDigests.withColumnRenamed("first_id", "prior_id"),
        Seq("h"), "left")
      .withColumn("in_batch", min(col("doc_id")).over(wInBatch))
      .withColumn("is_exact",
        coalesce(col("in_corpus"), lit(false)) ||
          (col("prior_id").isNotNull && col("prior_id") < col("doc_id")) ||
          col("in_batch").isNotNull)
    val canonInc = base.filter(!col("is_exact")).select("doc_id", "text")
    val rnW = Window.partitionBy("h").orderBy("doc_id", "pos")
    val occ = occurrences(canonInc)
      .join(corpusWins.withColumn("in_idx", lit(true)), Seq("h"), "left")
      .join(streamWins.withColumnRenamed("first_id", "win_prior"),
        Seq("h"), "left")
      .withColumn("rn", row_number().over(rnW))
      .withColumn("dup",
        coalesce(col("in_idx"), lit(false)) ||
          (col("win_prior").isNotNull && col("win_prior") < col("doc_id")) ||
          col("rn") > 1)
    val nv = occ.groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"),
        ((col("n_windows") - col("n_dup")).cast("double") /
          col("n_windows")).as("novelty"))
    val flagged = verdicts(base, nv)

    // Merge order matters twice over. Correctness under replay: flags
    // land first, so a crash anywhere below replays the batch into
    // identical flag rows (the first_id < doc_id guards blind the replay
    // to its own contributions). Lazy-plan safety: every merge's INPUT
    // must not depend on a table an earlier merge already swapped —
    // the wins input derives from canonInc (which probes stream_digests),
    // so wins merges BEFORE digests, whose input depends only on the
    // batch rows.
    UpsertSink.mergeBatchWith(flagged, s"$stateDir/flags",
      UpsertSink.latestPerKey(_, "doc_id", "doc_id"))
    val minFirst: DataFrame => DataFrame =
      _.groupBy("h").agg(min(col("first_id")).as("first_id"))
    UpsertSink.mergeBatchWith(
      occurrences(canonInc)
        .groupBy("h").agg(min(col("doc_id")).as("first_id")),
      s"$stateDir/stream_wins", minFirst)
    UpsertSink.mergeBatchWith(
      base0.groupBy("h").agg(min(col("doc_id")).as("first_id")),
      s"$stateDir/stream_digests", minFirst)
  }

  /** Start the streaming ingest curation into `stateDir`, probing the
    * corpus index at `idxDir` (see [[writeIndex]]). */
  def start(stream: DataFrame, idxDir: String, stateDir: String,
            checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, idxDir, stateDir)
      }
      .start()
}
