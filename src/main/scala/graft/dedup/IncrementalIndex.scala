package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize

/** The materialized side of incremental dedup: the accumulated corpus
  * reduced to three probe-shaped index tables, so flagging a new batch
  * never scans (or re-shingles) the corpus itself — the per-batch cost the
  * [[Dedup.incrementalFlags]] scaladoc promises
  * (O(increment + matched index rows), not O(corpus)).
  *
  *  - `digests`  (h, exact_match): one row per distinct content md5,
  *    smallest owning doc_id — [[Dedup.exact]]'s keyed output.
  *  - `bands`    (band, sig, ex_id): every LSH bucket address of every
  *    corpus doc — the (band, sig)-bucketed layout
  *    ([[graft.sources.Bucketing]]) an ingest pipeline keeps compacted.
  *  - `shingles` (ex_id, d): distinct 16-byte shingle digests per corpus
  *    doc, feeding the exact-Jaccard verify without touching document
  *    bodies.
  *
  * [[probe]] produces BIT-IDENTICAL output to
  * `Dedup.incrementalFlags(corpus, increment, threshold)` — the only
  * difference is where the corpus-side frames come from (DedupSpec asserts
  * the equality through the parquet round-trip; the `dedup_incremental`
  * contract query hash-checks the shared semantics against DuckDB).
  */
object IncrementalIndex {

  /** The three index frames. Column contract as in the object scaladoc. */
  final case class Index(digests: DataFrame, bands: DataFrame,
                         shingles: DataFrame)

  /** Derive the index frames from a corpus, unmaterialized. NOTE the
    * `bands` and `shingles` frames share the tokenize→shingle DAG —
    * consuming both re-executes it unless the caller persists; use
    * [[write]] (which persists the shared frame for the duration of the
    * three writes) to materialize, or [[Dedup.incrementalFlags]] for the
    * one-shot inline form. */
  def build(corpus: DataFrame): Index = {
    val sh = Dedup.shingled(corpus)
    Index(
      digests = corpus.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("exact_match")),
      bands = Dedup.bandKeys(Dedup.minhashFromShingles(sh))
        .withColumnRenamed("doc_id", "ex_id"),
      shingles = sh.select(col("doc_id").as("ex_id"),
        unhex(md5(col("shingle"))).as("d")))
  }

  /** Materialize the corpus index under `dir` (three parquet tables). The
    * shingle DIGEST table lands first and the band keys are NOT derivable
    * from it (minhash needs the shingle strings), so the two shingle
    * consumers run off one persisted shingle frame here — released before
    * returning. */
  def write(corpus: DataFrame, dir: String): Unit = Materialize.scope {
    val sh = Dedup.shingled(corpus).transform(Materialize.persist)
    corpus.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("exact_match"))
      .write.mode("overwrite").parquet(s"$dir/digests")
    Dedup.bandKeys(Dedup.minhashFromShingles(sh))
      .withColumnRenamed("doc_id", "ex_id")
      .write.mode("overwrite").parquet(s"$dir/bands")
    sh.select(col("doc_id").as("ex_id"), unhex(md5(col("shingle"))).as("d"))
      .write.mode("overwrite").parquet(s"$dir/shingles")
  }

  def read(spark: SparkSession, dir: String): Index = Index(
    digests = spark.read.parquet(s"$dir/digests"),
    bands = spark.read.parquet(s"$dir/bands"),
    shingles = spark.read.parquet(s"$dir/shingles"))

  /** Flag every increment doc against the prebuilt index. Output and
    * semantics identical to [[Dedup.incrementalFlags]]: (doc_id,
    * exact_match, near_match, verdict ∈ keep | exact_dup | near_dup).
    * Only the increment is shingled; the corpus side is three index
    * probes (digest equi-join, band-bucket join, candidate-restricted
    * digest join). Persists the increment's shingle frame, the candidate
    * set and both verify digest frames. */
  def probe(increment: DataFrame, idx: Index, threshold: Double): DataFrame = {
    val exact = increment.select(col("doc_id"), md5(col("text")).as("h"))
      .join(idx.digests, Seq("h"), "left")
      .select(col("doc_id"), col("exact_match"))

    // the increment's shingle frame feeds its signature DAG AND the verify
    val shInc = Dedup.shingled(increment)
      .transform(Materialize.persist)
    val cand = Dedup.bandKeys(Dedup.minhashFromShingles(shInc))
      .join(idx.bands, Seq("band", "sig"))
      .select(col("doc_id"), col("ex_id")).distinct()
      .transform(Materialize.persist)
    // both digest frames feed their size aggregate AND the verify join —
    // persisted, or the semi-join + md5-digest pass over every candidate
    // doc's shingles executes twice (r13 profile: the duplicated corpus-side
    // pass was ~2 s of dedup_incremental's 5.4 s wall at sf0.1, and at scale
    // it is a second full pass over the matched index rows)
    val a = shInc.join(cand.select("doc_id").distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), unhex(md5(col("shingle"))).as("d"))
      .transform(Materialize.persist)
    val b = idx.shingles.join(
        cand.select(col("ex_id").as("doc_id")).distinct()
          .withColumnRenamed("doc_id", "ex_id"),
        Seq("ex_id"), "left_semi")
      .transform(Materialize.persist)
    val na = a.groupBy("doc_id").agg(count(lit(1)).as("na"))
    val nb = b.groupBy("ex_id").agg(count(lit(1)).as("nb"))
    val near = a.join(b, "d")
      .groupBy("doc_id", "ex_id").agg(count(lit(1)).as("common"))
      .join(na, "doc_id").join(nb, "ex_id")
      .filter(col("common").cast("double") /
        (col("na") + col("nb") - col("common")) >= threshold)
      .groupBy("doc_id").agg(min(col("ex_id")).as("near_match"))

    exact.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("exact_match"), col("near_match"),
        when(col("exact_match").isNotNull, "exact_dup")
          .when(col("near_match").isNotNull, "near_dup")
          .otherwise("keep").as("verdict"))
      .orderBy("doc_id")
  }
}
