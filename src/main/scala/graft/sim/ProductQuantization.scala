package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization — the memory-bound scale path for embedding search.
  *
  * At 100 TB an exact float corpus is 256 B/vector (64 × float32); PQ stores
  * 8 one-byte codes — a 32× compression — and scores candidates against a
  * per-query lookup table without touching the original floats. The
  * asymmetric-distance (ADC) scan is the workhorse of IVF-PQ systems
  * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011); the engine keeps the SAME plan shape here: one encode scan
  * (run once, codes persisted), one broadcast of the (tiny) query LUTs, one
  * partitioned top-k window over lookup-sum scores.
  *
  * Determinism contract (what makes this ORACLE-checkable, unlike most ANN
  * code): the codebook is not trained — subspace centroids are the
  * sub-vectors of 16 fixed anchor rows (vec_id < 16), a deterministic,
  * scale-independent choice (k-means training is demonstrated separately in
  * [[KMeans]]; PQ's value is the encode/ADC mechanics, which are identical
  * whatever produced the codebook). All distances are the fixed-point
  * long arithmetic of [[VectorOps]]: d²(a,b) is composed from three
  * `fixed_dot` terms (aa + bb − 2ab), every term an exact ×1e12 long, so
  * encode argmins and ADC rankings are bit-identical to the DuckDB twin
  * at any parallelism.
  */
object ProductQuantization {

  val SubSpaces = 8
  val CodeBookSize = 16
  private val SubW = 64 / SubSpaces

  private def fd(a: Column, b: Column): Column =
    graft.functions.FixedDotFunctions.fixedDot(a, b)

  /** Fixed-point squared distance via the dot identity; exact long. */
  private def d2(a: Column, b: Column): Column =
    fd(a, a) + fd(b, b) - lit(2L) * fd(a, b)

  private def sub(e: Column, m: Int): Column =
    slice(e, lit(m * SubW + 1), lit(SubW))

  /** The 16 anchor rows as a driver-side codebook — K × dim floats,
    * driver-bounded regardless of corpus size, like any broadcast
    * codebook. */
  def anchorCodebook(emb: DataFrame): Array[Array[Float]] = {
    val anchors = emb
      .filter(col("vec_id") < CodeBookSize).orderBy("vec_id")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    require(anchors.length == CodeBookSize, s"need $CodeBookSize anchors")
    anchors
  }

  private def codebookCols(anchors: Array[Array[Float]]): IndexedSeq[Column] =
    (0 until SubSpaces).map { m =>
      typedlit(anchors.toIndexedSeq.map(a =>
        a.slice(m * SubW, (m + 1) * SubW).toIndexedSeq))
    }

  /** Per-subspace nearest-code columns c0..c7. The argmin over 16 codes
    * compares (cc − 2xc); the aa term is common to every candidate. Ties
    * break to the smallest code via array_position's first-match
    * semantics — fused into the codegen'd
    * [[graft.functions.PqArgminExpr]] (the composable transform-over-
    * literal-codebook form ran as an interpreted HOF per corpus row:
    * 8 subspaces × 16 codes × 2 dot folds; values are bit-identical —
    * same fixed-point score longs, same first-min tie-break). */
  private def codeCols(anchors: Array[Array[Float]]): Seq[Column] =
    (0 until SubSpaces).map { m =>
      graft.functions.PqArgminFunctions.pqArgmin(col("embedding"),
        m * SubW, anchors.map(_.slice(m * SubW, (m + 1) * SubW)))
        .as(s"c$m")
    }

  /** PQ-encode every vector: one scan producing (vec_id, c0..c7) — the
    * 8-byte representation the ADC scan reads. Persist this output once;
    * re-encode only on codebook change. */
  def encode(emb: DataFrame, anchors: Array[Array[Float]]): DataFrame =
    emb.select(col("vec_id") +: codeCols(anchors): _*)

  /** Top-k ADC search of `queries` (qid, qemb) against an encoded corpus.
    * The trick that makes PQ a fast SCAN and not a disguised brute force:
    * d²(q_m, codebook[m][k]) is precomputed ONCE PER QUERY into an 8×16
    * lookup table (the broadcast carries ~128 longs per query), so the
    * per-(vector, query) cost is 8 array lookups + 7 adds — versus 3
    * sub-vector dot products per subspace if the distance were recomputed
    * per row. */
  def adcTopK(encoded: DataFrame, queries: DataFrame,
              anchors: Array[Array[Float]], k: Int): DataFrame = {
    val codebook = codebookCols(anchors)
    val lut = array((0 until SubSpaces).map { m =>
      transform(codebook(m), c => d2(sub(col("qemb"), m), c))
    }: _*)
    val withLut = queries.select(col("qid"), col("qemb"))
      .withColumn("lut", lut).drop("qemb")
    val dist = (0 until SubSpaces).map { m =>
      element_at(element_at(col("lut"), m + 1), col(s"c$m"))
    }.reduce(_ + _)
    val scored = encoded.crossJoin(broadcast(withLut))
      .select(col("qid"), col("vec_id"), dist.as("dist_fx"))
    topKPerQuery(scored, k)
  }

  /** Two-phase per-query top-k. A bare Window.partitionBy("qid") funnels
    * every scored row for a query through ONE task's sort — corpus-sized
    * with few queries. Phase 1 ranks within (qid, input-partition salt),
    * so no task sorts more than one scan partition's rows; phase 2 ranks
    * the ≤ k × #partitions survivors per query. The global top-k per qid
    * is contained in the union of per-salt top-ks under the same total
    * order (dist_fx, vec_id), so the result is identical to the
    * single-window form at any partitioning — `StatsOpsSpec` pins the
    * invariance. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val salted = scored.withColumn("__salt", spark_partition_id())
    val w1 = Window.partitionBy("qid", "__salt")
      .orderBy(col("dist_fx"), col("vec_id"))
    val survivors = salted.withColumn("__r", row_number().over(w1))
      .filter(col("__r") <= k).drop("__r", "__salt")
    val w2 = Window.partitionBy("qid").orderBy(col("dist_fx"), col("vec_id"))
    survivors.withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), col("dist_fx"))
      .orderBy("qid", "rank")
  }

  /** Registry form: encode + ADC in one plan, queries drawn from the
    * corpus (vec_id in [qFrom, qTo]). Returns (qid, rank, vec_id, dist_fx)
    * with dist_fx the exact fixed-point (×1e12) asymmetric squared
    * distance. */
  def pqTopK(emb: DataFrame, qFrom: Long, qTo: Long, k: Int): DataFrame = {
    graft.functions.GraftFunctions.install(emb.sparkSession)
    val anchors = anchorCodebook(emb)
    val queries = emb.filter(col("vec_id").between(qFrom, qTo))
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    adcTopK(encode(emb, anchors), queries, anchors, k)
  }

  /** IVF-PQ — the production composition: a coarse inverted-file cell per
    * vector (nearest full-dimension anchor) prunes the candidate set to
    * each query's `nprobe` closest cells BEFORE the ADC scan reads any
    * codes. At 100 TB the codes table is partitioned by cell, so the probe
    * filter is partition pruning: a query touches nprobe/nCells of the
    * corpus. The query's own row always stays a candidate (its cell may
    * not be probed).
    *
    * Determinism: coarse assignment is the exact fixed-point argmin over
    * anchors (ties → lowest cell), and the per-query probe ranking orders
    * by the same exact (aa − 2qa) score — the qq term is constant per
    * query, so the order equals the d² order. Both are reproduced by the
    * DuckDB twin, making even the PRUNED result hash-exact. */
  def ivfPqTopK(emb: DataFrame, qFrom: Long, qTo: Long, k: Int,
                nprobe: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.install(emb.sparkSession)
    val anchors = anchorCodebook(emb)
    val codebook = codebookCols(anchors)
    // coarse cell = nearest full-dimension anchor — the same fused argmin
    // with offset 0 over the full-width codebook (was a second interpreted
    // transform-over-literal HOF per row)
    val cell = graft.functions.PqArgminFunctions.pqArgmin(
      col("embedding"), 0, anchors)
    val encoded = emb.select(
      col("vec_id") +: cell.as("cell") +: codeCols(anchors): _*)
    // driver-side probe table: |queries| × nprobe cells, exact long scores
    def dot(a: Array[Float], b: Array[Float]): Long =
      graft.functions.FixedDotOps.dot(a, b)
    val probeMap: Map[Long, Seq[Int]] = emb
      .filter(col("vec_id").between(qFrom, qTo))
      .select("vec_id", "embedding").collect()
      .map { r =>
        val q = r.getSeq[Float](1).toArray
        val ranked = anchors.zipWithIndex.map { case (a, i) =>
          (dot(a, a) - 2L * dot(q, a), i + 1)
        }.sortBy { case (s, i) => (s, i) }.take(nprobe).map(_._2).toSeq
        r.getLong(0) -> ranked
      }.toMap
    val lut = array((0 until SubSpaces).map { m =>
      transform(codebook(m), c => d2(sub(col("qemb"), m), c))
    }: _*)
    val queries = emb.filter(col("vec_id").between(qFrom, qTo))
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
      .withColumn("lut", lut).drop("qemb")
    val dist = (0 until SubSpaces).map { m =>
      element_at(element_at(col("lut"), m + 1), col(s"c$m"))
    }.reduce(_ + _)
    val scored = encoded.crossJoin(broadcast(queries))
      .filter(array_contains(
        element_at(typedlit(probeMap), col("qid")), col("cell")) ||
        col("vec_id") === col("qid"))
      .select(col("qid"), col("vec_id"), dist.as("dist_fx"))
    topKPerQuery(scored, k)
  }
}
