package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq
import graft.Materialize

/** Similarity search over an embedding column (`array<float>`).
  *
  * Dot products are computed *inline over the array* (zip_with + aggregate)
  * in fixed-point: each product is rounded to 12 decimals and accumulated as
  * a long. Long addition is associative, so the result is independent of
  * evaluation order and bit-identical to the DuckDB oracle's
  * `SUM(CAST(ROUND(x*y*1e12, 0) AS BIGINT))` — while staying on the fast
  * primitive path (no BigDecimal, no explode, no per-dimension shuffle).
  * With |x| ≤ 1 and 64 dims the accumulator stays ≤ ~1e14 ≪ 2^63.
  *
  * Scale posture: the exact pair pass joins on a blocking key (label here;
  * LSH buckets at 100 TB) carrying the arrays — one shuffle, no
  * (pair × dimension) row explosion. ANN path: random-hyperplane LSH
  * buckets → hamming-probe candidates → exact rerank, O(N·d + collisions)
  * instead of O(N²·d).
  */
object VectorOps {

  private val Scale = 1e12

  /** Fixed-point dot product of two float arrays, as a long (×1e12) — the
    * fused codegen'd [[graft.functions.FixedDotExpr]]; the equivalent
    * composable form `aggregate(zip_with(a, b, (x,y) => round(x·y·1e12)))`
    * computes the identical value ~3× slower (interpreted HOFs + an
    * intermediate array per row). */
  def fixedDot(a: Column, b: Column): Column =
    graft.functions.FixedDotFunctions.fixedDot(a, b)

  /** L2 norm from the fixed-point self-dot. */
  def norm(e: Column): Column =
    sqrt(fixedDot(e, e).cast("double") / Scale)

  // raw double chain — long-dot ÷ 1e12 ÷ (sqrt·sqrt product) is the same
  // IEEE op sequence in both engines (sqrt is correctly rounded by IEEE
  // 754), so the value is bit-identical without rounding; ROUND itself
  // diverges between engines at exact .5·10⁻ⁿ boundaries
  private def cosine(ea: Column, eb: Column, na: Column, nb: Column): Column =
    (fixedDot(ea, eb).cast("double") / Scale) / (na * nb)

  /** Exact cosine of every vector vs the `queryId` vector, top-k. The query
    * vector is a 1-row broadcast; one scan, no shuffle before the top-k. */
  def cosineTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    graft.functions.GraftFunctions.install(emb.sparkSession)
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qemb"))
    emb.crossJoin(broadcast(q))
      .select(col("vec_id"),
        cosine(col("embedding"), col("qemb"),
          norm(col("embedding")), norm(col("qemb"))).as("cosine"))
      .orderBy(desc("cosine"), col("vec_id"))
      .limit(k)
  }

  /** All same-label pairs with cosine ≥ threshold (embedding near-dup).
    * The label is the blocking key — at scale, substitute LSH buckets
    * ([[lshBuckets]]) to bound pair growth. */
  def cosinePairs(emb: DataFrame, threshold: Double): DataFrame =
    cosinePairsBy(emb, threshold, "label")

  /** Hard cap on within-block pair work for [[cosinePairsBy]]: a block
    * whose population exceeds this is split into sorted-neighborhood
    * sub-blocks of at most this many rows (see below). Fixture and
    * sf0.01/sf0.1 cluster sizes sit orders of magnitude under the cap, so
    * the oracle-verified results are byte-identical with or without it;
    * the cap exists for the 100 TB posture, where one near-duplicate-dense
    * k-means cell would otherwise go quadratic. */
  val PairBlockCap = 4096

  /** [[cosinePairs]] with a caller-chosen blocking column — the candidate
    * join is an equi-join on `blockCol`, never all-pairs; the quadratic
    * cost lives only inside a block. Blocks up to `maxBlock` rows are
    * paired exhaustively (exact). A HOT block (> `maxBlock` rows — the
    * skew case a dedup corpus is guaranteed to produce, since duplicates
    * concentrate geometrically) is bounded by sorted-neighborhood
    * sub-blocking, the same discipline as `dedup_fuzzy_bounded`'s block
    * cap and the winnowing hot-hash cap:
    *
    *   1. project each vector onto the deterministic LSH plane 0
    *      ([[planeMatrixFor]]) — near-duplicates land at near-identical
    *      projections, so rank-adjacency preserves them;
    *   2. rank within the block by (projection, vec_id) and band into
    *      sub-blocks of `maxBlock` rows, TWICE with the second pass
    *      staggered by maxBlock/2 — any two rows within maxBlock/2 ranks
    *      of each other share a sub-block in at least one pass;
    *   3. pair exhaustively within sub-blocks only, then de-duplicate the
    *      doubly-found pairs.
    *
    * Work per hot block is O(n·maxBlock) instead of O(n²), and the
    * per-block rank is a sort (O(n log n), spillable via Spark's window
    * sorter), never a pair explosion. Missing a straddling pair only
    * means keeping an extra document — the conservative direction for
    * dedup.
    *
    * `persistNorm = false` skips the norm-frame persist — for callers whose
    * input frame is ALREADY a cached leaf (the LSH bucket frame, the
    * persisted semDedup assignment), where re-deriving the norm per branch
    * is one cheap fold over cached blocks and a second materialization just
    * adds blocks and a stage boundary (measured: emb_lsh_pairs_banded
    * 1.01 s → 1.54 s with the double persist). */
  def cosinePairsBy(emb: DataFrame, threshold: Double,
                    blockCol: String,
                    maxBlock: Int = PairBlockCap,
                    persistNorm: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.install(emb.sparkSession)
    // persisted (by default): the normed frame feeds the occupancy gate plus
    // BOTH sides of the in-block self-join (and, in the hot regime, the
    // sized/banded branches) — without the persist the upstream DAG (often
    // an assignToCentroids k-fold projection) re-executed once per plan
    // branch: 3-5× the dominant per-row cost at every scale (r13 profile:
    // four ~0.8 s single-stage jobs in sim_semdedup_banded, all the same
    // subtree). Blocks are evictable with recompute fallback.
    val normed = emb.select(col("vec_id"), col(blockCol),
      col("embedding"), norm(col("embedding")).as("nrm"))
    val withNorm = if (persistNorm)
      normed.transform(Materialize.persist)
    else normed

    def pairsWithin(src: DataFrame, keys: Seq[String]): DataFrame = {
      val a = src.select(keys.map(col) :+ col("vec_id").as("v1") :+
        col("embedding").as("ea") :+ col("nrm").as("n1"): _*)
      val b = src.select(keys.map(col) :+ col("vec_id").as("v2") :+
        col("embedding").as("eb") :+ col("nrm").as("n2"): _*)
      a.join(b, keys)
        .filter(col("v1") < col("v2"))
        .select(col("v1"), col("v2"),
          cosine(col("ea"), col("eb"), col("n1"), col("n2")).as("cosine"))
        .filter(col("cosine") >= threshold)
    }

    // Occupancy gate (round 13): one cheap agg over the pruned block-key
    // column decides whether ANY block exceeds the cap. A sub-cap corpus
    // (every oracle-verified scale through sf1 — the cap first engages at
    // sf10) then runs the pure exact arm: no count join, no window rank,
    // no union/dropDuplicates — the band machinery was costing 2.3× at
    // sf0.1 while pairing nothing (emb_lsh_pairs 0.30 s → 0.69 s,
    // VERDICT r12 "What's wrong" #3). When a hot block DOES exist, the
    // block-count agg runs twice (once as this gate, once in the plan
    // below) — a single pruned-column shuffle, noise against the
    // O(n·maxBlock) pair work of that regime. Results are identical
    // either way: the two-arm plan's hot side is empty exactly when the
    // gate says no block exceeds the cap.
    val counts = withNorm.groupBy(blockCol).agg(count(lit(1)).as("blk_n"))
    val anyHot = !counts.filter(col("blk_n") > maxBlock).isEmpty
    if (!anyHot)
      return pairsWithin(withNorm, Seq(blockCol)).orderBy("v1", "v2")

    val sized = withNorm.join(counts, blockCol)

    val exact = pairsWithin(sized.filter(col("blk_n") <= maxBlock)
      .drop("blk_n"), Seq(blockCol))

    // hot blocks: sorted-neighborhood sub-banding, two staggered passes
    val hot = sized.filter(col("blk_n") > maxBlock).drop("blk_n")
      .withColumn("proj",
        fixedDot(col("embedding"), typedlit(planeMatrix(0))))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(blockCol).orderBy(col("proj"), col("vec_id"))) - 1)
    val hotPairs = (0 to 1).map { pass =>
      val band = floor((col("rn") + lit(pass * maxBlock / 2)) / maxBlock)
      pairsWithin(hot.withColumn("band", band), Seq(blockCol, "band"))
    }.reduce(_.unionByName(_)).dropDuplicates("v1", "v2")

    exact.unionByName(hotPairs).orderBy("v1", "v2")
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * cluster embeddings, then prune within-cluster semantic duplicates
    * above a cosine threshold, keeping one representative per
    * near-duplicate neighborhood. Blocking comes from GEOMETRY (nearest
    * centroid), not metadata — a vector sits with its geometric
    * neighbors even when its label disagrees.
    *
    * Survivor rule: a vector is pruned iff a LOWER-vec_id vector in the
    * same cluster has cosine ≥ threshold — greedy by id, deterministic,
    * relational (one EXISTS), and exactly replayable in SQL.
    *
    * Returns per-cluster (cluster, n_vecs, n_pruned, n_kept).
    *
    * Scale: the codebook is k×dim driver rows (the IVF boundary, same as
    * [[assignToCentroids]]); the pairwise stage is quadratic only within
    * a cluster — SemDeDup's own recipe grows k ∝ corpus so expected
    * cluster size stays constant, making total pair work linear.
    *
    * Persists the assigned frame (MEMORY_AND_DISK, evictable) under the
    * block-lifetime contract on [[graft.Materialize]]. */
  def semDedup(emb: DataFrame, cents: Seq[(Int, Array[Double])],
               threshold: Double,
               maxBlock: Int = PairBlockCap): DataFrame = {
    // persisted: the assigned frame feeds the pair chain AND the final
    // per-cluster aggregate — without it the assignToCentroids k-fold
    // projection (the dominant per-row cost) re-executes for the final
    // join as well. Evictable blocks, recompute fallback.
    val assigned = assignToCentroids(emb, cents)
      .select(col("vec_id"), col("assigned_label").as("cluster"),
        col("embedding"))
      .transform(Materialize.persist)
    val prunedIds = cosinePairsBy(assigned, threshold, "cluster",
      maxBlock, persistNorm = false)
      .select(col("v2").as("vec_id")).distinct()
    assigned
      .join(prunedIds.withColumn("is_pruned", lit(1)), Seq("vec_id"), "left")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_vecs"),
        count(col("is_pruned")).as("n_pruned"))
      .withColumn("n_kept", col("n_vecs") - col("n_pruned"))
      .orderBy("cluster")
  }

  // 8 planes: for a cosine-0.5 neighbor (angle 60°, per-plane agreement
  // ≈ 2/3) expected bucket hamming is ~2.7, so the hamming-≤3 probe keeps
  // ~70% recall while pruning ~2/3 of candidates; tighter budgets only pay
  // off when true neighbors are close (cosine ≥ 0.9).
  val LshPlanes = 8

  /** Plane literals cover up to this many dimensions; [[fixedDot]] stops at
    * the shorter array, so any embedding with dim ≤ MaxPlaneDim projects
    * onto exactly its own dim components. Matrices are generated lazily per
    * requested dim (the md5 derivation is per-(plane, dim-index), so a
    * longer matrix is a prefix-consistent extension of a shorter one). */
  val MaxPlaneDim = 512

  /** Deterministic pseudo-random hyperplane component for (plane p, dim i):
    * md5("p|i") → first 6 hex digits → uniform in [-1, 1). Same derivation
    * as round 1's per-row column expression, but computed ONCE on the
    * driver — the old form re-ran md5+conv for every (row, plane, dim)
    * inside an interpreted HOF, which made the "approximate" path slower
    * than the exhaustive scan it was meant to beat. */
  private def planeComponent(p: Int, i: Int): Double = {
    val hex = graft.functions.KmvFunctions.md5Hex(s"$p|$i")
    (java.lang.Long.parseLong(hex.substring(0, 6), 16).toDouble /
      0xffffff.toDouble) * 2.0 - 1.0
  }

  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Float]]]()

  /** The deterministic hyperplane matrix for `dim` dimensions — public so
    * the DuckDB oracle twin can embed the identical literals and verify the
    * ANN path end-to-end. */
  def planeMatrixFor(dim: Int): Array[Array[Float]] =
    planeCache.computeIfAbsent(math.min(dim, MaxPlaneDim),
      d => Array.tabulate(LshPlanes, d)((p, i) => planeComponent(p, i).toFloat))

  private def planeMatrix: Array[Array[Float]] = planeMatrixFor(MaxPlaneDim)

  /** b-bit sign bucket per vector under [[LshPlanes]] random hyperplanes.
    * Each plane is an embedded literal array and each projection one fused
    * [[fixedDot]] — a pure codegen projection, no explode, no shuffle, no
    * per-row hash derivation. This is the INDEXING op: at 100 TB the
    * bucketed frame is written out partitioned by bucket once, and probes
    * ([[annTopK]]) become partition pruning instead of scans. */
  /** The bucket string as a column expression (one fused fixedDot per
    * plane). */
  private def bucketCol(planes: Int): Column = {
    val bits = (0 until planes).map { p =>
      val plane = typedlit(planeMatrix(p))
      when(fixedDot(col("embedding"), plane) >= 0, "1").otherwise("0")
    }
    concat(bits: _*)
  }

  def lshBuckets(emb: DataFrame, planes: Int = LshPlanes): DataFrame = {
    graft.functions.GraftFunctions.install(emb.sparkSession)
    emb.select(col("vec_id"), bucketCol(planes).as("bucket"))
  }

  /** Output dimensionality of the Johnson–Lindenstrauss projection. */
  val RpDims = 16

  /** Deterministic ±1 sign for (output dim j, input dim i) — md5 low bit,
    * the Achlioptas sign-matrix member of the JL family (±1 entries
    * satisfy the lemma with the same concentration as Gaussians and keep
    * every product exact in fixed point). */
  private def rpSign(j: Int, i: Int): Int = {
    val hex = graft.functions.KmvFunctions.md5Hex(s"rp|$j|$i")
    if ((java.lang.Long.parseLong(hex.substring(0, 6), 16) & 1L) == 1L) 1
    else -1
  }

  private val rpCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Float]]]()

  /** The deterministic JL sign matrix for `dim` input dimensions — public
    * so the DuckDB oracle twin can embed the identical ±1 literals.
    * Prefix-consistent: the matrix for a longer dim extends a shorter
    * one (derivation is per-(j, i)). */
  def rpSignMatrixFor(dim: Int): Array[Array[Float]] =
    rpCache.computeIfAbsent(dim,
      d => Array.tabulate(RpDims, d)((j, i) => rpSign(j, i).toFloat))

  /** Johnson–Lindenstrauss norm-preservation report: project every
    * embedding to [[RpDims]] dimensions with the ±1 sign matrix and emit
    * each vector's original norm, projected norm (scaled by 1/√RpDims,
    * the JL unbiased estimator), and their ratio — the certificate a
    * pipeline checks before swapping full vectors for sketches in a
    * distance-based stage. One codegen projection per row ([[RpDims]]
    * fused [[fixedDot]]s against literal sign arrays — no explode, no
    * shuffle, no per-row randomness); every sum that crosses elements is
    * fixed-point longs, so the report is bit-identical on any
    * partitioning and the oracle twin is hash-exact. */
  def randomProjectionReport(emb: DataFrame, dim: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.install(emb.sparkSession)
    val signs = rpSignMatrixFor(dim)
    val yfx = (0 until RpDims).map(j =>
      fixedDot(col("embedding"), typedlit(signs(j))))
    // per-component (y_j/1e12)² quantized at 1e6 so the 16-term sum is
    // exact integer arithmetic (a raw double sum would be order-fragile
    // in SQL even though the Spark reduce is a fixed expression tree)
    val t = yfx.map { y =>
      val yd = y.cast("double") / lit(Scale)
      round(yd * yd * lit(1e6), 0).cast("long")
    }
    val selfFx = fixedDot(col("embedding"), col("embedding"))
    emb.select(col("vec_id"), col("label"),
        selfFx.as("nfx"), t.reduce(_ + _).as("pfx"))
      .select(col("vec_id"), col("label"),
        sqrt(col("nfx").cast("double") / Scale).as("norm_orig"),
        sqrt(col("pfx").cast("double") / 1e6 / RpDims).as("norm_proj"))
      .withColumn("ratio",
        when(col("norm_orig") > 0,
          round(col("norm_proj") / col("norm_orig"), 6)))
      .orderBy("vec_id")
  }

  /** Driver-side twin of one [[lshBuckets]] bit — identical fixed-point op
    * sequence, so a collected query vector hashes to the same bucket the
    * distributed projection assigns. */
  private def planeBit(e: Array[Float], p: Int): Boolean =
    graft.functions.FixedDotOps.dot(e, planeMatrixFor(e.length)(p)) >= 0

  /** Collect the query embedding (1-row pushed-filter scan — the same
    * scalar boundary as a broadcast variable). None when the id is absent —
    * probes degrade to an empty result, matching the join-based form. */
  private def queryVector(emb: DataFrame, queryId: Long): Option[Array[Float]] =
    emb.filter(col("vec_id") === queryId).select(col("embedding"))
      .collect().headOption.map(_.getSeq[Float](0).toArray)

  /** Empty (vec_id, cosine) frame — the top-k result of a missing query. */
  private def emptyTopK(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), lit(0.0).as("cosine")).limit(0)

  /** Exact top-k of `cands` against a driver-held query vector: the query
    * side is a literal, so the rerank is one scan + TakeOrdered with no
    * join at all, and the query norm is a constant instead of a per-row
    * recompute. Cosine values are bit-identical to [[cosineTopK]] (same
    * fixed-point dot, same double op sequence). */
  private def topKVsQuery(cands: DataFrame, qe: Array[Float], k: Int): DataFrame = {
    val qnrm = math.sqrt(graft.functions.FixedDotOps.dot(qe, qe).toDouble / Scale)
    cands.select(col("vec_id"),
        cosine(col("embedding"), typedlit(qe),
          norm(col("embedding")), lit(qnrm)).as("cosine"))
      .orderBy(desc("cosine"), col("vec_id"))
      .limit(k)
  }

  /** Hard cap on within-LSH-bucket pair work for [[cosinePairsLsh]].
    * Under the fixed 8-plane grid a bucket's population grows LINEARLY
    * with the corpus, so uncapped in-bucket pairing is quadratic per
    * decade — measured: 2,103 s at the 2 M-vector decade (round-11 sf100
    * sweep), ~×100/decade. Buckets at or under the cap are paired
    * exhaustively (exact — every sweep-verified scale through sf1 sits
    * well under it); hot buckets take [[cosinePairsBy]]'s
    * sorted-neighborhood sub-blocking, bounding per-bucket work at
    * O(n·cap) with conservative-direction misses only (a straddling pair
    * lost = an extra document kept). 512 ≈ 4× the expected occupancy at
    * the last exact-verified decade while cutting the 2 M-vector pair
    * step ~8×. */
  val LshBucketPairCap = 512

  /** Label-free embedding near-dup at scale: exact cosine pairs WITHIN each
    * LSH bucket. This is [[cosinePairs]] with the blocking key replaced by
    * the hyperplane bucket — the form that holds at 100 TB, where no
    * curated label exists and all-pairs is impossible: the only shuffle is
    * the self-join on the 8-bit bucket key, so pair fan-out is bounded by
    * bucket occupancy (≈ N/2^planes per bucket under the random-projection
    * mixing), and near neighbors land in the same bucket with the standard
    * SimHash collision probability (1 − θ/π per plane). The bucket frame is
    * persisted so the bucket projection runs once, not per join branch.
    *
    * Since round 12 the default is CAPPED, not exhaustive: a bucket above
    * `maxBlock` rows (default [[LshBucketPairCap]]) is paired via
    * [[cosinePairsBy]]'s sorted-neighborhood banding instead of
    * all-pairs — conservative-direction misses only. Pass
    * `maxBlock = Int.MaxValue` for the old exact-everywhere behavior. */
  def cosinePairsLsh(emb: DataFrame, threshold: Double,
                     maxBlock: Int = LshBucketPairCap): DataFrame = {
    graft.functions.GraftFunctions.install(emb.sparkSession)
    val withB = emb
      .select(col("vec_id"), bucketCol(LshPlanes).as("bucket"),
        col("embedding"))
      .transform(Materialize.persist)
    // the pairing discipline (exact ≤ cap, sorted-neighborhood banding
    // above) is cosinePairsBy's, with the LSH bucket as the block key
    cosinePairsBy(withB, threshold, "bucket", maxBlock, persistNorm = false)
  }

  // ------------------------------------------------------------------ IVF
  /** Collected coarse codebook: the first `nCells` vec_ids serve as
    * deterministic seed centroids (at scale: a k-means refinement over a
    * sample — the assignment machinery is identical). nCells is O(10–1000),
    * so the codebook is a legitimate driver-side constant — the same
    * boundary as a broadcast variable, without a join. */
  private def codebook(emb: DataFrame, nCells: Int): Array[(Long, Array[Float], Double)] =
    emb.filter(col("vec_id") < nCells)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map { r =>
        val ce = r.getSeq[Float](1).toArray
        val nrm = math.sqrt(
          graft.functions.FixedDotOps.dot(ce, ce).toDouble / Scale)
        (r.getLong(0), ce, nrm)
      }
      .sortBy(_._1)

  /** IVF cell assignment as a single shuffle-free projection: the argmax
    * over the `nCells` literal-centroid scores is a struct-max over an
    * inline array — no crossJoin, no window, no Exchange (round 1 shuffled
    * the whole corpus through a row_number window for what is a 16-way
    * argmax). The score is dot(e,c)/|c| — the row norm is a positive
    * constant factor per row, so the argmax (and its ties) is the argmax of
    * the cosine without computing the row norm at all. Ties break to the
    * lowest cell id, matching the old ORDER BY cos DESC, cell ASC. */
  def ivfAssign(emb: DataFrame, nCells: Int): DataFrame = {
    graft.functions.GraftFunctions.install(emb.sparkSession)
    assignWithCells(emb, codebook(emb, nCells)).select("vec_id", "cell")
  }

  private def assignWithCells(emb: DataFrame,
      cells: Array[(Long, Array[Float], Double)]): DataFrame = {
    // an empty codebook would make array_max(array()) a NullType and the
    // .getField fail analysis; the join-based form this replaced produced
    // zero assignments for zero cells, so degrade to that
    if (cells.isEmpty)
      return emb.filter(lit(false))
        .select(col("vec_id"), col("embedding"), lit(0L).as("cell"))
    val scored = cells.map { case (cell, ce, cnrm) =>
      struct(
        ((fixedDot(col("embedding"), typedlit(ce)).cast("double") / Scale) / cnrm)
          .as("s"),
        lit(-cell).as("negcell"))
    }
    emb.select(col("vec_id"), col("embedding"),
      (-array_max(array(ArraySeq.unsafeWrapArray(scored): _*)).getField("negcell")).as("cell"))
  }

  /** IVF ANN top-k: probe the `nprobe` cells whose centroids are closest to
    * the query, rerank exactly inside them. Candidate cost ≈ nprobe/nCells
    * of the corpus instead of all of it.
    *
    * Probe-cell selection happens on the driver over the collected codebook
    * (identical fixed-point math), so the whole query plan is one scan →
    * assign projection → filter → literal-query rerank → TakeOrdered: ZERO
    * exchanges of any kind (asserted in PlanSpec; round 1 shuffled the
    * whole corpus through a row_number window). At cluster scale the
    * assignment is precomputed and the table is partitioned BY cell, making
    * the probe filter partition pruning. */
  def ivfTopK(emb: DataFrame, queryId: Long, k: Int, nCells: Int = 16,
              nprobe: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.install(emb.sparkSession)
    // one driver job collects codebook AND query vector (pushed-filter scan)
    val collected = emb
      .filter(col("vec_id") < nCells || col("vec_id") === queryId)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .toMap
    val cells = collected.filter(_._1 < nCells).toArray.sortBy(_._1)
      .map { case (cell, ce) =>
        (cell, ce,
          math.sqrt(graft.functions.FixedDotOps.dot(ce, ce).toDouble / Scale))
      }
    if (!collected.contains(queryId)) return emptyTopK(emb)
    val qe = collected(queryId)
    // no codebook → no cells to probe; the join-based form degraded to the
    // query-only candidate set, so match that instead of failing analysis
    if (cells.isEmpty)
      return topKVsQuery(emb.filter(col("vec_id") === queryId), qe, k)
    val qnrm = math.sqrt(graft.functions.FixedDotOps.dot(qe, qe).toDouble / Scale)
    val probed = cells
      .map { case (cell, ce, cnrm) =>
        val cos = (graft.functions.FixedDotOps.dot(ce, qe).toDouble / Scale) /
          (cnrm * qnrm)
        (cell, cos)
      }
      .sortBy { case (cell, cos) => (-cos, cell) }
      .take(nprobe).map(_._1)
    val candidates = assignWithCells(emb, cells)
      // the query itself must stay a candidate even if its cell isn't probed
      .filter(col("cell").isin(ArraySeq.unsafeWrapArray(probed): _*) || col("vec_id") === queryId)
      .select("vec_id", "embedding")
    topKVsQuery(candidates, qe, k)
  }

  /** Per-label mean embedding (centroid), one row per (label, dimension).
    * The reduction every embedding-space summary starts from: class
    * prototypes for nearest-centroid classification, cluster centers for
    * drift monitoring, the seed codebook for IVF. explode → one hash
    * aggregate keyed on (label, dim): partial aggregation absorbs the
    * dim-fanout map-side, so the shuffle carries ≤ |labels|·dims rows no
    * matter the corpus size. Element sums use the same ×1e12 fixed-point
    * longs as [[cosinePairs]] — long addition is associative, so the mean
    * is bit-identical across engines and partitionings. */
  def centroids(emb: DataFrame, labelCol: String = "label"): DataFrame =
    emb.select(col(labelCol), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col(labelCol), (col("pos") + 1).as("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(expr("cast(round(cast(x as double) * 1e12, 0) as bigint)"))
          .as("__s"))
      .withColumn("centroid_x",
        col("__s").cast("double") / lit(1e12) / col("n_vecs"))
      .drop("__s")
      .orderBy(col(labelCol), col("dim"))

  /** Nearest-centroid assignment against a driver-collected codebook (one
    * small array per label — same shape as the IVF codebook): squared
    * euclidean distance per centroid via a zip_with/aggregate fold over
    * ×1e12 fixed-point longs, argmin via `least` over (dist, label)
    * structs (lexicographic struct ordering = dist asc, label asc
    * tie-break). Single scan, zero exchanges, the whole codebook lives in
    * the codegen'd projection — nearest-centroid classification and drift
    * scoring at any corpus size. */
  /** Above this codebook size the per-centroid EXPRESSION form (one
    * `least` over k struct branches, each embedding a k×dim literal)
    * switches to the broadcast-join form: the round-10 sf10 sweep caught
    * the expression form generating a 33 MiB task binary and falling out
    * of codegen at k ≈ 3000 (the k ∝ corpus regime SemDeDup itself
    * prescribes) — the PLAN must stay O(1) in k, with the codebook as
    * broadcast DATA, not as expression text. Both forms compute the
    * identical fixed-point integers and the identical (dist, lbl)
    * tie-break, so results are form-invariant. */
  val CentroidExprMax = 64

  // codegen'd fused loop ([[graft.functions.FixedSqDistExpr]]) — identical
  // value/null semantics to the old composable fold
  //   aggregate(zip_with(embedding, cent,
  //     (x, cc) => round((x−cc)²·1e12, 0).cast(long)), 0L, _+_)
  // which ran as interpreted HOFs (CodegenFallback) and was the dominant
  // per-row cost of every centroid-scored query (sim_silhouette's k-fold
  // projection was one 2.7 s stage at sf0.1). Callers must have run
  // [[graft.functions.GraftFunctions.install]] on the session.
  private def centroidDist(cent: Column): Column =
    graft.functions.FixedSqDistFunctions.fixedSqDist(col("embedding"), cent)

  /** Above this many DISTINCT codebook positions the broadcast n×k join
    * form switches to the IVF-pruned form ([[nearestTwoPruned]]): with
    * SemDeDup's prescribed k ∝ corpus, n×k scoring is O(n²) per decade —
    * the round-11 sf100 sweep projected ~60 G distance folds (~10 h) for
    * the join form at k ≈ 30 000. 512 keeps the join form for every
    * small/medium codebook (its single groupBy is hard to beat there). */
  val CentroidJoinMax = 512

  /** Broadcast ceiling for the IVF member table, in ELEMENTS (dk·dim):
    * 2²² doubles ≈ 32 MB raw / ~70 MB boxed — comfortably under Spark's
    * broadcast limits on any executor profile. At dim 64 this keeps the
    * broadcast path through dk ≈ 65 k distinct centroids; a 10⁶-centroid
    * codebook (multi-GB boxed) takes the shuffle-join path instead. */
  val MemberBroadcastMaxElems = 1L << 22

  def assignToCentroids(emb: DataFrame,
                        cents: Seq[(Int, Array[Double])]): DataFrame = {
    require(cents.nonEmpty, "empty codebook")
    graft.functions.GraftFunctions.install(emb.sparkSession)
    if (cents.size <= CentroidExprMax) {
      val scored = cents.map { case (label, c) =>
        struct(centroidDist(typedlit(c.toSeq)).as("dist"),
          lit(label).as("lbl"))
      }
      val best =
        if (scored.size == 1) scored.head else least(scored: _*)
      emb.withColumn("assigned_label", best.getField("lbl"))
    } else {
      // all larger codebooks: exact top-2 machinery (dedup → route by
      // DISTINCT count → expression / join / IVF-pruned), keep the argmin
      nearestTwoPruned(emb, cents)
        .withColumn("assigned_label", col("__b1").getField("lbl"))
        .drop("__b1", "__b2")
    }
  }

  /** Slack added to every triangle-inequality prune comparison, in the
    * sqrt-distance space — derived from the embedding DIMENSION, because
    * the fixed-point rounding error grows with it. The engine measures
    * distances in ×1e12 fixed-point (per-dimension rounding ≤ 0.5e-12),
    * so a near-zero true distance can read up to sqrt(dim · 0.5e-12)
    * ≈ 7.1e-7·√dim in sqrt space. The prune comparison
    * (dsup − radius ≤ τ + eps) carries three such error terms, so the
    * slack must dominate 3·7.1e-7·√dim; 1.25e-5·√dim gives ~6× headroom
    * over the three-term bound at EVERY dimension (and reproduces the
    * long-standing 1e-4 at dim = 64) while staying far below any real
    * inter-centroid distance — pruning is conservative (ties and
    * near-ties are always scored) and the top-2 result is bit-identical
    * to the exhaustive forms, for dim in the thousands as well as 64. */
  private def pruneEps(dim: Int): Double = 1.25e-5 * math.sqrt(dim.toDouble)

  /** Driver-side coarse quantizer over the CODEBOOK: k-means the k
    * centroids into k' ≈ √k cells (deterministic seeding and iteration
    * count), returning per cell its super-centroid, its covering radius
    * (max member distance, in the same sqrt-of-fixed-point space the
    * engine measures in, plus [[PruneEps]] headroom), and its member
    * centroids. O(k·√k·iters·dim) driver flops — ~2.7 G at k = 30 000,
    * trivially driver-bounded like the codebook collect itself. */
  private def coarseCells(cents: Seq[(Int, Array[Double])])
      : Seq[(Int, Array[Double], Double, Seq[(Int, Array[Double])])] = {
    val sorted = cents.sortBy(_._1).toIndexedSeq
    val k = sorted.size
    val kc = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    val dim = sorted.head._2.length
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // deterministic spread init: every ⌈k/k'⌉-th centroid in label order
    var sups = Array.tabulate(kc)(j => sorted((j.toLong * k / kc).toInt)._2)
    val assign = new Array[Int](k)
    var it = 0
    while (it < 6) {
      var i = 0
      while (i < k) {
        var best = 0; var bd = Double.MaxValue; var j = 0
        while (j < kc) {
          val d = sq(sorted(i)._2, sups(j))
          if (d < bd) { bd = d; best = j }
          j += 1
        }
        assign(i) = best; i += 1
      }
      val sums = Array.fill(kc)(new Array[Double](dim))
      val cnts = new Array[Int](kc)
      i = 0
      while (i < k) {
        val j = assign(i); cnts(j) += 1
        var d = 0
        while (d < dim) { sums(j)(d) += sorted(i)._2(d); d += 1 }
        i += 1
      }
      sups = Array.tabulate(kc)(j =>
        if (cnts(j) == 0) sups(j)
        else sums(j).map(_ / cnts(j)))
      it += 1
    }
    // covering radius in the engine's own metric (sqrt of the ×1e12
    // fixed-point squared distance) so the prune bound and the scored
    // distances live in one space
    def fpDist(a: Array[Double], b: Array[Double]): Double = {
      var s = 0L; var i = 0
      while (i < dim) {
        val d = a(i) - b(i); s += math.rint(d * d * Scale).toLong; i += 1
      }
      math.sqrt(s.toDouble / Scale)
    }
    (0 until kc).flatMap { j =>
      val mem = sorted.indices.filter(assign(_) == j).map(sorted)
      if (mem.isEmpty) None
      else Some((j, sups(j),
        mem.map(c => fpDist(c._2, sups(j))).max + pruneEps(dim), mem))
    }
  }

  /** Exact top-2 nearest centroids for any codebook size — the large-k
    * scale surface behind [[assignToCentroids]] and [[silhouette]].
    *
    * First, DUPLICATE POSITIONS are deduplicated driver-side: the
    * k ∝ corpus regime frequently replicates centroid positions (every
    * ×10 replication of a labeled corpus replicates every label mean
    * verbatim — the round-11 sf100 fixture carries 30 000 labels over 30
    * distinct positions), and only distinct positions ever need scoring.
    * Each position carries its two smallest labels: under the
    * (dist, lbl) tie-break no third copy of a position can reach the
    * full-codebook top-2, so expanding the distinct top-2 through those
    * label pairs and re-sorting reproduces the brute top-2 exactly.
    *
    * The DISTINCT count then routes: ≤ [[CentroidExprMax]] — one codegen
    * projection (array of per-position literal folds, sorted, sliced),
    * zero joins, zero shuffles; ≤ [[CentroidJoinMax]] — the broadcast
    * n×dk join with a top-2 aggregate; above that — IVF-style
    * triangle-inequality pruning: (1) score every vector against
    * k' ≈ √dk super-centroids, keep the two nearest CELLS (collect_list
    * buffers k' structs transiently; nothing k'-sized is persisted per
    * row — at the 10⁹-vector / 10⁶-centroid regime that array would be
    * tens of TB, so the prune pass RECOMPUTES the cheap super scores);
    * (2) exactly score those two cells' members — the second-best
    * distance is the prune threshold τ; (3) keep only cells whose bound
    * dsup − radius ≤ τ + ε and score their members; (4) top-2 over the
    * array_distinct'd union (a centroid scored in both passes must not
    * shadow the true second-best). Pruning is conservative (ties and
    * near-ties always survive to scoring), so every branch returns
    * bit-identical results. NOTE the honest limit: for near-uniform
    * high-dimensional codebooks the triangle bound keeps most cells
    * (curse of dimensionality) and the pruned branch degrades toward the
    * join form's O(n·dk) with ~2× constant — dedup is what makes the
    * replicated-fixture regime cheap; pruning pays off when the codebook
    * has real cluster structure, as trained/monitored codebooks do.
    *
    * Returns the input rows + `__b1`/`__b2` structs (fixed-point dist,
    * lbl) of the two nearest centroids (`__b2` null iff k == 1). */
  private[graft] def nearestTwoPruned(
      emb: DataFrame, cents: Seq[(Int, Array[Double])]): DataFrame = {
    require(cents.nonEmpty, "empty codebook")
    val spark = emb.sparkSession
    graft.functions.GraftFunctions.install(spark)
    import spark.implicits._
    // duplicate-position dedup: rep label + optional second label
    val byPos: Seq[(Array[Double], Int, Option[Int])] =
      cents.groupBy(_._2.toSeq).toSeq.map { case (pos, copies) =>
        val lbls = copies.map(_._1).sorted
        (pos.toArray, lbls.head, lbls.lift(1))
      }.sortBy(_._2)
    val dk = byPos.size
    // distinct top-2 [(dist, lbl, l2)] → full-codebook (__b1, __b2):
    // expand each kept position through its ≤2 smallest labels, re-sort
    def expand(t2: Column): (Column, Column) = {
      val cands = sort_array(flatten(transform(t2, s =>
        filter(
          array(
            struct(s.getField("dist").as("dist"),
              s.getField("lbl").as("lbl")),
            struct(s.getField("dist").as("dist"),
              s.getField("l2").as("lbl"))),
          c => c.getField("lbl").isNotNull))))
      (element_at(cands, 1),
        when(size(cands) > 1, element_at(cands, 2)))
    }
    def scoreStruct(dist: Column, lbl: Column, l2: Column): Column =
      struct(dist.as("dist"), lbl.as("lbl"), l2.as("l2"))
    if (dk <= CentroidExprMax) {
      // expression form: dk literal folds + sort + slice, one projection
      val scored = byPos.map { case (pos, l1, l2) =>
        scoreStruct(centroidDist(typedlit(pos.toSeq)), lit(l1),
          l2.map(lit(_)).getOrElse(lit(null).cast("int")))
      }
      val t2 = slice(sort_array(array(scored: _*)), 1, 2)
      val (b1, b2) = expand(t2)
      return emb.withColumn("__b1", b1).withColumn("__b2", b2)
    }
    // join identity is a GENERATED per-row id, never the caller's vec_id
    // (dup/null vec_ids must not coalesce or drop rows), materialized once
    val withId = emb.withColumn("__vec_row", monotonically_increasing_id())
      .transform(Materialize.checkpoint)
    // ×dk amplification after the scan: repartition → checkpoint → fan out
    val base = withId.select(col("__vec_row"), col("embedding"))
      .repartition(spark.sparkContext.defaultParallelism, col("__vec_row"))
      .transform(Materialize.checkpoint)
    val t2col: DataFrame =
      if (dk <= CentroidJoinMax) {
        val centDf = broadcast(
          byPos.map { case (p, l1, l2) => (p.toSeq, l1, l2) }
            .toDF("cent", "lbl", "l2"))
        base.crossJoin(centDf)
          .select(col("__vec_row"),
            scoreStruct(centroidDist(col("cent")), col("lbl"), col("l2"))
              .as("s"))
          .groupBy("__vec_row")
          .agg(slice(sort_array(collect_list(col("s"))), 1, 2).as("t2"))
      } else {
        val dim = byPos.head._1.length
        val l2Of = byPos.map { case (_, l1, l2) => l1 -> l2 }.toMap
        val cells = coarseCells(byPos.map { case (p, l1, _) => (l1, p) })
        val superDf = broadcast(
          cells.map { case (j, s, r, _) => (j, s.toSeq, r) }
            .toDF("cell", "sup", "radius"))
        // the member table is dk rows EACH carrying the full vector —
        // broadcast only while dk·dim stays in the tens-of-MB class
        // (boxed Seq[Double] roughly doubles the raw 8·dk·dim bytes); a
        // 10⁶-centroid codebook would be a multi-GB broadcast, so above
        // the cap it ships as an ordinary shuffle join on `cell` instead
        // (the candidate side is already cell-keyed and far larger, so
        // the exchange it adds is the small dimension side only)
        val memberRows = cells.flatMap { case (j, _, _, mem) =>
          mem.map { case (l, c) => (j, l, l2Of(l), c.toSeq) }
        }.toDF("cell", "cent_lbl", "cent_l2", "cent")
        val memberDf =
          if (dk.toLong * dim <= MemberBroadcastMaxElems) broadcast(memberRows)
          else memberRows.repartition(col("cell"))
        def supScores = base.crossJoin(superDf)
          .select(col("__vec_row"), col("embedding"), col("cell"),
            col("radius"),
            sqrt(centroidDist(col("sup")).cast("double") / lit(Scale))
              .as("dsup"))
        val scoreMembers = (cand: DataFrame) => cand
          .join(memberDf, "cell")
          .select(col("__vec_row"),
            scoreStruct(centroidDist(col("cent")), col("cent_lbl"),
              col("cent_l2")).as("s"))
        // (1)+(2): two nearest cells per vector, members scored exactly
        val primTop2 = scoreMembers(
          supScores
            .groupBy("__vec_row")
            .agg(slice(
              sort_array(collect_list(struct(col("dsup"), col("cell")))),
              1, 2).as("near2"))
            .join(base, "__vec_row")
            .select(col("__vec_row"), col("embedding"),
              explode(col("near2")).as("nc"))
            .select(col("__vec_row"), col("embedding"),
              col("nc").getField("cell").as("cell")))
          .groupBy("__vec_row")
          .agg(slice(sort_array(collect_list(col("s"))), 1, 2).as("t2"))
        // τ = the second-best primary distance, in sqrt space (two probed
        // cells are nonempty by construction, so t2 has 2 entries, dk ≥ 2)
        val tau = primTop2.select(col("__vec_row"), col("t2"),
          sqrt(element_at(col("t2"), -1).getField("dist").cast("double")
            / lit(Scale)).as("tau"))
        // (3): every other cell that could still beat τ, members scored
        val extra = scoreMembers(
          supScores
            .join(tau.select(col("__vec_row"), col("tau")), "__vec_row")
            .filter(col("dsup") - col("radius") <=
              col("tau") + lit(pruneEps(dim)))
            .select(col("__vec_row"), col("embedding"), col("cell")))
        // (4): exact top-2 over the deduped union
        tau.select(col("__vec_row"), explode(col("t2")).as("s"))
          .unionByName(extra)
          .groupBy("__vec_row")
          .agg(slice(sort_array(array_distinct(collect_list(col("s")))),
            1, 2).as("t2"))
      }
    val (b1, b2) = expand(col("t2"))
    withId.join(
      t2col.select(col("__vec_row"), b1.as("__b1"), b2.as("__b2")),
      "__vec_row").drop("__vec_row")
  }

  /** Incremental [[semDedup]] — the ingest shape: an ARRIVING batch is
    * pruned against the accumulated corpus without re-deduplicating the
    * corpus (the `dedup_incremental` pattern applied to semantic space).
    * A batch vector is pruned if a same-cluster corpus vector is within
    * the cosine threshold (`by_corpus`), or — for batch-internal dupes —
    * a LOWER-vec_id batch vector is (`in_batch`). Per-batch cost is
    * O(batch × cluster-residents), never O(corpus²); at 100 TB the
    * corpus side is served by the same published cluster/centroid
    * artifacts the batch assignment uses. Returns one verdict row per
    * batch vector: (vec_id, cluster, by_corpus, in_batch, keep). */
  def semDedupIncremental(corpus: DataFrame, batch: DataFrame,
                          cents: Seq[(Int, Array[Double])],
                          threshold: Double): DataFrame = {
    graft.functions.GraftFunctions.install(corpus.sparkSession)
    def assigned(df: DataFrame) = assignToCentroids(df, cents)
      .select(col("vec_id"), col("assigned_label").as("cluster"),
        col("embedding"), norm(col("embedding")).as("nrm"))
    val corpusA = assigned(corpus)
    val batchA = assigned(batch)
    def hits(left: DataFrame, right: DataFrame, idPred: Column): DataFrame =
      left.select(col("cluster"), col("vec_id").as("v1"),
          col("embedding").as("ea"), col("nrm").as("n1"))
        .join(right.select(col("cluster"), col("vec_id").as("v2"),
          col("embedding").as("eb"), col("nrm").as("n2")), "cluster")
        .filter(idPred)
        .filter(cosine(col("ea"), col("eb"), col("n1"), col("n2"))
          >= threshold)
        .select(col("v2").as("vec_id")).distinct()
    val byCorpus = hits(corpusA, batchA, lit(true))
    val inBatch = hits(batchA, batchA, col("v1") < col("v2"))
    batchA.select(col("vec_id"), col("cluster"))
      .join(byCorpus.withColumn("by_corpus", lit(true)), Seq("vec_id"), "left")
      .join(inBatch.withColumn("in_batch", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("by_corpus"), lit(false)).as("by_corpus"),
        coalesce(col("in_batch"), lit(false)).as("in_batch"),
        not(coalesce(col("by_corpus"), lit(false)) ||
          coalesce(col("in_batch"), lit(false))).as("keep"))
      .orderBy("vec_id")
  }

  /** ANN top-k: candidates are vectors whose LSH bucket is within
    * `maxHamming` bits of the query's, reranked exactly. maxHamming = 0 is
    * a pure bucket-equality probe (with a pre-bucketed table, the 100 TB
    * path); small positive values trade cost for recall.
    *
    * The query's bucket bits are computed on the DRIVER from the collected
    * query vector (identical fixed-point ops), so the hamming test is a
    * literal comparison per plane and the whole plan is one scan → filter →
    * literal-query rerank → TakeOrdered — no bucket self-consumption, no
    * semi-join shuffle, no persist (round 1 evaluated the bucket DAG twice
    * and shuffled candidates through a join). */
  def annTopK(emb: DataFrame, queryId: Long, k: Int,
              maxHamming: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.install(emb.sparkSession)
    queryVector(emb, queryId) match {
      case None => emptyTopK(emb)
      case Some(qe) =>
        val planes = planeMatrixFor(qe.length)
        val hamming = (0 until LshPlanes).map { p =>
          val rowBit = fixedDot(col("embedding"), typedlit(planes(p))) >= 0
          when(rowBit === lit(planeBit(qe, p)), 0).otherwise(1)
        }.reduce(_ + _)
        topKVsQuery(emb.filter(hamming <= maxHamming), qe, k)
    }
  }

  /** Simplified silhouette score per label — the clustering-quality
    * member of the embedding family (Rousseeuw's silhouette with the
    * standard centroid simplification: a = distance to own centroid,
    * b = nearest OTHER centroid, s = (b−a)/max(a,b) ∈ [−1, 1]): the
    * one-number answer to "are these labels actually clusters?" before a
    * mixture/stratification decision trusts them. The centroid codebook
    * is driver-collected (bounded like the IVF codebook) and every
    * distance is a fixed-point long fold inside one codegen'd projection
    * — single scan, zero exchanges before the final label aggregate; the
    * per-row s is an identical IEEE sequence in both engines and the
    * label means go through the decimal-exact sum, so the entry is
    * hash-exact. */
  def silhouette(emb: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.install(emb.sparkSession)
    val cents: Seq[(Int, Array[Double])] = centroids(emb).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(3)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (l, rows) => (l, rows.sortBy(_._2).map(_._3).toArray) }
    require(cents.size >= 2, "silhouette needs at least two labels")
    def sOf(a: Column, b: Column): Column =
      when(greatest(a, b) === lit(0.0), lit(0.0))
        .otherwise((b - a) / greatest(a, b))
    val perRowS: DataFrame =
      if (cents.size > CentroidJoinMax) {
        // IVF-pruned form (the k ∝ corpus scale path): a = own-centroid
        // distance via a broadcast label join (exactly one centroid per
        // label), b = nearest OTHER centroid from the pruned exact top-2
        // (if the nearest overall is the own label, the second-nearest is
        // the nearest other; the top-2 are distinct labels by
        // construction — one centroid per label)
        val spark = emb.sparkSession
        import spark.implicits._
        val ownDf = broadcast(cents.toDF("label", "__own_cent"))
        val nt = nearestTwoPruned(
          emb.select(col("label"), col("embedding")), cents)
        val aCol = sqrt(centroidDist(col("__own_cent")).cast("double")
          / lit(Scale))
        val bFp = when(col("__b1").getField("lbl") === col("label"),
          col("__b2").getField("dist"))
          .otherwise(col("__b1").getField("dist"))
        nt.join(ownDf, "label")
          .select(col("label"),
            sOf(aCol, sqrt(bFp.cast("double") / lit(Scale))).as("s"))
      } else if (cents.size <= CentroidExprMax) {
        // expression form: k per-centroid codegen'd fused folds in one
        // projection (same value as the old zip_with/aggregate lambda —
        // see centroidDist)
        def dist(c: Array[Double]): Column =
          sqrt(graft.functions.FixedSqDistFunctions
            .fixedSqDist(col("embedding"), typedlit(c))
            .cast("double") / lit(1e12))
        val a = coalesce(cents.map { case (l, c) =>
          when(col("label") === lit(l), dist(c)) }: _*)
        val b = least(cents.map { case (l, c) =>
          when(col("label") =!= lit(l), dist(c)) }: _*)
        emb.select(col("label"), sOf(a, b).as("s"))
      } else {
        // broadcast-join form (round-10 sf10 finding, see CentroidExprMax):
        // k×n distance rows, a = own-label distance, b = min other-label —
        // the same value set `coalesce`/`least` reduced, as DATA not text
        val spark = emb.sparkSession
        import spark.implicits._
        val centDf = cents.toDF("cent_lbl", "cent")
        val d = sqrt(centroidDist(col("cent")).cast("double") / lit(1e12))
        // group on a GENERATED per-row id, not the caller's vec_id — a
        // duplicated (vec_id, label) would coalesce two rows' s into one,
        // diverging from the expression form, which scores every row.
        // ×k amplification after the scan: set our own parallelism
        // (repartition → checkpoint → fan out, the round-9 house recipe)
        emb.select(col("label"), col("embedding"))
          .withColumn("__vec_row", monotonically_increasing_id())
          .repartition(spark.sparkContext.defaultParallelism, col("__vec_row"))
          .transform(Materialize.checkpoint)
          .crossJoin(broadcast(centDf))
          .select(col("__vec_row"), col("label"),
            when(col("label") === col("cent_lbl"), d).as("da"),
            when(col("label") =!= col("cent_lbl"), d).as("db"))
          .groupBy("__vec_row", "label")
          .agg(max(col("da")).as("a"), min(col("db")).as("b"))
          .select(col("label"), sOf(col("a"), col("b")).as("s"))
      }
    perRowS
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(graft.queries.Num.dsum(col("s"), 12) / count(lit(1)), 6)
          .as("silhouette"))
      .orderBy("label")
  }

  /** int8 scalar-quantized cosine top-k — the deployment form that cuts
    * the scan footprint 4× vs float32 (PQ's 27× sibling with far simpler
    * mechanics and better per-vector accuracy): each vector is quantized
    * independently as q_i = round(x_i / s), s = max|x_i| / 127. The
    * per-vector scales CANCEL in the cosine, so the approximate score is
    * pure integer arithmetic — int dot over int-derived norms — which is
    * what makes the oracle twin exact rather than rows-only: no float
    * accumulation order to disagree on. The exact float cosine rides
    * along to make the quantization error visible per row (`ExtensionSpec`
    * pins recall and max error; a deployment would store only `qv` and
    * drop the float column from the scan entirely). One scan, broadcast
    * 1-row query, TakeOrdered — the same no-shuffle shape as
    * [[cosineTopK]]. */
  def sqTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    graft.functions.GraftFunctions.install(emb.sparkSession)
    // fused codegen forms of the quantize / int-dot / int-norm folds — the
    // composable aggregate/zip_with/transform chain ran as interpreted HOFs
    // (CodegenFallback) in the corpus-sized projection; values and null
    // semantics are pinned to the lambda forms by FusedExprSpec
    val withQ = emb.select(col("vec_id"), col("embedding"),
      graft.functions.SqQuantizeFunctions.sqQuantize(col("embedding"))
        .as("qv"))
    val q = withQ.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"), col("qv").as("qq"))
    val intNorm = (c: Column) => sqrt(
      graft.functions.IntDotFunctions.intDot(c, c).cast("double"))
    val dotQ = graft.functions.IntDotFunctions.intDot(col("qv"), col("qq"))
    withQ.crossJoin(broadcast(q))
      .select(col("vec_id"),
        (dotQ.cast("double") / (intNorm(col("qv")) * intNorm(col("qq"))))
          .as("approx_cosine"),
        cosine(col("embedding"), col("qe"),
          norm(col("embedding")), norm(col("qe"))).as("cosine"))
      .orderBy(desc("approx_cosine"), col("vec_id"))
      .limit(k)
  }
}
