package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize

/** Mergeable rank-sketch surface (round 8).
  *
  * Two forms of the same deterministic-compaction quantile idea:
  *
  *  1. [[kllCanonical]] — a canonical-order Munro–Paterson halving tree:
  *     rank-space chunks of k, then pairwise merge-and-halve levels until
  *     one chunk remains. Every step is a pure function of the input
  *     MULTISET (ranks come from the total order (v, id)), so a DuckDB
  *     recursive CTE reproduces the sketch bit-for-bit and the registry
  *     entry `q_kll_quantile` is hash-exact — the same trick that makes
  *     [[graft.functions.KmvSketchAgg]]'s estimates oracle-checkable
  *     where HLL++ is not.
  *  2. [[graft.functions.KllSketchAgg]] — the arbitrary-order mergeable
  *     aggregate (streaming / windowed form), whose rank-error bound (not
  *     content) is partitioning-invariant; `KllSketchSpec` proves the
  *     (L+2)·n/k bound across partitionings against exact ranks.
  *
  * Scale shape of the canonical tree: above [[DriverFinishRows]] input
  * rows, level 0 is the two-phase [[DistributedRank]] (bucketed, no global
  * window) and each halving level is one chunk-pair-partitioned window
  * over a frame that HALVES per level (total work ≈ 2n across all
  * ceil(log2(n/k)) levels, every partition ≤ 2k rows) until the row bound
  * drops under the constant; the driver holds only the O(#buckets) rank
  * offset table, the ≤ [[DriverFinishRows]]-row tail and the final ≤ k-item
  * sketch. At or under the constant the whole tree, level 0's rank
  * included, is one collect plus a driver replay.
  */
object Sketches {
  /** Sketch capacity: ≤ K items survive; rank error ≤ ~L·n/(2·K) with
    * L = ceil(log2(n/K)) halving levels. */
  val K = 256
  private val Phis = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)

  /** The total order (v, id) of the tree, on the driver. Coincides with
    * Spark's sort order on the rows [[localSortSafe]] admits. */
  private val ByVId: Ordering[(Double, Long)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)

  /** One driver-side halving level — the EXACT algebra of the distributed
    * level: partition by nc = chunk div 2, order by (v, id), fold the even
    * (2nd, 4th, …) row's weight into its left neighbour, keep odd
    * row_numbers, relabel chunk = nc. Caller guarantees v is non-null,
    * non-NaN and not -0.0 (checked at collect time) so Scala's total
    * double order here coincides with Spark's sort order. */
  private def halveLocal(items: Array[(Double, Long, Long, Long)])
      : Array[(Double, Long, Long, Long)] =
    items.groupBy(_._3 / 2).toArray.flatMap { case (nc, rows) =>
      val sorted = rows.sortBy(r => (r._1, r._2))(ByVId)
      sorted.indices.collect { case i if i % 2 == 0 =>
        val w2 = sorted(i)._4 +
          (if (i + 1 < sorted.length) sorted(i + 1)._4 else 0L)
        (sorted(i)._1, sorted(i)._2, nc, w2)
      }
    }

  /** Replays the remaining halving levels of a `chunks`-chunk level
    * exactly on the driver; the result is the final (v, id, chunk, w)
    * sketch as a local frame. */
  private def finishLocal(s: SparkSession,
      level: Array[(Double, Long, Long, Long)], chunks: Long): DataFrame = {
    var items = level
    var nChunks = chunks
    while (nChunks > 1) {
      items = halveLocal(items); nChunks = (nChunks + 1) / 2
    }
    import s.implicits._
    items.toSeq.toDF("v", "id", "chunk", "w")
  }

  /** True when every (v, id) row is safe for [[halveLocal]]'s Scala
    * ordering: v non-null double, not NaN, not -0.0 (Spark's SQL sort
    * semantics for those differ from a naive total order — rather than
    * re-prove them, such inputs just stay on the engine path), and the id
    * in the column after v non-null. */
  private def localSortSafe(rows: Array[org.apache.spark.sql.Row],
                            vIdx: Int): Boolean =
    rows.forall { r =>
      !r.isNullAt(vIdx) && !r.isNullAt(vIdx + 1) && {
        val v = r.getDouble(vIdx)
        !v.isNaN && java.lang.Double.doubleToRawLongBits(v) != (1L << 63)
      }
    }

  /** Canonical Munro–Paterson halving tree over (v, id) rows. Returns the
    * final ≤ k-item weighted sketch (v, id, w) — Σw == n exactly at every
    * level (a dropped item's weight folds into its left neighbour) — and
    * the input count. Deterministic function of the input multiset. */
  def kllCanonical(df: DataFrame, k: Int,
      driverFinishRows: Long = DriverFinishRows): (DataFrame, Long) = {
    // the non-(double, long)-typed callers (tests with other schemas) stay
    // fully on the engine path
    val typed = df.schema("v").dataType ==
      org.apache.spark.sql.types.DoubleType &&
      df.schema("id").dataType == org.apache.spark.sql.types.LongType
    // under the bound, level 0's rank is a driver sort of the collected
    // rows, so no level runs distributed
    val small = if (!typed) None
      else collectAtMost(df.select("v", "id"), driverFinishRows)
        .filter(localSortSafe(_, 0))
    small match {
      case Some(rows) =>
        val m = rows.length.toLong
        val level0 = rows.map(r => (r.getDouble(0), r.getLong(1)))
          .sorted(ByVId).zipWithIndex
          .map { case ((v, id), i) => (v, id, i.toLong / k, 1L) }
        (finishLocal(df.sparkSession, level0, (m + k - 1) / k), m)
      case None => kllDistributed(df, k, typed, driverFinishRows)
    }
  }

  /** [[kllCanonical]] above the driver bound (or on rows the driver order
    * cannot rank): level 0 is [[DistributedRank]], then distributed levels
    * while the row bound (≤ nChunks·k) exceeds `driverFinishRows`, then the
    * tail on the driver. */
  private def kllDistributed(df: DataFrame, k: Int, typed: Boolean,
      driverFinishRows: Long): (DataFrame, Long) = {
    val r0 = df.agg(min(col("v").cast("double")).as("mn"),
      max(col("v").cast("double")).as("mx")).collect()(0)
    val nb = math.max(1, df.sparkSession.sparkContext.defaultParallelism * 4)
    val bucket = if (r0.isNullAt(0)) lit(0L) else {
      val mn = r0.getDouble(0)
      val width = math.max((r0.getDouble(1) - mn) / nb,
        java.lang.Double.MIN_NORMAL)
      least(floor((col("v").cast("double") - lit(mn)) / lit(width)),
        lit((nb - 1).toLong))
    }
    val (ranked, n) =
      DistributedRank.withRank(df, bucket, Seq(col("v"), col("id")))
    var cur = ranked
      .select(col("v"), col("id"),
        expr(s"(rank - 1) div $k").as("chunk"), lit(1L).as("w"))
      .transform(Materialize.checkpoint)
    var nChunks = (n + k - 1) / k
    def levelOnce(): Unit = {
      val pw = Window.partitionBy("nc").orderBy("v", "id")
      cur = cur.withColumn("nc", expr("chunk div 2"))
        .withColumn("rn", row_number().over(pw))
        .withColumn("w2", col("w") + coalesce(lead("w", 1).over(pw), lit(0L)))
        .filter(col("rn") % 2 === 1)
        .select(col("v"), col("id"), col("nc").as("chunk"), col("w2").as("w"))
        .transform(Materialize.checkpoint)
      nChunks = (nChunks + 1) / 2
    }
    while (nChunks > 1 && (!typed || nChunks * k > driverFinishRows))
      levelOnce()
    if (nChunks > 1) {
      val collected = cur.select("v", "id", "chunk", "w").collect()
      if (!localSortSafe(collected, 0)) { while (nChunks > 1) levelOnce() }
      else cur = finishLocal(df.sparkSession, collected.map(r =>
        (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3))), nChunks)
    }
    (cur, n)
  }

  /** Registry form: deterministic KLL/MP quantile estimates of
    * events.value at the [[Phis]] grid. est(φ) = smallest sketch value
    * whose cumulative weight reaches ceil(φ·n). The DuckDB twin replays
    * the identical halving tree in a recursive CTE, so even the SKETCH
    * content is oracle-exact — the bound proof for the arbitrary-order
    * aggregate lives in `KllSketchSpec`. */
  private val kllQuantile: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select(col("value").as("v"), col("event_id").as("id"))
    val (sk, n) = kllCanonical(ev, K)
    val items = sk.select("v", "id", "w").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
      .sortBy { case (v, id, _) => (v, id) }
    val rows = Phis.map { phi =>
      val target = math.ceil(phi * n).toLong
      var cum = 0L
      var est: Option[Double] = None
      items.foreach { case (v, _, w) =>
        cum += w
        if (est.isEmpty && cum >= target) est = Some(v)
      }
      (phi, est.getOrElse(Double.NaN), n)
    }
    // Phis ascend, so the local frame is already in output order and its
    // write runs no sort
    rows.toDF("phi", "kll_est", "n")
  }

  private val kllQuantileSql =
    s"""WITH RECURSIVE base AS (
       |  SELECT value AS v, event_id AS id,
       |    row_number() OVER (ORDER BY value, event_id) AS r
       |  FROM events
       |), h AS (
       |  SELECT 0 AS lvl, CAST((r - 1) // $K AS BIGINT) AS chunk, v, id,
       |    CAST(1 AS BIGINT) AS w
       |  FROM base
       |  UNION ALL
       |  SELECT lvl + 1, chunk // 2, v, id, w2 FROM (
       |    SELECT lvl, chunk, v, id,
       |      w + COALESCE(LEAD(w) OVER (PARTITION BY chunk // 2
       |        ORDER BY v, id), 0) AS w2,
       |      row_number() OVER (PARTITION BY chunk // 2 ORDER BY v, id) AS rn,
       |      MAX(chunk) OVER () AS mc
       |    FROM h) s
       |  WHERE rn % 2 = 1 AND mc > 0
       |), fin AS (
       |  SELECT v, id, w FROM h WHERE lvl = (SELECT MAX(lvl) FROM h)
       |), tot AS (SELECT COUNT(*) AS n FROM events),
       |c AS (
       |  SELECT v, SUM(w) OVER (ORDER BY v, id ROWS UNBOUNDED PRECEDING)
       |    AS cum
       |  FROM fin
       |), phis AS (
       |  SELECT unnest([0.1, 0.25, 0.5, 0.75, 0.9, 0.99]) AS phi
       |)
       |SELECT phi,
       |  (SELECT MIN(c.v) FROM c, tot WHERE c.cum >= CEIL(phi * tot.n))
       |    AS kll_est,
       |  (SELECT CAST(n AS BIGINT) FROM tot) AS n
       |FROM phis ORDER BY phi""".stripMargin

  /** Grouped canonical tree: the per-key production shape (per-segment
    * quantile summaries). Same halving recursion as [[kllCanonical]] but
    * rank-space chunks live within each group, pair windows partition by
    * (group, chunk pair), and a group whose tree already collapsed to one
    * chunk passes through later levels unchanged (so every group is
    * present at the final level — the property the oracle's recursive
    * twin needs to terminate globally while types finish at different
    * depths). Group count is assumed dimension-like (the per-(group,
    * bucket) rank offsets and the final ≤ k-item-per-group sketch collect
    * to the driver like codebooks). */
  def kllCanonicalGrouped(df: DataFrame, k: Int,
      driverFinishRows: Long = DriverFinishRows): DataFrame = {
    val s = df.sparkSession
    // per-group two-phase rank on the observed global value grid
    val r0 = df.agg(min(col("v").cast("double")).as("mn"),
      max(col("v").cast("double")).as("mx")).collect()(0)
    val nb = math.max(1, s.sparkContext.defaultParallelism * 4)
    val bucket = if (r0.isNullAt(0)) lit(0L) else {
      val mn = r0.getDouble(0)
      val width = math.max((r0.getDouble(1) - mn) / nb,
        java.lang.Double.MIN_NORMAL)
      least(floor((col("v").cast("double") - lit(mn)) / lit(width)),
        lit((nb - 1).toLong)).cast("long")
    }
    val ev = df.withColumn("bucket", bucket)
    val rawOff = ev.groupBy("g", "bucket").count().collect()
    val off: Map[String, Map[Long, Long]] = rawOff
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (g, rows) =>
        var below = 0L
        g -> rows.sortBy(_._2).map { case (_, b, c) =>
          val e = b -> below; below += c; e
        }.toMap
      }
    val wb = Window.partitionBy("g", "bucket").orderBy("v", "id")
    var cur = ev
      .withColumn("i", row_number().over(wb).cast("long") +
        element_at(element_at(typedlit(off), col("g")), col("bucket")))
      .select(col("g"), col("v"), col("id"),
        expr(s"(i - 1) div $k").as("chunk"), lit(1L).as("w"))
      .transform(Materialize.checkpoint)
    // The whole halving schedule is driver-arithmetic over the per-group
    // counts ALREADY collected for the rank offsets: a group's chunks are
    // contiguous 0..(cnt_g-1) div k by construction, a frozen group (tmx=0)
    // passes through unchanged, and an active group's contiguous 0..tmx
    // range maps to contiguous 0..tmx div 2 — so per-group maxima never
    // need a data pass. This removes, per round, one groupBy-max job, one
    // BroadcastExchange + join, and one global-max collect job (the loop
    // ran 3 jobs/round; now the round's only job is its checkpoint).
    val cnts: Map[String, Long] = rawOff
      .map(r => (r.getString(0), r.getLong(2)))
      .groupBy(_._1).map { case (g, rows) => g -> rows.map(_._2).sum }
    var tmx: Map[String, Long] = cnts.map { case (g, c) => g -> (c - 1) / k }
    def levelOnce(): Unit = {
      val tmxCol = element_at(typedlit(tmx), col("g"))
      val pw = Window.partitionBy("g", "nc").orderBy("v", "id")
      cur = cur.withColumn("tmx", tmxCol)
        .withColumn("nc", expr("chunk div 2"))
        .withColumn("rn", row_number().over(pw))
        .withColumn("w2", col("w") + coalesce(lead("w", 1).over(pw), lit(0L)))
        .filter(col("tmx") === 0 || col("rn") % 2 === 1)
        .select(col("g"), col("v"), col("id"),
          when(col("tmx") === 0, col("chunk")).otherwise(col("nc"))
            .as("chunk"),
          when(col("tmx") === 0, col("w")).otherwise(col("w2")).as("w"))
        .transform(Materialize.checkpoint)
      tmx = tmx.map { case (g, m) => g -> m / 2 }
    }
    // same tail collapse as [[kllCanonical]]: distributed levels while the
    // row bound Σ_g (tmx_g+1)·k exceeds the driver-finish constant, then
    // replay the remaining (frozen groups pass through) on the driver
    val typed = cur.schema("v").dataType ==
      org.apache.spark.sql.types.DoubleType &&
      cur.schema("id").dataType == org.apache.spark.sql.types.LongType
    def bound: Long = tmx.values.map(_ + 1).sum * k
    while (tmx.values.exists(_ > 0) && (!typed || bound > driverFinishRows))
      levelOnce()
    if (tmx.values.exists(_ > 0)) {
      val collected = cur.select("g", "v", "id", "chunk", "w").collect()
      if (!localSortSafe(collected, 1)) {
        while (tmx.values.exists(_ > 0)) levelOnce()
      } else {
        var items: Map[String, Array[(Double, Long, Long, Long)]] = collected
          .map(r => (r.getString(0),
            (r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4))))
          .groupBy(_._1).map { case (g, rs) => g -> rs.map(_._2) }
        while (tmx.values.exists(_ > 0)) {
          items = items.map { case (g, rows) =>
            g -> (if (tmx(g) == 0) rows else halveLocal(rows))
          }
          tmx = tmx.map { case (g, m) => g -> m / 2 }
        }
        import s.implicits._
        cur = items.toSeq.flatMap { case (g, rows) =>
          rows.map(t => (g, t._1, t._2, t._3, t._4))
        }.toDF("g", "v", "id", "chunk", "w")
      }
    }
    cur
  }

  /** Per-event-type KLL/MP quantile estimates — the per-segment summary a
    * 100 TB pipeline materializes per partition and merges. Same
    * determinism story as [[kllQuantile]]; the oracle's recursive CTE
    * halves each type's tree at its own depth and passes finished types
    * through. */
  private val kllGrouped: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select(col("event_type").as("g"), col("value").as("v"),
        col("event_id").as("id"))
    val sk = kllCanonicalGrouped(ev, K)
    val byG = sk.select("g", "v", "id", "w").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    val rows = byG.toSeq.flatMap { case (g, items) =>
      val sorted = items.sortBy { case (_, v, id, _) => (v, id) }
      val n = sorted.map(_._4).sum
      Seq(0.5, 0.9, 0.99).map { phi =>
        val target = math.ceil(phi * n).toLong
        var cum = 0L
        var est: Option[Double] = None
        sorted.foreach { case (_, v, _, w) =>
          cum += w
          if (est.isEmpty && cum >= target) est = Some(v)
        }
        (g, phi, est.getOrElse(Double.NaN), n)
      }
    }
    rows.toDF("event_type", "phi", "kll_est", "n")
      .orderBy("event_type", "phi")
  }

  private val kllGroupedSql =
    s"""WITH RECURSIVE base AS (
       |  SELECT event_type AS g, value AS v, event_id AS id,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY value, event_id) AS r
       |  FROM events
       |), h AS (
       |  SELECT 0 AS lvl, g, CAST((r - 1) // $K AS BIGINT) AS chunk, v, id,
       |    CAST(1 AS BIGINT) AS w
       |  FROM base
       |  UNION ALL
       |  SELECT lvl + 1, g,
       |    CASE WHEN tmx = 0 THEN chunk ELSE chunk // 2 END,
       |    v, id,
       |    CASE WHEN tmx = 0 THEN w ELSE w2 END
       |  FROM (
       |    SELECT lvl, g, chunk, v, id, w,
       |      MAX(chunk) OVER () AS gmx,
       |      MAX(chunk) OVER (PARTITION BY g) AS tmx,
       |      row_number() OVER (PARTITION BY g, chunk // 2
       |        ORDER BY v, id) AS rn,
       |      w + COALESCE(LEAD(w) OVER (PARTITION BY g, chunk // 2
       |        ORDER BY v, id), 0) AS w2
       |    FROM h) s
       |  WHERE gmx > 0 AND (tmx = 0 OR rn % 2 = 1)
       |), fin AS (
       |  SELECT g, v, id, w FROM h WHERE lvl = (SELECT MAX(lvl) FROM h)
       |), tot AS (SELECT g, CAST(SUM(w) AS BIGINT) AS n FROM fin GROUP BY 1),
       |c AS (
       |  SELECT g, v, SUM(w) OVER (PARTITION BY g ORDER BY v, id
       |    ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM fin
       |), phis AS (SELECT unnest([0.5, 0.9, 0.99]) AS phi)
       |SELECT tot.g AS event_type, phis.phi,
       |  (SELECT MIN(c.v) FROM c
       |   WHERE c.g = tot.g AND c.cum >= CEIL(phis.phi * tot.n)) AS kll_est,
       |  tot.n
       |FROM tot, phis ORDER BY event_type, phi""".stripMargin

  private val CmsDepth = graft.functions.CountMinFunctions.DefaultDepth
  private val CmsWidth = graft.functions.CountMinFunctions.DefaultWidth

  /** Count-Min frequency estimates for the full document-token vocabulary
    * beside the true counts. The sketch matrix is built by ONE mergeable
    * aggregate pass over the token stream (elementwise-sum merge — a pure
    * function of the multiset, so the DuckDB twin recomputes every cell
    * with a GROUP BY and the entry is hash-exact, where Spark's built-in
    * count_min_sketch is engine-opaque); estimates then read d cells per
    * token from the collected d×w matrix (2 k longs — a codebook-sized
    * driver scalar) via literal lookups inside codegen. */
  private val cmsCounts: Q = (s, dir) => {
    import graft.functions.CountMinFunctions
    graft.functions.GraftFunctions.install(s)
    val toks = Tables.documents(s, dir)
      .select(explode(graft.text.TextOps.tokens(col("text"))).as("token"))
    val matrix = toks
      .agg(CountMinFunctions.countMin(col("token"), CmsDepth, CmsWidth))
      .collect()(0).getSeq[scala.collection.Seq[Long]](0)
      .map(_.toIndexedSeq).toIndexedSeq
    val est = (0 until CmsDepth).map { i =>
      val h = conv(substring(md5(concat(lit(s"$i|"), col("token"))), 1, 8),
        16, 10).cast("long") % CmsWidth
      element_at(typedlit(matrix(i)), (h + 1).cast("int"))
    }.reduce(least(_, _))
    toks.groupBy("token").agg(count(lit(1)).as("tf"))
      .select(col("token"), col("tf"), est.as("cms_est"))
      .orderBy("token")
  }

  private val cmsCountsSql = {
    val hex = (i: String) =>
      "CAST(list_sum(list_transform(range(1, 9), p -> " +
        "(strpos('0123456789abcdef', substr(md5(CAST(" + i +
        " AS VARCHAR) || '|' || token), CAST(p AS INTEGER), 1)) - 1) " +
        s"* power(16, 8 - p))) AS BIGINT) % $CmsWidth"
    s"""WITH tok AS (
       |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
       |    AS token
       |  FROM documents
       |), cnt AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY 1),
       |hi AS (
       |  SELECT cnt.token, cnt.tf, ii.i, ${hex("ii.i")} AS c
       |  FROM cnt, (SELECT unnest([0, 1, 2, 3]) AS i) ii
       |), cells AS (
       |  SELECT i, c, SUM(tf) AS cell FROM hi GROUP BY 1, 2
       |)
       |SELECT hi.token, CAST(hi.tf AS BIGINT) AS tf,
       |  CAST(MIN(cells.cell) AS BIGINT) AS cms_est
       |FROM hi JOIN cells ON cells.i = hi.i AND cells.c = hi.c
       |GROUP BY 1, 2 ORDER BY 1""".stripMargin
  }

  /** Equi-join cardinality estimation from two Count-Min sketches alone —
    * the optimizer-statistics application: est |A ⋈ B on k| = min over
    * rows i of Σ_j cmsA[i][j]·cmsB[i][j] (the row-wise inner product; an
    * upper bound that collisions only inflate, exact when no colliding
    * pair exists, additive error ≤ ~n_A·n_B/w per the classic analysis —
    * `CountMinSpec` pins it). At 100 TB this is how a planner sizes a
    * join from two 2 k-long mergeable summaries WITHOUT touching either
    * side again — sizing w to n_A·n_B/tolerance is the deployment lever
    * (the fixture's w=512 demo keeps the registry cheap, so its estimate
    * is bound-tight rather than sharp). Both sketches build in one pass
    * each over the click/view user streams and the estimate sits beside
    * the exact join size, all oracle-exact because the matrices are pure
    * functions of the multisets. */
  private val cmsJoinSize: Q = (s, dir) => {
    import graft.functions.CountMinFunctions
    graft.functions.GraftFunctions.install(s)
    val ev = Tables.events(s, dir)
    def side(t: String) = ev.filter(col("event_type") === t)
      .select(col("user_id").cast("string").as("k"))
    def matrixOf(t: String): IndexedSeq[IndexedSeq[Long]] = side(t)
      .agg(CountMinFunctions.countMin(col("k"), CmsDepth, CmsWidth))
      .collect()(0).getSeq[scala.collection.Seq[Long]](0)
      .map(_.toIndexedSeq).toIndexedSeq
    val (a, b) = (matrixOf("click"), matrixOf("view"))
    val est = (0 until CmsDepth).map { i =>
      (0 until CmsWidth).map(j => a(i)(j) * b(i)(j)).sum
    }.min
    val exact = side("click").groupBy("k").agg(count(lit(1)).as("ca"))
      .join(side("view").groupBy("k").agg(count(lit(1)).as("cb")), "k")
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("exact_join_size"))
    exact.select(lit(est).as("cms_join_est"), col("exact_join_size"))
  }

  private val cmsJoinSizeSql = {
    val hex = (i: String, k: String) =>
      "CAST(list_sum(list_transform(range(1, 9), p -> " +
        "(strpos('0123456789abcdef', substr(md5(CAST(" + i +
        " AS VARCHAR) || '|' || " + k + "), CAST(p AS INTEGER), 1)) - 1) " +
        s"* power(16, 8 - p))) AS BIGINT) % $CmsWidth"
    s"""WITH ca AS (
       |  SELECT CAST(user_id AS VARCHAR) AS k, COUNT(*) AS tf FROM events
       |  WHERE event_type = 'click' GROUP BY 1
       |), cb AS (
       |  SELECT CAST(user_id AS VARCHAR) AS k, COUNT(*) AS tf FROM events
       |  WHERE event_type = 'view' GROUP BY 1
       |), ii AS (SELECT unnest([0, 1, 2, 3]) AS i),
       |ma AS (
       |  SELECT ii.i, ${hex("ii.i", "ca.k")} AS c, SUM(tf) AS cell
       |  FROM ca, ii GROUP BY 1, 2
       |), mb AS (
       |  SELECT ii.i, ${hex("ii.i", "cb.k")} AS c, SUM(tf) AS cell
       |  FROM cb, ii GROUP BY 1, 2
       |), dots AS (
       |  SELECT ma.i, SUM(ma.cell * mb.cell) AS dot
       |  FROM ma JOIN mb ON ma.i = mb.i AND ma.c = mb.c
       |  GROUP BY 1
       |)
       |SELECT (SELECT CAST(MIN(dot) AS BIGINT) FROM dots) AS cms_join_est,
       |  (SELECT CAST(COALESCE(SUM(ca.tf * cb.tf), 0) AS BIGINT)
       |   FROM ca JOIN cb USING (k)) AS exact_join_size""".stripMargin
  }

  /** Bloom-join / membership-probe demo: a [[graft.functions.BloomSetAgg]]
    * filter built over the distinct click user set, probed by every view
    * user — beside the exact membership truth, so false positives are
    * visible rows (never false negatives; `BloomSetSpec` proves it). The
    * filter is a pure function of the build-side SET (elementwise-OR
    * merge), so even the probe flags are oracle-exact; the probe itself
    * is a codegen shift/AND over the collected 64-word literal — the
    * pre-filter a 100 TB semi-join or decontamination pass ships to the
    * scan instead of a shuffle. */
  private val bloomMembership: Q = (s, dir) => {
    import graft.functions.BloomSetFunctions
    graft.functions.GraftFunctions.install(s)
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").cast("string").as("k")).distinct()
    val words = clicks.agg(BloomSetFunctions.bloomSet(col("k")))
      .collect()(0).getSeq[Long](0).toIndexedSeq
    val clickUsers = ev.filter(col("event_type") === "click")
      .select("user_id").distinct()
    ev.filter(col("event_type") === "view").select("user_id").distinct()
      .withColumn("might_click",
        BloomSetFunctions.mightContain(words, col("user_id").cast("string")))
      .join(clickUsers.withColumn("does_click", lit(true)),
        Seq("user_id"), "left")
      .withColumn("does_click", coalesce(col("does_click"), lit(false)))
      .orderBy("user_id")
  }

  private val bloomMembershipSql = {
    val bits = graft.functions.BloomSetFunctions.DefaultBits
    val hex = (i: String, k: String) =>
      "CAST(list_sum(list_transform(range(1, 9), p -> " +
        "(strpos('0123456789abcdef', substr(md5(CAST(" + i +
        " AS VARCHAR) || '|' || " + k + "), CAST(p AS INTEGER), 1)) - 1) " +
        s"* power(16, 8 - p))) AS BIGINT) % $bits"
    s"""WITH b AS (
       |  SELECT DISTINCT CAST(user_id AS VARCHAR) AS k FROM events
       |  WHERE event_type = 'click'
       |), pos AS (
       |  SELECT DISTINCT ii.i, ${hex("ii.i", "b.k")} AS p
       |  FROM b, (SELECT unnest([0, 1, 2]) AS i) ii
       |), probe AS (
       |  SELECT DISTINCT user_id, CAST(user_id AS VARCHAR) AS k FROM events
       |  WHERE event_type = 'view'
       |), pp AS (
       |  SELECT probe.user_id, ii.i, ${hex("ii.i", "probe.k")} AS p
       |  FROM probe, (SELECT unnest([0, 1, 2]) AS i) ii
       |), flags AS (
       |  SELECT pp.user_id, BOOL_AND(pos.p IS NOT NULL) AS might_click
       |  FROM pp LEFT JOIN pos ON pos.i = pp.i AND pos.p = pp.p
       |  GROUP BY 1
       |)
       |SELECT f.user_id, f.might_click,
       |  EXISTS (SELECT 1 FROM events e WHERE e.event_type = 'click'
       |          AND e.user_id = f.user_id) AS does_click
       |FROM flags f ORDER BY f.user_id""".stripMargin
  }

  /** Oracle-exact HyperLogLog — the sketch Spark's own
    * `approx_count_distinct` can never oracle-check (its HLL++ hash
    * stream is engine-private; `q_approx_distinct` hashes the exact
    * count plus a tolerance verdict for that reason). [[graft.functions.HllSketchAgg]] hashes with md5, so the
    * register array is a pure function of the input SET (max-merge) and
    * the DuckDB twin rebuilds every register with a GROUP BY .. MAX.
    * Two regimes side by side: per-event-type user cardinalities at
    * p=12 exercise the linear-counting branch (sparse registers), and a
    * whole-table event_id sketch at p=8 exercises the raw
    * harmonic-mean branch (saturated registers) — both estimate columns
    * hash-exact because the float path is one division of exact
    * integers (+ one log), written in the same IEEE order in both
    * engines. At 100 TB this is the per-segment distinct-users column
    * computed in one mergeable pass, 4 KB of state per segment. */
  private val hllDistinct: Q = (s, dir) => {
    import graft.functions.HllFunctions
    graft.functions.GraftFunctions.install(s)
    val ev = Tables.events(s, dir)
    def shaped(keyExpr: Column, value: Column, p: Int): DataFrame = {
      val g = ev.groupBy(keyExpr.as("key"))
        .agg(HllFunctions.hllSketch(value.cast("string"), p).as("regs"),
          countDistinct(value).as("exact_distinct"))
      val (v, t, est) = HllFunctions.estimateColumns(col("regs"), p)
      g.select(col("key"), v.as("v_empty"), t.as("t_harmonic"),
        est.as("hll_est"), col("exact_distinct"))
    }
    shaped(col("event_type"), col("user_id"), 12)
      .unionByName(shaped(lit("all:event_id"), col("event_id"), 8))
      .orderBy("key")
  }

  private val hllDistinctSql = {
    // h60 = first 15 md5 hex digits as a 60-bit integer, built with
    // integer shifts (a double power-sum would round above 2^53)
    val h60 = (k: String) =>
      "CAST(list_sum(list_transform(range(1, 16), pp -> " +
        "CAST(strpos('0123456789abcdef', substr(md5(CAST(" + k +
        " AS VARCHAR)), CAST(pp AS INTEGER), 1)) - 1 AS BIGINT) " +
        "* (1::BIGINT << ((15 - CAST(pp AS INTEGER)) * 4)))) AS BIGINT)"
    def block(key: String, value: String, p: Int, where: String): String = {
      val m = 1 << p
      val wBits = 60 - p
      val r = wBits + 1
      val crossover = 2.5 * m
      s"""SELECT key, v_empty, t_harmonic,
         |  ROUND(CASE WHEN 0.7213 / (1.0 + 1.079 / $m.0) * $m.0 * $m.0
         |      * power(2.0, $r.0) / CAST(t_harmonic AS DOUBLE) <= $crossover
         |      AND v_empty > 0
         |    THEN $m.0 * ln($m.0 / CAST(v_empty AS DOUBLE))
         |    ELSE 0.7213 / (1.0 + 1.079 / $m.0) * $m.0 * $m.0
         |      * power(2.0, $r.0) / CAST(t_harmonic AS DOUBLE) END, 2)
         |    AS hll_est,
         |  exact_distinct
         |FROM (
         |  SELECT key,
         |    CAST($m - COUNT(*) AS BIGINT) AS v_empty,
         |    CAST(SUM(1::BIGINT << ($r - mr))
         |      + ($m - COUNT(*)) * (1::BIGINT << $r) AS BIGINT)
         |      AS t_harmonic
         |  FROM (
         |    SELECT key, bucket, MAX(rho) AS mr FROM (
         |      SELECT key, h60 >> $wBits AS bucket,
         |        CASE WHEN (h60 & ((1::BIGINT << $wBits) - 1)) = 0 THEN $r
         |          ELSE $wBits
         |            - length(ltrim(bin(h60 & ((1::BIGINT << $wBits) - 1)),
         |                '0')) + 1
         |        END AS rho
         |      FROM (SELECT $key AS key, ${h60(value)} AS h60
         |            FROM events $where)
         |    ) GROUP BY 1, 2
         |  ) GROUP BY 1
         |) JOIN (
         |  SELECT $key AS key, COUNT(DISTINCT $value) AS exact_distinct
         |  FROM events $where GROUP BY 1
         |) USING (key)""".stripMargin
    }
    block("event_type", "user_id", 12, "") + "\nUNION ALL\n" +
      block("'all:event_id'", "event_id", 8, "") + "\nORDER BY key"
  }

  /** HLL sketch-cube roll-up — the pattern that makes sketches pay at
    * 100 TB: materialize one small sketch per fine-grained cell (here
    * (event_type, hour) over user_id, p=12 → 4 KiB each), then answer the
    * coarser question (per-type distinct users) by MERGING cell sketches
    * — never rescanning the fact table. The merge is relational: cells
    * posexplode to (type, hour, register, rho), roll up by register-wise
    * MAX, and (v_empty, t_harmonic) aggregate straight off the merged
    * rows without re-assembling an array
    * ([[graft.functions.HllFunctions.estimateFromCols]]). Because
    * register max-merge is associative and order-free, the merged
    * estimate is BIT-IDENTICAL to the direct whole-type sketch —
    * `HllRollupSpec` asserts that equality, and the oracle replays the
    * two-level max from raw values. Exact distinct rides along for the
    * error column. */
  private val hllRollup: Q = (s, dir) => {
    import graft.functions.HllFunctions
    graft.functions.GraftFunctions.install(s)
    val p = 12
    val shiftBase = 61 - p
    val ev = Tables.events(s, dir)
    val cube = ev
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(HllFunctions.hllSketch(col("user_id").cast("string"), p)
        .as("regs"))
    val nHours = cube.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"))
    val merged = cube
      .select(col("event_type"),
        posexplode(col("regs")).as(Seq("pos", "reg")))
      .groupBy("event_type", "pos").agg(max("reg").as("reg"))
      .groupBy("event_type").agg(
        sum(when(col("reg") === 0, 1L).otherwise(0L)).as("v_empty"),
        sum(call_function("shiftleft", lit(1L),
          lit(shiftBase) - col("reg"))).as("t_harmonic"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    merged.join(nHours, "event_type").join(exact, "event_type")
      .select(col("event_type"), col("n_hours"), col("v_empty"),
        col("t_harmonic"),
        HllFunctions.estimateFromCols(col("v_empty"), col("t_harmonic"), p)
          .as("hll_est"),
        col("exact_distinct"))
      .orderBy("event_type")
  }

  private val hllRollupSql = {
    val p = 12
    val m = 1 << p
    val wBits = 60 - p
    val r = wBits + 1
    val crossover = 2.5 * m
    val h60 =
      "CAST(list_sum(list_transform(range(1, 16), pp -> " +
        "CAST(strpos('0123456789abcdef', substr(md5(CAST(user_id" +
        " AS VARCHAR)), CAST(pp AS INTEGER), 1)) - 1 AS BIGINT) " +
        "* (1::BIGINT << ((15 - CAST(pp AS INTEGER)) * 4)))) AS BIGINT)"
    s"""WITH raw AS (
       |  SELECT event_type, date_trunc('hour', ts) AS hr, $h60 AS h60
       |  FROM events
       |), br AS (
       |  SELECT event_type, hr, h60 >> $wBits AS bucket,
       |    CASE WHEN (h60 & ((1::BIGINT << $wBits) - 1)) = 0 THEN $r
       |      ELSE $wBits
       |        - length(ltrim(bin(h60 & ((1::BIGINT << $wBits) - 1)), '0'))
       |        + 1
       |    END AS rho
       |  FROM raw
       |), cell AS (
       |  SELECT event_type, hr, bucket, MAX(rho) AS mr
       |  FROM br GROUP BY 1, 2, 3
       |), mrg AS (
       |  SELECT event_type, bucket, MAX(mr) AS mr FROM cell GROUP BY 1, 2
       |), agg AS (
       |  SELECT event_type,
       |    CAST($m - COUNT(*) AS BIGINT) AS v_empty,
       |    CAST(SUM(1::BIGINT << ($r - mr))
       |      + ($m - COUNT(*)) * (1::BIGINT << $r) AS BIGINT) AS t_harmonic
       |  FROM mrg GROUP BY 1
       |), nh AS (
       |  SELECT event_type, CAST(COUNT(DISTINCT hr) AS BIGINT) AS n_hours
       |  FROM raw GROUP BY 1
       |), ex AS (
       |  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
       |  FROM events GROUP BY 1
       |)
       |SELECT agg.event_type, n_hours, v_empty, t_harmonic,
       |  ROUND(CASE WHEN 0.7213 / (1.0 + 1.079 / $m.0) * $m.0 * $m.0
       |      * power(2.0, $r.0) / CAST(t_harmonic AS DOUBLE) <= $crossover
       |      AND v_empty > 0
       |    THEN $m.0 * ln($m.0 / CAST(v_empty AS DOUBLE))
       |    ELSE 0.7213 / (1.0 + 1.079 / $m.0) * $m.0 * $m.0
       |      * power(2.0, $r.0) / CAST(t_harmonic AS DOUBLE) END, 2)
       |    AS hll_est,
       |  exact_distinct
       |FROM agg JOIN nh USING (event_type) JOIN ex USING (event_type)
       |ORDER BY event_type""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q_hll_rollup", hllRollup, hllRollupSql),
    Entry("q_kll_quantile", kllQuantile, kllQuantileSql),
    Entry("q_kll_grouped", kllGrouped, kllGroupedSql),
    Entry("text_cms_counts", cmsCounts, cmsCountsSql),
    Entry("q_bloom_membership", bloomMembership, bloomMembershipSql),
    Entry("q_cms_join_size", cmsJoinSize, cmsJoinSizeSql),
    Entry("q_hll_distinct", hllDistinct, hllDistinctSql),
  )
}
