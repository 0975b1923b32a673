package graft

import org.apache.spark.sql.functions._
import graft.functions.MisraGriesFunctions
import graft.queries.Tables

/** Round-7 additions: degree-ordered triangle counting and the mergeable
  * Misra–Gries heavy-hitters sketch. */
class TriangleSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("per-node triangle counts match the closed-form block structure") {
    // graph: within each 50-doc block, edges u—u+1 and u—u+2; triangles
    // are exactly (u, u+1, u+2) for block positions 0..47. A node at block
    // position p belongs to the triangles starting at p, p-1, p-2 (clamped
    // to [0, 47]) — 3 for interior nodes, fewer at block edges.
    val rows = SparkEntry.queries("q_triangles")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nDocs = Tables.documents(spark, dir).count()
    assert(nDocs % 50 === 0, "closed form below assumes complete 50-doc blocks")
    for (id <- 0L until nDocs) {
      val p = (id % 50).toInt
      val expected = ((math.min(p, 47) - math.max(p - 2, 0)) + 1).toLong
      assert(rows.getOrElse(id, 0L) === expected,
        s"doc $id (block pos $p): got ${rows.getOrElse(id, 0L)}, want $expected")
    }
    // total triangle incidence = 3 triangles × 48 per block × #blocks
    assert(rows.values.sum === 3L * 48L * (nDocs / 50))
  }

  test("wedge join is bounded by the orientation: no node explodes") {
    // every vertex has degree ≤ 4 here, so oriented out-degree ≤ 4 — the
    // point of the test is the per-triangle-once invariant: recount with
    // naive u<v<w enumeration and compare
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    def shift(d: Int) = docs.as("x")
      .join(docs.as("y"), col("y.doc_id") === col("x.doc_id") + d)
      .filter(col("x.doc_id") % 50 <= lit(50 - 1 - d))
      .select(col("x.doc_id").as("u"), col("y.doc_id").as("v"))
    val e = shift(1).union(shift(2)).cache()
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.v") === col("e2.u"))
      .join(e.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"),
        "left_semi")
      .count()
    val engineTotal = SparkEntry.queries("q_triangles")(spark, dir)
      .agg(sum("n_triangles")).collect()(0).getLong(0)
    assert(engineTotal === 3L * tri) // each triangle counted at 3 nodes
    e.unpersist()
  }
}

class MisraGriesSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def tokenStream = Tables.documents(spark, dir)
    .select(explode(graft.text.TextOps.tokens(col("text"))).as("token"))

  test("MG guarantee: superset of true heavy hitters, estimates within n/(k+1)") {
    val exact = tokenStream.groupBy("token").agg(count(lit(1)).as("tf"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    for (k <- Seq(4, 16, 64); parts <- Seq(1, 3, 7)) {
      val sketch = tokenStream.repartition(parts)
        .agg(MisraGriesFunctions.misraGries(col("token"), k).as("mg"))
        .collect()(0).getMap[String, Long](0)
      val bound = n / (k + 1)
      // 1. every item with true frequency > n/(k+1) survives every
      //    partitioning/merge order
      for ((tok, tf) <- exact if tf > bound)
        assert(sketch.contains(tok),
          s"k=$k parts=$parts: heavy hitter '$tok' (tf=$tf > $bound) missing")
      // 2. estimates are lower bounds, short by at most n/(k+1)
      for ((tok, est) <- sketch) {
        val tf = exact(tok)
        assert(est <= tf, s"k=$k parts=$parts: '$tok' overcounted $est > $tf")
        assert(est >= tf - bound,
          s"k=$k parts=$parts: '$tok' est=$est below $tf - $bound")
      }
      // 3. bounded buffer
      assert(sketch.size <= k)
    }
  }

  test("exact heavy-hitters query agrees with a driver-side recount") {
    val hh = SparkEntry.queries("text_heavy_hitters")(spark, dir).collect()
    val exact = tokenStream.groupBy("token").agg(count(lit(1)).as("tf"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val expected = exact.filter { case (_, tf) => tf * 64 > n }
    assert(hh.map(_.getString(0)).toSet === expected.keySet)
    for (r <- hh) {
      assert(r.getLong(1) === expected(r.getString(0)))
      assert(r.getLong(2) === r.getLong(1) * 1000000L / n)
    }
    // ordered by tf desc then token
    val pairs = hh.map(r => (-r.getLong(1), r.getString(0))).toSeq
    assert(pairs === pairs.sorted)
  }
}

class KllSketchSpec extends SparkSpec {
  // deterministic pseudo-shuffled values with ties (mod keeps collisions)
  private val n = 20000
  private val values: Seq[Double] =
    (1 to n).map(i => ((i * 2654435761L) % 10007).toDouble)
  private val sortedVals = values.sorted.toIndexedSeq

  private def rankInterval(v: Double): (Long, Long) = {
    val lo = sortedVals.count(_ < v).toLong + 1
    val hi = sortedVals.count(_ <= v).toLong
    (lo, hi)
  }

  test("KLL: weight conservation and rank-error bound across partitionings") {
    import spark.implicits._
    val k = 256
    val base = values.toDF("v")
    val variants = Seq(
      "one part" -> base.repartition(1),
      "13 parts" -> base.repartition(13),
      "sorted" -> values.sorted.toDF("v").repartition(4),
      "reversed" -> values.sorted.reverse.toDF("v").repartition(4))
    for ((name, df) <- variants) {
      val itemRows = df
        .agg(graft.functions.KllFunctions.kllSketch(col("v"), k).as("s"))
        .collect()(0).getSeq[org.apache.spark.sql.Row](0)
      val items = itemRows.map(r => (r.getDouble(0), r.getLong(1)))
      // 1. exact weight conservation under any partitioning/merge order
      assert(items.map(_._2).sum == n.toLong, s"$name: weight leaked")
      // 2. bounded state: <= k items per level, L ~ log2(n/k) levels
      val maxW = items.map(_._2).max
      val L = 63 - java.lang.Long.numberOfLeadingZeros(maxW)
      assert(items.length <= k * (L + 1), s"$name: oversized sketch")
      // 3. the proven bound: each level-t compaction perturbs ranks by
      //    <= 2^t and happens <= n/(k 2^t) times, so total <= (L+1)n/k;
      //    +1 level of slack absorbs the read-off discretization
      val bound = (L + 2).toDouble * n / k
      for (phi <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)) {
        val est = graft.functions.KllFunctions.kllQuantileOf(items, phi)
        val target = math.ceil(phi * n).toLong
        val (lo, hi) = rankInterval(est)
        val err =
          if (target < lo) lo - target else if (target > hi) target - hi else 0L
        assert(err <= bound,
          s"$name phi=$phi: rank err $err > bound $bound (est=$est)")
      }
    }
  }

  test("KLL: grouped aggregation exercises partial merge per key") {
    import spark.implicits._
    val df = values.zipWithIndex
      .map { case (v, i) => (i % 3, v) }.toDF("g", "v").repartition(8)
    val rows = df.groupBy("g")
      .agg(graft.functions.KllFunctions.kllSketch(col("v"), 64).as("s"))
      .collect()
    assert(rows.length == 3)
    for (r <- rows) {
      val g = r.getInt(0)
      val items = r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getDouble(0), x.getLong(1)))
      val grpVals = values.zipWithIndex.collect {
        case (v, i) if i % 3 == g => v }.sorted
      assert(items.map(_._2).sum == grpVals.length.toLong)
      val med = graft.functions.KllFunctions.kllQuantileOf(items, 0.5)
      val target = math.ceil(0.5 * grpVals.length).toLong
      val lo = grpVals.count(_ < med) + 1
      val hi = grpVals.count(_ <= med)
      val err = if (target < lo) lo - target
        else if (target > hi) target - hi else 0L
      // k=64 on n/3 values: L ~ log2(n/(3k)), generous (L+2)n'/k bound
      val maxW = items.map(_._2).max
      val L = 63 - java.lang.Long.numberOfLeadingZeros(maxW)
      assert(err <= (L + 2).toDouble * grpVals.length / 64,
        s"g=$g err=$err")
    }
  }
}

class CountMinSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def tokenStream = Tables.documents(spark, dir)
    .select(explode(graft.text.TextOps.tokens(col("text"))).as("token"))

  test("CMS: matrix is partitioning-invariant; est >= tf with bounded excess") {
    val exact = tokenStream.groupBy("token").agg(count(lit(1)).as("tf"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    def matrixOf(parts: Int, d: Int, w: Int): Seq[Seq[Long]] =
      tokenStream.repartition(parts)
        .agg(graft.functions.CountMinFunctions.countMin(col("token"), d, w))
        .collect()(0).getSeq[scala.collection.Seq[Long]](0).map(_.toSeq)
    // 1. pure function of the multiset: identical matrix at any partitioning
    val m1 = matrixOf(1, 4, 64)
    assert(matrixOf(7, 4, 64) == m1 && matrixOf(32, 4, 64) == m1)
    // 2. mass conservation per row: every row's cells sum to n
    assert(m1.forall(_.sum == n))
    // 3. estimates never undercount; overshoot stays within the classic
    //    2n/w bound for most keys (d=4 rows -> expected failures ~ (1/2)^4)
    val over = exact.map { case (tok, tf) =>
      val est = graft.functions.CountMinFunctions.estimateFrom(m1, tok)
      assert(est >= tf, s"'$tok' undercounted: $est < $tf")
      if (est - tf > 2L * n / 64) 1 else 0
    }.sum
    assert(over <= math.max(1, exact.size / 8), s"$over keys beyond 2n/w")
    // 4. a key never inserted still gets a sane (collision-only) estimate
    val ghost = graft.functions.CountMinFunctions.estimateFrom(m1, "__absent__")
    assert(ghost >= 0 && ghost <= 2L * n / 64 * 4)
  }

  test("CMS inner product bounds the equi-join size from both directions") {
    import spark.implicits._
    val w = 256
    val a = (1 to 3000).map(i => s"u${i % 400}")
    val b = (1 to 2000).map(i => s"u${i % 700 + 100}")
    def matrixOf(xs: Seq[String]) = xs.toDF("k").repartition(9)
      .agg(graft.functions.CountMinFunctions.countMin(col("k"), 4, w))
      .collect()(0).getSeq[scala.collection.Seq[Long]](0).map(_.toSeq)
    val (ma, mb) = (matrixOf(a), matrixOf(b))
    val est = (0 until 4).map { i =>
      (0 until w).map(j => ma(i)(j) * mb(i)(j)).sum }.min
    val ca = a.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val cb = b.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val exact = ca.map { case (k, n) => n * cb.getOrElse(k, 0L) }.sum
    // never an underestimate; overshoot within the n_A·n_B/w additive
    // bound (x8 slack for the min-of-4-rows Markov tail)
    assert(est >= exact, s"$est < $exact")
    assert(est <= exact + 8L * a.size * b.size / w, s"$est vs $exact")
  }
}

class BloomSetSpec extends SparkSpec {
  test("bloom: no false negatives, OR-merge invariance, bounded fp rate") {
    import spark.implicits._
    val keys = (1 to 600).map(i => s"k${i * 7}")
    def wordsOf(parts: Int): Seq[Long] =
      keys.toDF("k").repartition(parts)
        .agg(graft.functions.BloomSetFunctions.bloomSet(col("k")))
        .collect()(0).getSeq[Long](0)
    // pure function of the SET: identical words at any partitioning, and
    // duplicates are absorbed (idempotent OR)
    val w1 = wordsOf(1)
    assert(wordsOf(13) == w1)
    val wDup = (keys ++ keys).toDF("k").repartition(5)
      .agg(graft.functions.BloomSetFunctions.bloomSet(col("k")))
      .collect()(0).getSeq[Long](0)
    assert(wDup == w1)
    val words = w1.toArray
    // every inserted key probes true — the Bloom contract's hard half
    assert(keys.forall(k =>
      graft.functions.BloomSetFunctions.mightContainLocal(words, k)))
    // false positives stay near (1 - e^(-dn/m))^d for absent keys
    val absent = (1 to 2000).map(i => s"absent${i}")
    val fp = absent.count(k =>
      graft.functions.BloomSetFunctions.mightContainLocal(words, k))
    val m = 4096.0; val d = 3.0; val n = keys.size.toDouble
    val expected = math.pow(1 - math.exp(-d * n / m), d)
    assert(fp < absent.size * (expected * 2 + 0.01),
      s"fp rate ${fp.toDouble / absent.size} vs expected $expected")
    // the codegen probe agrees with the local probe on mixed keys
    val mixed = (keys.take(50) ++ absent.take(50)).toDF("k")
    val expr = graft.functions.BloomSetFunctions
      .mightContain(w1.toIndexedSeq, col("k"))
    val got = mixed.select(col("k"), expr.as("m")).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got.forall { case (k, v) =>
      v == graft.functions.BloomSetFunctions.mightContainLocal(words, k) })
  }
}

/** Round-8 oracle-exact HyperLogLog ([[graft.functions.HllSketchAgg]]):
  * md5-hashed registers are a pure function of the input SET, so the
  * sketch is invariant under partitioning, row order, and duplication,
  * and merge is exactly set union. */
class HllSketchSpec extends SparkSpec {
  import graft.functions.HllFunctions

  test("HLL: bucket/rho agree with an independent BigInteger derivation") {
    for (v <- Seq("hello", "0", "12345", "0x00Ab", "", "éclair")) {
      for (p <- Seq(8, 12, 14)) {
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(v.getBytes("UTF-8"))
        val hex = md.map(b => f"$b%02x").mkString
        val h60 = new java.math.BigInteger(hex.substring(0, 15), 16)
        val wBits = 60 - p
        val expBucket = h60.shiftRight(wBits).intValueExact()
        val w = h60.mod(java.math.BigInteger.ONE.shiftLeft(wBits))
        val expRho =
          if (w.signum == 0) wBits + 1 else wBits - w.bitLength + 1
        assert(HllFunctions.bucketRho(v, p) == (expBucket, expRho),
          s"value '$v' p=$p")
      }
    }
  }

  test("HLL: registers invariant under partitioning and duplication; merge is union") {
    import spark.implicits._
    val p = 10
    def regsOf(ids: Seq[Long], parts: Int): Seq[Int] =
      ids.toDF("v").repartition(parts)
        .agg(HllFunctions.hllSketch(col("v").cast("string"), p))
        .collect()(0).getSeq[Int](0).toSeq
    val a = (1L to 400L)
    val b = (300L to 700L)
    val r1 = regsOf(a, 1)
    assert(regsOf(a, 7) == r1 && regsOf(a ++ a ++ a, 13) == r1,
      "partitioning or duplication changed the registers")
    // merge(sketch(A), sketch(B)) == sketch(A ∪ B): elementwise max
    val rb = regsOf(b, 3)
    val union = regsOf((a ++ b).distinct, 5)
    assert(r1.zip(rb).map { case (x, y) => math.max(x, y) } == union)
  }

  test("HLL: estimate within 3 sigma in both regimes; column/driver parity") {
    import spark.implicits._
    // raw harmonic regime: n >> 2.5m at p=8 (m=256, sigma ~ 1.04/16)
    val nBig = 20000
    val big = (1 to nBig).map(i => s"id-$i").toDF("v")
    val regsBig = big.agg(HllFunctions.hllSketch(col("v"), 8))
      .collect()(0).getSeq[Int](0).toSeq
    val estBig = HllFunctions.estimateFrom(regsBig, 8)
    assert(math.abs(estBig - nBig) < 3 * 1.04 / 16 * nBig,
      s"raw estimate $estBig vs $nBig")
    // linear-counting regime: n << 2.5m at p=12
    val nSmall = 500
    val small = (1 to nSmall).map(i => s"key-$i").toDF("v")
    val regsSmall = small.agg(HllFunctions.hllSketch(col("v"), 12))
      .collect()(0).getSeq[Int](0).toSeq
    val estSmall = HllFunctions.estimateFrom(regsSmall, 12)
    assert(math.abs(estSmall - nSmall) < 0.05 * nSmall,
      s"linear-counting estimate $estSmall vs $nSmall")
    // the DataFrame estimator path is the same IEEE sequence as the driver
    for ((df, p) <- Seq((big, 8), (small, 12))) {
      val g = df.agg(HllFunctions.hllSketch(col("v"), p).as("regs"))
      val (v, t, est) = HllFunctions.estimateColumns(col("regs"), p)
      val row = g.select(v, t, est).collect()(0)
      val regs = g.collect()(0).getSeq[Int](0).toSeq
      assert(row.getLong(0) == regs.count(_ == 0))
      assert(row.getDouble(2) ==
        BigDecimal(HllFunctions.estimateFrom(regs, p))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("registry q_approx_distinct: raw HLL++ estimate inside the 15% verdict bound") {
    import org.apache.spark.sql.functions.{approx_count_distinct, col, countDistinct}
    val dir = "/root/testdata/sf0.01"
    // the raw estimate (not in the hashed output) honors the tolerance
    // the registry folds into its TRUE-pinned approx_within_15pct column
    val raw = graft.queries.Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact"),
        approx_count_distinct(col("user_id")).as("approx"))
      .collect()
    raw.foreach { r =>
      val exact = r.getLong(1); val approx = r.getLong(2)
      assert(math.abs(approx - exact).toDouble <= exact * 0.15,
        s"${r.getString(0)}: approx $approx vs exact $exact")
    }
    // and the registry entry's verdict column is therefore all TRUE
    val out = SparkEntry.queries("q_approx_distinct")(spark, dir).collect()
    assert(out.nonEmpty && out.forall(_.getBoolean(2)))
  }

  test("HLL cube roll-up: merged hour sketches == the direct per-type sketch") {
    import org.apache.spark.sql.functions._
    val p = 12
    val dir = "/root/testdata/sf0.001"
    val rollup = SparkEntry.queries("q_hll_rollup")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5)))).toMap
    // direct whole-type sketch, no hour level at all
    val ev = graft.queries.Tables.events(spark, dir)
    val direct = ev.groupBy("event_type")
      .agg(HllFunctions.hllSketch(col("user_id").cast("string"), p)
        .as("regs"))
    val (v, t, est) = HllFunctions.estimateColumns(col("regs"), p)
    val directM = direct.select(col("event_type"), v, t, est).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(rollup.keySet == directM.keySet)
    rollup.foreach { case (k, (ve, th, e, exact)) =>
      // associative order-free max-merge -> bit-identical registers
      assert((ve, th, e) == directM(k), s"$k: rollup != direct")
      // ~1.6% standard error at p=12; allow 5 sigma
      assert(math.abs(e - exact) <= math.max(3.0, exact * 0.08),
        s"$k: est $e vs exact $exact")
    }
  }
}
