package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.Tables

/** Round-7 statistics batch: plan-shape guards (no single-task prefix sums)
  * and semantic cross-checks of the two-phase forms against naive
  * global-window twins. The DuckDB oracle is the value gate; these specs pin
  * the SCALE properties the oracle can't see. */
class StatsOpsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("q_concurrency two-phase carry-in matches the naive per-type sweep") {
    import spark.implicits._
    val twoPhase = SparkEntry.queries("q_concurrency")(spark, dir)
      .as[(String, Long, java.sql.Timestamp)].collect().toSeq
    // naive twin: one running sum per event_type over the full delta stream
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("ts"),
        (col("event_id") % 600 + 300).as("dur"))
    val deltas = ev.select(col("event_type"), col("ts").as("t"), lit(1).as("d"))
      .union(ev.select(col("event_type"),
        expr("timestampadd(SECOND, dur, ts)").as("t"), lit(-1).as("d")))
    val w = Window.partitionBy("event_type").orderBy(col("t"), col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r = deltas.withColumn("running", sum("d").over(w))
    val peak = r.groupBy("event_type").agg(max("running").as("peak"))
    val naive = r.join(peak, Seq("event_type"))
      .filter(col("running") === col("peak"))
      .groupBy("event_type", "peak").agg(min("t").as("peak_at"))
      .orderBy("event_type")
      .as[(String, Long, java.sql.Timestamp)].collect().toSeq
    assert(twoPhase == naive)
  }

  test("q_concurrency and q_ks_test never feed a Window from one partition") {
    // q_ks_test legitimately ends in a scalar aggregate (its final stage
    // merges #partitions partial rows through one task) — the anti-pattern
    // is a WINDOW whose child sort collapsed to a single partition, which
    // is all-rows-through-one-task. Assert no Window/Sort/Exchange
    // SinglePartition chain exists in either plan.
    val globalWindow =
      "Window[^\\n]*\\n\\s*[+:]- Sort[^\\n]*\\n\\s*[+:]- Exchange SinglePartition".r
    Seq("q_concurrency", "q_ks_test").foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      assert(globalWindow.findFirstIn(plan).isEmpty, s"$name:\n$plan")
      if (name == "q_concurrency")
        assert(!plan.contains("Exchange SinglePartition"), s"$name:\n$plan")
    }
  }

  test("q_ks_test matches a single-window ECDF twin and is bounded") {
    import spark.implicits._
    val (ksD, n1, n2) = SparkEntry.queries("q_ks_test")(spark, dir)
      .as[(Double, Long, Long)].collect().head
    assert(ksD >= 0.0 && ksD <= 1.0)
    // naive twin: global-window cumulative counts (test scale only)
    val f = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "view"))
      .groupBy("value")
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c1"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("c2"))
    val w = Window.orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = f.withColumn("s1", sum("c1").over(w))
      .withColumn("s2", sum("c2").over(w))
      .agg(max(abs(col("s1") * n2 - col("s2") * n1)).as("dnum"))
      .select(round(col("dnum") / (1.0 * n1 * n2), 6))
      .as[Double].collect().head
    assert(ksD == naive)
  }

  test("gini survives a wide value domain; benford excludes out-of-band rows") {
    import spark.implicits._
    // values spanning 13 decades: the old floor(value/50) grid would have
    // collected ~1e9 offset rows to the driver — the observed-range grid
    // is ≤ 4×parallelism buckets at any domain, so this test finishing at
    // all is the scale proof. Includes a sub-microunit value (rounds to
    // first digit 0) and a long-saturating value (> 9.2e12) that the
    // benford band filter must drop from BOTH o and n.
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val vals = Seq(2e-7, 0.004, 3.5, 47.0, 620.0, 8100.0, 5.0e10, 1.0e13)
    val rows = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, ts, 1L, "click", v, "{}")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_wide").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val g = SparkEntry.queries("q_gini")(spark, dir)
      .as[(String, Double)].collect().toMap
    val sorted = vals.sorted
    val n = sorted.size.toDouble
    val six = sorted.zipWithIndex.map { case (x, i) =>
      BigDecimal(i + 1) * BigDecimal(math.rint(x * 1e6)) / BigDecimal(1e6)
    }.sum.toDouble
    val expected = BigDecimal(2 * six / (n * sorted.sum) - (n + 1) / n)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(g("click") - expected) < 2e-6, s"${g("click")} vs $expected")
    val b = SparkEntry.queries("q_benfords")(spark, dir)
      .as[(String, Double, Long)].collect()
    assert(b.length == 1)
    val (_, chi2, bn) = b.head
    assert(bn == 6, s"benford n must exclude the 2 out-of-band rows: $bn")
    assert(!chi2.isNaN && chi2 >= 0.0)
  }

  test("KLL trees and the skew report never feed a Window from one partition") {
    val globalWindow =
      "Window[^\\n]*\\n\\s*[+:]- Sort[^\\n]*\\n\\s*[+:]- Exchange SinglePartition".r
    for (name <- Seq("q_kll_quantile", "q_kll_grouped", "q_skew_report",
        "q_cusum", "q_rolling_corr")) {
      val df = SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      assert(globalWindow.findFirstIn(plan).isEmpty, s"$name:\n$plan")
    }
  }

  test("power iteration recovers a planted dominant direction") {
    import spark.implicits._
    // 64-dim vectors = scale * u + deterministic small noise, u fixed:
    // the top principal direction of X'X must align with u
    val dims = 64
    val u = Array.tabulate(dims)(i => math.cos(i * 0.7)).map(_.toFloat)
    val unorm = math.sqrt(u.map(x => x.toDouble * x).sum)
    val rows = (1 to 300).map { r =>
      val scale = 0.5f + (r % 7) * 0.1f
      val emb = Array.tabulate(dims) { i =>
        u(i) * scale + 0.02f * math.sin(r * 13 + i * 5).toFloat
      }
      (r.toLong, emb.toSeq, r % 3)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_pc").toString
    rows.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"),
        col("label").cast("int"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val pc = SparkEntry.queries("emb_power_pc1")(spark, dir)
      .collect().map(r => r.getDouble(1))
    val dot = pc.zip(u).map { case (a, b) => a * b }.sum
    val pcn = math.sqrt(pc.map(x => x * x).sum)
    val cos = math.abs(dot / (pcn * unorm))
    assert(cos > 0.99, s"cos(pc1, planted)=$cos")
  }

  test("CUSUM finds a planted mean shift; prefix sum never single-tasks") {
    import spark.implicits._
    // mean jumps 10 -> 50 at index 300 of 500; CUSUM's argmax of
    // |S_i - (i/n)S_n| is exactly the boundary for a clean step
    val ts0 = 1700000000000000L
    val rows = (1 to 500).map { i =>
      (i.toLong, new java.sql.Timestamp((ts0 + i * 1000000L) / 1000), 1L,
        "click", if (i <= 300) 10.0 else 50.0, "{}")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_cusum").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val df = SparkEntry.queries("q_cusum")(spark, dir)
    val globalWindow =
      "Window[^\\n]*\\n\\s*[+:]- Sort[^\\n]*\\n\\s*[+:]- Exchange SinglePartition".r
    val plan = df.queryExecution.executedPlan.toString
    assert(globalWindow.findFirstIn(plan).isEmpty, plan)
    val r = df.as[(String, Long, Long, java.sql.Timestamp, Double)]
      .collect().head
    assert(r._2 == 500 && r._3 == 300, r)
    // dev at the boundary: |S_300 - (300/500)S_500| = |3000 - 0.6*13000|
    assert(math.abs(r._5 - 4800.0) < 1e-6, r)
  }

  test("runtime bloom filter is injected above the fact scan") {
    val df = SparkEntry.queries("q_runtime_filter")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan)
    assert(plan.contains("SortMergeJoin"), plan)
  }

  test("weighted median: hand-computed fixture") {
    import spark.implicits._
    // weights: value 1 w=1, value 2 w=2, value 3 w=1 -> total 4, half 2;
    // cum at v=2 is 3 >= 2 -> lower weighted median = 2
    val df = Seq(("A", 1.0, 1.0), ("A", 2.0, 2.0), ("A", 3.0, 1.0))
      .toDF("l_returnflag", "l_extendedprice", "l_quantity")
    val g = df.groupBy(col("l_returnflag"), col("l_extendedprice").as("v"))
      .agg(sum("l_quantity").as("w"))
    val wc = Window.partitionBy("l_returnflag").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy("l_returnflag")
    val med = g.withColumn("cw", sum("w").over(wc))
      .withColumn("tw", sum("w").over(wt))
      .filter(col("cw") * 2 >= col("tw"))
      .groupBy("l_returnflag").agg(min("v").as("w_median"))
      .as[(String, Double)].collect().head
    assert(med == (("A", 2.0)))
  }

  test("bigram PMI output is deterministic, ranked, and count-thresholded") {
    import spark.implicits._
    val rows = SparkEntry.queries("text_bigram_pmi")(spark, dir)
      .as[(String, String, Long, Double)].collect()
    assert(rows.length <= 40 && rows.nonEmpty)
    assert(rows.forall(_._3 >= 3))
    val pmis = rows.map(_._4)
    assert(pmis.zip(pmis.tail).forall { case (a, b) => a >= b })
    val again = SparkEntry.queries("text_bigram_pmi")(spark, dir)
      .as[(String, String, Long, Double)].collect()
    assert(rows.toSeq == again.toSeq)
  }

  test("PQ ADC: partitioning-invariant, and recall tracks the exact top-10") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val pq = graft.sim.ProductQuantization.pqTopK(emb, 16L, 25L, 10)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // deterministic under any input partitioning (fixed-point arithmetic +
    // total-order tie-breaks): a 7-way repartition must not move one row
    val pq7 = graft.sim.ProductQuantization.pqTopK(emb.repartition(7), 16L, 25L, 10)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(pq == pq7)
    // recall vs exact squared-L2 top-10 (driver brute force at test scale):
    // an untrained 16-code codebook is crude, but ADC must still surface a
    // meaningful share of the true neighbors
    val all = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val byId = all.toMap
    val recalls = (16L to 25L).map { qid =>
      val q = byId(qid)
      val exact = all.map { case (id, v) =>
        (id, v.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum)
      }.sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
      val got = pq.filter(_._1 == qid).map(_._3).toSet
      exact.intersect(got).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.3, s"mean recall@10 = $mean per-query: $recalls")
  }

  test("IVF-PQ pruning can only lose candidates, never invent closer ones") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val pq = graft.sim.ProductQuantization.pqTopK(emb, 16L, 25L, 10)
      .as[(Long, Long, Long, Long)].collect().toSeq.groupBy(_._1)
    val ivf = graft.sim.ProductQuantization.ivfPqTopK(emb, 16L, 25L, 10)
      .as[(Long, Long, Long, Long)].collect().toSeq.groupBy(_._1)
    assert(ivf.keySet == pq.keySet)
    // the IVF candidate set is a subset of the full-corpus set, so at each
    // rank the pruned distance is >= the unpruned one — and rank 1 is
    // still the query's own row (it is always a candidate)
    ivf.keys.foreach { q =>
      val p = pq(q).sortBy(_._2).map(_._4)
      val v = ivf(q).sortBy(_._2).map(_._4)
      assert(v.length == 10, s"q$q returned ${v.length}")
      v.zip(p).foreach { case (dv, dp) => assert(dv >= dp, s"q$q") }
      assert(ivf(q).minBy(_._2)._3 == q, s"q$q rank-1 not self")
    }
  }

  test("stats invariants: correlation bounds, decay contraction, peak sanity") {
    import spark.implicits._
    // autocorrelation is a correlation: |r| <= 1 by Cauchy-Schwarz
    val ac = SparkEntry.queries("q_autocorr")(spark, dir)
      .as[(String, Double, Long)].collect()
    assert(ac.nonEmpty && ac.forall(r => math.abs(r._2) <= 1.0))
    // every decay weight is in (0, 1] (tmax >= ts), so the decayed sum is
    // positive and strictly below the plain sum for any non-degenerate mix
    val dec = SparkEntry.queries("q_decayed_agg")(spark, dir)
      .as[(String, Double)].collect().toMap
    val plain = Tables.events(spark, dir).groupBy("event_type")
      .agg(sum("value")).as[(String, Double)].collect().toMap
    assert(dec.keySet == plain.keySet)
    dec.foreach { case (k, v) => assert(v > 0.0 && v <= plain(k), k) }
    // peak concurrency is at least 1 while any session is open, and the
    // peak instant lies inside the stream's active envelope
    val conc = SparkEntry.queries("q_concurrency")(spark, dir)
      .as[(String, Long, java.sql.Timestamp)].collect()
    val (tsMin, tsMax) = Tables.events(spark, dir)
      .agg(min("ts"), max("ts"))
      .as[(java.sql.Timestamp, java.sql.Timestamp)].collect().head
    val envelopeEnd = new java.sql.Timestamp(tsMax.getTime + 900 * 1000L)
    assert(conc.nonEmpty)
    conc.foreach { case (t, peak, at) =>
      assert(peak >= 1L, t)
      assert(!at.before(tsMin) && !at.after(envelopeEnd), s"$t $at")
    }
    // weighted median is invariant under uniform weight scaling
    val base = SparkEntry.queries("q_weighted_median")(spark, dir)
      .as[(String, Double)].collect().toSeq
    val scaled = {
      val g = Tables.lineitem(spark, dir)
        .groupBy(col("l_returnflag"), col("l_extendedprice").as("v"))
        .agg((sum("l_quantity") * 7.0).as("w"))
      val wc = Window.partitionBy("l_returnflag").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy("l_returnflag")
      g.withColumn("cw", sum("w").over(wc))
        .withColumn("tw", sum("w").over(wt))
        .filter(col("cw") * 2 >= col("tw"))
        .groupBy("l_returnflag").agg(min("v").as("w_median"))
        .orderBy("l_returnflag").as[(String, Double)].collect().toSeq
    }
    assert(base == scaled)
    // and exactly equals the single-window global walk on the SAME decimal
    // weights — pins the two-phase (bucketed carry-in) prefix sum to the
    // form the DuckDB oracle runs
    val globalWalk = {
      val g = Tables.lineitem(spark, dir)
        .groupBy(col("l_returnflag"), col("l_extendedprice").as("v"))
        .agg(sum("l_quantity").as("w"))
      val wc = Window.partitionBy("l_returnflag").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy("l_returnflag")
      g.withColumn("cw", sum("w").over(wc))
        .withColumn("tw", sum("w").over(wt))
        .filter(col("cw") * 2 >= col("tw"))
        .groupBy("l_returnflag").agg(min("v").as("w_median"))
        .orderBy("l_returnflag").as[(String, Double)].collect().toSeq
    }
    assert(base == globalWalk)
  }

  test("KMV set-op estimates converge on the exact counts at small k") {
    // k=16 forces the estimator branch even on the 150-user fixture; the
    // KMV union/intersection estimators are unbiased with relative error
    // ~1/sqrt(k) (~25% at k=16), so a loose band is the honest assertion
    import spark.implicits._
    import graft.functions.KmvFunctions
    val k = 16
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
    val uid = col("user_id").cast("string")
    val sa = ev.filter(col("event_type") === "click")
      .agg(KmvFunctions.kmvSketch(uid, k).as("sa"))
    val sb = ev.filter(col("event_type") === "view")
      .agg(KmvFunctions.kmvSketch(uid, k).as("sb"))
    val u = slice(array_sort(array_union(col("sa"), col("sb"))), 1, k)
    val prefix = conv(substring(element_at(col("u"), k), 1, 12), 16, 10)
      .cast("double")
    val est = sa.crossJoin(sb).withColumn("u", u)
      .select(
        (lit((k - 1).toDouble * KmvFunctions.FracScale) / prefix).as("uEst"),
        (size(array_intersect(col("u"),
          array_intersect(col("sa"), col("sb")))).cast("double") / k).as("rho"))
      .as[(Double, Double)].collect().head
    val exact = ev.filter(col("event_type").isin("click", "view"))
      .select("user_id").distinct().count()
    assert(est._1 > exact * 0.5 && est._1 < exact * 2.0,
      s"union est ${est._1} vs exact $exact")
    // fixture users all appear in both types, so true Jaccard is 1.0 and
    // every k-min of the union must be in both sketches
    assert(est._2 == 1.0, s"rho ${est._2}")
  }

  test("chi2 contributions are non-negative and cover every lang") {
    import spark.implicits._
    val rows = SparkEntry.queries("q_chi2")(spark, dir)
      .as[(String, Double)].collect()
    val langs = Tables.documents(spark, dir)
      .select("lang").distinct().as[String].collect().toSet
    assert(rows.map(_._1).toSet == langs)
    assert(rows.forall(_._2 >= 0.0))
  }
}

class Round8EdgeSpec extends SparkSpec {
  test("canonical KLL below capacity is exact; grouped handles 1-row groups") {
    import spark.implicits._
    val tiny = (1 to 10).map(i => ((i * 7 % 10).toDouble, i.toLong))
      .toDF("v", "id")
    val (sk, n) = graft.queries.Sketches.kllCanonical(tiny, 256)
    val items = sk.select("v", "id", "w").collect()
      .map(r => (r.getDouble(0), r.getLong(2)))
    // no halving happened: every row survives at weight 1
    assert(n == 10 && items.length == 10 && items.forall(_._2 == 1L))
    val grouped = (1 to 9).map(i =>
        (if (i == 9) "solo" else "big", i.toDouble, i.toLong))
      .toDF("g", "v", "id")
    val gsk = graft.queries.Sketches.kllCanonicalGrouped(grouped, 4)
      .select("g", "v", "w")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    // weights conserved per group, the 1-row group intact
    val byG = gsk.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(byG == Map("big" -> 8L, "solo" -> 1L), byG.toString)
  }

  test("KLL driver-finished tail equals the fully distributed tree") {
    import spark.implicits._
    import graft.queries.DriverFinishRows
    import graft.queries.Sketches.kllCanonical
    // deterministic pseudo-random doubles with ties; k=8 over 600 rows
    // gives 75 chunks -> 7 halving levels. Three gates: driverFinishRows=0
    // runs every level distributed; n - 1 ranks distributed, runs one
    // level distributed (75·8 > 599) and replays the other 6 on the
    // driver; the default ranks and replays the whole tree on the driver
    val rows = (1 to 600).map(i =>
      (((i * 2654435761L) % 97).toDouble / 7.0, i.toLong)).toDF("v", "id")
    // sketch rows by id (unique here, a null id read as -1); v as raw
    // bits, so NaN compares equal to itself and -0.0 differs from 0.0
    def canon(df: org.apache.spark.sql.DataFrame, fin: Long) = {
      val (sk, n) = kllCanonical(df, 8, fin)
      (sk.select("v", "id", "chunk", "w").collect()
        .map(r => (java.lang.Double.doubleToRawLongBits(r.getDouble(0)),
          if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2),
          r.getLong(3)))
        .sortBy(_._2).toSeq, n)
    }
    val dist = canon(rows, 0L)
    for (fin <- Seq(599L, DriverFinishRows))
      assert(canon(rows, fin) == dist, s"driverFinishRows=$fin")
    // -0.0 and NaN values, and a null id, are outside the driver's order:
    // the default falls back to the engine path and equals the fully
    // distributed tree
    val odd = Seq(
      Seq((-0.0, Some(601L)), (Double.NaN, Some(602L)), (0.0, Some(603L)),
        (Double.NaN, Some(604L))),
      Seq((5.0, None), (5.0, Some(605L))))
    for (extra <- odd) {
      val df = rows.union(extra.toDF("v", "id"))
      assert(canon(df, DriverFinishRows) == canon(df, 0L), extra.toString)
    }
    // jobs of the default on the 600 rows: none, since the gate's limited
    // collect of these local rows runs no job. Ranking level 0
    // distributed, as the tree did before at every size, took 7: the
    // min/max aggregate, DistributedRank's bucket counts and the level-0
    // checkpoint (2 each), then the tail's collect.
    val jobs = RunRecorder.of(spark)(canon(rows, DriverFinishRows)).jobs
    assert(jobs <= 2, s"$jobs jobs")
    // grouped: two groups of very different depth (one freezes early)
    val grows = ((1 to 500).map(i =>
      ("deep", ((i * 40503L) % 83).toDouble / 3.0, i.toLong)) ++
      (1 to 20).map(i => ("shallow", i.toDouble, (1000 + i).toLong)))
      .toDF("g", "v", "id")
    def gcanon(fin: Long) = graft.queries.Sketches
      .kllCanonicalGrouped(grows, 8, fin)
      .select("g", "v", "id", "chunk", "w").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    assert(gcanon(0L) == gcanon(DriverFinishRows))
  }

  test("temperature sample keeps a tiny source whole; cusum handles 1-row types") {
    import spark.implicits._
    val docs = (1 to 30).map(i =>
      (i.toLong, s"text $i", "en", if (i <= 25) "huge" else "tiny", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // c=3: rate(tiny, n=5) = min(1, 3/sqrt(5)) = 1 -> all 5 kept
    val kept = graft.analytics.CorpusOps
      .temperatureSample(docs, col("doc_id"), col("source"), 3.0)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("tiny") == 5L, kept.toString)
    assert(kept.getOrElse("huge", 0L) < 25L) // rate 3/5 downsampled
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ev = Seq((1L, ts, 1L, "lonely", 5.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_edge").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("q_cusum")(spark, dir).collect()
    // one row: the only index is the changepoint, deviation 0
    assert(r.length == 1 && r(0).getLong(2) == 1L && r(0).getDouble(4) == 0.0)
  }

  test("poisson bootstrap: CI brackets the mean, shrinks at 10x rows") {
    def cis(dir: String) = SparkEntry.queries("q_bootstrap_ci")(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    val small = cis("/root/testdata/sf0.001")
    small.foreach { case (t, (m, lo, hi)) =>
      assert(lo < m && m < hi, s"$t: CI [$lo, $hi] misses mean $m")
      assert(hi - lo < 30.0, s"$t: absurd width")
    }
    val big = cis("/root/testdata/sf0.01")
    // ~10x rows -> ~1/sqrt(10) width; allow generous slack for 32 reps
    val wS = small.map { case (_, (_, lo, hi)) => hi - lo }.sum / small.size
    val wB = big.map { case (_, (_, lo, hi)) => hi - lo }.sum / big.size
    assert(wB < wS * 0.7, s"width did not shrink: $wS -> $wB")
    // deterministic: md5-seeded weights, fixed-point sums
    assert(cis("/root/testdata/sf0.001") == small)
  }

  test("z-order tiles stay narrow in BOTH dims; 1-col sort does not") {
    val dir = "/root/testdata/sf0.001"
    val t = SparkEntry.queries("q_zorder_layout")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val total = t.map(_._1).sum
    assert(total == Tables.events(spark, dir).count()) // row conservation
    val uMin = t.map(_._2).min; val uMax = t.map(_._3).max
    val uSpan = t.map(x => (x._3 - x._2).toDouble / (uMax - uMin)).sum / t.length
    val vSpan = t.map(x => (x._5 - x._4).toDouble / 255.0).sum / t.length
    assert(uSpan < 0.25, s"user span frac $uSpan")
    assert(vSpan < 0.25, s"value span frac $vSpan")
    // contrast: tiling the USER-sorted layout leaves value full-range —
    // the single-column sort a z-order layout replaces
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir).select(col("user_id"), col("value"))
    val n = ev.count()
    val ranked = ev.withColumn("rn",
      row_number().over(Window.orderBy("user_id", "value")))
    val blocks = ranked.withColumn("tile", expr(s"(rn - 1) * 50 DIV $n"))
      .groupBy("tile").agg(min("value").as("v0"), max("value").as("v1"))
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    val vAll = ev.agg(min("value"), max("value")).collect()(0)
    val vRange = vAll.getDouble(1) - vAll.getDouble(0)
    val naive = blocks.map(b => (b._2 - b._1) / vRange).sum / blocks.length
    assert(naive > 2 * vSpan,
      s"user-sorted value span $naive should dwarf z-order $vSpan")
  }

  test("PSI: identical halves ~0, planted location shift crosses 0.25") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(i: Long) = new Timestamp(1700000000000L + i * 1000L)
    // same uniform value pattern in both halves -> tiny PSI (smoothing
    // keeps it nonzero but well under the 0.1 "stable" band)
    val stable = (0L until 2000L).map(i => (ts(i), (i % 100).toDouble))
      .toDF("ts", "value")
    val p0 = graft.queries.Relational6.psiOf(stable).collect()(0)
    assert(p0.getLong(1) > 0 && p0.getLong(2) > 0)
    assert(math.abs(p0.getDouble(0)) < 0.01, p0)
    // second half shifted +150: mass leaves every reference bucket ->
    // PSI far beyond the 0.25 "drifted" threshold
    val drift = (0L until 2000L).map { i =>
      val v = (i % 100).toDouble + (if (i >= 1000L) 150.0 else 0.0)
      (ts(i), v)
    }.toDF("ts", "value")
    val p1 = graft.queries.Relational6.psiOf(drift).collect()(0)
    assert(p1.getDouble(0) > 0.25, p1)
    // fixed-point terms -> partitioning-invariant
    val p2 = graft.queries.Relational6.psiOf(drift.repartition(17))
      .collect()(0)
    assert(p1 == p2)
  }
}
