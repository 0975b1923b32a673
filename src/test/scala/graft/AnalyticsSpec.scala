package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.analytics.EventAnalytics

/** Behavioral analytics semantics the oracle can't isolate: exact gap
  * boundaries, strict funnel ordering, split stability. */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(1700000000000L + sec * 1000L)

  test("sessionize splits strictly after the gap, not at it") {
    val events = Seq(
      (1L, 0L, ts(0)),
      (1L, 1L, ts(1800)),   // exactly the gap -> SAME session
      (1L, 2L, ts(3601)),   // 1801 s later -> new session
      (2L, 3L, ts(0))
    ).toDF("user_id", "event_id", "ts")
    val out = EventAnalytics.sessionize(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq((1L, 1L, 2L, 1800L), (1L, 2L, 1L, 0L),
      (2L, 1L, 1L, 0L)))
  }

  test("funnel requires strictly increasing timestamps per stage") {
    val events = Seq(
      (1L, "view", ts(0)), (1L, "click", ts(10)), (1L, "purchase", ts(20)),
      (2L, "view", ts(0)), (2L, "click", ts(0)),  // tie -> click NOT after view
      (3L, "click", ts(0)), (3L, "view", ts(10))  // wrong order
    ).toDF("user_id", "event_type", "ts")
    val r = EventAnalytics.funnel(events, Seq("view", "click", "purchase"))
      .collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 1L, 1L)))
  }

  test("stratified sample draws n per stratum, deterministically") {
    val docs = graft.queries.Tables.documents(spark, "/root/testdata/sf0.01")
    val s1 = graft.analytics.CorpusOps
      .stratifiedSample(docs, col("doc_id"), col("lang"), 5)
      .select("lang", "rank", "doc_id").orderBy("lang", "rank").collect().toSeq
    assert(s1.groupBy(_.getString(0)).forall(_._2.length == 5))
    val s2 = graft.analytics.CorpusOps
      .stratifiedSample(docs.repartition(11), col("doc_id"), col("lang"), 5)
      .select("lang", "rank", "doc_id").orderBy("lang", "rank").collect().toSeq
    assert(s1 == s2)
  }

  test("sequence packing respects the token budget per bin (straddle rule)") {
    import spark.implicits._
    val docs = Seq((1L, 1000L), (2L, 1000L), (3L, 100L), (4L, 2000L), (5L, 10L))
      .toDF("doc_id", "n_tokens")
    val bins = graft.analytics.CorpusOps
      .packSequences(docs, col("doc_id"), col("n_tokens"), binTokens = 2048)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // cum: 1000,2000,2100,4100,4110 → start offsets 0,1000,2000,2100,4100
    // → bins 0,0,0,1,2: a doc STARTING inside the budget joins the bin
    assert(bins == Seq((0L, 3L, 2100L), (1L, 1L, 2000L), (2L, 1L, 10L)))
  }

  test("mixture sampling downsamples each source toward its rate") {
    val docs = graft.queries.Tables.documents(spark, "/root/testdata/sf0.1")
    val rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.1)
    val kept = graft.analytics.CorpusOps
      .mixtureSample(docs, col("doc_id"), col("source"), rates)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("src0") == totals("src0")) // rate 1.0 keeps everything
    assert(math.abs(kept("src1").toDouble / totals("src1") - 0.5) < 0.15)
    assert(math.abs(kept("src2").toDouble / totals("src2") - 0.1) < 0.08)
    assert(!kept.contains("src3")) // absent from rates -> dropped
    // the draw is per-id: rerunning with a superset of rates keeps the
    // same src1 documents (sample stability under mixture changes)
    val a = graft.analytics.CorpusOps
      .mixtureSample(docs, col("doc_id"), col("source"), rates)
      .filter(col("source") === "src1").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val b = graft.analytics.CorpusOps
      .mixtureSample(docs, col("doc_id"), col("source"),
        rates + ("src9" -> 0.3))
      .filter(col("source") === "src1").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("token budget keeps best-quality docs, inclusive at the boundary") {
    val docs = Seq(
      ("en", 1L, 90L, 3000L), ("en", 2L, 80L, 3000L), ("en", 3L, 70L, 2000L),
      ("en", 4L, 60L, 1L),    // over budget once cum hits 8001
      ("de", 5L, 10L, 8000L), // exactly the budget -> kept
      ("de", 6L, 5L, 1L)
    ).toDF("lang", "doc_id", "quality", "n_tokens")
    val kept = graft.analytics.CorpusOps.tokenBudget(docs, col("n_tokens"),
        budget = 8000L,
        orderCols = Seq(col("quality").desc, col("doc_id")),
        strataCols = Seq(col("lang")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L, 5L))
  }

  test("quality bins are equal-sized and cover the stratum") {
    val docs = (1 to 100).map(i => ("en", i.toLong, i.toLong * 3))
      .toDF("lang", "doc_id", "n_chars")
    val bins = graft.analytics.CorpusOps
      .qualityBins(docs, col("lang"), col("n_chars"), col("doc_id"), 10)
      .orderBy("bucket")
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(bins.length == 10)
    assert(bins.forall(_._2 == 10L))
    // deciles tile the quality range: each min is the previous max + step
    assert(bins.map(b => (b._3, b._4)).toSeq ==
      (0 until 10).map(i => (i * 30L + 3L, i * 30L + 30L)))
  }

  test("flattened mixture levels groups to ~n_min and is rerun-stable") {
    val docs = graft.queries.Tables.documents(spark, "/root/testdata/sf0.01")
    val counts = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMin = counts.values.min
    assert(counts.values.max > nMin * 2, "fixture lost its lang skew")
    val kept = graft.analytics.CorpusOps
      .flattenedMixture(docs, col("doc_id"), col("lang"))
    val keptCounts = kept.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // smallest group survives whole; every group lands near n_min (the
    // draw is a hash sample, so allow binomial slack around the target)
    val minSrc = counts.minBy(_._2)._1
    assert(keptCounts(minSrc) == nMin)
    keptCounts.foreach { case (src, n) =>
      assert(math.abs(n - nMin) <= math.max(8L, nMin / 2),
        s"$src kept $n, target $nMin")
    }
    // deterministic under repartitioning
    val again = graft.analytics.CorpusOps
      .flattenedMixture(docs.repartition(13), col("doc_id"), col("lang"))
      .select("doc_id").orderBy("doc_id").collect().toSeq
    assert(again == kept.select("doc_id").orderBy("doc_id").collect().toSeq)
  }

  test("chunking tiles each doc with the stride, short tail, no empties") {
    val docs = Seq(
      (1L, "a" * 1000, 1000L), // starts 0,400,800 -> lens 500,500,200
      (2L, "xy", 2L),          // one short chunk
      (3L, "", 0L)             // empty -> no chunks
    ).toDF("doc_id", "text", "n_chars")
    val out = graft.analytics.CorpusOps
      .chunkDocs(docs, col("doc_id"), col("text"), col("n_chars"),
        chunkLen = 500, stride = 400)
      .orderBy("doc_id", "chunk_id")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 0, 0L, 500L), (1L, 1, 400L, 500L), (1L, 2, 800L, 200L),
      (2L, 0, 0L, 2L)))
  }

  test("pagerank: mass conserved, hubs rank highest, partition-invariant") {
    // star: hub 0 <-> leaves 1..4 (both directions)
    val fwd = (1L to 4L).map(l => (0L, l))
    val edges = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    val pr = graft.analytics.PageRank.run(edges, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-6) // probability mass
    assert((1L to 4L).forall(l => pr(0L) > pr(l) * 2)) // hub dominates
    assert((2L to 4L).forall(l => math.abs(pr(l) - pr(1L)) < 1e-12))
    val pr2 = graft.analytics.PageRank.run(edges.repartition(7), iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr2 == pr) // decimal-exact sums -> bit-identical under reshuffle
  }

  test("pagerank on a sink-bearing graph: dangling mass is redistributed") {
    // directed chain 1 -> 2 -> 3: node 3 is a sink (no out-edges). Without
    // redistribution its mass would leak every iteration and the ranks
    // would no longer be a probability distribution.
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val pr = graft.analytics.PageRank.run(edges, iters = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-9, pr) // mass conserved
    assert(pr(3L) > pr(2L) && pr(2L) > pr(1L)) // downstream accumulates
    val pr2 = graft.analytics.PageRank.run(edges.repartition(5), iters = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr2 == pr) // dangling sum is decimal-exact too
  }

  test("personalized pagerank: mass 1, locality to the seed, " +
      "partition-invariant") {
    // chain 1-2-3-4-5 (symmetric), seed {1}: after 3 iterations mass is
    // zero beyond 3 hops and decays with distance PAST the seed's
    // neighbor. (The neighbor legitimately out-ranks the endpoint seed:
    // a degree-1 seed ships ALL its mass to it every iteration and only
    // teleport returns — the same shape q_ppr shows on the doc chain.)
    val fwd = (1L to 4L).map(i => (i, i + 1))
    val edges = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val pr = graft.analytics.PageRank.runPersonalized(edges, seeds, 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-9, pr)
    // a path is bipartite, so at a finite iteration count mass
    // oscillates by parity — decay is monotone WITHIN a parity class
    assert(pr(2L) > pr(4L) && pr(4L) > 0.0, pr) // odd distance
    assert(pr(1L) > pr(3L) && pr(3L) > 0.0, pr) // even distance
    assert(pr(5L) == 0.0, pr) // 4 hops away: unreachable in 3 iterations
    val pr2 = graft.analytics.PageRank.runPersonalized(
      edges.repartition(7), seeds, 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr2 == pr)
  }

  test("hits: hubs/authorities separate on a directed graph, unit L2 norm," +
      " partition-invariant") {
    // 1,2 cite both 10 and 11; 3 cites only 10. Citers are pure hubs
    // (auth 0), cited are pure authorities (hub 0); 10 (3 citations, one
    // from every hub) must out-rank 11, and 1,2 (who cite the stronger
    // authority set) must out-rank 3.
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (3L, 10L))
      .toDF("src", "dst")
    val out = graft.analytics.Hits.run(edges, iters = 3)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(Seq(1L, 2L, 3L).forall(out(_)._2 == 0.0)) // never cited
    assert(Seq(10L, 11L).forall(out(_)._1 == 0.0))   // cite nothing
    assert(out(10L)._2 > out(11L)._2)
    assert(out(1L)._1 > out(3L)._1 && out(1L)._1 == out(2L)._1)
    // each half-step L2-normalizes
    assert(math.abs(out.values.map(v => v._1 * v._1).sum - 1.0) < 1e-12)
    assert(math.abs(out.values.map(v => v._2 * v._2).sum - 1.0) < 1e-12)
    val out2 = graft.analytics.Hits.run(edges.repartition(7), iters = 3)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(out2 == out) // decimal-exact pulls -> bit-identical reshuffled
  }

  test("adamic-adar: path pairs score 1/ln2, hubs above the cap drop out") {
    import spark.implicits._
    // path 1-2-3-4: the only common-neighbor non-edges are (1,3) via
    // center 2 and (2,4) via center 3, each deg-2 -> score 1/ln(2)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val got = graft.queries.Relational4.adamicAdarScores(path, 64, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    val s = BigDecimal(1e12 / math.log(2.0)).setScale(0,
      BigDecimal.RoundingMode.HALF_UP).toDouble / 1e12
    val exp = BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    assert(got.toSeq == Seq((1L, 3L, 1L, exp), (2L, 4L, 1L, exp)), got.toSeq)
    // star center 0 with 5 leaves: with degCap=4 the center (deg 5) is a
    // hub and contributes nothing -> no predicted links at all
    val star = (1L to 5L).map(l => (0L, l)).toDF("u", "v")
    assert(graft.queries.Relational4.adamicAdarScores(star, 4, 10).count()
      == 0L)
    // without the cap the star yields all C(5,2)=10 leaf pairs via the hub
    assert(graft.queries.Relational4.adamicAdarScores(star, 64, 100).count()
      == 10L)
  }

  test("tfidf: ubiquitous terms score zero, rare repeated terms rank top") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana banana"),
      (2L, "apple cherry"),
      (3L, "apple durian")).toDF("doc_id", "text")
    val got = graft.queries.Relational6.tfidfTopK(docs, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getDouble(4)))
    // 'apple' df=3, N=3 -> idf = ln(4/4) = 0 -> score exactly 0; the
    // rare words (df=1, idf=ln2) outrank it everywhere
    val ln2 = BigDecimal(1e12 * math.log(2.0))
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def sc(tf: Long) = BigDecimal(tf * ln2 / 1e12)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq == Seq(
      (1L, 1, "banana", sc(2)), (1L, 2, "apple", 0.0),
      (2L, 1, "cherry", sc(1)), (2L, 2, "apple", 0.0),
      (3L, 1, "durian", sc(1)), (3L, 2, "apple", 0.0)), got.toSeq)
  }

  test("BPE merges: greedy non-overlap on runs, lexicographic ties") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x x x x x"),
      (2L, "x x a b a b")).toDF("doc_id", "text")
    val got = graft.queries.Relational6.bpeMergeRounds(docs, 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // r1: top (x,x)×5; run x·5 in doc1 merges greedily at positions 1,3
    //     -> "x x|x x|x", doc2 -> "x x|a|b|a|b": 8 tokens, vocab 4
    // r2: top (a,b)×2 -> doc2 "x x|a b|a b": 6 tokens, vocab 3
    // r3: all pairs tie at 1 -> lexicographic min ("a b","a b") merges
    //     -> doc2 "x x|a b a b": 5 tokens, vocab 3
    assert(got.toSeq == Seq(
      (1, "x", "x", 5L, 4L, 8L),
      (2, "a", "b", 2L, 3L, 6L),
      (3, "a b", "a b", 1L, 3L, 5L)), got.toSeq)
  }

  test("SCD2 compaction keeps change rows and chains validity intervals") {
    val snaps = Seq(
      (1L, 1, Some(10.0)), (1L, 2, Some(10.0)), // no change -> collapsed
      (1L, 3, Some(20.0)),                      // change
      (1L, 4, None),                            // value -> null IS a change
      (1L, 5, None),                            // still null -> collapsed
      (2L, 1, Some(5.0))
    ).toDF("user_id", "day", "value")
    val hist = graft.analytics.Scd
      .compactHistory(snaps, Seq("user_id"), "day", Seq("value"))
      .select("user_id", "valid_from", "valid_to", "value")
      .orderBy("user_id", "valid_from")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        Option(r.get(2)).map(_.asInstanceOf[Int]),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
    assert(hist.toSeq == Seq(
      (1L, 1, Some(3), Some(10.0)),
      (1L, 3, Some(4), Some(20.0)),
      (1L, 4, None, None),
      (2L, 1, None, Some(5.0))))
  }

  test("as-of join: backward inclusive, per-key, deterministic ties, tolerance") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    val trades = Seq(
      (1L, 1L, ts(10)),  // after k1's first quote
      (2L, 1L, ts(20)),  // exactly at a quote ts -> inclusive match
      (3L, 1L, ts(5)),   // before any quote -> null
      (4L, 2L, ts(50)),  // other key: must not see k1 quotes
      (5L, 3L, ts(10))   // key with no quotes at all -> null
    ).toDF("trade_id", "k", "t")
    val quotes = Seq(
      (1L, ts(8), 100.0),
      (1L, ts(20), 200.0),
      (1L, ts(20), 150.0), // same (key, ts): struct-greatest (200.0) wins
      (2L, ts(49), 300.0)
    ).toDF("k", "qt", "px")
    val out = graft.analytics.AsOfJoin
      .backward(trades, quotes, Seq("k"), "t", "qt", Seq("px"))
      .orderBy("trade_id")
      .collect()
      .map(r => (r.getLong(0), Option(r.getAs[java.sql.Timestamp]("qt_r")),
        Option(r.getAs[Any]("px_r")).map(_.asInstanceOf[Double])))
    assert(out(0) == ((1L, Some(ts(8)), Some(100.0))))
    assert(out(1) == ((2L, Some(ts(20)), Some(200.0)))) // inclusive + max tie
    assert(out(2) == ((3L, None, None)))
    assert(out(3) == ((4L, Some(ts(49)), Some(300.0))))
    assert(out(4) == ((5L, None, None)))
    // tolerance: the 2 s staleness cap voids the 10-8=2 s edge? no — cap is
    // inclusive (<=); a 1 s cap voids it while keeping the exact-ts match
    val tight = graft.analytics.AsOfJoin
      .backward(trades, quotes, Seq("k"), "t", "qt", Seq("px"),
        toleranceUs = Some(1000000L))
      .orderBy("trade_id").collect()
      .map(r => Option(r.getAs[Any]("px_r")))
    assert(tight(0).isEmpty)  // 2 s stale > 1 s cap
    assert(tight(1).contains(200.0)) // 0 s stale
  }

  test("hash split is ~80/10/10, keyed only by id, stable under repartition") {
    val docs = graft.queries.Tables.documents(spark, "/root/testdata/sf0.01")
    val counts = EventAnalytics.hashSplit(docs, col("doc_id"))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = counts.values.sum.toDouble
    assert(math.abs(counts("train") / n - 0.8) < 0.06, counts)
    assert(math.abs(counts("val") / n - 0.1) < 0.05, counts)
    // same ids -> same assignment regardless of partitioning or other cols
    val a = EventAnalytics.hashSplit(docs, col("doc_id"))
      .select("doc_id", "split").orderBy("doc_id").collect().toSeq
    val b = EventAnalytics.hashSplit(docs.repartition(13).drop("text"),
      col("doc_id")).select("doc_id", "split").orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("salted join equals the plain join and spreads the hot key") {
    import org.apache.spark.sql.functions.{spark_partition_id, col}
    // 90% of rows share key 7 — the classic straggler shape
    val left = spark.range(0, 2000)
      .selectExpr("id AS row_id", "CASE WHEN id % 10 = 0 THEN id ELSE 7 END AS k")
    val right = spark.range(0, 2000).selectExpr("id AS k", "id * 100 AS payload")
    val plain = left.join(right, "k")
      .select("row_id", "k", "payload").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val saltedDf = graft.analytics.SkewJoin.salted(left, right, Seq("k"), r = 8)
    val salted = saltedDf.select("row_id", "k", "payload").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == plain)           // row-identical rewrite
    // the hot key's rows land in >1 shuffle partition after the join
    val hotParts = saltedDf.filter(col("k") === 7)
      .select(spark_partition_id()).distinct().count()
    assert(hotParts > 1, s"hot key still on $hotParts partition(s)")
  }

  test("range join: inclusive bounds, multi-bucket spans, key scoping") {
    val points = Seq(
      (1L, "a", ts(0)),    // == start of iv 10 -> match (inclusive)
      (2L, "a", ts(600)),  // == end of iv 10 -> match (inclusive)
      (3L, "a", ts(601)),  // 1 s past end -> no match
      (4L, "a", ts(5000)), // inside the 3-bucket iv 11 (bucket width 1 h)
      (5L, "b", ts(100))   // right time, wrong key -> no match
    ).toDF("point_id", "k", "ts")
    val ivs = Seq(
      (10L, "a", ts(0), ts(600)),
      (11L, "a", ts(3000), ts(9000)) // spans 3 one-hour buckets
    ).toDF("interval_id", "k", "start_ts", "end_ts")
    val out = graft.analytics.RangeJoin.pointInInterval(
        points, ivs, Seq("k"), "ts", "start_ts", "end_ts",
        bucketWidthUs = 3600L * 1000000L)
      .select("point_id", "interval_id").orderBy("point_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 10L), (2L, 10L), (4L, 11L)))
    // a pair meets in exactly one bucket even when the interval covers many
    assert(out.distinct == out)
    // non-key name collisions are a loud error, not silent ambiguity
    val clash = ivs.withColumnRenamed("interval_id", "point_id")
    assertThrows[IllegalArgumentException] {
      graft.analytics.RangeJoin.pointInInterval(
        points, clash, Seq("k"), "ts", "start_ts", "end_ts", 3600000000L)
    }
  }

  test("iterated H-index coreness: independent rederivation, bound vs true peeling") {
    val dir = "/root/testdata/sf0.001"
    val ids = graft.queries.Tables.documents(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val adj = docAdjacency(ids)
    val rounds = hRounds(adj)
    // monotone non-increasing per node across rounds
    rounds.sliding(2).foreach { case Seq(a, b) =>
      assert(adj.keys.forall(k => b(k) <= a(k)), "H iteration not monotone")
    }
    // true coreness by exact peeling
    var core = Map.empty[Long, Int]
    var remaining = adj.map { case (k, v) => k -> v.toBuffer }
    var k = 0
    while (remaining.nonEmpty) {
      val peel = remaining.filter(_._2.size <= k).keys.toSeq
      if (peel.isEmpty) k += 1
      else {
        peel.foreach { p => core += p -> k; remaining -= p }
        remaining = remaining.map { case (n, ns) =>
          n -> ns.filterNot(peel.contains) }
      }
    }
    val got = SparkEntry.queries("q_kcore")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(got.map(_._1).toSet == adj.keySet)
    got.foreach { case (id, deg, cr) =>
      assert(deg == adj(id).size, s"degree mismatch at $id")
      // engine == independently simulated round-4 value, exactly
      assert(cr == rounds.last(id), s"H4 mismatch at $id")
      // and an upper bound on the true coreness
      assert(cr >= core(id), s"H4 below true coreness at $id")
    }
    // the bound is tight somewhere (block ends converge within 4 rounds)
    assert(got.exists { case (id, _, cr) => cr == core(id) })
  }

  /** The doc graph's neighbour lists, rebuilt on the driver from the
    * documents' doc_id multiset, independent of the engine's docEdges join
    * formulation: chain + skip edges inside each 50-block, one per pair of
    * rows, so a duplicated doc_id duplicates its edges. */
  private def docAdjacency(ids: Seq[Long]): Map[Long, Seq[Long]] = {
    val mult = ids.groupBy(identity).map { case (id, xs) => id -> xs.size }
    val und = for {
      (u, cu) <- mult.toSeq; d <- Seq(1, 2)
      if u % 50 <= 50 - 1 - d
      cv <- mult.get(u + d).toSeq; _ <- 1 to cu * cv
    } yield (u, u + d)
    (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2) }
  }

  /** Driver-simulated iterated H: degree, then 4 rounds. */
  private def hRounds(adj: Map[Long, Seq[Long]]): Seq[Map[Long, Int]] = {
    def hIndex(vals: Seq[Int]): Int = {
      val sorted = vals.sorted(Ordering[Int].reverse)
      sorted.zipWithIndex.map { case (v, i) => math.min(i + 1, v) }
        .foldLeft(0)(math.max)
    }
    val c: Map[Long, Int] = adj.map { case (k, ns) => k -> ns.size }
    Iterator.iterate(c)(prev =>
      adj.map { case (k, ns) => k -> hIndex(ns.map(prev)) })
      .take(5).toSeq
  }

  test("q_kcore plans its H-index rounds over one materialized neighbour list") {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    // two 50-doc blocks: the plan's shape does not depend on corpus size.
    // A driver bound of 0 keeps the rounds distributed (at the default
    // bound this graph finishes on the driver as a local frame).
    val dir = java.nio.file.Files.createTempDirectory("graft_kcore").toString
    (0L until 100L).toDF("doc_id").write.parquet(s"$dir/documents.parquet")
    val plan = graft.queries.Relational6.kcoreHindex(spark, dir, 0L)
      .queryExecution.optimizedPlan
    // the neighbour list reads the checkpointed edges twice (both
    // directions); the degree side of the final join holds one list and
    // the round-4 side five (one per round plus its degree seed): 12
    // leaves, none a file scan. With docEdges' two self-joins of
    // `documents` re-embedded in every list it was 48 LogicalRelations.
    assert(plan.collectLeaves().count(_.isInstanceOf[LogicalRelation]) == 0)
    assert(plan.collectLeaves().size <= 12, plan.treeString)
  }

  test("q_kcore: driver-finished rounds == distributed rounds == simulated rounds") {
    import graft.queries.DriverFinishRows
    import graft.queries.Relational6.kcoreHindex
    // sf0.001, and a graph with duplicated doc_ids: each copy joins, so
    // its edges repeat (the distributed join is a multiset join)
    val sf = "/root/testdata/sf0.001"
    val dup = java.nio.file.Files.createTempDirectory("graft_kcore_dup").toString
    ((0L until 100L) ++ Seq(3L, 3L, 10L, 51L, 52L)).toDF("doc_id")
      .write.parquet(s"$dup/documents.parquet")
    for (dir <- Seq(sf, dup)) {
      val ids = graft.queries.Tables.documents(spark, dir)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      val adj = docAdjacency(ids)
      // ties between distinct neighbours' values (a chain interior's
      // neighbours share a degree), and on `dup` repeated neighbours
      val c0 = adj.map { case (k, ns) => k -> ns.size }
      assert(adj.values.exists(ns =>
        ns.distinct.map(c0).distinct.size < ns.distinct.size), dir)
      if (dir == dup) assert(adj.values.exists(ns => ns.distinct.size < ns.size))
      val want = hRounds(adj).last
      val expected = adj.keys.toSeq.sorted.map(id => (id, adj(id).size, want(id)))
      val local = kcoreHindex(spark, dir, DriverFinishRows)
      val dist = kcoreHindex(spark, dir, 0L)
      assert(local.dtypes.toSeq == dist.dtypes.toSeq, dir)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
      // row order too: both sides come out in doc_id order
      assert(rows(local) == expected, dir)
      assert(rows(dist) == expected, dir)
    }
    // jobs at the default gate on sf0.001: 5, the documents schema read,
    // docEdges' two broadcasts and the limited collect in the builder,
    // then the local frame's write (the distributed rounds run 14 on sf0.01)
    val jobs = RunRecorder.of(spark)(SparkEntry.queries("q_kcore")(spark, sf)
      .write.format("noop").mode("overwrite").save()).jobs
    assert(jobs <= 5, s"$jobs jobs")
  }

  test("fk orphan screen: clean fixture reads zero; planted violations detected") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val clean = SparkEntry.queries("q_fk_orphans")(spark, dir).collect()
    assert(clean.length == 6)
    clean.foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(3) == 0L,
        s"fixture should be referentially clean: ${r.getString(0)}")
    }
    // planted: 3 of 10 fact rows point at a missing dim key
    val fact = (1L to 10L).map(i => (i, if (i <= 3) 99L else 1L))
      .toDF("id", "fk")
    val dim = Seq(1L, 2L).toDF("pk")
    val got = graft.analytics.Integrity
      .orphanEdge("fact->dim", fact, "fk", dim, "pk").collect()(0)
    assert(got.getLong(1) == 3L && got.getLong(2) == 10L)
    assert(got.getLong(3) == 300000L) // integer ppm: 3/10
  }

  test("Heaps' law curve: cumulative, and vocabulary grows sublinearly") {
    val got = SparkEntry.queries("text_heaps_law")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq == (1 to 10))
    // cumulative in every column
    got.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 >= a._2 && b._3 >= a._3 && b._4 >= a._4)
    }
    val (_, _, t1, v1) = got.head
    val (_, _, t10, v10) = got.last
    // new vocabulary arrives slower than new tokens (beta < 1)
    assert(v10.toDouble / v1 < t10.toDouble / t1,
      s"vocab grew as fast as tokens: $got")
  }
}
