package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.etl.{Fixtures, Ingest, TokenTransferDecoder}
import graft.queries.Tables

/** Source/sink round-trips beyond parquet (S2/S3/S5): the envelope JSON
  * wire format through json-lines files, and csv for flat exports. */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("envelope JSON round-trips through a json-lines source") {
    val dir = Files.createTempDirectory("graft_json").toString
    val msgs = Fixtures.syntheticTransferMessages(50)
    msgs.toDF("value").write.mode("overwrite").text(dir)
    val fromFile = Ingest.parseRaw(spark.read.text(dir).as[String])
    val direct = Ingest.parseRaw(spark, msgs)
    assert(fromFile.count() == 50)
    assert(TokenTransferDecoder.decode(fromFile).count() ==
      TokenTransferDecoder.decode(direct).count())
  }

  test("jsonl source splits parse failures into quarantine, keeps drift") {
    val dir = Files.createTempDirectory("graft_jsonl").toString
    val lines = Seq(
      """{"doc_id": 1, "text": "hello world", "lang": "en"}""",
      """{"doc_id": 2, "text": "guten tag"}""",          // missing field: OK
      """{"doc_id": 3, "text": "truncat""",              // cut mid-string
      """not json at all""",
      "",                                                // blank: skipped
      """{"doc_id": 4, "text": "bonjour", "lang": "fr", "extra": 9}""")
    spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING)
      .write.mode("overwrite").text(dir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, lang STRING")
    val (good, bad) = graft.sources.JsonlCorpus.read(spark, dir, schema)
    val goodRows = good.collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
      .toSet
    assert(goodRows == Set(
      (1L, "hello world", Some("en")),
      (2L, "guten tag", None),          // schema drift -> null, not corrupt
      (4L, "bonjour", Some("fr"))))     // extra field ignored
    val quarantined = bad.collect().map(_.getString(0)).toSet
    assert(quarantined == Set("""{"doc_id": 3, "text": "truncat""",
      "not json at all"))
  }

  test("compaction writes ceil(rows/target) files and round-trips") {
    val dir = Files.createTempDirectory("graft_compact").toString
    // 1000 rows arriving in 100 tiny partitions (the small-files shape)
    val df = spark.range(1000).repartition(100)
      .select(col("id"), (col("id") % 7).as("k"))
    val files = graft.sources.Compaction
      .writeCompacted(df, s"$dir/out", targetRows = 300)
    assert(files == 4) // ceil(1000/300)
    val written = new java.io.File(s"$dir/out").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(written == 4, s"expected 4 parquet files, found $written")
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() == 1000)
    assert(back.agg(sum(col("id"))).collect()(0).getLong(0) == 499500L)
  }

  test("schema-evolution union merges generations by name, nulls the gaps") {
    val gen1 = Seq((1L, "a")).toDF("doc_id", "text")
    val gen2 = Seq((2L, "b", 0.9)).toDF("doc_id", "text", "quality")
    val gen3 = Seq((3L, 12L)).toDF("doc_id", "n_tokens") // text dropped
    val merged = graft.sources.Evolution.unionEvolved(Seq(gen1, gen2, gen3))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Long])))
    assert(merged.toSeq == Seq(
      (1L, Some("a"), None, None),
      (2L, Some("b"), Some(0.9), None),
      (3L, None, None, Some(12L))))
  }

  test("merge upsert: whole-row replace on match (nulls win), insert on miss") {
    val target = Seq((1L, Some("a"), 10), (2L, Some("b"), 20),
      (3L, Some("c"), 30)).toDF("k", "s", "v")
    val updates = Seq((2L, None: Option[String], 99), // null REPLACES "b"
      (9L, Some("z"), 1)).toDF("k", "s", "v")
    val merged = graft.sources.Merge.upsert(target, updates, "k")
      .orderBy("k").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getInt(2))).toSeq
    assert(merged == Seq((1L, Some("a"), 10), (2L, None, 99),
      (3L, Some("c"), 30), (9L, Some("z"), 1)))
  }

  test("decoded transfers round-trip through parquet, orc, and csv sinks") {
    val out = Files.createTempDirectory("graft_sink").toString
    val transfers = TokenTransferDecoder.decode(
      Ingest.parseRaw(spark, Fixtures.syntheticTransferMessages(50)))
      .drop("amount_raw") // csv has no decimal-38 fidelity; flat cols only
    transfers.write.mode("overwrite").parquet(s"$out/p")
    transfers.write.mode("overwrite").orc(s"$out/o")
    transfers.write.mode("overwrite").option("header", "true").csv(s"$out/c")
    assert(spark.read.parquet(s"$out/p").count() == transfers.count())
    val orc = spark.read.orc(s"$out/o")
    assert(orc.count() == transfers.count())
    // orc preserves names + types exactly (nullability is erased by any
    // file format, so compare the (name, type) signature)
    assert(orc.schema.map(f => (f.name, f.dataType)) ==
      transfers.schema.map(f => (f.name, f.dataType)))
    val csv = spark.read.option("header", "true").csv(s"$out/c")
    assert(csv.count() == transfers.count())
    assert(csv.columns.toSet == transfers.columns.toSet)
  }
}

/** Plan-shape assertions (SURVEY.md §4.2): the physical plans must show the
  * optimizations the 100 TB posture depends on — filter/column pushdown to
  * the parquet scan, broadcast joins for dims, partial aggregation, and
  * whole-stage codegen over the hot expressions. */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("co-bucketed tables join with zero exchanges") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val facts = (1 to 1000).map(i => (i.toLong % 97, i.toLong)).toDF("k", "v")
      val dims = (0 to 96).map(i => (i.toLong, s"d$i")).toDF("k", "name")
      graft.sources.Bucketing.writeBucketed(facts, "bk_facts", "k", 8)
      graft.sources.Bucketing.writeBucketed(dims, "bk_dims", "k", 8)
      val joined = graft.sources.Bucketing.readBucketed(spark, "bk_facts")
        .join(graft.sources.Bucketing.readBucketed(spark, "bk_dims"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == 1000)
      // and the unbucketed baseline DOES shuffle — the bucket spec is the
      // thing removing the exchanges, not some other plan accident
      val flat = facts.join(dims, "k")
      assert(flat.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bk_facts")
      spark.sql("DROP TABLE IF EXISTS bk_dims")
    }
  }
}

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("morton key interleaves bits exactly") {
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (255L, 255L))
      .toDF("x", "y")
      .select(graft.sources.ZOrder.zValue(col("x"), col("y"), 8).as("z"))
      .collect().map(_.getLong(0)).toSeq
    def ref(x: Long, y: Long) = (0 until 8).foldLeft(0L) { (a, i) =>
      a | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }
    assert(rows == Seq(ref(0, 0), ref(1, 0), ref(0, 1), ref(3, 5),
      ref(255, 255)))
    assert(ref(3, 5) == 39L) // x=011, y=101 -> interleaved 100111
  }

  test("morton column matches the scalar reference on random coordinates") {
    val rnd = new scala.util.Random(42)
    val pts = Seq.fill(500)((rnd.nextInt(65536).toLong,
      rnd.nextInt(65536).toLong))
    // both forms — the dependency-free Column fold and the fused
    // codegen'd expression — must agree with the scalar reference
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        graft.sources.ZOrder.zValue(col("x"), col("y"), 16).as("z1"),
        graft.functions.MortonFunctions
          .morton(col("x"), col("y"), 16).as("z2"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    def ref(x: Long, y: Long) = (0 until 16).foldLeft(0L) { (a, i) =>
      a | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }
    pts.foreach { case (x, y) =>
      assert(got((x, y)) == ((ref(x, y), ref(x, y))), s"($x,$y)")
    }
  }

  test("morton bits are validated and integral literals of any width plan") {
    // bits > 31 would overflow the 2*i+1 shift into Java's mod-64 wrap
    val one = org.apache.spark.sql.catalyst.expressions.Literal(1L)
    intercept[IllegalArgumentException] {
      graft.functions.MortonExpr(one, one, 32)
    }
    intercept[IllegalArgumentException] {
      graft.functions.MortonExpr(one, one, 0)
    }
    // a BIGINT literal third argument coerces via Number, not a blind cast
    val z = spark.sql("SELECT morton(3L, 5L, CAST(3 AS BIGINT)) AS z")
      .collect().head.getLong(0)
    assert(z == 39L)
    // a non-integer literal fails with a plain message, not a CCE
    val err = intercept[Exception] {
      spark.sql("SELECT morton(1L, 1L, 'x')").collect()
    }
    assert((err.getMessage + Option(err.getCause).map(_.getMessage).mkString)
      .contains("morton bits"), err)
  }

  test("z-order layout prunes row groups on the trailing dimension") {
    val dir = Files.createTempDirectory("graft_zorder").toString
    val n = 256
    val grid = spark.range(n.toLong * n)
      .select((col("id") % n).as("x"), expr(s"id div $n").as("y"))
    graft.sources.ZOrder.writeZOrdered(grid, s"$dir/z", "x", "y",
      nFiles = 16, bits = 8)
    grid.repartitionByRange(16, col("x"), col("y"))
      .sortWithinPartitions("x", "y")
      .write.mode("overwrite").parquet(s"$dir/linear")
    // rows surviving footer-stats pruning = the scan node's output rows
    // (the exact predicate is re-applied by the Filter above the scan)
    def scanned(path: String): (Long, Long) = {
      val df = spark.read.parquet(path).filter(col("y") < 16)
      val result = df.collect().length.toLong
      val scanRows = df.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
      (result, scanRows)
    }
    val (zResult, zScan) = scanned(s"$dir/z")
    val (linResult, linScan) = scanned(s"$dir/linear")
    assert(zResult == 16L * n && linResult == 16L * n) // same answer
    // linear layout: every file spans all y -> zero pruning
    assert(linScan == n.toLong * n, s"linear scanned $linScan")
    // z-order: the y-filter skips most files from footer stats alone
    assert(zScan * 2 <= linScan, s"z=$zScan linear=$linScan")
  }
}

class BloomFilterSpec extends SparkSpec {

  test("directory partitioning prunes whole partitions during planning") {
    val dir = Files.createTempDirectory("graft_part").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    graft.sources.PartitionedLayout.writePartitioned(
      docs, s"$dir/by_lang", Seq("lang"))
    val q = graft.sources.PartitionedLayout
      .readPartitioned(spark, s"$dir/by_lang")
      .filter(col("lang") === "fr")
    val plan = q.queryExecution.executedPlan.toString
    // the predicate must land in PartitionFilters (planning-time pruning),
    // not PushedFilters (file-read-time)
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.replaceAll("(?s)PushedFilters.*", "")
      .contains("lang"), plan)
    val frTotal = docs.filter(col("lang") === "fr").count()
    assert(q.count() == frTotal && frTotal > 0)
    // and the scan reads ONLY the fr directory's rows
    q.collect()
    val scanRows = q.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
    assert(scanRows == frTotal, s"scanned $scanRows, partition has $frTotal")
  }

  test("IVF cell-partitioned embeddings turn the probe filter into partition pruning") {
    // DEPLOY table row 5: partition the embeddings table BY the IVF cell
    // assignment, and the `sim_ivf_topk` probe's cell filter prunes whole
    // directories during planning — the deployment form of the probe
    val dir = Files.createTempDirectory("graft_ivf_part").toString
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val withCell = emb.join(
      graft.sim.VectorOps.ivfAssign(emb, nCells = 8), "vec_id")
    graft.sources.PartitionedLayout.writePartitioned(
      withCell, s"$dir/by_cell", Seq("cell"))
    val probed = Seq(1L, 3L) // the nprobe cells a query would select
    val q = graft.sources.PartitionedLayout
      .readPartitioned(spark, s"$dir/by_cell")
      .filter(col("cell").isin(probed: _*))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.replaceAll("(?s)PushedFilters.*", "").contains("cell"), plan)
    val want = withCell.filter(col("cell").isin(probed: _*)).count()
    assert(q.count() == want && want > 0)
    q.collect()
    val scanRows = q.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
    assert(scanRows == want, s"scanned $scanRows, probed cells hold $want")
  }

  test("AQE splits the skewed join partition at runtime (skew=true)") {
    // the automatic complement of the manual salted join (q_skew_join):
    // at 100 TB both exist — salting for known-hot keys, AQE skew
    // handling for the ones discovered at runtime
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      .map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB")
      spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "50KB")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      val left = spark.range(200000).select(lit(1L).as("k"), col("id"))
        .union(spark.range(1000).select((col("id") + 10).as("k"), col("id")))
      val right = spark.range(1010).select(col("id").as("k"),
        (col("id") * 2).as("w"))
      val joined = left.join(right, "k")
      assert(joined.collect().length == 201000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("isFinalPlan=true"), finalPlan)
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$finalPlan")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("bloom filters prune point lookups where min/max stats cannot") {
    val dir = Files.createTempDirectory("graft_bloom").toString
    // unsorted high-cardinality key: every file spans the full key range,
    // so footer min/max never prunes an equality probe
    val df = spark.range(100000)
      .select(xxhash64(col("id")).as("k"), col("id").as("v"))
      .repartition(16)
    graft.sources.BloomFilters.writeWithBloom(df, s"$dir/bloom",
      Seq("k"), ndv = 7000)
    df.write.mode("overwrite")
      .option("parquet.enable.dictionary", "false").parquet(s"$dir/plain")
    val probe = df.select("k").limit(1).collect()(0).getLong(0)
    def scanned(path: String): (Long, Long) = {
      val q = spark.read.parquet(path).filter(col("k") === probe)
      val hits = q.collect().length.toLong
      val rows = q.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
      (hits, rows)
    }
    val (bloomHits, bloomRows) = scanned(s"$dir/bloom")
    val (plainHits, plainRows) = scanned(s"$dir/plain")
    assert(bloomHits == 1L && plainHits == 1L)
    assert(plainRows == 100000L, s"plain scanned $plainRows")
    assert(bloomRows * 4 <= plainRows, s"bloom=$bloomRows plain=$plainRows")
  }
}

class PlanSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("scan-prune pushes the shipdate filter and prunes columns") {
    val p = plan("q_scan_prune")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_extendedprice:double"), p)
  }

  test("star join broadcasts the small dimensions") {
    val p = plan("q_join_star")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)"), p)
  }

  test("grouped agg is partial+final hash aggregate inside codegen") {
    val p = plan("q_agg_pricing")
    assert(p.contains("partial_sum"), p) // map-side combine before the shuffle
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    // codegen spans only materialize in the final adaptive plan — execute
    // first, then look for the `*(n)` whole-stage markers
    val df = SparkEntry.queries("q_agg_pricing")(spark, dir)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true"), finalPlan)
    assert(finalPlan.contains("*("), finalPlan)
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk_parts")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("semi and anti joins stay joins (no subquery materialization)") {
    assert(plan("q_semi_join").contains("LeftSemi"))
    assert(plan("q_anti_join").contains("LeftAnti"))
  }

  test("near-dup pipeline reuses the cached shingle frame across branches") {
    val docs = graft.queries.Tables.documents(spark, dir)
    val df = graft.dedup.Dedup.nearDuplicates(docs, 0.5)
    val p = df.queryExecution.executedPlan.toString
    // the persisted shingle/candidate frames must surface as cache scans —
    // without them the round-1 plan re-ran the shingle explode ≥3×
    assert(p.contains("InMemoryTableScan"), p)
    df.collect()
    spark.catalog.clearCache()
  }

  test("window ranks avoid the single-partition global window") {
    // ntile/percent_rank over a total order must NOT compile to a
    // no-partition Window (Exchange SinglePartition = every row through one
    // task); the histogram-rank form keeps the window partitioned by bucket
    val df = SparkEntry.queries("q_window_ranks")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("Window"), p)
    // and it must still agree with the global-window definition exactly
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(org.apache.spark.sql.functions.col("o_totalprice"),
        org.apache.spark.sql.functions.col("o_orderkey"))
    import org.apache.spark.sql.functions._
    val expected = graft.queries.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"))
      .orderBy("o_orderkey").collect()
    assert(df.collect().toSeq == expected.toSeq)
  }

  test("behavioral windows stay sharded: no single-partition exchanges") {
    // sessionize, stratified sampling, sequence packing and the as-of join
    // all use partitioned windows — none may compile to Exchange
    // SinglePartition (the as-of union-merge must key on user, not global)
    Seq("q_sessionize", "q_stratified_sample", "q_pack_sequences",
        "q_asof_join", "q_quality_ntile", "q_token_budget",
        "q_scd2", "q_time_window_sum").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange SinglePartition"), s"$q:\n$plan")
    }
  }

  test("per-group stats frames broadcast back to the fact scan") {
    Seq("q_anomaly_zscore", "q_winsorize").foreach { q =>
      val p = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), s"$q:\n$p")
    }
  }

  test("blocklist filter: broadcast anti-join, blocked domains gone, counts reconcile") {
    val stats = SparkEntry.queries("text_domain_stats")(spark, dir)
    val kept = SparkEntry.queries("text_blocklist_filter")(spark, dir)
    val p = kept.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    val statsMap = stats.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val keptMap = kept.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // no blocked domain survives; every surviving count matches the stats
    assert(keptMap.keySet.intersect(graft.queries.Web.Blocklist.toSet).isEmpty)
    assert(keptMap.forall { case (d, n) => statsMap(d) == n })
    // the blocklist actually removed something (non-vacuous fixture)
    assert(statsMap.keySet.intersect(graft.queries.Web.Blocklist.toSet).nonEmpty)
  }

  test("domain stats scan prunes the text column") {
    // the URL synthesizes from (source, lang, doc_id) — a scan that drags
    // the document BODY along for a per-domain count is reading ~100× the
    // bytes it needs at corpus scale
    val plan = SparkEntry.queries("text_domain_stats")(spark, dir)
      .queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.nonEmpty && !readSchema.contains("text"), readSchema)
  }

  test("range join plans as an equi-join, never a nested loop") {
    val plan = SparkEntry.queries("q_range_join")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("window-hash family: partial aggregation, no nested-loop or cartesian") {
    // the substring/novelty/curation/overlap family's only heavy stage is
    // the corpus-wide count on the window hash — it must plan as a
    // partial (map-side) HashAggregate before the exchange, and none of
    // the joins (dup filter, canon digest, overlap self-join) may fall
    // back to a nested loop or cartesian
    Seq("dedup_spans", "text_novelty", "text_curation",
        "text_overlap_matrix", "text_curation_inc").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
      assert(plan.contains("partial_count") || plan.contains("partial_"),
        s"$q: no partial aggregate\n$plan")
    }
  }

  test("round-8 additions keep their scale shapes: broadcast rules/words," +
      " doc-partitioned winnow window, no corpus NLJ") {
    // prefix policy: the rule table must broadcast (never shuffle the
    // corpus against a 10-row dimension) and the winner is a keyed agg
    val pp = SparkEntry.queries("web_prefix_policy")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(pp.contains("BroadcastHashJoin"), pp)
    assert(!pp.contains("CartesianProduct"), pp)
    // phrase search: postings filter against the 1-row broadcast phrase
    // before the adjacency joins; the trigram count is map-side partial
    val ps = SparkEntry.queries("text_phrase_search")(
      spark, dir).queryExecution.executedPlan.toString
    assert(ps.contains("BroadcastExchange"), ps)
    assert(ps.contains("partial_count"), ps)
    // winnowing: the rolling min partitions by doc_id — a corpus-wide
    // single-partition window would be the classic scale-killer
    Seq("text_winnowing", "text_winnow_pairs").foreach { q =>
      val wp = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!wp.contains("Exchange SinglePartition"), s"$q:\n$wp")
      assert(!wp.contains("CartesianProduct"), s"$q:\n$wp")
    }
    // quantile-norm and MV maintenance carry no scalar aggregate, so
    // their plans must be free of single-partition exchanges entirely
    // (ranks ride DistributedRank's bucket-partitioned windows); the FDR
    // screen's m-row BH stages legitimately plan 1-row exchanges, so for
    // it assert the heavy replicate stage combines map-side and nothing
    // degenerates to a cartesian product
    Seq("q_quantile_norm", "q_mv_maintain").foreach { q =>
      val p = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!p.contains("Exchange SinglePartition"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    val fdr = SparkEntry.queries("q_permutation_fdr")(
      spark, dir).queryExecution.executedPlan.toString
    assert(!fdr.contains("CartesianProduct"), fdr)
    assert(fdr.contains("partial_"), s"no map-side partials\n$fdr")
  }

  test("fixed_dot runs inside WholeStageCodegen on the ANN scan") {
    // fixed_dot (FixedDotExpr) is on every ANN scan row; a fallback to
    // interpreted eval would break the whole-stage span and cost ~3x.
    // Every Project/Filter operator evaluating it must carry the *(n)
    // codegen marker (the FileScan's DataFilters echo is excluded).
    val emb = graft.queries.Tables.embeddings(spark, dir)
    val p = graft.sim.VectorOps.annTopK(emb, 0L, 10)
      .queryExecution.executedPlan.toString
    val ops = p.split("\n").map(_.replaceAll("^[\\s+:|-]*", ""))
      .filter(l => l.contains("fixed_dot") &&
        (l.startsWith("*(") || l.startsWith("Project") ||
          l.startsWith("Filter")))
    assert(ops.nonEmpty, p)
    ops.foreach(l => assert(l.startsWith("*("),
      s"fixed_dot operator outside WholeStageCodegen:\n$l"))
  }

  test("IVF and LSH ANN probes are single-scan: zero shuffle exchanges") {
    val emb = graft.queries.Tables.embeddings(spark, dir)
    val ivf = graft.sim.VectorOps.ivfTopK(emb, 0L, 10)
      .queryExecution.executedPlan.toString
    assert(!ivf.contains("Exchange hashpartitioning"), ivf)
    assert(!ivf.contains("Exchange rangepartitioning"), ivf)
    assert(ivf.contains("TakeOrderedAndProject"), ivf)
    val ann = graft.sim.VectorOps.annTopK(emb, 0L, 10)
      .queryExecution.executedPlan.toString
    assert(!ann.contains("Exchange hashpartitioning"), ann)
    assert(!ann.contains("Exchange rangepartitioning"), ann)
    assert(ann.contains("TakeOrderedAndProject"), ann)
  }

  test("explode-amplified stages set their own parallelism (round-9 sweep)") {
    // the events/documents parquet is ONE input split at test scales, so
    // a x99/x32 explode inheriting scan parallelism would run the whole
    // replicate stage in one task (the flat sf1->sf10 curves of the
    // round-9 sweep). These queries must carry an explicit
    // hash-repartition materialized via localCheckpoint BEFORE the
    // amplifying stage; the checkpoint hides the exchange from the final
    // plan string, so assert the checkpointed scan (ExistingRDD) with the
    // engine's partition count rather than the Exchange node itself.
    for (name <- Seq("q_permutation_fdr", "q_bootstrap_ci")) {
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("Scan ExistingRDD"),
        s"$name: the replicate base must be checkpoint-fed (Scan " +
          s"ExistingRDD), not read straight off the file scan:\n$p")
    }
    // and the recipe itself pins partition count to the engine, not the
    // file layout: one small file in, defaultParallelism partitions out
    val base = graft.queries.Tables.events(spark, "/root/testdata/sf0.001")
      .repartition(spark.sparkContext.defaultParallelism, col("event_id"))
      .localCheckpoint(true)
    assert(base.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
  }
}
