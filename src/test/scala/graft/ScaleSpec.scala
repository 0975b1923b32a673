package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.queries.Tables

/** 100 TB-posture techniques demonstrated and plan-asserted at test scale:
  * bucketed co-located joins (no shuffle on the fact side), date-partitioned
  * layouts with partition pruning, and skew salting. These are the knobs the
  * engine's operators assume at cluster scale. */
class ScaleSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("bucketed tables join without an exchange on the join key") {
    // default warehouse dir (spark-warehouse/, gitignored) — the conf is
    // static and cannot be set per-test; also remove orphaned dirs a prior
    // JVM's in-memory catalog left behind
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"))
    Seq("li_b", "o_b").foreach { t =>
      val d = new java.io.File(wh, t)
      if (d.exists()) {
        d.listFiles().foreach(_.delete()); d.delete()
      }
    }
    Tables.lineitem(spark, dir).write
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_b")
    Tables.orders(spark, dir).write
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("o_b")
    // disable broadcast so the co-location is what saves the shuffle
    val joined = spark.table("li_b").hint("merge")
      .join(spark.table("o_b"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").count()
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    // neither side of the sort-merge join may re-shuffle on the key
    val exchanges = "Exchange hashpartitioning\\((l_orderkey|o_orderkey)".r
      .findAllIn(plan).size
    assert(exchanges == 0, plan)
    assert(plan.contains("SortMergeJoin"), plan)
  }

  test("date-partitioned writes prune partitions under a date filter") {
    val out = Files.createTempDirectory("graft_part").toString
    Tables.events(spark, dir)
      .withColumn("event_date", to_date(col("ts")))
      .write.partitionBy("event_date").mode("overwrite").parquet(out)
    val read = spark.read.parquet(out)
      .filter(col("event_date") === lit("2024-01-05").cast("date"))
    read.collect()
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_date"), plan)
    // only one of the ~30 daily partitions is read
    val scanned = read.queryExecution.executedPlan.collectLeaves()
      .head.metrics.get("numFiles").map(_.value)
    assert(scanned.exists(_ <= 2), s"numFiles=$scanned")
  }

  test("bucket-partitioned embeddings make the ANN probe partition pruning") {
    // the 100 TB ANN posture: lshBuckets is the indexing op — written out
    // partitioned by bucket, an exact-bucket probe reads only the matching
    // directory, not the corpus
    val out = Files.createTempDirectory("graft_emb").toString
    val emb = Tables.embeddings(spark, dir)
    graft.sim.VectorOps.lshBuckets(emb).join(emb, "vec_id")
      .write.partitionBy("bucket").mode("overwrite").parquet(out)
    val qBucket = graft.sim.VectorOps.lshBuckets(emb)
      .filter(col("vec_id") === 0L).collect()(0).getString(1)
    val probe = spark.read.parquet(out).filter(col("bucket") === qBucket)
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(bucket"), plan)
    val scanned = probe.queryExecution.executedPlan.collectLeaves()
      .head.metrics.get("numFiles").map(_.value)
    val totalBuckets = graft.sim.VectorOps.lshBuckets(emb)
      .select("bucket").distinct().count()
    assert(totalBuckets > 10) // the index genuinely spreads the corpus
    assert(scanned.exists(_ <= 2), s"numFiles=$scanned of $totalBuckets buckets")
  }

  test("partitioned rolling windows shard the frame and match the global result") {
    // the scale path for the rolling gas-p90 / rolling-VaR windows: a
    // partition column keeps the window out of Exchange SinglePartition,
    // and within each partition the frames (rolling restarts per shard)
    // must equal a global window run on that shard alone
    import graft.etl.{EventEnvelopes, Ingest, TransactionFeatureEngineer}
    val tx = Ingest.parseRaw(
        EventEnvelopes.txEnvelopes(Tables.events(spark, "/root/testdata/sf0.001")))
      .filter(col("event_type") === "transaction")
      .select(col("payload.*"), col("block_number"),
        col("block_timestamp"), col("chain_id"))
      // time-bucket shard (block_timestamp is epoch seconds here); hours,
      // so the sf0.001 feed (spanning ~3.6 h) still yields several shards
      .withColumn("day", (col("block_timestamp") / 3600).cast("long"))
    val sharded = TransactionFeatureEngineer.engineer(tx,
      partitionCols = Seq("day"))
    sharded.collect()
    val plan = sharded.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"), plan)
    assert(plan.contains("Window"), plan)
    // per-shard equality with a global window restricted to the shard
    val days = tx.select("day").distinct().collect().map(_.getLong(0))
    assert(days.length > 1, "fixture must span multiple day shards")
    val d0 = days.min
    val globalOnShard = TransactionFeatureEngineer
      .engineer(tx.filter(col("day") === d0))
      .select("block_number", "nonce", "gas_p90", "is_high_priority")
      .orderBy("block_number", "nonce").collect()
    val shardRows = sharded.filter(col("day") === d0)
      .select("block_number", "nonce", "gas_p90", "is_high_priority")
      .orderBy("block_number", "nonce").collect()
    assert(shardRows.toSeq == globalOnShard.toSeq)

    // same for rollingVar: partitioned run == global run per shard
    val returns = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("idx"), (col("value") / 300.0 - 0.5).as("r"),
        pmod(col("event_id"), lit(4)).as("shard"))
    val m = new graft.model.HistoricalVaR(returns, "r")
    val part = m.rollingVar(window = 10, partitionCols = Seq("shard"))
    part.collect()
    val pplan = part.queryExecution.executedPlan.toString
    assert(!pplan.contains("Exchange SinglePartition"), pplan)
    val s0 = new graft.model.HistoricalVaR(
      returns.filter(col("shard") === 0), "r")
      .rollingVar(window = 10)
      .select("idx", "rolling_var").orderBy("idx").collect()
    val p0 = part.filter(col("shard") === 0)
      .select("idx", "rolling_var").orderBy("idx").collect()
    assert(p0.toSeq == s0.toSeq)
  }

  test("halo-exchange rolling == the single-partition global window, bit-for-bit") {
    // the DEFAULT path for the reference's global rolling windows
    // (DistributedRolling): rank blocks + (w−1)-row ghosts must reproduce
    // the Window.partitionBy() result exactly, with no single-partition
    // exchange anywhere in the window stage
    import graft.etl.{EventEnvelopes, Ingest, TransactionFeatureEngineer}
    val tx = Ingest.parseRaw(
        EventEnvelopes.txEnvelopes(Tables.events(spark, dir)))
      .filter(col("event_type") === "transaction")
      .select(col("payload.*"), col("block_number"),
        col("block_timestamp"), col("chain_id"))
    val cols = Seq("block_number", "nonce", "gas_p90", "is_high_priority")
    val dist = TransactionFeatureEngineer.engineer(tx)
    val glob = TransactionFeatureEngineer.engineer(tx, distribute = false)
      .select(cols.head, cols.tail: _*).orderBy("block_number", "nonce")
    assert(dist.select(cols.head, cols.tail: _*)
      .orderBy("block_number", "nonce").collect().toSeq == glob.collect().toSeq)
    val plan = dist.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"), plan)
    assert(plan.contains("Window"), plan)

    val returns = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("idx"), (col("value") / 300.0 - 0.5).as("r"))
    val m = new graft.model.HistoricalVaR(returns, "r")
    val dVar = m.rollingVar(window = 30)
    val gVar = m.rollingVar(window = 30, distribute = false)
      .select("idx", "rolling_var").orderBy("idx").collect()
    assert(dVar.select("idx", "rolling_var").orderBy("idx").collect()
      .toSeq == gVar.toSeq)
    assert(!dVar.queryExecution.executedPlan.toString
      .contains("Exchange SinglePartition"))
  }

  test("DistributedRolling survives adversarial shapes (ties, w=1, w>n)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // heavy ties in the leading order column (10 rows per key) exercise
    // bucket boundaries; 257 rows ≠ any block-size multiple
    val df = (1 to 257).map(i =>
      (i.toLong / 10, i.toLong, (i * 37 % 101).toDouble))
      .toDF("k", "id", "v").repartition(7)
    for (w <- Seq(1, 3, 100, 400)) {
      val dist = graft.queries.DistributedRolling
        .withRolling(df, Seq("k", "id"), w)(ws => Seq(
          "p90" -> percentile(col("v"), lit(0.9)).over(ws),
          "cnt" -> count(col("v")).over(ws)))
        .orderBy("id").collect()
      val gw = Window.orderBy(col("k"), col("id"))
        .rowsBetween(-(w - 1), Window.currentRow)
      val exp = df
        .withColumn("p90", percentile(col("v"), lit(0.9)).over(gw))
        .withColumn("cnt", count(col("v")).over(gw))
        .orderBy("id").collect()
      assert(dist.toSeq == exp.toSeq, s"window=$w")
    }
  }

  test("salting spreads a skewed key across subkeys and recombines exactly") {
    import spark.implicits._
    // heavily skewed: 90% of rows share key 0
    val skewed = (0 until 10000).map(i =>
      (if (i % 10 == 0) i.toLong % 100 else 0L, i.toDouble)).toDF("k", "v")
    val salts = 16
    val salted = skewed
      .withColumn("salt", pmod(hash(col("v")), lit(salts)))
      .groupBy("k", "salt")
      .agg(sum(col("v").cast("decimal(38,6)")).as("partial"),
        count(lit(1)).as("n"))
      .groupBy("k")
      .agg(sum(col("partial")).cast("double").as("total"), sum(col("n")).as("n"))
    val direct = skewed.groupBy("k")
      .agg(sum(col("v").cast("decimal(38,6)")).cast("double").as("total"),
        count(lit(1)).as("n"))
    val a = salted.orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val b = direct.orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(a.toSeq == b.toSeq) // two-level agg == direct agg, exactly
    // the salted first level actually split the hot key
    val hotPartials = skewed.withColumn("salt", pmod(hash(col("v")), lit(salts)))
      .filter(col("k") === 0L).select("salt").distinct().count()
    assert(hotPartials > 1)
  }
}
