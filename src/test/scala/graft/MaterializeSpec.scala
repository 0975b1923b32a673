package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.dedup.{FrameStore, IncrementalIndex}
import graft.streaming.IngestDedup

/** The block-lifetime contract of [[Materialize]]: a scope frees what was
  * materialized inside it, [[FrameStore]] artifacts outlive the scope that
  * computed them until `FrameStore.clear`, and a long-lived session that
  * runs every work unit in a scope holds exactly the store's blocks
  * between units, with no `clearCache()` and no `System.gc()`.
  *
  * The suite shares its SparkContext with every other suite, whose
  * unscoped builders leave blocks for the ContextCleaner; those are taken
  * as a baseline when a test starts and left out of every comparison. */
class MaterializeSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def storedBytes(ids: Int => Boolean): Long =
    spark.sparkContext.getRDDStorageInfo.filter(i => ids(i.id))
      .map(i => i.memSize + i.diskSize).sum

  private def frame(n: Int): DataFrame =
    spark.range(n).select(col("id"), (col("id") % 7).as("k"))

  test("a scope frees its checkpoints and persisted frames; outside one nothing is recorded") {
    val before = persistedIds
    val (id, persisted, total) = Materialize.scope {
      val cp = frame(100).transform(Materialize.checkpoint)
      val pe = frame(50).transform(Materialize.persist)
      (Materialize.rddId(cp), pe, cp.agg(sum("id")).first().getLong(0) + pe.count())
    }
    assert(total == 4950L + 50L)
    assert(!persistedIds.contains(id), "the scope left its checkpoint's blocks")
    assert(persisted.storageLevel == StorageLevel.NONE,
      "the scope left its persisted frame cached")
    assert((persistedIds -- before).isEmpty)

    val outside = frame(100).transform(Materialize.checkpoint)
    val outsideId = Materialize.rddId(outside)
    assert(persistedIds.contains(outsideId), "outside a scope a checkpoint is not freed")
    assert(outside.count() == 100L)
    Materialize.free(spark.sparkContext, outsideId)
    assert(!persistedIds.contains(outsideId))
  }

  test("a failing scope body propagates its own exception and still frees") {
    val before = persistedIds
    val boom = intercept[IllegalStateException] {
      Materialize.scope {
        frame(100).transform(Materialize.checkpoint).count()
        Materialize.scope(frame(10).transform(Materialize.checkpoint).count())
        throw new IllegalStateException("body failed")
      }
    }
    assert(boom.getMessage == "body failed" && boom.getSuppressed.isEmpty)
    assert((persistedIds -- before).isEmpty, "a failed scope left blocks behind")
  }

  test("a FrameStore artifact outlives the scope that computed it; clear frees it") {
    FrameStore.clear(spark)
    val before = persistedIds
    val key = "materialize-spec|artifact"
    val rows = Materialize.scope {
      FrameStore.getOrCompute(spark, key)(
        frame(200).transform(Materialize.checkpoint).groupBy("k").count())
        .count()
    }
    assert(rows == 7L)
    val held = FrameStore.heldIds(spark)
    assert(held.size == 1)
    assert(persistedIds -- before == held, "only the artifact may outlive the scope")
    assert(FrameStore.getOrCompute(spark, key)(sys.error("recomputed"))
      .agg(sum("count")).first().getLong(0) == 200L)
    FrameStore.clear(spark)
    assert(FrameStore.heldIds(spark).isEmpty)
    assert(persistedIds -- before == Set.empty[Int], "clear left the artifact's blocks")
  }

  test("soak: scoped entries, API requests and ingest batches hold only FrameStore's blocks") {
    FrameStore.clear(spark)
    spark.catalog.clearCache()
    val baseline = persistedIds
    // checked after every unit, not only after a round: an unfreed block
    // is still listed until a GC lets the ContextCleaner drop it
    def held(unit: String): Set[Int] = {
      val store = FrameStore.heldIds(spark)
      val left = persistedIds -- baseline
      assert(left == store, s"$unit left persisted RDDs outside FrameStore: " +
        spark.sparkContext.getPersistentRDDs.filter(e => left(e._1) && !store(e._1))
          .values.mkString(", "))
      left
    }
    val entries = Seq("dedup_pipeline", "etl_transfer_volume", "pipeline_passage_graph",
      "pipeline_passage_graph_probe", "dedup_clusters", "q_pagerank", "dedup_incremental",
      "etl_tx_features", "model_rolling_var")
    val tmp = java.nio.file.Files.createTempDirectory("graft_soak").toString
    val corpus = spark.createDataFrame(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight"))).toDF("doc_id", "text")
    IncrementalIndex.write(corpus, s"$tmp/idx")
    held("IncrementalIndex.write")
    val srv = new api.ApiServer(spark, port = 0)
    srv.start()
    try {
      val perRound = (1 to 3).map { round =>
        entries.foreach { name =>
          Materialize.scope {
            SparkEntry.queries(name)(spark, dir).write.mode("overwrite").format("noop").save()
          }
          held(s"round $round $name")
        }
        val conn = new java.net.URI(s"http://127.0.0.1:${srv.boundPort}/api/mev")
          .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
        assert(conn.getResponseCode == 200, "/api/mev failed")
        conn.getInputStream.readAllBytes()
        conn.disconnect()
        held(s"round $round /api/mev")
        Seq(0, 1).foreach { b =>
          val id = 100L * round + 10L * b
          val batch = spark.createDataFrame(Seq(
            (id, "alpha beta gamma delta epsilon zeta eta theta"),
            (id + 1, s"fresh words for round $round batch $b"))).toDF("doc_id", "text")
          IngestDedup.processBatch(batch, s"$tmp/idx", s"$tmp/state", threshold = 0.5)
          held(s"round $round micro-batch $b")
        }
        val left = held(s"round $round")
        assert(left.nonEmpty, "the pipeline entries publish FrameStore artifacts")
        storedBytes(left)
      }
      assert(perRound.forall(_ == perRound.head),
        s"stored block bytes drift across rounds: ${perRound.mkString(", ")}")
    } finally {
      srv.stop()
      FrameStore.clear(spark)
    }
  }
}
