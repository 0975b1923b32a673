package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.queries.Tables

/** Dev-only profiling harness for hot queries (not part of the contract). */
object DevProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession("graft-devprofile")
    // plan-shape triage (no execution): print the formatted physical plan
    // of each named registry entry — used in round 11 to pin which sf100
    // entry owns a bhj→generate→hashAgg stage without running it
    if (args.contains("explain")) {
      val nameIdx = args.indexOf("explain") + 1
      if (nameIdx >= args.length) {
        println("usage: DevProfile <sfDir> explain <name1,name2,...>")
        spark.stop(); return
      }
      val names = args(nameIdx).split(",")
      names.foreach { n =>
        println(s"===== $n =====")
        try println(SparkEntry.queries(n)(spark, sfDir)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable => println(s"explain failed: $e") }
      }
      spark.stop(); return
    }

    // per-job breakdown (no UI in the sandbox): run a named query through
    // the noop sink once warm + once measured, printing every Spark job's
    // wall time, task count and description — separates eager pre-passes
    // (collect/localCheckpoint/head inside builders) from the main write.
    // Run: DevProfile <sfDir> jobs <name1,name2,...>
    if (args.contains("jobs")) {
      val nameIdx = args.indexOf("jobs") + 1
      if (nameIdx >= args.length) {
        println("usage: DevProfile <sfDir> jobs <name1,name2,...>")
        spark.stop(); return
      }
      import org.apache.spark.scheduler._
      import scala.collection.concurrent.TrieMap
      val jobStart = TrieMap.empty[Int, (Long, String, Int)]
      val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val stageTasks = TrieMap.empty[Int, Int]
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = {
          val desc = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          jobStart(j.jobId) = (System.nanoTime(), desc, j.stageInfos.size)
        }
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
          stageTasks(s.stageInfo.stageId) = s.stageInfo.numTasks
          val i = s.stageInfo
          val dt = (for {a <- i.completionTime; b <- i.submissionTime}
            yield (a - b) / 1e3).getOrElse(-1.0)
          lines.add(f"    stage ${i.stageId}%4d ${dt}%7.3f s tasks=${i.numTasks}%-4d ${i.name.take(90)}")
        }
        override def onJobEnd(j: SparkListenerJobEnd): Unit =
          jobStart.remove(j.jobId).foreach { case (t0, desc, nStages) =>
            lines.add(f"  job ${j.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%8.3f s  stages=$nStages%-3d $desc")
          }
      })
      args(nameIdx).split(",").foreach { n =>
        val fn = SparkEntry.queries(n)
        // warm
        try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        catch { case e: Throwable => println(s"$n warm failed: $e") }
        spark.catalog.clearCache()
        lines.clear()
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        catch { case e: Throwable => println(s"$n measured failed: $e") }
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // drain listener events
        println(f"===== $n  total ${dt}%.3f s =====")
        lines.forEach(l => println(l))
        spark.catalog.clearCache()
      }
      spark.stop(); return
    }

    val docs = Tables.documents(spark, sfDir)
    docs.count()

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s   rows=$n")
      spark.catalog.clearCache()
    }

    // ANN crossover study (PROFILE.md): brute-force cosine vs in-query LSH
    // filter vs pre-bucketed index probe, on ×K-replicated corpora.
    if (args.contains("ann")) {
      import graft.sim.VectorOps
      val emb = Tables.embeddings(spark, sfDir)
      val n0 = emb.count()
      def timeMin(name: String, runs: Int = 3)(f: => Long): Double = {
        val ts = (0 until runs).map { _ =>
          val t0 = System.nanoTime(); val n = f
          ((System.nanoTime() - t0) / 1e9, n)
        }
        val best = ts.map(_._1).min
        println(f"$name%-36s ${best}%8.3f s   rows=${ts.head._2}")
        best
      }
      for (k <- Seq(500, 5000)) {
        val out = s"/tmp/graft_profile/emb_x$k"
        val big = emb.crossJoin(spark.range(k))
          .select((col("vec_id") + col("id") * 10000000L).as("vec_id"),
            col("embedding"), col("label"))
        big.repartition(32).write.mode("overwrite").parquet(out)
        val bigR = spark.read.parquet(out)
        println(s"--- corpus x$k = ${n0 * k} vectors ---")
        timeMin(s"x$k brute cosineTopK") {
          VectorOps.cosineTopK(bigR, 0L, 10).count()
        }
        timeMin(s"x$k in-query annTopK") {
          VectorOps.annTopK(bigR, 0L, 10).count()
        }
        // the 100 TB path: bucket-partitioned index built once, probe =
        // partition-pruned read of the query's bucket + exact rerank
        val idx = s"/tmp/graft_profile/emb_x${k}_bucketed"
        timeMin(s"x$k index build (one-off)", runs = 1) {
          // one file per bucket directory, not one per (bucket × partition)
          VectorOps.lshBuckets(bigR).join(bigR, "vec_id")
            .repartition(col("bucket"))
            .write.mode("overwrite").partitionBy("bucket").parquet(idx)
          bigR.count()
        }
        val qBucket = VectorOps.lshBuckets(emb)
          .filter(col("vec_id") === 0L).collect()(0).getString(1)
        timeMin(s"x$k pre-bucketed probe") {
          VectorOps.cosineTopK(
            spark.read.parquet(idx).filter(col("bucket") === qBucket), 0L, 10)
            .count()
        }
      }
      spark.stop(); return
    }

    // PQ study (PROFILE.md round 7): one-off encode + ADC lookup scan vs
    // exact fixed-point L2 brute force, with recall@10 measured, on
    // ×K-replicated jittered corpora. Run: DevProfile <sfDir> pq
    if (args.contains("pq")) {
      import graft.sim.ProductQuantization
      import org.apache.spark.sql.expressions.Window
      graft.functions.GraftFunctions.install(spark)
      val fdot = graft.functions.FixedDotFunctions.fixedDot _
      val emb = Tables.embeddings(spark, sfDir)
      val n0 = emb.count()
      def timeMin(name: String, runs: Int = 3)(f: => Long): Double = {
        val ts = (0 until runs).map { _ =>
          val t0 = System.nanoTime(); val n = f
          ((System.nanoTime() - t0) / 1e9, n)
        }
        val best = ts.map(_._1).min
        println(f"$name%-36s ${best}%8.3f s   rows=${ts.head._2}")
        best
      }
      for (k <- Seq(50, 500)) {
        val out = s"/tmp/graft_profile/pq_x$k"
        // replicate with id offsets and a small deterministic per-copy
        // jitter so copies are near- but not exact duplicates (recall
        // against exact top-10 stays a meaningful measurement)
        val big = emb.crossJoin(spark.range(k))
          .select((col("vec_id") + col("id") * 10000000L).as("vec_id"),
            transform(col("embedding"), (x, i) =>
              (x + (pmod(col("id") * 31 + i, lit(7)) - 3) / lit(1000.0))
                .cast("float")).as("embedding"))
        big.repartition(32).write.mode("overwrite").parquet(out)
        val bigR = spark.read.parquet(out)
        println(s"--- corpus x$k = ${n0 * k} vectors ---")
        val anchors = ProductQuantization.anchorCodebook(bigR)
        val queries = bigR.filter(col("vec_id").between(16L, 25L))
          .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
        // exact brute force: fixed-point L2 of every (vector, query) pair
        val d2b = fdot(col("embedding"), col("embedding")) +
          fdot(col("qemb"), col("qemb")) -
          lit(2L) * fdot(col("embedding"), col("qemb"))
        val wTop = Window.partitionBy("qid")
          .orderBy(col("dist_fx"), col("vec_id"))
        def bruteTopK = bigR.crossJoin(broadcast(queries))
          .select(col("qid"), col("vec_id"), d2b.as("dist_fx"))
          .withColumn("rank", row_number().over(wTop))
          .filter(col("rank") <= 10)
        timeMin(s"x$k exact brute L2 top-10") { bruteTopK.count() }
        // one-off encode, persisted — the 8-byte/vector representation
        val codes = s"/tmp/graft_profile/pq_x${k}_codes"
        timeMin(s"x$k PQ encode (one-off)", runs = 1) {
          ProductQuantization.encode(bigR, anchors)
            .write.mode("overwrite").parquet(codes)
          n0 * k
        }
        val codesR = spark.read.parquet(codes)
        timeMin(s"x$k PQ ADC top-10 (codes scan)") {
          ProductQuantization.adcTopK(codesR, queries, anchors, 10).count()
        }
        val exact = bruteTopK.select("qid", "vec_id").collect()
          .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
        def recallOf(cb: Array[Array[Float]], enc:
            org.apache.spark.sql.DataFrame): Double = {
          val got = ProductQuantization.adcTopK(enc, queries, cb, 10)
            .select("qid", "vec_id").collect()
            .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
          val rs = exact.keys.toSeq.sorted
            .map(q => exact(q).intersect(got.getOrElse(q, Set())).size / 10.0)
          rs.sum / rs.size
        }
        println(f"x$k recall@10, anchor codebook  = ${recallOf(anchors, codesR)}%.2f")
        // deployment-time recall lever: Lloyd-train the codebook
        val tTrain = System.nanoTime()
        val trained = ProductQuantization.train(bigR, anchors, iters = 3)
        println(f"x$k codebook train (3 Lloyd rounds) ${(System.nanoTime() - tTrain) / 1e9}%.1f s")
        val codesT = ProductQuantization.encode(bigR, trained)
        println(f"x$k recall@10, trained codebook = ${recallOf(trained, codesT)}%.2f")
      }
      spark.stop(); return
    }

    // Dedup/CC scale study (PROFILE.md): both connected-components variants
    // on adversarial synthetic pair graphs (chain = giant diameter, hub =
    // giant component + skew), plus the end-to-end nearDuplicates→CC chain
    // on ×K-replicated documents. Run: DevProfile <sfDir> cc
    if (args.contains("cc")) {
      // shuffle bytes per run via listener (events are async — settle first)
      val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
            shuffleBytes.addAndGet(
              sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        })
      def measure(name: String)(f: => (Long, Int)): Unit = {
        Thread.sleep(500); shuffleBytes.set(0L)
        val t0 = System.nanoTime()
        val (rows, rounds) = f
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // let stage-completed events drain
        println(f"$name%-42s ${dt}%8.2f s  rounds=$rounds%-3d " +
          f"shuffle=${shuffleBytes.get / 1e9}%7.3f GB  rows=$rows")
        spark.catalog.clearCache()
      }
      def pairsOf(df: org.apache.spark.sql.DataFrame, path: String) = {
        df.repartition(32).write.mode("overwrite").parquet(path)
        spark.read.parquet(path)
      }
      for (n <- Seq(100000L, 1000000L, 4000000L)) {
        // chain: one component of diameter n — the worst case for label
        // propagation depth
        val chain = pairsOf(spark.range(n)
          .select(col("id").as("d1"), (col("id") + 1).as("d2")),
          s"/tmp/graft_profile/chain_$n")
        // hub: every node attaches to one of 100 hubs (hash-chosen), hubs
        // chained together — ONE giant component, per-key skew of n/100
        val hub = pairsOf(spark.range(1L, n)
          .select(col("id").as("d1"),
            pmod(xxhash64(col("id")), least(col("id"), lit(100L))).as("d2")),
          s"/tmp/graft_profile/hub_$n")
        println(s"--- pair graph n=$n ---")
        measure(s"n=$n chain  min-label+jump") {
          val out = Dedup.connectedComponents(chain, maxIter = 40).count()
          (out, Dedup.lastComponentIterations)
        }
        measure(s"n=$n chain  large/small-star") {
          val out = Dedup.connectedComponentsStars(chain).count()
          (out, Dedup.lastStarIterations)
        }
        measure(s"n=$n hub    min-label+jump") {
          val out = Dedup.connectedComponents(hub, maxIter = 40).count()
          (out, Dedup.lastComponentIterations)
        }
        measure(s"n=$n hub    large/small-star") {
          val out = Dedup.connectedComponentsStars(hub).count()
          (out, Dedup.lastStarIterations)
        }
      }
      // end-to-end: replicate the corpus ×K with per-replica token suffixes
      // (disjoint shingle spaces — replicas must NOT near-dup each other, or
      // the graph degenerates into ×K cliques instead of ×K copies)
      val n0 = docs.count()
      for (k <- Seq(10, 100, 1000)) {
        val out = s"/tmp/graft_profile/docs_x$k"
        docs.crossJoin(spark.range(k))
          .select((col("doc_id") + col("id") * 100000000L).as("doc_id"),
            regexp_replace(col("text"), lit("(\\S+)"),
              concat(lit("$1r"), col("id"))).as("text"))
          .repartition(32).write.mode("overwrite").parquet(out)
        val big = spark.read.parquet(out)
        println(s"--- documents x$k = ${n0 * k} docs ---")
        var pairs: org.apache.spark.sql.DataFrame = null
        measure(s"x$k nearDuplicates (pair gen)") {
          pairs = Dedup.nearDuplicates(big, 0.5).localCheckpoint(true)
          (pairs.count(), 0)
        }
        measure(s"x$k   + connectedComponents") {
          (Dedup.connectedComponents(pairs).count(),
            Dedup.lastComponentIterations)
        }
        measure(s"x$k   + connectedComponentsStars") {
          (Dedup.connectedComponentsStars(pairs).count(),
            Dedup.lastStarIterations)
        }
      }
      spark.stop(); return
    }

    // Incremental-dedup scale study (PROFILE.md): per-batch flagging cost
    // of a FIXED-size increment as the corpus grows ×K — (a) the cold
    // inline form re-shingles the corpus every batch (O(corpus)); (b) the
    // materialized-index probe touches only the increment + matched index
    // rows (O(increment)). The index build is the one-off amortized cost.
    // Run: DevProfile <sfDir> incr
    if (args.contains("incr")) {
      val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
            shuffleBytes.addAndGet(
              sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        })
      // time full materialization via the noop sink — .count() would let
      // the optimizer prune the flag joins down to count(1) over the
      // increment scan (measured: 1.4 s fake vs 10.0 s real)
      def measure(name: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
        Thread.sleep(500); shuffleBytes.set(0L)
        val t0 = System.nanoTime()
        f.write.mode("overwrite").format("noop").save()
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // let stage-completed events drain
        println(f"$name%-46s ${dt}%8.2f s  " +
          f"shuffle=${shuffleBytes.get / 1e9}%7.3f GB")
        spark.catalog.clearCache()
      }
      val n0 = docs.count()
      // fixed increment: the base corpus re-ingested with shifted ids —
      // every doc an exact dup of replica 0, so both probe layers fire
      val increment = docs.select(
        (col("doc_id") + 900000000L).as("doc_id"), col("text"))
        .localCheckpoint(true)
      for (k <- Seq(1, 10, 100)) {
        // ×K corpus with per-replica token suffixes (disjoint shingle
        // spaces across replicas — the cc-mode replication discipline)
        val out = s"/tmp/graft_profile/incr_corpus_x$k"
        docs.crossJoin(spark.range(k))
          .select((col("doc_id") + col("id") * 100000000L).as("doc_id"),
            when(col("id") === 0, col("text"))
              .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
                concat(lit("$1r"), col("id")))).as("text"))
          .repartition(32).write.mode("overwrite").parquet(out)
        val corpus = spark.read.parquet(out)
        println(s"--- corpus x$k = ${n0 * k} docs, increment $n0 docs ---")
        measure(s"x$k cold incrementalFlags (no index)") {
          Dedup.incrementalFlags(corpus, increment, 0.5)
        }
        val idxDir = s"/tmp/graft_profile/incr_idx_x$k"
        val tIdx0 = System.nanoTime()
        graft.dedup.IncrementalIndex.write(corpus, idxDir)
        println(f"x$k index build (one-off, amortized)     " +
          f"${(System.nanoTime() - tIdx0) / 1e9}%8.2f s")
        spark.catalog.clearCache()
        measure(s"x$k index probe (per-batch cost)") {
          graft.dedup.IncrementalIndex.probe(increment,
            graft.dedup.IncrementalIndex.read(spark, idxDir), 0.5)
        }
      }
      spark.stop(); return
    }

    // Composed-pipeline-vs-stages comparison (PROFILE.md / VERDICT r5 #7):
    // one shingle materialization feeding LSH→verify→CC→survivors vs the
    // standalone contract queries re-deriving the chain per stage.
    // Run: DevProfile <sfDir> pipe
    if (args.contains("pipe")) {
      // full materialization via the noop sink (count() can prune final
      // joins — see the incr-mode comment)
      def mat(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.mode("overwrite").format("noop").save()
      def timeMin(name: String, runs: Int = 2)(f: => Unit): Double = {
        val ts = (0 until runs).map { _ =>
          val t0 = System.nanoTime(); f
          spark.catalog.clearCache()
          (System.nanoTime() - t0) / 1e9
        }
        val best = ts.min
        println(f"$name%-36s ${best}%8.3f s")
        best
      }
      val composed = timeMin("pipeline (all 4 artifacts)") {
        val pl = Dedup.pipeline(docs, 0.5)
        try {
          mat(pl.pairs); mat(pl.clusters); mat(pl.survivors); mat(pl.verdict)
        } finally pl.close()
      }
      val separate =
        timeMin("standalone nearDuplicates") {
          mat(Dedup.nearDuplicates(docs, 0.5)) } +
        timeMin("standalone clusters (near-dup + CC)") {
          mat(Dedup.connectedComponents(Dedup.nearDuplicates(docs, 0.5))) } +
        timeMin("standalone canonical (chain + survivors)") {
          mat(Dedup.survivors(docs,
            Dedup.connectedComponents(Dedup.nearDuplicates(docs, 0.5)))) }
      println(f"composed=$composed%.2f s  separate-stages=$separate%.2f s  " +
        f"ratio=${separate / composed}%.2f x")
      spark.stop(); return
    }

    // Sampled-LM model-size study (PROFILE.md / VERDICT r5 #5): broadcast
    // model rows and scoring cost vs sample rate, against the full
    // in-query form's corpus-wide (w1, w2) shuffle.
    // Run: DevProfile <sfDir> lm
    if (args.contains("lm")) {
      import graft.text.TextOps
      def mat(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.mode("overwrite").format("noop").save()
      def timeMin(runs: Int = 2)(f: => Unit): Double =
        (0 until runs).map { _ =>
          val t0 = System.nanoTime(); f
          spark.catalog.clearCache()
          (System.nanoTime() - t0) / 1e9
        }.min
      val tFull = timeMin() { mat(TextOps.bigramLmScore(docs)) }
      println(f"full in-query form (corpus-wide shuffle)   ${tFull}%8.2f s")
      for (r <- Seq(0.01, 0.05, 0.2, 1.0)) {
        val model = TextOps.bigramLmModel(docs, r)
        val rows = model.count()
        // (w1, w2, p) ≈ two short strings + a double + row overhead
        val mb = rows * 48 / 1e6
        val t = timeMin() { mat(TextOps.bigramLmScoreSampled(docs, r)) }
        println(f"rate=$r%-5s model=$rows%8d rows (~$mb%6.1f MB bcast)  " +
          f"score=${t}%6.2f s")
      }
      spark.stop(); return
    }

    println("=== q_json_extract plan ===")
    SparkEntry.queries("q_json_extract")(spark, sfDir).explain("formatted")

    time("q_json_extract") {
      SparkEntry.queries("q_json_extract")(spark, sfDir).count()
    }
    time("dedup_near_dup") {
      SparkEntry.queries("dedup_near_dup")(spark, sfDir).count()
    }
    time("sim_cosine_topk") {
      SparkEntry.queries("sim_cosine_topk")(spark, sfDir).count()
    }
    time("sim_ann_topk") {
      SparkEntry.queries("sim_ann_topk")(spark, sfDir).count()
    }
    time("sim_ivf_topk") {
      SparkEntry.queries("sim_ivf_topk")(spark, sfDir).count()
    }
    time("dedup_lsh_pairs") {
      SparkEntry.queries("dedup_lsh_pairs")(spark, sfDir).count()
    }

    println("=== sim_ivf_topk plan ===")
    SparkEntry.queries("sim_ivf_topk")(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
