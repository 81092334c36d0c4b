package graft.pipeline

import graft.SparkSpec
import graft.pipeline.Checkpoints.DatasetCheckpointOps
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** One lifecycle for every intermediate an operator materializes: each
  * staged checkpoint or persist is released through its own handle or
  * owned by the returned frame, so after an operator returns and its
  * result has been consumed, the only RDDs it left persisted are the
  * `LogicalRDD` leaves its returned frames read; an operator that returns
  * a scalar or a plain `Seq` leaves none. Nothing enters the session's
  * CacheManager, and nothing persisted by other work on the shared
  * session is ever touched. */
class CheckpointLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def cacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager

  /** RDD ids the frame itself holds: the LogicalRDD leaves of its plan. */
  private def heldBy(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet

  private def docs = Seq("low lower lowest", "new newer newest",
    "wide wider widest", "low new wide", "lower newer wider").toDF("text")

  private def vectors(n: Int) = (0 until n).map { i =>
    (i.toLong, Array(math.cos(i * 0.37), math.sin(i * 0.37), (i % 5) * 0.1))
  }.toDF("id", "v")

  private def pairDocs = (0L until 60L).map { i =>
    val base = s"alpha beta gamma delta w${i % 9} w${(i * 2) % 9} epsilon zeta"
    (i, if (i % 3 == 0) base + s" extra${i % 5}" else base)
  }.toDF("doc_id", "text")

  private def jaccard(budget: Long) = Dedup.lengthBucketJaccardPairs(pairDocs,
    "doc_id", "text", 0.5, prefixFilter = true, blindCandidateLimit = -1L,
    broadcastBudgetBytes = budget, blockFloorBytes = 200L)

  private def sigs = (0L until 40L).map(i => (i, (i % 10) * 0x0101010101L)).toDF("id", "sig")

  private def labels = (0 until 50).map(i => (i % 4, (i * 7) % 4, i % 3, i % 5))
    .toDF("p", "t", "g", "x")

  private def csvFeed: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_lifecycle_csv")
    java.nio.file.Files.write(dir.resolve("feed.csv"),
      java.util.Arrays.asList("1,10.5", "2,20.25", "oops,nope", "3,bad"),
      java.nio.charset.StandardCharsets.UTF_8)
    dir.toString
  }

  /** One row per converted operator: the call, and the frames it returns
    * (none for a scalar or a consumed `Seq`). */
  private val operators: Seq[(String, () => Seq[DataFrame])] = Seq(
    "Graph.kCore" -> (() => Seq(Graph.kCore(
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (4L, 5L), (5L, 6L))
        .toDF("s", "d"), "s", "d", k = 2))),
    "Graph.bfsHops" -> (() => Seq(Graph.bfsHops(
      Seq((0L, 1L), (1L, 2L), (2L, 3L), (1L, 4L), (4L, 5L)).toDF("src", "dst"),
      "src", "dst", Seq(0L).toDF("id"), "id", maxHops = 10))),
    "Graph.ssspHops" -> (() => Seq(Graph.ssspHops(
      Seq((1L, 2L, 4L), (1L, 3L, 1L), (3L, 2L, 1L), (2L, 4L, 2L))
        .toDF("s", "d", "w"), "s", "d", "w", Seq(1L).toDF("id"), "id",
      maxHops = 5))),
    "Graph.topoLayers" -> (() => Seq(Graph.topoLayers(
      Seq((1L, 2L), (2L, 3L), (1L, 4L), (4L, 5L), (3L, 5L)).toDF("s", "d"),
      "s", "d"))),
    "Graph.ancestorClosure" -> (() => Seq(Graph.ancestorClosure(
      Seq((1L, None), (2L, Some(1L)), (3L, Some(2L)), (4L, Some(3L)),
        (5L, Some(4L)), (6L, Some(5L))).toDF("id", "parent"), "id", "parent"))),
    "Bpe.trainMerges" -> { () => Bpe.trainMerges(docs, "text", 8); Nil },
    "Bpe.trainMergesBatched" -> { () =>
      Bpe.trainMergesBatched(docs, "text", 8, maxBatch = 2); Nil },
    "WordPiece.trainMerges" -> { () => WordPiece.trainMerges(docs, "text", 4); Nil },
    "Similarity.semanticDedup" -> { () =>
      val groups = Seq(Array(1.0, 0, 0, 0), Array(0, 1.0, 0, 0),
        Array(0, 0, 1.0, 0), Array(0, 0, 0, 1.0))
      val data = (0 until 60).map(i => (i.toLong, groups(i % 4))).toDF("id", "v")
      Seq(Similarity.semanticDedup(data, "id", "v", Array(Array(1.0, 1, 1, 1)),
        tau = 0.9, maxCellSize = 10, splitK = 8, maxSplitRounds = 3))
    },
    "Similarity.nnDescentGraph" -> (() => Seq(Similarity.nnDescentGraph(
      vectors(40), "id", "v", k = 4, rounds = 2, reverseCap = 4))),
    "Similarity.navigableGraph" -> (() => Seq(Similarity.navigableGraph(
      vectors(40), "id", "v", k = 4, rounds = 2, reverseCap = 4))),
    "Similarity.beamSearchTopK" -> { () =>
      val ring = (0L until 40L).flatMap(i => Seq((i, (i + 1) % 40), (i, (i + 7) % 40)))
        .toDF("id", "nbr")
      val q = vectors(5).select(col("id").as("qid"), col("v").as("qv"))
      Seq(Similarity.beamSearchTopK(ring, vectors(40), "id", "v", q, "qid", "qv",
        k = 3, beamWidth = 4, hops = 3, entries = 2))
    },
    "Dedup.duplicateClusters" -> (() => Seq(Dedup.duplicateClusters(
      Seq((2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L), (6L, 5L), (10L, 11L))
        .toDF("id1", "id2"), smallGraphLimit = 0))),
    "Dedup.duplicateClusters small graph" -> (() => Seq(Dedup.duplicateClusters(
      Seq((2L, 1L), (3L, 2L), (10L, 11L), (7L, 7L)).toDF("id1", "id2")))),
    "Dedup.simhashPortablePairs" -> (() => Seq(
      Dedup.simhashPortablePairs(pairDocs, "doc_id", "text"))),
    "Dedup.hammingPairs64" -> (() => Seq(Dedup.hammingPairs64(sigs, "id", "sig"))),
    "Dedup.lengthBucketJaccardPairs broadcast verify" -> (() => Seq(jaccard(1L << 30))),
    "Dedup.lengthBucketJaccardPairs batched verify" -> (() => Seq(jaccard(0L))),
    "Dedup.containmentPairs" -> (() => Seq(
      Dedup.containmentPairs(pairDocs, "doc_id", "text", 0.8))),
    "Dedup.longestRepeatedSpanLength" -> { () =>
      Dedup.longestRepeatedSpanLength(pairDocs, "doc_id", "text", k = 2); Nil },
    "Graph.pageRank" -> (() => Seq(Graph.pageRank(
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("s", "d"), "s", "d", iters = 3))),
    "Graph.treeRootDepth" -> (() => Seq(Graph.treeRootDepth(
      Seq((1L, None), (2L, Some(1L)), (3L, Some(2L)), (4L, Some(3L)), (5L, Some(1L)))
        .toDF("id", "parent"), "id", "parent"))),
    "Graph.graphSummary" -> (() => Seq(Graph.graphSummary(
      Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 3L)).toDF("s", "d"), "s", "d"))),
    "Spatial.dbscan" -> (() => Seq(Spatial.dbscan(
      (0L until 30L).map(i => (i, (i % 6) * 10L + (i / 6) * 100L, (i / 6) * 5L))
        .toDF("id", "x", "y"), "id", "x", "y", eps = 15L, minPts = 3))),
    "Unigram.train" -> (() => Seq(Unigram.train(docs, "text", maxPieceLen = 3, rounds = 2))),
    "Events.funnel" -> (() => Seq(Events.funnel(
      Seq((1L, 1L, "view"), (1L, 2L, "click"), (2L, 1L, "view"), (1L, 3L, "buy"))
        .toDF("u", "t", "tp").withColumn("ts", col("t").cast("timestamp")),
      "u", "ts", "tp", Seq("view", "click", "buy")))),
    "Profile.macroF1" -> (() => Seq(Profile.macroF1(labels, col("p"), col("t")))),
    "Profile.cohensKappa" -> (() => Seq(Profile.cohensKappa(labels, col("p"), col("t")))),
    "Profile.kendallTau" -> (() => Seq(Profile.kendallTau(labels, "g", "x", "p"))),
    "Relational.readCsvQuarantine" -> { () =>
      val (good, bad) = graft.operators.Relational.readCsvQuarantine(spark, csvFeed,
        StructType(Seq(StructField("k", LongType), StructField("v", DoubleType))))
      Seq(good, bad)
    },
    "Relational.splitter" -> (() => Seq(graft.operators.Relational.splitter(docs)))) ++ Seq("q_image_dedup", "q_audio_phash", "q_manifest_prune").map { q =>
      s"SparkEntry.$q" -> (() => Seq(graft.SparkEntry.queries(q)(spark, sf())))
    }

  operators.foreach { case (name, run) =>
    test(s"$name: only blocks the returned frame reads stay persisted") {
      spark.catalog.clearCache() // entries other suites left behind
      val before = persisted
      val out = run()
      out.foreach(_.collect())
      assert(cacheManager.isEmpty, s"$name left a CacheManager entry")
      val leaked = persisted -- before -- out.flatMap(heldBy)
      assert(leaked.isEmpty,
        s"$name left ${leaked.size} persisted RDD(s) its frames do not read: $leaked")
    }
  }

  test("a held hammingPairs64 frame keeps its signatures across later calls") {
    val acc = spark.sparkContext.longAccumulator("sigRows")
    val counted = udf { (s: Long) => acc.add(1); s }.asNondeterministic()
    val held = Dedup.hammingPairs64(sigs.withColumn("sig", counted(col("sig"))), "id", "sig")
    // a fresh plan per consumption: re-running one plan would reuse its
    // shuffle files and never read the signature input again
    def consume() = held.select("*").collect().toSet
    val first = consume()
    val seen = acc.value
    assert(seen >= 40L)
    (1 to 4).foreach(_ => Dedup.hammingPairs64(sigs, "id", "sig").collect())
    assert(consume() == first)
    assert(acc.value == seen, "the held frame recomputed its signature input")
  }

  test("stagePersist keeps the final plan's partitioning, and joins on it stay exact") {
    // both constructors, eager and lazy: every staged leaf has one builder
    val constructors: Seq[(String, DataFrame => DataFrame)] = Seq(
      "stagePersist(true)" -> (_.stagePersist(true)),
      "stagePersist(false)" -> (_.stagePersist(false)),
      "stageCheckpoint(true)" -> (_.stageCheckpoint(true)),
      "stageCheckpoint(false)" -> (_.stageCheckpoint(false)))
    val agg = (1 to 200).map(i => (i % 17, i)).toDF("k", "v")
      .groupBy("k").agg(sum("v").as("s"))
    val other = (0 until 17).map(k => (k, k * 10)).toDF("k", "w").repartition(3, col("k"))
    val expected = rows(agg.join(other, "k").orderBy("k"))
    for ((name, stage) <- constructors) {
      val staged = stage(agg)
      val regrouped = staged.groupBy("k").agg(max("s").as("m")).queryExecution.executedPlan
      // the plan after EnsureRequirements (AQE's inputPlan precedes it)
      val initial = regrouped match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      assert(initial.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty, s"$name re-shuffled a frame already partitioned by k:\n$initial")
      assert(rows(staged.join(other, "k").orderBy("k")) == expected, name)
      staged.release()
    }
  }

  test("eager leaves report their row bytes, so wide doc tables are not broadcast") {
    // a lowered broadcast threshold stands in for scale: the tables carry
    // arrays of ~200 shingle hashes per doc, ~1.6 KB a row, far wider than
    // Spark's default column widths
    val wide = (0L until 60L).map { i =>
      (i, ((0 until 200).map(j => s"t$j") :+ s"u${i % 4}").mkString(" "))
    }.toDF("doc_id", "text")
    val builds = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val stages = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        stages.collect(qe.executedPlan) {
          case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
            val side = if (j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildLeft) j.left
              else j.right
            side.output.map(_.name)
          case p if p.output.exists(_.name == "__marker") => Seq("__marker")
        }.foreach(builds.add)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    // the build sides of every broadcast join the call ran; listeners hear
    // of executions in order, so the marker query's arrival drains them
    def broadcastBuilds(run: => Seq[Seq[Any]]): (Seq[Seq[Any]], Seq[Seq[String]]) = {
      builds.clear()
      val out = run
      spark.range(1).toDF("__marker").collect()
      val deadline = System.nanoTime() + 30000000000L
      while (!builds.contains(Seq("__marker")) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(builds.contains(Seq("__marker")), "the listener never heard the marker query")
      (out, builds.toArray(Array.empty[Seq[String]]).toSeq.filter(_ != Seq("__marker")))
    }
    spark.listenerManager.register(listener)
    try withConfs("spark.sql.autoBroadcastJoinThreshold" -> "16384") {
      // batched verify: only one block of the sh2 side may be broadcast
      val (pairs, jaccardBuilds) = broadcastBuilds(rows(Dedup.lengthBucketJaccardPairs(
        wide, "doc_id", "text", 0.5, prefixFilter = true, blindCandidateLimit = -1L,
        broadcastBudgetBytes = 0L, blockFloorBytes = 50000L)))
      assert(pairs.size == 60 * 59 / 2)
      assert(jaccardBuilds.exists(_.contains("sh2")), "no pass broadcast its sh2 block")
      assert(!jaccardBuilds.exists(_.contains("sh1")),
        s"the whole sh1 doc table was broadcast: $jaccardBuilds")
      val (contained, containmentBuilds) = broadcastBuilds(rows(
        Dedup.containmentPairs(wide, "doc_id", "text", 0.9)))
      assert(contained.size == 60 * 59)
      assert(!containmentBuilds.exists(b => b.contains("sh1") || b.contains("sh2")),
        s"a hashed doc table was broadcast: $containmentBuilds")
    } finally spark.listenerManager.unregister(listener)
  }

  test("a staged leaf's partitioning follows its output through a self-join") {
    // prefixFold's leaf is range-partitioned on a physical attribute that
    // is not exactly the leaf's output attribute; joining the result back
    // to its source re-instances the leaf, which must rewrite both
    val docs = (0L until 300L).map(i => (i, s"w${i % 7} w${i % 5} w${i % 3} x"))
      .toDF("doc_id", "text")
    val scored = Dsir.importanceScores(docs, docs.where(col("doc_id") < 100),
      "doc_id", "text", 64)
    val top = Dsir.selectTopFraction(scored, "doc_id", num = 3, den = 4)
    val kept = docs.join(top.where(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
    assert(kept.count() == 225L)
  }

  test("release unpersists the checkpoint's own RDD and ignores other frames") {
    val ckpt = (1 to 20).toDF("x").stageCheckpoint(true)
    val id = heldBy(ckpt).head
    assert(persisted.contains(id))
    ckpt.select(col("x") + 1).release() // a projection is not the handle
    assert(persisted.contains(id))
    ckpt.release()
    assert(!persisted.contains(id))
    ckpt.release() // idempotent
    (1 to 3).toDF("x").release() // not a checkpoint at all
  }

  test("loops never release RDDs persisted concurrently by other work") {
    val sc = spark.sparkContext
    val sentinels = new java.util.concurrent.ConcurrentLinkedQueue[RDD[Int]]()
    val started = new java.util.concurrent.CountDownLatch(1)
    @volatile var stop = false
    val writer = new Thread(() => {
      while (!stop) {
        sentinels.add(sc.parallelize(1 to 4, 1).persist())
        started.countDown()
        Thread.sleep(5)
      }
    })
    writer.setDaemon(true)
    writer.start()
    def assertSentinelsKept(op: String, from: Int): Unit = {
      // sentinels are queued after they persist: list them first
      val all = sentinels.toArray(Array.empty[RDD[Int]]).toSeq
      val live = persisted
      assert(all.size > from, s"no sentinel was persisted while $op ran")
      val lost = all.filterNot(r => live.contains(r.id)).map(_.id)
      assert(lost.isEmpty, s"$op released ${lost.size} sentinel RDD(s): $lost")
    }
    try {
      started.await()
      val n0 = sentinels.size
      Graph.kCore(Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (4L, 5L))
        .toDF("s", "d"), "s", "d", k = 2).collect()
      assertSentinelsKept("Graph.kCore", n0)
      val n1 = sentinels.size
      Bpe.trainMergesBatched(docs, "text", 8, maxBatch = 2)
      assertSentinelsKept("Bpe.trainMergesBatched", n1)
    } finally {
      stop = true
      writer.join()
      sentinels.forEach(r => { r.unpersist(blocking = false); () })
    }
  }
}
