package graft.pipeline

import graft.SparkSpec
import graft.pipeline.Checkpoints.DatasetCheckpointOps
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

/** Block lifecycle of the iterative loops: every staged checkpoint is
  * released through its own handle, so after an operator returns and its
  * result has been consumed, the only RDDs it left persisted are the ones
  * its returned frame reads; a trainer that returns a plain `Seq` leaves
  * none. Nothing persisted by other work on the shared session is ever
  * touched. */
class CheckpointLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** RDD ids the frame itself holds: the LogicalRDD leaves of its plan
    * (staged checkpoints) and the buffers of any cached relation it reads. */
  private def heldBy(df: DataFrame): Set[Int] = {
    val qe = df.queryExecution
    val staged = qe.logical.collect { case r: LogicalRDD => r.rdd.id }
    val cached = qe.withCachedData.collect {
      case m: InMemoryRelation => m.cacheBuilder.cachedColumnBuffers.id
    }
    (staged ++ cached).toSet
  }

  private def docs = Seq("low lower lowest", "new newer newest",
    "wide wider widest", "low new wide", "lower newer wider").toDF("text")

  private def vectors(n: Int) = (0 until n).map { i =>
    (i.toLong, Array(math.cos(i * 0.37), math.sin(i * 0.37), (i % 5) * 0.1))
  }.toDF("id", "v")

  /** One row per converted loop: the operator call, and whether it
    * returns a frame (Some) or a consumed `Seq` (None). */
  private val operators: Seq[(String, () => Option[DataFrame])] = Seq(
    "Graph.kCore" -> (() => Some(Graph.kCore(
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (4L, 5L), (5L, 6L))
        .toDF("s", "d"), "s", "d", k = 2))),
    "Graph.bfsHops" -> (() => Some(Graph.bfsHops(
      Seq((0L, 1L), (1L, 2L), (2L, 3L), (1L, 4L), (4L, 5L)).toDF("src", "dst"),
      "src", "dst", Seq(0L).toDF("id"), "id", maxHops = 10))),
    "Graph.ssspHops" -> (() => Some(Graph.ssspHops(
      Seq((1L, 2L, 4L), (1L, 3L, 1L), (3L, 2L, 1L), (2L, 4L, 2L))
        .toDF("s", "d", "w"), "s", "d", "w", Seq(1L).toDF("id"), "id",
      maxHops = 5))),
    "Graph.topoLayers" -> (() => Some(Graph.topoLayers(
      Seq((1L, 2L), (2L, 3L), (1L, 4L), (4L, 5L), (3L, 5L)).toDF("s", "d"),
      "s", "d"))),
    "Graph.ancestorClosure" -> (() => Some(Graph.ancestorClosure(
      Seq((1L, None), (2L, Some(1L)), (3L, Some(2L)), (4L, Some(3L)),
        (5L, Some(4L)), (6L, Some(5L))).toDF("id", "parent"), "id", "parent"))),
    "Bpe.trainMerges" -> { () => Bpe.trainMerges(docs, "text", 8); None },
    "Bpe.trainMergesBatched" -> { () =>
      Bpe.trainMergesBatched(docs, "text", 8, maxBatch = 2); None },
    "WordPiece.trainMerges" -> { () => WordPiece.trainMerges(docs, "text", 4); None },
    "Similarity.semanticDedup" -> { () =>
      val groups = Seq(Array(1.0, 0, 0, 0), Array(0, 1.0, 0, 0),
        Array(0, 0, 1.0, 0), Array(0, 0, 0, 1.0))
      val data = (0 until 60).map(i => (i.toLong, groups(i % 4))).toDF("id", "v")
      Some(Similarity.semanticDedup(data, "id", "v", Array(Array(1.0, 1, 1, 1)),
        tau = 0.9, maxCellSize = 10, splitK = 8, maxSplitRounds = 3))
    },
    "Similarity.nnDescentGraph" -> (() => Some(Similarity.nnDescentGraph(
      vectors(40), "id", "v", k = 4, rounds = 2, reverseCap = 4))),
    "Similarity.navigableGraph" -> (() => Some(Similarity.navigableGraph(
      vectors(40), "id", "v", k = 4, rounds = 2, reverseCap = 4))),
    "Similarity.beamSearchTopK" -> { () =>
      val ring = (0L until 40L).flatMap(i => Seq((i, (i + 1) % 40), (i, (i + 7) % 40)))
        .toDF("id", "nbr")
      val q = vectors(5).select(col("id").as("qid"), col("v").as("qv"))
      Some(Similarity.beamSearchTopK(ring, vectors(40), "id", "v", q, "qid", "qv",
        k = 3, beamWidth = 4, hops = 3, entries = 2))
    },
    "Dedup.duplicateClusters" -> (() => Some(Dedup.duplicateClusters(
      Seq((2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L), (6L, 5L), (10L, 11L))
        .toDF("id1", "id2"), smallGraphLimit = 0))))

  operators.foreach { case (name, run) =>
    test(s"$name: only blocks the returned frame reads stay persisted") {
      val before = persisted
      val out = run()
      out.foreach(_.collect())
      val leaked = persisted -- before -- out.map(heldBy).getOrElse(Set.empty)
      assert(leaked.isEmpty,
        s"$name left ${leaked.size} persisted RDD(s) it does not return: $leaked")
    }
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
