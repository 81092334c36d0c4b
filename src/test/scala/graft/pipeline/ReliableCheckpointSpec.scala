package graft.pipeline

import graft.SparkSpec
import graft.pipeline.Checkpoints.DatasetCheckpointOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Reliable-checkpoint mode for the iterative/staged operators.
  *
  * Every lineage-truncating stage in graft (prefixFold's shared pid
  * assignment, the BPE round table, graph frontiers, semanticDedup cell
  * rounds) goes through [[Checkpoints.stageCheckpoint]], which builds its
  * leaf in the one staged-leaf builder, the same as `stagePersist`: a
  * local checkpoint (executor blocks) when no checkpoint dir is set
  * (single-node, tests, bench) and a reliable one (files) when one is
  * (cluster posture — local checkpoint blocks die with a lost executor
  * and the truncated lineage cannot recompute them, so long iterative
  * jobs on 1000-executor clusters must stage to fault-tolerant storage).
  * This spec pins that the reliable path (a) is actually taken —
  * checkpoint files appear, (b) produces bit-identical results for a
  * prefix fold, a multi-round BPE train, and a multi-round BFS, (c)
  * restores cleanly, and (d) gives an eager leaf its measured row count
  * and row bytes, though it stores no blocks to measure. The
  * loops' per-round `release()` of their own checkpoint handles is a
  * no-op here: a reliable checkpoint's RDD is not persisted. */
class ReliableCheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def withCheckpointDir[A](body: java.io.File => A): A = {
    val sc = spark.sparkContext
    require(sc.getCheckpointDir.isEmpty,
      "spec expects no ambient checkpoint dir")
    val dir = Files.createTempDirectory("graft-reliable-ckpt-").toFile
    sc.setCheckpointDir(dir.toString)
    try body(dir)
    finally {
      sc.setCheckpointDir(null)
      assert(sc.getCheckpointDir.isEmpty, "checkpoint dir did not unset")
    }
  }

  private def ckptFiles(dir: java.io.File): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(walk).sum
      else 1
    walk(dir)
  }

  test("prefixFold under a reliable checkpoint dir: files written, output identical") {
    val df = (0 until 2000).map(i => (i.toLong, (i % 7).toLong,
      if (i % 11 == 0) null else java.lang.Long.valueOf(i % 23)))
      .toDF("id", "k", "v")
    val sortCols = Seq(col("k").asc, col("id").asc)
    val expected = df.withColumn("ps",
        sum($"v").over(Window.orderBy(sortCols: _*)
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select("id", "ps").collect().map(r => r.getLong(0) -> r.get(1)).toMap
    withCheckpointDir { dir =>
      val got = Profile.prefixFold(df, sortCols,
          Seq(Profile.PrefixSum($"v", "ps")))
        .select("id", "ps").collect().map(r => r.getLong(0) -> r.get(1)).toMap
      assert(got == expected, "reliable-mode prefixFold diverged")
      assert(ckptFiles(dir) > 0, "no reliable checkpoint files were written")
    }
  }

  test("an eager reliable checkpoint reports its measured rows, not a 1-byte leaf") {
    val agg = (1 to 2000).map(i => (i % 37, i.toLong)).toDF("k", "v")
      .groupBy("k").agg(sum("v").as("s"))
    withCheckpointDir { dir =>
      val staged = agg.stageCheckpoint(true)
      val stats = staged.queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(37)), s"row count not measured: $stats")
      assert(stats.sizeInBytes > 1, s"size reported as the floor: $stats")
      // (k, s) UnsafeRows: an 8-byte null bitset and two 8-byte slots
      assert(stats.sizeInBytes == BigInt(37 * 24), s"row bytes not measured: $stats")
      assert(ckptFiles(dir) > 0, "no reliable checkpoint files were written")
      assert(staged.collect().toSet == agg.collect().toSet)
    }
  }

  test("BPE training and BFS rounds: reliable mode == local mode") {
    val docs = Seq("low lower lowest", "new newer newest", "wide wider widest",
      "low new wide", "lower newer wider").toDF("text")
    val localMerges = Bpe.trainMerges(docs, "text", numMerges = 12).toList
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (1L, 4L), (4L, 5L),
      (5L, 6L), (3L, 6L), (7L, 8L)).toDF("src", "dst")
    val sources = Seq(0L).toDF("id")
    val localBfs = Graph.bfsHops(edges, "src", "dst", sources, "id", 10)
      .collect().map(_.toSeq).toSet
    withCheckpointDir { dir =>
      val reliableMerges =
        Bpe.trainMerges(docs, "text", numMerges = 12).toList
      assert(reliableMerges == localMerges, "reliable-mode BPE diverged")
      val reliableBfs = Graph.bfsHops(edges, "src", "dst", sources, "id", 10)
        .collect().map(_.toSeq).toSet
      assert(reliableBfs == localBfs, "reliable-mode BFS diverged")
      assert(ckptFiles(dir) > 0, "no reliable checkpoint files were written")
    }
  }
}
