package graft.pipeline

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Staged checkpoints for iterative loops, released through their own
  * handle.
  *
  * A checkpoint returned by [[DatasetCheckpointOps.stageCheckpoint]] is a
  * frame whose logical plan is a single `LogicalRDD` leaf; that leaf's
  * `rdd` is the internal RDD[InternalRow] holding the checkpoint's blocks
  * (a lazy `localCheckpoint` registers it as persisted when it is
  * created, not on its first action). [[DatasetCheckpointOps.release]]
  * unpersists exactly that RDD. `Dataset.rdd.unpersist()` would NOT do
  * it: `Dataset.rdd` wraps the internal RDD in a fresh deserializing RDD,
  * so unpersisting the wrapper releases nothing.
  *
  * Loop idiom: keep the handle of the current round's checkpoint; once
  * every checkpoint that reads it has materialized (eager ones when they
  * are created, lazy ones at the round's first action), call
  * `prev.release()`. Only the loop's own blocks are touched, so loops are
  * safe on a session shared with other work.
  */
object Checkpoints {

  /** Durability-mode checkpoint — every iterative loop and shared-branch
    * materialization in graft stages its rounds through this instead of
    * calling `localCheckpoint` directly.
    *
    * `localCheckpoint` blocks live only in executor block managers: on a
    * real cluster a lost executor loses its blocks, and because the
    * checkpoint TRUNCATES lineage the job cannot recompute them — it
    * fails. On a 1000-executor run executor churn is routine, so
    * long iterative jobs (BPE training, graph rounds) need the RELIABLE
    * variant, which writes the checkpoint to fault-tolerant storage.
    * The knob is Spark's own: when `SparkContext.setCheckpointDir` has
    * been called (cluster deployments point it at DFS), this stages
    * through `Dataset.checkpoint`; otherwise it falls back to
    * `localCheckpoint` (single-node runs, tests, bench — no extra I/O).
    * Same laziness semantics either way, so the shared-materialization
    * guarantees (prefixFold's pid-assignment contract) hold in both
    * modes. Reliable-checkpoint FILES are only auto-deleted on GC when
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`; cluster
    * sessions should set it or clean the dir between jobs. */
  implicit final class DatasetCheckpointOps[T](private val ds: Dataset[T])
      extends AnyVal {
    def stageCheckpoint(eager: Boolean): Dataset[T] =
      if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined)
        ds.checkpoint(eager)
      else ds.localCheckpoint(eager)

    /** Unpersist (non-blocking) the blocks of this staged checkpoint. A
      * no-op on a frame derived from one (a projection, say), and in
      * reliable mode, whose checkpoint RDD is not persisted. Call it only
      * after every checkpoint that reads this one has materialized. */
    def release(): Unit = ds.queryExecution.logical match {
      case r: LogicalRDD => unpersist(r)
      case _ =>
    }

    /** Release every staged checkpoint this frame reads directly (the
      * `LogicalRDD` leaves of its plan), such as the one a helper like
      * [[Profile.prefixFold]] stages internally. For a caller that owns
      * all of them, once everything derived from the frame has
      * materialized. */
    def releaseInputs(): Unit = ds.queryExecution.logical.foreach {
      case r: LogicalRDD => unpersist(r)
      case _ =>
    }
  }

  private def unpersist(r: LogicalRDD): Unit =
    if (r.rdd.getStorageLevel != StorageLevel.NONE) r.rdd.unpersist(blocking = false)

  /** Loop-state rows per shuffle partition: the `perPartition` the
    * iterative loops pass to [[graft.Sessions.withDerivedPartitions]]. */
  val LoopRowsPerPartition: Long = 65536L
}
