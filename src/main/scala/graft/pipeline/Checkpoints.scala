package graft.pipeline

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.storage.StorageLevel

/** The one lifecycle of every intermediate an operator materializes, and
  * the one owner of persist and unpersist in the library.
  *
  * Two constructors, both returning a frame whose plan is one
  * `LogicalRDD` leaf whose `rdd` holds the blocks — that frame is their
  * one handle: [[DatasetCheckpointOps.stageCheckpoint]] truncates lineage
  * (iterative loops, whose plans would grow every round);
  * [[DatasetCheckpointOps.stagePersist]] keeps it (shared branches read
  * more than once: lost blocks recompute, nothing is written to the
  * checkpoint directory). Neither enters the session's CacheManager,
  * which is keyed by plan, strongly held and shared by every session of
  * the SparkContext, so there one query's cleanup could evict another's
  * state.
  *
  * One release verb, one rule: an intermediate the returned frame does
  * not read is released with [[DatasetCheckpointOps.release]] once the
  * result has materialized (at function exit for a scalar); one it reads
  * belongs to that frame, and ContextCleaner unpersists it once the
  * frame is unreachable ([[DatasetCheckpointOps.releaseInputs]] frees it
  * earlier). Loops keep the current round's handle and release the
  * previous one once every frame that reads it has materialized. Only an
  * operator's own blocks are touched, so operators are safe on a shared
  * session. (`Dataset.rdd.unpersist()` would release nothing: it wraps
  * the internal RDD in a fresh deserializing RDD.) */
object Checkpoints {

  implicit final class DatasetCheckpointOps[T](private val ds: Dataset[T])
      extends AnyVal {

    /** Durability-mode checkpoint. `localCheckpoint` blocks live only in
      * executor block managers, and because the checkpoint truncates
      * lineage, a lost executor fails the job. When
      * `SparkContext.setCheckpointDir` has been called (clusters point
      * it at DFS) this stages through the reliable `Dataset.checkpoint`,
      * otherwise through `localCheckpoint` (single node, tests, bench).
      * Laziness is the same either way, so prefixFold's pid-assignment
      * contract holds in both modes; a lazy `localCheckpoint` registers
      * its RDD as persisted when it is created. Reliable files are
      * deleted on GC only with
      * `spark.cleaner.referenceTracking.cleanCheckpoints=true`. */
    def stageCheckpoint(eager: Boolean): Dataset[T] =
      if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined)
        ds.checkpoint(eager)
      else ds.localCheckpoint(eager)

    /** Persist (MEMORY_AND_DISK) behind this frame's own handle, lineage
      * kept (see [[ColumnBridge.persistedLeaf]]). `eager` fills the blocks
      * now with one job, otherwise the first action reading the frame
      * does; under AQE, building it runs the plan's query stages either
      * way, as a lazy checkpoint does. A rebuilt, equal plan does not
      * find these blocks: read them through the returned frame. */
    def stagePersist(eager: Boolean): Dataset[T] =
      ColumnBridge.persistedLeaf(ds, eager)

    /** Unpersist (non-blocking) the blocks of this staged frame. A no-op
      * on a frame derived from one (a projection, say), and on a reliable
      * checkpoint, whose RDD is not persisted. */
    def release(): Unit = ds.queryExecution.logical match {
      case r: LogicalRDD => unpersist(r)
      case _ =>
    }

    /** Release every staged frame this frame reads directly (the
      * `LogicalRDD` leaves of its plan), such as the one a helper like
      * [[Profile.prefixFold]] stages internally. Only for a caller that
      * owns all of them, once everything derived has materialized. */
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
