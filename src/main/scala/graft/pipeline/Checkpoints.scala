package graft.pipeline

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.storage.StorageLevel

/** The one lifecycle of every intermediate an operator materializes, and
  * the one owner of persist and unpersist in the library.
  *
  * Two constructors, one builder ([[ColumnBridge.stagedLeaf]]) with
  * three storage modes, each returning a frame over one `LogicalRDD` leaf
  * holding the rows — their one handle: a rebuilt, equal plan does not
  * find them — with the final plan's partitioning and ordering (and,
  * when `eager` fills it now, the measured rows and row bytes).
  * [[DatasetCheckpointOps.stagePersist]] keeps lineage (shared branches
  * read more than once; MEMORY_AND_DISK, lost blocks recompute);
  * [[DatasetCheckpointOps.stageCheckpoint]] truncates it (iterative
  * loops, whose plans would grow every round), to reliable checkpoint
  * files once `SparkContext.setCheckpointDir` is set (clusters point it
  * at DFS; deleted on GC only with
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true`), else to
  * local checkpoint blocks, which a lost executor takes with it. A lazy
  * frame fills on the first action reading it (under AQE, building it
  * runs the plan's query stages) in every mode, so prefixFold's
  * pid-assignment contract holds in all. Neither enters the session's
  * CacheManager, which is keyed by plan, strongly held and shared by
  * every session of the SparkContext, so there one query's cleanup
  * could evict another's state.
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

    def stageCheckpoint(eager: Boolean): Dataset[T] =
      ColumnBridge.stagedLeaf(ds, eager, truncateLineage = true)

    def stagePersist(eager: Boolean): Dataset[T] =
      ColumnBridge.stagedLeaf(ds, eager, truncateLineage = false)

    /** The row count an EAGER stage measured for this frame, without a job
      * (a lazy stage's leaf may carry an estimate); other frames count. */
    def stagedCount: Long = ds.queryExecution.logical match {
      case r: LogicalRDD => r.stats.rowCount.fold(ds.count())(_.toLong)
      case _ => ds.count()
    }

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
