package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.storage.StorageLevel

/** Bridge to Spark's Column ↔ Catalyst Expression conversion, which is
  * `private[sql]` in Spark 4 (ExpressionUtils). Lives under
  * org.apache.spark.sql so graft can register custom native expressions
  * as user-facing Columns.
  */
object ColumnBridge {
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)

  /** Wrap a resolved logical plan as a DataFrame (`Dataset.ofRows` is
    * `private[sql]`); used by plan-rewriting fast paths that splice
    * together analyzed fragments (e.g. Relational.coalesceColumns's
    * same-parent projection merge). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The one builder of a staged frame (graft.pipeline.Checkpoints): `ds`
    * as `Dataset.checkpoint` builds it (executed RDD, rows copied, under a
    * `LogicalRDD`), built and, when `eager`, filled in a SQL execution;
    * persisted MEMORY_AND_DISK, or with `truncateLineage` checkpointed
    * (reliably when the context has a checkpoint dir, else locally). The
    * leaf takes partitioning and ordering from the FINAL plan (under AQE
    * `LogicalRDD.fromDataset` reads the adaptive wrapper, which reports
    * none), and an eager one its measured rows and bytes. */
  def stagedLeaf[T](ds: Dataset[T], eager: Boolean, truncateLineage: Boolean): Dataset[T] = {
    val d = ds.asInstanceOf[classic.Dataset[T]]
    val qe = d.queryExecution
    val reliable = truncateLineage && d.sparkSession.sparkContext.getCheckpointDir.isDefined
    SQLExecution.withNewExecutionId(qe, Some(if (truncateLineage) "stageCheckpoint" else "stagePersist")) {
      val rows = qe.executedPlan.execute().map(_.copy())
      if (reliable) rows.checkpoint()
      else if (truncateLineage) rows.localCheckpoint()
      else rows.persist(StorageLevel.MEMORY_AND_DISK)
      if (eager && reliable) rows.doCheckpoint() // the job below reads the files back
      // rows and UnsafeRow bytes, as a filled AQE query stage reports them:
      // exact for arrays, without the JVM overhead stored blocks count
      val width = EstimationUtils.getSizePerRow(d.logicalPlan.output).toLong
      val filled = Option.when(eager)(rows.map {
        case u: UnsafeRow => u.getSizeInBytes.toLong
        case _ => width
      }.aggregate((0L, 0L))((a, b) => (a._1 + 1, a._2 + b), (a, b) => (a._1 + b._1, a._2 + b._2)))
      val plan = qe.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan // final once executed
        case p => p
      }
      // rebound by exprId: a physical attribute can differ from the output
      // (in nullability, say), and a self-join's newInstance maps only equal ones
      val output = AttributeMap(d.logicalPlan.output.map(a => a -> a))
      def bind[E <: Expression](e: E): E =
        e.transform { case a: Attribute => output.getOrElse(a, a) }.asInstanceOf[E]
      def firstLeaf(p: Partitioning): Partitioning = p match {
        case c: PartitioningCollection => firstLeaf(c.partitionings.head)
        case e: Partitioning with Expression => bind(e)
        case p => p
      }
      val (estimated, constraints) =
        LogicalRDD.rewriteStatsAndConstraints(d.logicalPlan, qe.optimizedPlan)
      val stats = filled.fold(estimated) { case (n, b) => Some(Statistics(BigInt(b max 1L), Some(n))) }
      val leaf = LogicalRDD(d.logicalPlan.output, rows, firstLeaf(plan.outputPartitioning),
        plan.outputOrdering.map(bind), d.isStreaming)(d.sparkSession, stats, constraints)
      classic.Dataset.ofRows(d.sparkSession, leaf).as[T](d.encoder)
    }
  }

  /** `schema` with every field, array element and map value nullable, as
    * a file source reads back what it wrote (`asNullable` is
    * `private[spark]`). */
  def asNullable(schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    schema.asNullable

  /** A child session sharing `spark`'s SparkContext, cache and catalog,
    * with a COPY of its SQL conf (`cloneSession` is `private[sql]`): conf
    * set on the child never reaches the caller. The child has artifact
    * isolation off. An isolated session runs its tasks under a class
    * loader of its own on every executor, and the codegen cache is keyed
    * by class loader, so each isolated child would recompile every
    * generated class its jobs use (measured: +90 ms on a child's first
    * shuffle job). A session reads the isolation flag once, when it is
    * built, so the flag is turned off on an intermediate clone and the
    * child cloned from that. */
  def cloneSession(spark: SparkSession): SparkSession = {
    val template = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
    template.conf.set("spark.sql.artifact.isolation.enabled", "false")
    template.cloneSession()
  }

  /** DataFrame over an RDD of InternalRow without the external-Row
    * conversion hop (`internalCreateDataFrame` is `private[sql]`); used by
    * byte-level sources (sources.SupersonicFile) whose decoders produce
    * catalyst-native values (UTF8String, days-int, micros-long) directly. */
  def fromInternalRows(spark: SparkSession,
                       rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                       schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)
}
