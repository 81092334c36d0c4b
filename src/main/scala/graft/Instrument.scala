package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Per-operator runtime statistic for one executed query — the Spark
  * analog of the reference's per-cursor benchmark record
  * (benchmark/proto/benchmark.proto:11-60, cursor_statistics.h:108-121):
  * `operator` ~ cursor_name, `rowsProcessed` ~ rows_processed,
  * `processingTimeUs` ~ processing_time (microseconds), `throughput` ~
  * rows per microsecond, `returnRate` ~ output rows / MAX input rows,
  * `rowProcessingRate` ~ input rows per microsecond (benchmark.proto:
  * 54-60 — characterizes selective operators whose throughput plummets
  * by design), `relativeTime` ~ share of the total instrumented time.
  *
  * Semantics delta vs the reference (documented, inherent to the
  * execution model): supersonic instruments every cursor's Next() pull,
  * so processing_time exists for every node; Tungsten fuses operators
  * into generated loops, so per-node time exists only where Spark keeps
  * an SQLMetric timer (aggregates, sorts, exchanges, scans, codegen
  * pipelines) — nodes without one report None rather than a fake 0, and
  * relativeTime is computed against the SUM of instrumented node times,
  * not wall clock.
  */
final case class OperatorStat(
    nodeId: Int,
    parentId: Int,
    depth: Int,
    operator: String,
    rowsProcessed: Option[Long],
    processingTimeUs: Option[Long],
    throughput: Option[Double],
    returnRate: Option[Double],
    rowProcessingRate: Option[Double],
    relativeTime: Option[Double])

/** Post-execution plan instrumentation: walks the (AQE-finalized)
  * physical plan and turns each node's SQLMetric accumulators into an
  * [[OperatorStat]] row. SQLMetrics are Spark's own per-node counters —
  * collecting them costs nothing at execution time (they ride the
  * task-completion accumulator channel), which is the same design as the
  * reference's spy-based benchmark listeners
  * (benchmark/infrastructure/benchmark_listener.h) rather than a
  * wrap-every-row profiler.
  */
object Instrument {

  /** Children across the wrapper nodes a finalized AQE plan contains
    * (query stages and reused exchanges hide their subtree from
    * `children`). */
  private def childPlans(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case other => other.children
  }

  /** Best-effort per-node processing time in µs: the sum of the node's
    * timing metrics (Spark records "timing" in ms, "nsTiming" in ns). */
  private def timeUs(p: SparkPlan): Option[Long] = {
    val parts = p.metrics.values.toSeq.collect {
      case m if m.metricType == "timing" && m.value > 0 => m.value * 1000L
      case m if m.metricType == "nsTiming" && m.value > 0 => m.value / 1000L
    }
    if (parts.isEmpty) None else Some(parts.sum)
  }

  /** Output rows of a node. Three tiers, most direct first:
    * 1. the node's own `numOutputRows` SQLMetric (scans, filters, joins,
    *    aggregates — Spark measures these);
    * 2. for exchanges, `shuffleRecordsWritten` — the shuffle write path's
    *    own record counter, which IS the exchange's output cardinality;
    * 3. for nodes that provably PRESERVE row count (Sort, Project, the
    *    codegen/AQE/query-stage wrappers), the nearest counted
    *    descendant — derived, not fabricated: output rows equal input
    *    rows for these by construction. (AQE skew-join replicated reads
    *    are the one case where a shuffle-read count can exceed the
    *    writer's; the skew A/B gates keep explicit metrics for that.)
    * Everything else stays None — a fused node with no counter reports
    * honestly rather than guessing. */
  private def rowsOf(p: SparkPlan): Option[Long] =
    p.metrics.get("numOutputRows").map(_.value)
      .orElse(p.metrics.get("shuffleRecordsWritten").map(_.value))
      .orElse(if (preservesRows(p)) childPlans(p).flatMap(subtreeRows).maxOption
              else None)

  /** Nodes whose output row count equals their (single effective) child's:
    * sorts and projections are 1:1 on rows; the wrapper nodes forward
    * their subtree's output unchanged. */
  private def preservesRows(p: SparkPlan): Boolean = p match {
    case _: org.apache.spark.sql.execution.SortExec => true
    case _: org.apache.spark.sql.execution.ProjectExec => true
    case _: org.apache.spark.sql.execution.InputAdapter => true
    case _: org.apache.spark.sql.execution.WholeStageCodegenExec => true
    case _: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => true
    case _: QueryStageExec => true
    case _: ReusedExchangeExec => true
    case _: AdaptiveSparkPlanExec => true
    case _ => false
  }

  /** Row count of a subtree's output: the node's own counter, or — for
    * wrapper/exchange nodes that keep no numOutputRows (AQE shuffle
    * reads, InputAdapter, exchanges) — the nearest counted descendant.
    * This is what return_rate's "input rows" means through fused plans. */
  private def subtreeRows(p: SparkPlan): Option[Long] =
    rowsOf(p).orElse(childPlans(p).flatMap(subtreeRows).maxOption)

  /** Collect stats from an ALREADY-EXECUTED physical plan (e.g. inside a
    * QueryExecutionListener, or after [[stats]] ran the action). */
  def fromPlan(root: SparkPlan): Seq[OperatorStat] = {
    val out = mutable.ArrayBuffer.empty[OperatorStat]
    var nextId = 0
    def walk(p: SparkPlan, parent: Int, depth: Int): Unit = {
      val id = nextId
      nextId += 1
      val rows = rowsOf(p)
      val t = timeUs(p)
      val childRowMax = childPlans(p).flatMap(subtreeRows).maxOption
      out += OperatorStat(id, parent, depth, p.nodeName,
        rows, t,
        for (r <- rows; us <- t if us > 0) yield r.toDouble / us,
        for (r <- rows; c <- childRowMax if c > 0) yield r.toDouble / c,
        for (c <- childRowMax; us <- t if us > 0) yield c.toDouble / us,
        None)
      childPlans(p).foreach(walk(_, id, depth + 1))
    }
    walk(root, parent = -1, depth = 0)
    val total = out.flatMap(_.processingTimeUs).sum
    if (total <= 0) out.toSeq
    else out.toSeq.map(s =>
      s.copy(relativeTime = s.processingTimeUs.map(_.toDouble / total)))
  }

  /** Execute `df` (discarding rows) and return per-operator stats.
    * Pass a freshly-built DataFrame: SQLMetrics are accumulators, so
    * executing the same QueryExecution twice double-counts. */
  def stats(df: DataFrame): Seq[OperatorStat] = {
    val qe = df.queryExecution
    qe.executedPlan.execute().foreach(_ => ())
    fromPlan(qe.executedPlan)
  }

  /** The reference's wire face: one exact proto2 `BenchmarkData` message
    * per node (benchmark/proto/benchmark.proto:11-74) — see
    * [[graft.plans.BenchmarkProto]] for the codec. */
  def benchmarkProtos(stats: Seq[OperatorStat]): Seq[Array[Byte]] =
    graft.plans.BenchmarkProto.fromStats(stats)
      .map(graft.plans.BenchmarkProto.encode)

  /** The reference's DOT face (benchmark/dot/dot_drawer.cc): the full
    * digraph document for an executed frame's instrumented plan. */
  def benchmarkDot(df: DataFrame, benchmarkName: String): String =
    graft.plans.BenchmarkDot.draw(stats(df), benchmarkName)

  /** Text rendering (the DOT-drawer analog, benchmark/dot/dot_drawer.cc:
    * 208-284): one indented line per operator with its metrics. */
  def render(stats: Seq[OperatorStat]): String =
    stats.map { s =>
      val parts = Seq(
        s.rowsProcessed.map(r => s"rows=$r"),
        s.processingTimeUs.map(t => s"time_us=$t"),
        s.throughput.map(t => f"throughput=$t%.3f rows/us"),
        s.returnRate.map(r => f"return_rate=$r%.4f"),
        s.rowProcessingRate.map(r => f"row_rate=$r%.3f rows/us"),
        s.relativeTime.map(r => f"rel_time=${100 * r}%.1f%%")).flatten
      ("  " * s.depth) + s.operator +
        (if (parts.isEmpty) "" else parts.mkString(" [", " ", "]"))
    }.mkString("\n")

  /** A writer of `path` in UTF-8, whatever the platform charset: under a
    * US-ASCII default every non-ASCII character would be stored as `?`. */
  def utf8Writer(path: String): java.io.PrintWriter =
    new java.io.PrintWriter(path, java.nio.charset.StandardCharsets.UTF_8)

  /** JSON string-body escape (no surrounding quotes): \, ", and every
    * control char. The one escaper of the JSON the mains write: node names
    * carry quoted identifiers or paths (scan nodes), oracle SQL carries
    * newlines and tabs, exception messages carry anything. */
  def jstr(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => b.append("\\\\")
      case '"' => b.append("\\\"")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.result()
  }

  /** The operators as one JSON array, one object per node (Bench's
    * per-attempt record). */
  def operatorsJson(stats: Seq[OperatorStat]): String = {
    def opt[A](v: Option[A]): String = v.map(_.toString).getOrElse("null")
    stats.map { s =>
      s"""{"id":${s.nodeId},"parent":${s.parentId},"op":"${jstr(s.operator)}",""" +
        s""""rows":${opt(s.rowsProcessed)},"time_us":${opt(s.processingTimeUs)},""" +
        s""""throughput":${opt(s.throughput)},"return_rate":${opt(s.returnRate)},""" +
        s""""row_rate":${opt(s.rowProcessingRate)},"rel_time":${opt(s.relativeTime)}}"""
    }.mkString("[", ",", "]")
  }

  // ===== Streaming observability (per-batch progress, the streaming face
  // of the per-operator stats above) =====

  /** Per-micro-batch statistics of a streaming query, from Spark's own
    * StreamingQueryProgress — the streaming analog of [[OperatorStat]]:
    * rows in, processing rate, trigger wall time, and the STATE the batch
    * left behind (total state rows / bytes across stateful operators —
    * the number that must stay watermark-bounded for a stream to survive
    * at 100 TB; an unbounded climb here is the streaming version of a
    * skewed reducer). `watermark` is the event-time watermark after the
    * batch, when the query tracks one. */
  final case class StreamBatchStat(
      batchId: Long,
      numInputRows: Long,
      processedRowsPerSecond: Double,
      batchDurationMs: Long,
      stateRows: Option[Long],
      stateMemoryBytes: Option[Long],
      watermark: Option[String])

  def fromProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): StreamBatchStat =
    StreamBatchStat(
      p.batchId,
      p.numInputRows,
      p.processedRowsPerSecond,
      Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(-1L),
      if (p.stateOperators.isEmpty) None
      else Some(p.stateOperators.map(_.numRowsTotal).sum),
      if (p.stateOperators.isEmpty) None
      else Some(p.stateOperators.map(_.memoryUsedBytes).sum),
      Option(p.eventTime.get("watermark")))

  /** Stats for every batch a (finished or running) streaming query
    * retains in its progress buffer. */
  def streamStats(q: org.apache.spark.sql.streaming.StreamingQuery): Seq[StreamBatchStat] =
    q.recentProgress.toSeq.map(fromProgress)

  /** A stream's batches as one JSON array (NaN/Infinity rates — empty
    * batches — serialize as null; JSON has no non-finite numbers). */
  def batchesJson(batches: Seq[StreamBatchStat]): String = {
    def num(d: Double): String = if (java.lang.Double.isFinite(d)) d.toString else "null"
    def opt[A](v: Option[A]): String = v.map(_.toString).getOrElse("null")
    batches.map { b =>
      s"""{"batch":${b.batchId},"rows":${b.numInputRows},""" +
        s""""rows_per_sec":${num(b.processedRowsPerSecond)},""" +
        s""""duration_ms":${b.batchDurationMs},"state_rows":${opt(b.stateRows)},""" +
        s""""state_bytes":${opt(b.stateMemoryBytes)},""" +
        b.watermark.map(w => s""""watermark":"${jstr(w)}"}""").getOrElse(""""watermark":null}""")
    }.mkString("[", ",", "]")
  }
}
