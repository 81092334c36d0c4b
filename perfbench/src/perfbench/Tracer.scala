package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.metrics.source.CodegenMetrics

/** One traced interval. Times are epoch milliseconds; `unit` is the id
  * shared by every span of one query (or Curate stage); `parent` is the
  * span that caused this one, -1 for the root. */
final case class Span(id: Int, var parent: Int, unit: Int, kind: String,
                      name: String, start: Double, end: Double)

/** The traced run's recorder. It hears Spark through a SparkListener and
  * a QueryExecutionListener registered on each session the run uses, keeps
  * spans in memory, and folds task metrics and executed plans
  * (`graft.Instrument.fromPlan`) into per-layer totals. Events are
  * attributed to the unit that is current when they are delivered; the
  * client drains the listener bus before it moves to the next unit. */
final class Tracer {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  /** A client-side `System.nanoTime` reading as epoch milliseconds. */
  def ms(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  @volatile private var current = -1
  @volatile private var active = false

  def add(parent: Int, unit: Int, kind: String, name: String, start: Double, end: Double): Int =
    synchronized {
      val id = spans.size
      spans += Span(id, parent, unit, kind, name, start, end)
      id
    }

  private def count(key: String, v: Double): Unit = synchronized { counters(key) += v }
  private def peak(key: String, v: Double): Unit =
    synchronized { counters(key) = math.max(counters(key), v) }

  /** Events count only between [[start]] and [[stop]] (the timed part). */
  def start(): Unit = { active = true; codegenBase = codegenNow }
  def stop(): Unit = {
    active = false
    val (n, t) = codegenNow
    count("codegen.compiles", n - codegenBase._1)
    count("codegen.compile_s", (t - codegenBase._2) / 1e9)
  }
  private var codegenBase = (0L, 0L)
  private def codegenNow: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  private val unitCompiles = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private val unitJobs = mutable.Map.empty[Int, Int].withDefaultValue(0)
  private var unitCompileBase = 0L

  def beginUnit(unit: Int): Unit = { current = unit; unitCompileBase = codegenNow._1 }

  /** (code generator compiles, Spark jobs) of one unit of the timed part. */
  def unitCounts(unit: Int): (Long, Int) = synchronized((unitCompiles(unit), unitJobs(unit)))

  /** Deliver every pending event to the current unit, then sample what the
    * unit left behind in the block manager. */
  def endUnit(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    if (!sc.isStopped) PerfbenchBus.drain(sc)
    if (active) synchronized { unitCompiles(current) += codegenNow._1 - unitCompileBase }
    if (!sc.isStopped) {
      peak("checkpoints.persisted_after", sc.getPersistentRDDs.size)
      peak("storage.cached_bytes_after",
        sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble)
    }
  }

  /** Plan phases a QueryExecution's tracker recorded (analysis of a built
    * DataFrame is eager, so its tracker already holds that phase). */
  def planPhases(qe: QueryExecution, unit: Int): Unit = if (active) {
    Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
        QueryPlanningTracker.PLANNING).foreach { p =>
      qe.tracker.phases.get(p).foreach { s =>
        add(-1, unit, s"plan.$p", p, s.startTimeMs.toDouble, s.endTimeMs.toDouble)
        count(s"plan.${p}_s", s.durationMs / 1e3)
      }
    }
  }

  private val families = Seq(
    "scan" -> Seq("Scan", "LocalTableScan"),
    "exchange" -> Seq("Exchange"),
    "aggregate" -> Seq("Aggregate"),
    "join" -> Seq("Join", "CartesianProduct"),
    "sort" -> Seq("Sort", "TakeOrderedAndProject"),
    "window" -> Seq("Window"),
    "generate" -> Seq("Generate"),
    "codegen_stage" -> Seq("WholeStageCodegen"))
  val familyNames: Seq[String] = families.map(_._1)

  private def operators(qe: QueryExecution): Unit = {
    val stats = try graft.Instrument.fromPlan(qe.executedPlan)
                catch { case _: Exception => Nil }
    stats.foreach { s =>
      families.find(_._2.exists(s.operator.contains)).foreach { case (f, _) =>
        s.processingTimeUs.foreach(us => count(s"op.${f}_s", us / 1e6))
        s.rowsProcessed.foreach(r => count(s"op.${f}_rows", r.toDouble))
      }
    }
  }

  private val jobSpan = mutable.Map.empty[Int, (Int, Double, Seq[Int])] // job -> (unit, start, stages)
  private val stageJob = mutable.Map.empty[Int, Int]
  private val submitted = mutable.Set.empty[Int]
  private val jobSpanIds = mutable.Map.empty[Int, Int]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) synchronized {
      jobSpan(e.jobId) = (current, e.time.toDouble, e.stageIds)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach { case (unit, t0, stages) =>
        jobSpanIds(e.jobId) = add(-1, unit, "job", s"job ${e.jobId}", t0, e.time.toDouble)
        count("spark.jobs", 1)
        unitJobs(unit) += 1
        count("spark.stages", stages.size)
        count("spark.skipped_stages", stages.count(s => !submitted(s)))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (active) synchronized { submitted += e.stageInfo.stageId }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) {
      val i = e.stageInfo
      for (t0 <- i.submissionTime; t1 <- i.completionTime) synchronized {
        val job = stageJob.getOrElse(i.stageId, -1)
        add(job, current, "stage", s"stage ${i.stageId}.${i.attemptNumber()}",
          t0.toDouble, t1.toDouble)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) {
      count("spark.tasks", 1)
      if (e.reason != Success) count("task.failed", 1)
      val m = e.taskMetrics
      if (m != null) {
        count("task.run_s", m.executorRunTime / 1e3)
        count("task.cpu_s", m.executorCpuTime / 1e9)
        count("task.gc_s", m.jvmGCTime / 1e3)
        count("task.deser_s", m.executorDeserializeTime / 1e3)
        count("task.input_bytes", m.inputMetrics.bytesRead.toDouble)
        count("task.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        count("task.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        count("task.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        count("task.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        peak("task.peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (active) { planPhases(qe, current); operators(qe) }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      if (active) planPhases(qe, current)
  }

  /** Listen to `spark` (call once per session the run creates). */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Parents for the spans the listeners recorded: a job or plan phase
    * belongs to the innermost client span of its unit that contains its
    * start; a stage to its job. */
  private var linked = false
  private def link(): Unit = if (!linked) {
    linked = true
    val workload = spans.find(_.kind == "workload")
    val passes = spans.filter(_.kind == "pass")
    val client = spans.filter(s => Set("unit", "build", "execute")(s.kind))
      .groupBy(_.unit)
    spans.foreach { s =>
      if (s.kind == "stage") s.parent = jobSpanIds.getOrElse(s.parent, -1)
      else if (s.kind == "pass") workload.foreach(w => s.parent = w.id)
      else if (s.kind == "unit" && s.parent < 0)
        passes.find(p => p.start <= s.start && s.start <= p.end).foreach(p => s.parent = p.id)
      else if (s.parent < 0 && (s.kind == "job" || s.kind.startsWith("plan."))) {
        val inside = client.getOrElse(s.unit, Nil)
          .filter(c => c.start <= s.start && s.start <= c.end)
        if (inside.nonEmpty) s.parent = inside.minBy(c => c.end - c.start).id
      }
    }
  }

  /** Length of the union of `iv`, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  val kinds: Seq[String] = Seq("workload", "pass", "unit", "build", "execute",
    "plan.analysis", "plan.optimization", "plan.planning", "job", "stage")

  /** Per-layer figures of the timed part, each a mean per unit (query or
    * Curate stage) except the peaks; plus `self.<kind>_s`, a layer's span
    * time not covered by its child spans. */
  def layers(units: Int, t0: Double, t1: Double): Map[String, Double] = synchronized {
    link()
    val children = spans.groupBy(_.parent)
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      self(s.kind) += (s.end - s.start - covered(kids.toSeq, s.start, s.end)) / 1e3
    }
    val builds = spans.filter(_.kind == "build")
    val buildIds = builds.map(_.id).toSet
    val jobs = spans.filter(_.kind == "job").map(s => (s.start, s.end)).toSeq
    val busy = covered(jobs, t0, t1) / 1e3
    val n = math.max(1, units).toDouble
    val peaks = Set("task.peak_exec_mem_bytes", "checkpoints.persisted_after",
      "storage.cached_bytes_after")
    val keys = Seq("codegen.compiles", "codegen.compile_s",
      "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
      "spark.jobs", "spark.stages", "spark.skipped_stages", "spark.tasks",
      "task.run_s", "task.cpu_s", "task.gc_s", "task.deser_s", "task.input_bytes",
      "task.output_bytes", "task.shuffle_read_bytes", "task.shuffle_write_bytes",
      "task.spill_bytes") ++ peaks ++
      familyNames.flatMap(f => Seq(s"op.${f}_s", s"op.${f}_rows"))
    keys.map(k => k -> (if (peaks(k)) counters(k) else counters(k) / n)).toMap ++
      kinds.map(k => s"self.${k}_s" -> self(k) / n) ++ Map(
        "entry.build_s" -> builds.map(b => b.end - b.start).sum / 1e3 / n,
        "entry.build_jobs" -> spans.count(j => j.kind == "job" && buildIds(j.parent)) / n,
        "spark.job_busy_s" -> busy / n,
        "spark.driver_gap_s" -> ((t1 - t0) / 1e3 - busy) / n,
        "task.fail_ratio" -> counters("task.failed") / math.max(1.0, counters("spark.tasks")))
  }

  /** All spans as a JSON array (written out when the run ends). */
  def spansJson: String = synchronized {
    link()
    spans.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"unit":${s.unit},"kind":"${s.kind}",""" +
        f""""name":"${Json.esc(s.name)}","start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}
