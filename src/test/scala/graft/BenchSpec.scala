package graft

import org.apache.spark.graftbus.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The record of one timed Bench attempt ([[Bench.attempt]]): the jobs,
  * operators and stream batches of the run whose wall it reports. */
class BenchSpec extends SparkSpec {

  private def record(name: String): (Double, Bench.Record) =
    Bench.attempt(spark, sf(), name, SparkEntry.queries(name))

  /** The record's members parsed inside an object of their own. */
  private def parsed(r: Bench.Record) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(s"{${r.jsonFields}}")

  test("Bench.attempt counts the jobs of loop gate q_kcore as a separate listener does") {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    val (wall, r) =
      try { val out = record("q_kcore"); ListenerBus.drain(sc); out }
      finally sc.removeSparkListener(listener)
    assert(wall > 0)
    assert(r.jobs.size == started.get && r.jobs.size > 1, s"record ${r.jobs.size}, listener ${started.get}")
    assert(r.jobs.forall(j => j.end >= j.start && j.stages > 0 && j.tasks > 0), r.jobs)
    assert(r.jobs.map(_.start) == r.jobs.map(_.start).sorted)
    assert(r.driverGapSec >= 0 && r.jobSec >= 0)
    val json = parsed(r)
    assert(json.get("jobs").asInt == r.jobs.size)
    assert(json.get("stages").asInt == r.jobs.map(_.stages).sum)
    assert(json.get("tasks").asInt == r.jobs.map(_.tasks).sum)
    assert(json.get("job_list").size == r.jobs.size)
    assert(json.get("job_list").get(0).get("id").asInt == r.jobs.head.id)
  }

  test("Bench.attempt records q1_agg's operators: a scan and an aggregate with rows") {
    val (wall, r) = record("q1_agg")
    assert(wall > 0)
    def counted(op: String) = r.operators.exists(s => s.operator.contains(op) && s.rowsProcessed.exists(_ > 0))
    assert(counted("Scan"), Instrument.render(r.operators))
    assert(counted("HashAggregate"), Instrument.render(r.operators))
    assert(r.operators.head.parentId == -1 && r.streams.isEmpty)
    assert(parsed(r).get("operators").size == r.operators.size)
  }

  test("Bench.attempt records both phases of q_stream_window under one stream id") {
    val (wall, r) = record("q_stream_window")
    assert(wall > 0)
    assert(r.streams.size == 1, r.streams.map(_._1))
    val batches = r.streams.head._2
    // phase 1 streams every event; the resumed phase 2 reads the sentinel
    val events = spark.read.parquet(s"${sf()}/events.parquet").count()
    assert(batches.map(_.numInputRows).sum == events + 1, batches)
    assert(batches.map(_.batchId) == batches.map(_.batchId).distinct.sorted, batches)
    // the windowed aggregate is stateful: some batch reports state rows
    assert(batches.exists(_.stateRows.exists(_ > 0L)), batches)
    assert(parsed(r).get("streams").get(r.streams.head._1).size == batches.size)
  }
}
