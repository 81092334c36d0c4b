package graft

import org.apache.spark.sql.functions._

/** Per-operator instrumentation facade ([[Instrument]]) — the Spark
  * analog of the reference's per-cursor benchmark framework
  * (benchmark/proto/benchmark.proto:11-60): verified on a join+agg query
  * whose exact per-node row counts are known.
  */
class InstrumentSpec extends SparkSpec {
  import spark.implicits._

  test("stats for a join+agg query report per-node rows, rates and times") {
    val dim = Seq((1L, "x"), (2L, "y")).toDF("k", "tag")
    val fact = (0L until 1000L).map(i => (i % 2 + 1, i)).toDF("k", "v")
    val q = fact.join(dim, "k").groupBy("tag").agg(sum("v").as("s"))
    val stats = Instrument.stats(q)

    // every operator in the executed plan is present exactly once, ids
    // form a tree rooted at 0
    assert(stats.nonEmpty && stats.head.parentId == -1)
    assert(stats.map(_.nodeId).distinct.size == stats.size)
    val byId = stats.map(s => s.nodeId -> s).toMap
    assert(stats.tail.forall(s => byId.contains(s.parentId)))

    // the final aggregate produced exactly the 2 groups
    val aggs = stats.filter(_.operator.contains("HashAggregate"))
    assert(aggs.nonEmpty, s"no aggregate node in:\n${Instrument.render(stats)}")
    assert(aggs.map(_.rowsProcessed.get).min == 2L)

    // the join produced all 1000 matched rows
    val joins = stats.filter(_.operator.toLowerCase.contains("join"))
    assert(joins.nonEmpty && joins.exists(_.rowsProcessed.contains(1000L)))

    // return_rate: the partial->final aggregate path reduces rows, so some
    // aggregate reports a rate < 1 (reference return_rate semantics:
    // output rows / max input rows)
    assert(aggs.flatMap(_.returnRate).exists(_ <= 1.0))

    // timing metrics are non-negative; when any node recorded > 0 time
    // (ms-granularity metrics can all legitimately round to 0 on a warm
    // JVM), relativeTime must sum to ~1 over the nodes that have it
    val timed = stats.flatMap(_.processingTimeUs)
    assert(timed.forall(_ >= 0))
    val rel = stats.flatMap(_.relativeTime)
    if (timed.sum > 0) assert(rel.nonEmpty && math.abs(rel.sum - 1.0) < 1e-6)

    // throughput is rows/us wherever both inputs exist
    stats.foreach { s =>
      (s.rowsProcessed, s.processingTimeUs, s.throughput) match {
        case (Some(r), Some(t), Some(th)) if t > 0 =>
          assert(math.abs(th - r.toDouble / t) < 1e-9)
        case _ => ()
      }
    }

    // render and JSON are well-formed (smoke: every operator name appears)
    val rendered = Instrument.render(stats)
    assert(stats.forall(s => rendered.contains(s.operator)))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val nodes = om.readTree(Instrument.operatorsJson(stats))
    assert(nodes.isArray && nodes.size == stats.size)
    assert(nodes.get(0).get("op").asText == stats.head.operator)
    // every control char is escaped, so the line stays valid JSON
    val raw = "a\"b\\c\nd\re\tf\u0001g\u001fh"
    val esc = Instrument.jstr(raw)
    assert(esc == "a\\\"b\\\\c\\nd\\re\\tf\\u0001g\\u001fh", esc)
    assert(!esc.exists(_ < ' '))
    assert(om.readTree("\"" + esc + "\"").asText == raw)
  }

  test("benchmark proto + DOT faces render a live executed plan") {
    val dim = Seq((1L, "x"), (2L, "y")).toDF("k", "tag")
    val fact = (0L until 1000L).map(i => (i % 2 + 1, i)).toDF("k", "v")
    val q = fact.join(dim, "k").groupBy("tag").agg(sum("v").as("s"))
    val stats = Instrument.stats(q)
    // every node round-trips through the exact BenchmarkData wire
    val protos = Instrument.benchmarkProtos(stats)
    assert(protos.size == stats.size)
    protos.zip(stats).foreach { case (bytes, s) =>
      val d = graft.plans.BenchmarkProto.decode(bytes)
      assert(d.cursorName == s.operator)
      assert(d.rowsProcessed == s.rowsProcessed)
      assert(d.processingTime == s.processingTimeUs)
    }
    // root message carries the plan total; live DOT has skeleton + edges
    val rootProto = graft.plans.BenchmarkProto.decode(protos.head)
    assert(rootProto.totalSubtreeTime.exists(_ >= 0L))
    val dot = Instrument.benchmarkDot(q, "instrument-spec")
    assert(dot.startsWith("digraph SupersonicBenchmarkGraph {\n"))
    assert(dot.contains("{rank=max; GlobalStats}"))
    assert(dot.contains("Total time: "))
    assert(dot.contains("->\"Root\" [label=\""))
    assert(dot.endsWith("}\n"))
  }

  test("gate-query plan reports rows on scan, exchange, aggregate and sort nodes") {
    // the round-4 stats sample had rows=null on most nodes; plan audits
    // need quantitative counts on the load-bearing operators: measured
    // numOutputRows on scans/aggregates, the shuffle writer's record
    // counter on exchanges, derived (provably row-preserving) counts on
    // sorts and codegen/AQE wrappers
    val df = SparkEntry.queries("q1_agg")(spark, "/root/testdata/sf0.001")
    val stats = Instrument.stats(df)
    def nodes(sub: String) =
      stats.filter(_.operator.toLowerCase.contains(sub))
    def allCounted(sub: String): Boolean = {
      val ns = nodes(sub)
      ns.nonEmpty && ns.forall(_.rowsProcessed.nonEmpty)
    }
    assert(allCounted("scan"), s"scan rows:\n${Instrument.render(stats)}")
    assert(allCounted("exchange"), s"exchange rows:\n${Instrument.render(stats)}")
    assert(allCounted("hashaggregate"), s"agg rows:\n${Instrument.render(stats)}")
    assert(allCounted("sort"), s"sort rows:\n${Instrument.render(stats)}")
    assert(allCounted("wholestagecodegen"), s"codegen rows:\n${Instrument.render(stats)}")
    // the exchange count is the real shuffle-write record counter, so it
    // must equal its child subtree's aggregate output (partial agg rows)
    val ex = nodes("exchange").flatMap(_.rowsProcessed)
    assert(ex.forall(_ > 0))
  }

  test("stats walk through AQE query stages and reused exchanges") {
    // self-join of an aggregate reuses the exchange; the walker must
    // descend into query stages rather than stopping at stage boundaries
    val base = (0L until 100L).map(i => (i % 5, i)).toDF("k", "v")
    val agg = base.groupBy("k").agg(sum("v").as("s"))
    val q = agg.as("a").join(agg.as("b"), "k")
    val stats = Instrument.stats(q)
    assert(stats.exists(_.operator.contains("Scan")) ||
      stats.exists(_.operator.toLowerCase.contains("localtablescan")))
    assert(stats.exists(_.rowsProcessed.contains(5L)),
      s"expected a 5-row aggregate node:\n${Instrument.render(stats)}")
  }

  test("streaming stats: per-batch rows + state from a MemoryStream query") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[Int]
    // a stateful aggregate so stateOperators is populated
    val counts = src.toDF().groupBy(col("value") % 3).count()
    val q = counts.writeStream.outputMode("update").format("noop").start()
    try {
      src.addData(1 to 100: _*)
      q.processAllAvailable()
      src.addData(101 to 150: _*)
      q.processAllAvailable()
      val stats = Instrument.streamStats(q).filter(_.numInputRows > 0)
      assert(stats.map(_.numInputRows).sum == 150L,
        s"expected 150 input rows across batches, got $stats")
      // the state store holds the 3 running groups after every batch
      assert(stats.forall(_.stateRows.contains(3L)), s"state rows off in $stats")
      assert(stats.forall(_.stateMemoryBytes.exists(_ > 0L)))
      assert(stats.forall(_.batchDurationMs >= 0L))
      // the JSON array is well-formed: no NaN/Infinity leaks
      val json = Instrument.batchesJson(Instrument.streamStats(q))
      assert(!json.contains("NaN") && !json.contains("Infinity"))
      assert(new com.fasterxml.jackson.databind.ObjectMapper().readTree(json).isArray)
    } finally q.stop()
  }
}

/** The JSON reports the mains write are UTF-8 whatever the platform
  * charset (US-ASCII under a POSIX locale, which stores "—" as "?"). */
class Utf8ReportSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("a PlanLint record with a non-ASCII reason reads back intact") {
    val path = java.nio.file.Files.createTempFile("planlint", ".json")
    try {
      val reason = "(vec_id < 10) — brute-force; naïve ≤ 1 µs"
      val w = Instrument.utf8Writer(path.toString)
      try w.println(PlanLint.recordJson("q_x", "allowed", Seq("Hit(ü)"), reason))
      finally w.close()
      val line = new String(java.nio.file.Files.readAllBytes(path),
        java.nio.charset.StandardCharsets.UTF_8).trim
      val rec = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
      assert(rec.get("reason").asText == reason, line)
      assert(rec.get("hits").get(0).asText == "Hit(ü)", line)
    } finally java.nio.file.Files.delete(path)
  }
}
