package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def sampleEvents = Seq(
    Streams.Event(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0, "{}"),
    Streams.Event(2, ts("2024-01-01 10:20:00"), 1, "view", 2.0, "{}"),
    Streams.Event(3, ts("2024-01-01 11:10:00"), 1, "click", 3.0, "{}"), // new hour, same session? gap 50min
    Streams.Event(4, ts("2024-01-01 15:00:00"), 1, "click", 4.0, "{}"), // gap > 1h => new session
    Streams.Event(5, ts("2024-01-01 10:30:00"), 2, "view", 5.0, "{}")
  )

  test("windowedStats on a stream: watermarked tumbling windows via MemoryStream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    mem.addData(sampleEvents: _*)
    val q = Streams.windowedStats(mem.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val out = rows(spark.table("win_out")
        .orderBy("window_start", "event_type")
        .select(date_format(col("window_start"), "HH:mm").as("w"), col("event_type"),
          col("n_events"), col("value_cents")))
      assert(out == Seq(
        Seq("10:00", "click", 1L, 100L),
        Seq("10:00", "view", 2L, 700L),
        Seq("11:00", "click", 1L, 300L),
        Seq("15:00", "click", 1L, 400L)))
    } finally q.stop()
  }

  test("windowedStats batch mode gives the same aggregation semantics") {
    val out = Streams.windowedStats(sampleEvents.toDF())
    assert(out.count() == 4)
  }

  test("sessionize: gap-based sessions with stateful processing (stream)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    mem.addData(sampleEvents: _*)
    val q = Streams.sessionize(mem.toDS(), gapMs = 60 * 60 * 1000)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // user 1's first session (10:05-11:10, 3 events) closes when the
      // 15:00 event arrives; user 2's idle session (last seen 10:30) is
      // closed by the EVENT-TIME timeout once the watermark (15:00 - 1h =
      // 14:00) passes its 11:30 deadline. User 1's 15:00 session stays
      // open (deadline 16:00 > watermark).
      val out = rows(spark.table("sess_out")
        .select("user_id", "n_events", "value_cents").orderBy("user_id"))
      assert(out == Seq(Seq(1L, 3L, 600L), Seq(2L, 1L, 500L)))
    } finally q.stop()
  }

  test("sessionize merges a cross-batch late event with min/max session bounds") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    val q = Streams.sessionize(mem.toDS(), gapMs = 60 * 60 * 1000)
      .writeStream.format("memory").queryName("late_sess_out")
      .outputMode("append").start()
    try {
      // batch 1: user 1 at 10:20 → watermark after batch = 09:20
      mem.addData(Streams.Event(1, ts("2024-01-01 10:20:00"), 1, "click", 1.0, "{}"))
      q.processAllAvailable()
      // batch 2: LATE event at 10:05 (admitted: above the 09:20 watermark,
      // but BEFORE the state's lastSeen) — must extend start backwards, not
      // drag lastSeen back / throw on setTimeoutTimestamp
      mem.addData(Streams.Event(2, ts("2024-01-01 10:05:00"), 1, "view", 2.0, "{}"))
      q.processAllAvailable()
      // batch 3: 13:00 event (gap > 1h) closes the merged session
      mem.addData(Streams.Event(3, ts("2024-01-01 13:00:00"), 1, "click", 4.0, "{}"))
      q.processAllAvailable()
      val out = rows(spark.table("late_sess_out")
        .select("user_id", "start_ms", "end_ms", "n_events", "value_cents"))
      assert(out == Seq(Seq(1L, ts("2024-01-01 10:05:00").getTime,
        ts("2024-01-01 10:20:00").getTime, 2L, 300L)))
    } finally q.stop()
  }

  test("sessionizeBatch matches the stateful semantics on closed sessions") {
    val out = Streams.sessionizeBatch(sampleEvents.toDF(), gapMs = 60 * 60 * 1000)
      .orderBy("user_id", "start_ms")
    val got = rows(out.select("user_id", "n_events", "value_cents"))
    assert(got == Seq(Seq(1L, 3L, 600L), Seq(1L, 1L, 400L), Seq(2L, 1L, 500L)))
  }

  test("streamingDedup drops duplicate keys within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    mem.addData(
      Streams.Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0, "{}"),
      Streams.Event(1, ts("2024-01-01 10:01:00"), 1, "click", 1.0, "{}"), // dup id
      Streams.Event(2, ts("2024-01-01 10:02:00"), 1, "view", 2.0, "{}"))
    val q = Streams.streamingDedup(mem.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val ids = rows(spark.table("dedup_out").select("event_id").orderBy("event_id")).flatten
      assert(ids == Seq(1L, 2L))
    } finally q.stop()
  }

  test("foreachBatchSink delivers (batch, batchId) pairs to the writer") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    mem.addData(sampleEvents: _*)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_fb_ckpt").toString
    val q = Streams.foreachBatchSink(
      mem.toDF().groupBy("user_id").count(), ckpt) { (batch, id) =>
      ids.add(id)
      batch.collect().foreach(r => seen.add(r.getAs[Long]("count")))
    }
    try {
      q.processAllAvailable()
      // update-mode aggregate over one batch: user1=4 events, user2=1;
      // the writer saw the batchId it must use for idempotent commits
      assert(seen.toArray.map(_.asInstanceOf[Long]).sorted.toSeq == Seq(1L, 4L))
      assert(ids.toArray.map(_.asInstanceOf[Long]).toSeq == Seq(0L))
    } finally q.stop()
  }

  test("parquetSink commits exactly the streamed rows to files") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    mem.addData(sampleEvents: _*)
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_pq_ckpt").toString
    val q = Streams.parquetSink(mem.toDF().select("event_id", "user_id"), dir, ckpt)
    try {
      q.processAllAvailable()
      val back = spark.read.parquet(dir)
      assert(rows(back.orderBy("event_id").select("event_id")).flatten ==
        Seq(1L, 2L, 3L, 4L, 5L))
    } finally q.stop()
  }

  test("streamStreamCorrelate: interval join with bounded state, batch-identical") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = Seq(
      Streams.Event(1, ts("2024-01-01 10:10:00"), 1, "click", 1.0, "{}"),
      Streams.Event(2, ts("2024-01-01 10:30:00"), 1, "click", 2.0, "{}"),
      Streams.Event(3, ts("2024-01-01 10:10:00"), 2, "click", 3.0, "{}"))
    val views = Seq(
      Streams.Event(11, ts("2024-01-01 10:05:00"), 1, "view", 0.0, "{}"), // 5min before click 1
      Streams.Event(12, ts("2024-01-01 10:29:00"), 1, "view", 0.0, "{}"), // 1min before click 2
      Streams.Event(13, ts("2024-01-01 09:00:00"), 2, "view", 0.0, "{}")) // outside lookback
    def prep(s: Seq[Streams.Event], side: String) =
      (df: org.apache.spark.sql.DataFrame) => df.select(
        col("user_id"), col("event_id").as(s"${side}_id"), col("ts").as(s"${side}_ts"))
    val memC = MemoryStream[Streams.Event]; memC.addData(clicks: _*)
    val memV = MemoryStream[Streams.Event]; memV.addData(views: _*)
    val q = Streams.streamStreamCorrelate(
      prep(clicks, "c")(memC.toDF()), prep(views, "v")(memV.toDF()),
      "user_id", "c_ts", "v_ts").writeStream
      .format("memory").queryName("corr_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = rows(spark.table("corr_out")
        .select("user_id", "c_id", "v_id").orderBy("c_id", "v_id"))
      // click 1 <- view 11 (5min); click 2 <- view 12 (1min); user 2's view
      // is 70min stale -> no match for click 3
      assert(streamed == Seq(Seq(1L, 1L, 11L), Seq(1L, 2L, 12L)))
      // batch face computes the identical correlation
      val batch = rows(Streams.streamStreamCorrelate(
        prep(clicks, "c")(clicks.toDF()), prep(views, "v")(views.toDF()),
        "user_id", "c_ts", "v_ts")
        .select("user_id", "c_id", "v_id").orderBy("c_id", "v_id"))
      assert(batch == streamed)
    } finally q.stop()
  }

  test("filterAgainstStatic drops stream rows present in the static side") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    mem.addData(sampleEvents: _*)
    val blocklist = Seq(2L, 4L).toDF("event_id")
    val q = Streams.filterAgainstStatic(mem.toDF(), blocklist, Seq("event_id"))
      .writeStream.format("memory").queryName("anti_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val ids = rows(spark.table("anti_out").select("event_id").orderBy("event_id")).flatten
      assert(ids == Seq(1L, 3L, 5L))
    } finally q.stop()
  }

  test("hash sampling and split are stateless stream transforms") {
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.Sampling
    val mem = MemoryStream[Streams.Event]
    mem.addData(sampleEvents: _*)
    // deterministic hash filters need no state/watermark — they run on a
    // stream exactly as on a batch (the reproducible-split property makes
    // the same event land in the same split in BOTH modes)
    val q = Sampling.assignSplit(
      Sampling.bernoulli(mem.toDF(), Seq("event_id"), 1.0),
      Seq("event_id"), Seq("train" -> 0.5))
      .writeStream.format("memory").queryName("split_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = rows(spark.table("split_out").select("event_id", "split").orderBy("event_id"))
      val batch = rows(Sampling.assignSplit(sampleEvents.toDF(), Seq("event_id"),
        Seq("train" -> 0.5)).select("event_id", "split").orderBy("event_id"))
      assert(streamed == batch && streamed.size == 5)
    } finally q.stop()
  }

  test("staticFilterStreamGate: resumed run filters by the REFRESHED blocklist") {
    val work = java.nio.file.Files.createTempDirectory("graft_ssf_spec").toString
    val out = Streams.staticFilterStreamGate(spark, sf(), work)
      .where(col("user_id") =!= -1)
      .select("event_id", "user_id", "event_type")
    // expected = the two-phase split: even event_ids filtered by V1
    // (user%10=0), odd event_ids by the refreshed V2 (user%10 in 0,1)
    val ev = spark.read.schema(Streams.EventSchemaRaw)
      .parquet(sf() + "/events.parquet")
    val expected = ev.where(
      (col("event_id") % 2 === 0 && col("user_id") % 10 =!= 0) ||
        (col("event_id") % 2 === 1 && col("user_id") % 10 =!= 0 &&
          col("user_id") % 10 =!= 1))
      .select("event_id", "user_id", "event_type")
    assert(rows(out.orderBy("event_id")) == rows(expected.orderBy("event_id")))
    // the refresh is load-bearing: a stale V1 on resume would have kept
    // odd-event_id rows of user%10=1 users — assert none leaked and the
    // corresponding EVEN rows (committed before the refresh) are present
    assert(out.where(col("event_id") % 2 === 1 && col("user_id") % 10 === 1).count() == 0)
    assert(out.where(col("event_id") % 2 === 0 && col("user_id") % 10 === 1).count() ==
      ev.where(col("event_id") % 2 === 0 && col("user_id") % 10 === 1).count())
  }

  test("stateful gate harness derives state partitions on a child session, not the caller") {
    import java.nio.file.{Files, Paths}
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val callerConf = keys.map(spark.conf.get)
    val work = Files.createTempDirectory("graft_state_parts_spec")
    val inBytes = Streams.dirBytes(Paths.get(sf(), "events.parquet"))
    val derived = math.min(callerConf.head.toLong,
      inBytes / Streams.StateBytesPerPartition + 1)
    assert(derived < callerConf.head.toLong, "input too large to exercise the child session")
    val out = Streams.windowedStreamGate(spark, sf(), work.toString)
    assert(out.count() > 0)
    assert(keys.map(spark.conf.get) == callerConf)
    // offsets/0 = version line, then the batch metadata with its pinned conf
    val meta = Files.readAllLines(work.resolve("ckpt/offsets/0")).get(1)
    assert(meta.contains(s""""spark.sql.shuffle.partitions":"$derived""""), meta)
  }

  test("file-source streaming over the real ns-timestamp events parquet") {
    val streamDf = Streams.readEvents(spark, sf())
    assert(streamDf.isStreaming)
    val q = Streams.windowedStats(streamDf, "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("file_win_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("file_win_out")
      val batch = Streams.windowedStats(graft.Tables.events(spark, sf()))
      // stream over the file source == batch over the same file
      assert(got.count() == batch.count())
      assert(rows(got.orderBy("window_start", "event_type")) ==
        rows(batch.orderBy("window_start", "event_type")))
    } finally q.stop()
  }

  test("cdcStreamGate: phase-2 resume lands on the one-shot applyChangeLog image") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_cdc_spec").toString
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val phase1 = Seq((2L, "B", 1L, "U"), (3L, "x", 1L, "U")).toDF("k", "v", "seq", "op")
    val phase2 = Seq((3L, "x", 2L, "D"), (9L, "new", 1L, "I")).toDF("k", "v", "seq", "op")
    val got = Streams.cdcStreamGate(spark, work, base, Seq("k"), phase1, phase2)
    assert(rows(got.select("k", "v").orderBy("k")) ==
      Seq(Seq(1L, "a"), Seq(2L, "B"), Seq(9L, "new")))
    // same log applied in ONE batch — the invariant the gate hashes
    val oneShot = graft.operators.Relational.applyChangeLog(
      base, phase1.unionByName(phase2), Seq("k"), "seq", "op")
    assert(rows(got.select("k", "v").orderBy("k")) ==
      rows(oneShot.select("k", "v").orderBy("k")))
    // versioned images: v0 base, one per processed batch, all readable
    val state = java.nio.file.Paths.get(work, "state")
    val listing = java.nio.file.Files.list(state)
    val vs = try listing.toArray(new Array[java.nio.file.Path](_))
      .map(_.getFileName.toString).sorted.toList finally listing.close()
    assert(vs.head == "v00000" && vs.size >= 3)
  }

  test("incrementalAggStreamGate: streamed fold equals one-shot maintenance and full recompute") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_incr_spec").toString
    val base = Seq(("a", 10.0, 2L), ("b", 5.0, 1L)).toDF("k", "sum_v", "cnt")
      .select(col("k"), col("sum_v").cast("decimal(28,2)").as("sum_v"), col("cnt"))
    val phase1 = Seq(("a", 7.0, "I"), ("c", 1.5, "I")).toDF("k", "v", "op")
    val phase2 = Seq(("a", 4.0, "D"), ("b", 5.0, "D")).toDF("k", "v", "op")
    val got = Streams.incrementalAggStreamGate(spark, work, base, Seq("k"),
      "v", "op", phase1, phase2)
    assert(rows(got.select(col("k"), col("sum_v").cast("string"), col("cnt"))
      .orderBy("k")) == Seq(Seq("a", "13.00", 2L), Seq("c", "1.50", 1L)))
    // same changes in ONE batch — the invariant the gate hashes
    val oneShot = graft.operators.Aggregates.incrementalSumCount(
      base, phase1.unionByName(phase2), Seq("k"), "v", "op")
    assert(rows(got.select(col("k"), col("sum_v").cast("string"), col("cnt")).orderBy("k")) ==
      rows(oneShot.select(col("k"), col("sum_v").cast("string"), col("cnt")).orderBy("k")))
  }

  test("nearDedupStreamGate: two-phase streamed candidates + batch verify " +
    "equals batch minhashNearDups; cross-restart pairs present") {
    val work = java.nio.file.Files
      .createTempDirectory("graft_sneardedup_spec").toString
    val got = Streams.nearDedupStreamGate(spark, sf(), work,
      threshold = 0.7, numHashes = 48, bands = 24, shingleLen = 3)
    val batch = graft.pipeline.Dedup.minhashNearDups(
      graft.Tables.documents(spark, sf()), "doc_id", "text",
      threshold = 0.7, numHashes = 48, bands = 24, shingleLen = 3)
    val g = rows(got.select("id1", "id2", "jac").orderBy("id1", "id2"))
    val b = rows(batch.select("id1", "id2", "jac").orderBy("id1", "id2"))
    assert(g == b, s"stream=$g batch=$b")
    assert(g.nonEmpty, "corpus has planted near-dups; empty result is a harness bug")
    // phase 1 streamed even doc_ids, phase 2 odd: a mixed-parity pair can
    // only exist if the bucket state survived the checkpoint restart
    assert(g.exists(r => (r(0).asInstanceOf[Long] + r(1).asInstanceOf[Long]) % 2 == 1),
      s"no cross-phase pair found in $g — restart state not exercised")
  }
}
