package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming over the `events` table — a capability superset of
  * the reference (which has no streaming, SURVEY §2.8): tumbling/sliding
  * window aggregation with watermark-driven late-data handling, plus
  * stateful sessionization via flatMapGroupsWithState.
  *
  * The same transforms run on a batch DataFrame (Spark's unified API), which
  * is how the correctness gate exercises their semantics (q_events_window).
  */
object Streams {

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** On-disk schema: ts is parquet TIMESTAMP(NANOS), read as a nanos long
    * (requires spark.sql.legacy.parquet.nanosAsLong). */
  val EventSchemaRaw: StructType = StructType(
    EventSchema.fields.map(f => if (f.name == "ts") f.copy(dataType = LongType) else f))

  /** File-source stream over the events parquet, normalizing ts to Spark's
    * microsecond TimestampType. Driver parquet vintages differ (ns stored
    * as TIMESTAMP(NANOS) → Long under the legacy conf; µs stored without
    * isAdjustedToUTC → TIMESTAMP_NTZ): peek at the batch-read schema once
    * (footer metadata, no data scan) and build the matching stream schema
    * + conversion, so the same gate runs on any vintage. */
  def readEvents(spark: SparkSession, dir: String,
                 glob: String = "events.parquet"): DataFrame = {
    // streaming file sources take a directory; glob-filter down to the
    // events table inside the scale-factor dir
    val onDisk = spark.read.parquet(s"$dir/$glob").schema("ts").dataType
    val raw = spark.readStream
      .schema(StructType(EventSchema.fields.map(f =>
        if (f.name == "ts") f.copy(dataType = onDisk) else f)))
      .option("pathGlobFilter", glob)
      .parquet(dir)
    onDisk match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => pinCivilTs(raw)
      case _ => raw
    }
  }

  /** Civil (NTZ) event time → the equivalent absolute instant, PINNED
    * (wall clock read as UTC, never the session zone). The streaming face
    * works in absolute instants so watermark/window arithmetic and the
    * unix_millis outputs are session-timezone-invariant; the batch twins
    * of the stream transforms route through the same pin so stream and
    * batch agree bit-for-bit on both values AND types. */
  private def pinCivilTs(df: DataFrame): DataFrame =
    if (df.schema("ts").dataType == TimestampNTZType)
      df.withColumn("ts",
        timestamp_micros(graft.functions.Exprs.epochMicrosCivil(col("ts"))))
    else df

  /** Tumbling-window counts+sums per event type, tolerating `lateness` of
    * out-of-order data. Works identically on a batch frame (minus the
    * watermark, which only gates state eviction). */
  def windowedStats(eventsIn: DataFrame, windowLen: String = "1 hour",
                    lateness: String = "10 minutes"): DataFrame = {
    val events = pinCivilTs(eventsIn)
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", lateness) else events
    withWm
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_cents"))
  }

  /** Sliding-window variant (windowLen every slide). */
  def slidingStats(eventsIn: DataFrame, windowLen: String = "1 hour",
                   slide: String = "15 minutes", lateness: String = "10 minutes"): DataFrame = {
    val events = pinCivilTs(eventsIn)
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", lateness) else events
    withWm.groupBy(window(col("ts"), windowLen, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"))
  }

  /** Streaming exact dedup: drop events whose key was already seen within
    * the watermark horizon — the streaming face of Dedup.exact (state is
    * bounded by the watermark; without it, dedup state grows forever). */
  def streamingDedup(events: DataFrame, keyCols: Seq[String],
                     lateness: String = "1 hour"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", lateness) else events
    withWm.dropDuplicatesWithinWatermark(keyCols)
  }

  /** Stream-stream interval join: correlate two event streams on a key,
    * attaching right rows whose event time falls within
    * [left.ts - lookback, left.ts]. Both sides carry watermarks and the
    * time-bound condition, which is what lets Spark BOUND the join state:
    * each side buffers only rows inside the watermark+lookback horizon,
    * then evicts — without the interval bound the state grows forever
    * (Spark rejects some unbounded shapes outright). The same call on
    * batch frames degenerates to a plain interval equi-join, which is how
    * the semantics are cross-checked in the spec.
    *
    * Column names must be disjoint apart from `key`; `leftTs`/`rightTs`
    * name each side's event-time column. */
  def streamStreamCorrelate(left: DataFrame, right: DataFrame, key: String,
                            leftTs: String, rightTs: String,
                            lookback: String = "10 minutes",
                            lateness: String = "10 minutes",
                            joinType: String = "inner"): DataFrame = {
    // left_outer adds the null-padded face: an unmatched left row emits
    // (left, NULL...) once the query watermark — the MIN across BOTH
    // sides' watermark operators — proves no future right row can join
    // it. Inner results stream out on match; outer pads are inherently
    // watermark-deferred, so a gate/pipeline must keep advancing BOTH
    // sides' event time (see outerCorrelateStreamGate's sentinel
    // routing) or pending pads sit in state forever.
    require(Set("inner", "left_outer")(joinType),
      s"streamStreamCorrelate: unsupported join type '$joinType'")
    val l = if (left.isStreaming) left.withWatermark(leftTs, lateness) else left
    val r = if (right.isStreaming) right.withWatermark(rightTs, lateness) else right
    l.join(r,
      l(key) === r(key) &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $lookback") &&
        col(rightTs) <= col(leftTs),
      joinType)
      .drop(r(key))
  }

  /** Stream-static anti-join: drop stream rows whose key appears in a
    * STATIC reference frame (known-duplicate fingerprints, a blocklist,
    * an already-ingested corpus) — the streaming face of incremental
    * dedup against history. The static side is re-planned per micro-batch
    * (Spark's stream-static join contract), so a refreshed parquet
    * blocklist is picked up without restarting the query; no state store
    * is involved, unlike streamingDedup's within-stream dedup. */
  def filterAgainstStatic(stream: DataFrame, static: DataFrame,
                          keyCols: Seq[String]): DataFrame =
    stream.join(static, keyCols, "left_anti")

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double, props: String)
  final case class SessionState(start: Long, lastSeen: Long, n: Long, sumCents: Long)
  final case class Session(user_id: Long, start_ms: Long, end_ms: Long,
                           n_events: Long, value_cents: Long)

  /** Gap-based sessionization with custom state
    * (KeyValueGroupedDataset.flatMapGroupsWithState): a session closes when
    * no event arrives within `gapMs`. In streaming mode an EVENT-TIME
    * timeout (watermark-driven, deterministic — no wall-clock dependence)
    * emits the open session once the watermark passes lastSeen + gap and
    * evicts its state, so per-user state is bounded. State is per-user —
    * shards across executors, nothing global. In batch mode timeouts never
    * fire; the final open session per user is emitted by the batch's
    * closing logic either way.
    *
    * `latenessMs` is the out-of-order tolerance (watermark delay) and is
    * an INDEPENDENT knob from the session gap: events arriving more than
    * `latenessMs` behind the stream's max event time are dropped by the
    * engine, which the batch path (which sees everything) never does. It
    * defaults to the gap, a common operating point, but latency-sensitive
    * pipelines shrink it and very-late-data pipelines grow it.
    *
    * Out-of-order handling across micro-batches: a late event that sorts
    * before the state's lastSeen merges with min/max bounds (start can move
    * BACK, lastSeen never does), so session bounds stay monotone correct.
    * Residual approximation, bounded by `latenessMs`: an admitted event
    * older than start - gap extends the open session backwards instead of
    * reconstructing a separate earlier session (exact splitting would need
    * the full event history in state; the batch path, which sorts globally,
    * has no such approximation). The registered timeout is clamped strictly
    * above the current watermark — setTimeoutTimestamp throws otherwise. */
  def sessionize(events: Dataset[Event], gapMs: Long,
                 latenessMs: Option[Long] = None): Dataset[Session] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    val wm = if (streaming)
      events.withWatermark("ts", s"${latenessMs.getOrElse(gapMs)} milliseconds")
    else events
    wm.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, evs: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed lastSeen + gap: emit the open session, evict
            val st = state.get
            state.remove()
            Iterator.single(Session(user, st.start, st.lastSeen, st.n, st.sumCents))
          } else {
            val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var st = state.getOption.orNull
            val out = scala.collection.mutable.ArrayBuffer.empty[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              // HALF_UP (away from zero) to match Spark's round() in the
              // batch path — math.round would differ on negative half-cents
              val cents = BigDecimal(e.value * 100)
                .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
              if (st == null) st = SessionState(t, t, 1, cents)
              else if (t - st.lastSeen > gapMs) {
                out += Session(user, st.start, st.lastSeen, st.n, st.sumCents)
                st = SessionState(t, t, 1, cents)
              } else st = SessionState(math.min(st.start, t), math.max(st.lastSeen, t),
                st.n + 1, st.sumCents + cents)
            }
            if (st != null) {
              state.update(st)
              // clamp: a late merge can leave lastSeen + gap at or behind
              // the watermark, and setTimeoutTimestamp rejects non-future
              // timestamps (the timeout then fires on the next batch)
              if (streaming) state.setTimeoutTimestamp(
                math.max(st.lastSeen + gapMs, state.getCurrentWatermarkMs() + 1))
            } else state.remove()
            out.iterator
          }
      }
  }

  /** Batch-mode sessionization oracle shape: same gap logic via windows —
    * used to cross-check the stateful path in tests. */
  def sessionizeBatch(eventsIn: DataFrame, gapMs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val events = pinCivilTs(eventsIn)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_millis(col("ts")) - unix_millis(col("prev_ts")) > gapMs, 1)
          .otherwise(0))
      .withColumn("sess_id", sum(col("new_sess")).over(wRun))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(min(unix_millis(col("ts"))).as("start_ms"),
        max(unix_millis(col("ts"))).as("end_ms"),
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .drop("sess_id")
  }

  // ===== Sinks (reference Sink/Writer, cursor/infrastructure/writer.h —
  // the streaming faces of Relational.fileOutput) =====

  /** foreachBatch writer facade: run an arbitrary batch writer per
    * micro-batch. Spark re-delivers a batch on failure, so the writer gets
    * (batch, batchId) and must commit idempotently by batchId — the
    * standard exactly-once recipe for non-transactional sinks (JDBC,
    * key-value stores, multi-table fan-out). */
  def foreachBatchSink(df: DataFrame, checkpoint: String,
                       outputMode: String = "update")
                      (writer: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .foreachBatch(writer)
      .start()

  /** Parquet file sink — append-only, exactly-once via the file-sink
    * manifest log (readers see only committed files). The distributed
    * analog of the reference's FileOutput sink. */
  def parquetSink(df: DataFrame, path: String, checkpoint: String,
                  trigger: Option[Trigger] = None): StreamingQuery = {
    val w = df.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
    trigger.fold(w)(w.trigger).start()
  }

  /** End-to-end STREAMING run of the windowed-stats pipeline, suitable for
    * the driver's DuckDB gate (q_stream_window): a real
    * `readStream → watermark → window agg → parquet file sink` execution
    * with a checkpoint, whose committed output is read back and returned.
    *
    * Mechanics (all deterministic — AvailableNow triggers, no wall-clock):
    * 1. the events parquet is staged into a fresh input dir and the query
    *    runs to completion; the no-data batch after the watermark advance
    *    flushes every window older than maxTs - lateness;
    * 2. a single SENTINEL event far past every real event is appended to
    *    the input and the SAME query resumes from its checkpoint — the
    *    watermark jumps past every real window, so append mode emits the
    *    remaining ones; the sentinel's own window can never be flushed
    *    (nothing later exists) and stays absent, which is exactly the
    *    append-mode contract a production stream operates under;
    * 3. the sink directory is read back through its manifest log, so only
    *    COMMITTED files count — the exactly-once face the oracle hashes.
    * Resulting rows = every real (window, event_type) group = the batch
    * face (q_events_window), which is what the shared oracle asserts. */
  def windowedStreamGate(spark: SparkSession, sfDir: String, workDir: String): DataFrame =
    streamGate(spark, sfDir, workDir)(windowedStats(_))

  /** OVERLAPPING (sliding) windows under the same harness — each event
    * updates windowLen/slide window states at once, so the state store
    * holds k live aggregates per (type, aligned-start) and the sentinel
    * must release ALL of them; complements [[windowedStreamGate]], whose
    * tumbling windows hold exactly one. Output = the batch sliding face
    * (q_sliding_window's oracle). */
  def slidingStreamGate(spark: SparkSession, sfDir: String, workDir: String,
                        windowLen: String = "1 hour",
                        slide: String = "15 minutes"): DataFrame =
    streamGate(spark, sfDir, workDir)(slidingStats(_, windowLen, slide))

  /** Sessionization under the same harness: the stateful
    * flatMapGroupsWithState path runs as a TRUE streaming query — the
    * sentinel advances the watermark past every real session's
    * lastSeen + gap, so the event-time timeouts fire and emit them; the
    * sentinel user's own open session can never time out and stays
    * absent. Output = every real session = the batch face
    * (q_sessionize's oracle). */
  def sessionizeStreamGate(spark: SparkSession, sfDir: String, workDir: String,
                           gapMs: Long): DataFrame = {
    import spark.implicits._
    streamGate(spark, sfDir, workDir)(df => sessionize(df.as[Event], gapMs).toDF())
  }

  /** Streaming exact dedup under the same harness (q_stream_dedup): the
    * stateful dropDuplicatesWithinWatermark operator runs as a TRUE
    * streaming query. Two determinism choices make a full cross-engine
    * oracle possible: (1) the stream is projected to the KEY columns
    * before dedup, so every duplicate row is identical and it cannot
    * matter which arrival survives; (2) `lateness` is far longer than the
    * event span, so no dedup state is evicted mid-run and the emitted set
    * is exactly one row per distinct key — SELECT DISTINCT in the oracle.
    * Unlike the window/session gates, this operator EMITS first arrivals
    * immediately (append mode holds nothing back), so the sentinel row
    * itself lands in the sink; callers filter its -1 user_id out, which
    * the gate query does visibly. What the sentinel run still proves
    * here: checkpoint resume with a populated state store, and that the
    * resumed query does NOT re-emit already-seen keys. */
  def dedupStreamGate(spark: SparkSession, sfDir: String, workDir: String,
                      keyCols: Seq[String] = Seq("user_id", "event_type"),
                      lateness: String = "365 days"): DataFrame =
    streamGate(spark, sfDir, workDir) { df =>
      streamingDedup(df.select("ts", keyCols: _*), keyCols, lateness)
        .select(keyCols.map(col): _*)
    }

  /** Stream-stream interval join under the harness (q_stream_join): the
    * events stream is split into two filtered faces — purchases (left)
    * and clicks (right) — and correlated per user within `lookback`, a
    * TRUE stream-stream self-join whose per-side watermarks bound the
    * buffered state. Inner interval joins emit matches eagerly (the
    * watermark only evicts state), so the committed set is exactly the
    * batch interval join the oracle replays; the sentinel row matches
    * neither face, and the checkpoint-resumed run must commit nothing
    * new. */
  def correlateStreamGate(spark: SparkSession, sfDir: String, workDir: String,
                          lookback: String = "12 hours",
                          lateness: String = "10 minutes"): DataFrame =
    streamGate(spark, sfDir, workDir) { df =>
      val purchases = df.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
      val clicks = df.where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"), col("event_id").as("click_id"))
      streamStreamCorrelate(purchases, clicks, "user_id", "p_ts", "c_ts",
        lookback, lateness)
        .select(col("user_id"), col("purchase_id"), col("click_id"))
    }

  /** Stream-stream LEFT OUTER interval join under the sentinel harness
    * (q_stream_outer_join): every purchase emits — joined to same-user
    * clicks in the prior `lookback`, or null-padded when the watermark
    * proves no click can still arrive. The null-pad is the part inner
    * joins don't test: it only emits when the MIN of both sides'
    * watermarks passes the purchase's eviction bound, so the sentinel
    * event must flow through BOTH side filters (isin(type, "sentinel"))
    * to advance both watermark operators on the resumed run.
    *
    * Two hard-won shape constraints, both debugged empirically:
    *  - The two sides MUST be two independent sources (two readEvents
    *    calls), not two filters over one shared stream: with a shared
    *    file source, Spark 4.1 evicts the outer join's left state
    *    WITHOUT emitting the null pads (observed: state 412→5 rows,
    *    zero pads; the identical two-source plan emits every pad).
    *  - The sentinel filter (user_id >= 0) must NOT live inside the
    *    streaming plan: Catalyst pushes it below the watermark operator
    *    into the parquet scan, so the sentinel row (user_id −1) is
    *    pruned at the source and the watermark silently never advances
    *    — pads held forever, with nothing failing loudly. The filter is
    *    applied to the BATCH read of the committed sink instead, where
    *    pushdown is exactly what we want (each sentinel contributes one
    *    (−1,−1,−1) self-match row to the sink; the wrapper drops them). */
  def outerCorrelateStreamGate(spark: SparkSession, sfDir: String,
                               workDir: String,
                               lookback: String = "12 hours",
                               lateness: String = "10 minutes"): DataFrame =
    streamGateFactory(spark, sfDir, workDir) { mk =>
      val purchases = mk().where(col("event_type").isin("purchase", "sentinel"))
        .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
      val clicks = mk().where(col("event_type").isin("click", "sentinel"))
        .select(col("user_id"), col("ts").as("c_ts"), col("event_id").as("click_id"))
      streamStreamCorrelate(purchases, clicks, "user_id", "p_ts", "c_ts",
        lookback, lateness, "left_outer")
        .select(col("user_id"), col("purchase_id"), col("click_id"))
    }.where(col("user_id") >= 0L)

  /** Stream-static anti-join under a two-phase harness
    * (q_stream_static_filter): the daily incremental-ingest shape — an
    * event stream filtered against a STATIC parquet blocklist that is
    * REFRESHED between runs. Phase 1: the even-event_id half of events
    * streams against blocklist V1 (user_id % 10 == 0). Phase 2: the
    * blocklist directory gains the user_id % 10 == 1 keys, the odd half
    * plus the sentinel arrives, and the SAME query resumes from its
    * checkpoint — the static side is re-planned on (re)start, so phase-2
    * rows must be filtered by the UPDATED list. A stale static side
    * would leak user_id%10==1 rows from phase 2 into the sink and
    * hash-mismatch the oracle, which encodes the phase split explicitly;
    * phase-1 rows with user_id%10==1 stay committed (already ingested —
    * exactly the production contract: a blocklist refresh is not
    * retroactive over committed output). No state store is involved:
    * the anti-join re-executes per micro-batch. */
  /** Total bytes of regular files under `p` (0 if absent) — sizes the
    * state partitions (see [[StateBytesPerPartition]]). */
  private[graft] def dirBytes(p: java.nio.file.Path): Long = {
    import java.nio.file.Files
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
      finally walk.close()
    }
  }

  /** Input bytes per state partition for the stateful gate harnesses
    * ([[graft.Sessions.withDerivedPartitions]]): a micro-batch pays one
    * state-store load + commit per partition per store (4 stores for a
    * stream-stream join), so state partitions scale with state volume
    * (measured r16: a zero-row batch on 32 partitions spent 2.6 s in
    * store-file protocol on a 2 MB input). */
  private[graft] val StateBytesPerPartition: Long = 32L << 20

  /** Recursively delete a directory tree if present — shared by the gate
    * harnesses so a fix to the walk applies everywhere at once. */
  private[graft] def deleteRecursively(dir: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(dir)) {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      finally walk.close()
    }
  }

  /** Stage a frame's parquet parts into a live source directory under a
    * distinct ordered prefix (file sources track seen files by name) —
    * shared by the gate harnesses. */
  private[graft] def stageParquetParts(df: DataFrame, work: java.nio.file.Path,
                                       dir: java.nio.file.Path,
                                       prefix: String): Unit = {
    import java.nio.file.Files
    val staging = work.resolve(s"${prefix}_staging")
    df.write.parquet(staging.toString)
    val listing = Files.list(staging)
    val parts =
      try listing.filter(_.toString.endsWith(".parquet"))
        .sorted().toArray(new Array[java.nio.file.Path](_))
      finally listing.close()
    parts.zipWithIndex.foreach { case (p, i) =>
      Files.move(p, dir.resolve(f"${prefix}_$i%05d.parquet"))
    }
  }

  /** One sentinel row `bumpDays` past the newest staged event, in the
    * SOURCE's own ts representation (raw-nanos Long vintage gets integer
    * arithmetic; timestamp vintages get an interval add), written with the
    * source's schema so the staged file's physical type matches what the
    * stream reader expects. */
  private def sentinelFrame(spark: SparkSession, inDir: String,
                            glob: String, bumpDays: Int): DataFrame = {
    val ev = spark.read.option("pathGlobFilter", glob).parquet(inDir)
    val bump = ev.schema("ts").dataType match {
      case LongType => col("__m") + lit(bumpDays.toLong * 24 * 3600 * 1000000000L)
      case _ => col("__m") + expr(s"INTERVAL $bumpDays DAYS")
    }
    ev.agg(max("ts").as("__m"))
      .select(lit(-1L).as("event_id"), bump.as("ts"), lit(-1L).as("user_id"),
        lit("sentinel").as("event_type"), lit(0.0).as("value"),
        lit("{}").as("props"))
  }

  def staticFilterStreamGate(spark: SparkSession, sfDir: String,
                             workDir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val work = Paths.get(workDir)
    deleteRecursively(work)
    val in = work.resolve("in")
    val block = work.resolve("block")
    Files.createDirectories(in)
    Files.createDirectories(block)
    def stage(df: DataFrame, dir: java.nio.file.Path, prefix: String): Unit =
      stageParquetParts(df, work, dir, prefix)
    val ev = spark.read
      .parquet(Paths.get(sfDir, "events.parquet").toString)
    stage(ev.where(col("event_id") % 2 === 0), in, "events_a")
    stage(ev.where(col("user_id") % 10 === 0).select("user_id").distinct(),
      block, "block_v1")
    val outDir = work.resolve("out").toString
    val ckpt = work.resolve("ckpt").toString
    // no state-partition override: the stream-static anti-join holds no
    // state store (re-executed per batch), so there is no per-partition
    // store protocol to amortize — see versionedStateStreamGate's note.
    val blockSchema = StructType(Seq(StructField("user_id", LongType)))
    def runToCompletion(): Unit = {
      val stream = readEvents(spark, in.toString, glob = "events*.parquet")
      val static = spark.read.schema(blockSchema).parquet(block.toString)
      val q = parquetSink(
        filterAgainstStatic(stream, static, Seq("user_id"))
          .select(col("event_id"), col("user_id"), col("event_type")),
        outDir, ckpt, trigger = Some(Trigger.AvailableNow()))
      q.awaitTermination()
    }
    runToCompletion()
    // refresh the blocklist, then deliver phase 2 + the sentinel
    stage(ev.where(col("user_id") % 10 === 1).select("user_id").distinct(),
      block, "block_v2")
    stage(ev.where(col("event_id") % 2 === 1), in, "events_b")
    stage(sentinelFrame(spark, in.toString, "events*.parquet", 30),
      in, "events_zz")
    runToCompletion()
    spark.read.parquet(outDir)
  }

  /** Shared gate harness (see [[windowedStreamGate]] scaladoc for the
    * mechanics): stage input → run to completion → append a sentinel
    * event 30 days past the newest real one → resume from checkpoint →
    * read the committed sink back through the manifest log. */
  def streamGate(spark: SparkSession, sfDir: String, workDir: String)
                (pipeline: DataFrame => DataFrame): DataFrame =
    streamGateFactory(spark, sfDir, workDir)(mk => pipeline(mk()))

  /** Factory variant of [[streamGate]]: the pipeline receives a stream
    * FACTORY instead of one stream, so a stream-stream join can read the
    * staged directory through two INDEPENDENT sources (each mk() call is
    * its own FileStreamSource with its own offsets log) — required for
    * correct outer-join padding; see [[outerCorrelateStreamGate]]. */
  def streamGateFactory(spark: SparkSession, sfDir: String, workDir: String)
                       (pipeline: (() => DataFrame) => DataFrame): DataFrame = {
    import java.nio.file.{Files, Paths}
    val work = Paths.get(workDir)
    deleteRecursively(work)
    val in = work.resolve("in")
    Files.createDirectories(in)
    val src = Paths.get(sfDir, "events.parquet")
    // fail loudly rather than streaming over zero events: Files.copy on a
    // directory copies only an empty dir entry, so a scale factor that
    // stores events as a parquet DIRECTORY must be staged file-by-file
    if (Files.isRegularFile(src)) {
      Files.copy(src, in.resolve("events.parquet"))
    } else if (Files.isDirectory(src)) {
      val listing = Files.list(src)
      val parts =
        try listing.filter(_.toString.endsWith(".parquet"))
          .sorted().toArray(new Array[java.nio.file.Path](_))
        finally listing.close()
      require(parts.nonEmpty, s"streamGate: no parquet parts under $src")
      parts.zipWithIndex.foreach { case (p, i) =>
        Files.copy(p, in.resolve(f"events_$i%05d.parquet"))
      }
    } else {
      throw new IllegalArgumentException(s"streamGate: $src does not exist")
    }
    val outDir = work.resolve("out").toString
    val ckpt = work.resolve("ckpt").toString
    val inBytes = dirBytes(in)
    def runToCompletion(): Unit = graft.Sessions.withDerivedPartitions(
        spark, inBytes, StateBytesPerPartition) { child =>
      val q = parquetSink(
        pipeline(() => readEvents(child, in.toString, glob = "events*.parquet")),
        outDir, ckpt, trigger = Some(Trigger.AvailableNow()))
      q.awaitTermination()
    }
    runToCompletion()
    // Sentinel phase: stage one event 30 days past the newest real one
    // and resume from the checkpoint. The sentinel batch advances the
    // watermark, and AvailableNow's trailing no-data batch flushes the
    // state it releases (windows, timed-out sessions, outer-join pads).
    stageParquetParts(
      sentinelFrame(spark, in.toString, "events*.parquet", 30),
      work, in, "events_zz")
    runToCompletion()
    spark.read.parquet(outDir)
  }

  /** Streaming CDC materialization under a two-phase harness
    * (q_stream_cdc): a change-row stream (key, payload, seq, op) applied
    * incrementally onto a versioned base image via foreachBatch +
    * `Relational.applyChangeLog` — the lakehouse CDC-sink loop, run as a
    * TRUE streaming query with checkpoint resume.
    *
    * Exactly-once mechanics: batch id `i` reads the NEWEST image with
    * version ≤ i and overwrites version i+1 — a re-delivered batch
    * recomputes from the same parent image and overwrites the same
    * version directory, the idempotent-by-batchId recipe
    * `foreachBatchSink` documents. Phase 1 streams the update half of
    * the log; phase 2 stages the delete/insert half and RESUMES from the
    * checkpoint, so the final image must equal applying the whole
    * ordered log in one batch — the caller gates it against the SAME
    * oracle as the batch `applyChangeLog` face, making
    * "incremental streaming application ≡ one-shot log application"
    * a hash-checked invariant, not a claim. */
  def cdcStreamGate(spark: SparkSession, workDir: String,
                    base: DataFrame, keys: Seq[String],
                    phase1: DataFrame, phase2: DataFrame,
                    seqCol: String = "seq", opCol: String = "op"): DataFrame =
    versionedStateStreamGate(spark, workDir, base, phase1, phase2, "cdcStreamGate") {
      (image, batch) =>
        graft.operators.Relational.applyChangeLog(image, batch, keys, seqCol, opCol)
    }

  /** Streaming INCREMENTAL AGGREGATE maintenance — the materialized-view
    * half of the CDC story (cdcStreamGate keeps the latest row image;
    * this keeps a (key, sum, count) aggregate current): each micro-batch
    * of I/D changes folds into the previous aggregate snapshot via
    * `Aggregates.incrementalSumCount` — the base table is NEVER
    * rescanned, which is the whole point at 100 TB. Same versioned-state
    * + checkpoint-resume harness as cdcStreamGate: phase 1 streams, the
    * query stops, phase 2 lands, the RESUMED checkpoint processes only
    * the new files. Batch ids are monotonic across the resume, so state
    * versions can't collide. Returns the final aggregate image. */
  def incrementalAggStreamGate(spark: SparkSession, workDir: String,
                               baseAgg: DataFrame, keys: Seq[String],
                               valueCol: String, opCol: String,
                               phase1: DataFrame, phase2: DataFrame): DataFrame =
    versionedStateStreamGate(spark, workDir, baseAgg, phase1, phase2,
        "incrementalAggStreamGate") { (image, batch) =>
      graft.operators.Aggregates.incrementalSumCount(image, batch, keys, valueCol, opCol)
    }

  /** The versioned-state harness behind [[cdcStreamGate]] and
    * [[incrementalAggStreamGate]]: `base` is image v0; micro-batch `i`
    * folds its changes into the newest image at or below version `i` and
    * overwrites image `i+1`. Phase 1's changes stream to completion, then
    * phase 2's land and the query resumes from its checkpoint. Returns
    * the newest image. No state-partition override: foreachBatch holds no
    * state store (the versioned parquet image IS the state), and the fold
    * is plain batch compute where AQE sizes the exchanges — shrinking its
    * parallelism only serializes it. */
  private def versionedStateStreamGate(spark: SparkSession, workDir: String,
                                       base: DataFrame, phase1: DataFrame,
                                       phase2: DataFrame, gate: String)
                                      (fold: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    import java.nio.file.{Files, Paths}
    val work = Paths.get(workDir)
    deleteRecursively(work)
    val in = work.resolve("in")
    val state = work.resolve("state")
    Files.createDirectories(in)
    Files.createDirectories(state)
    base.write.parquet(state.resolve("v00000").toString)
    def latestImageAtMost(maxV: Long): DataFrame = {
      val listing = Files.list(state)
      val vs =
        try listing.filter(p => p.getFileName.toString.startsWith("v"))
          .toArray(new Array[java.nio.file.Path](_))
          .map(_.getFileName.toString.drop(1).toLong).filter(_ <= maxV)
        finally listing.close()
      require(vs.nonEmpty, s"$gate: no state image at or below v$maxV")
      spark.read.parquet(state.resolve(f"v${vs.max}%05d").toString)
    }
    val changeSchema = phase1.schema
    require(phase2.schema == changeSchema, s"$gate: phase schemas must match")
    stageParquetParts(phase1, work, in, "changes_a")
    val ckpt = work.resolve("ckpt").toString
    def runToCompletion(): Unit = {
      val stream = spark.readStream.schema(changeSchema)
        .option("pathGlobFilter", "changes*.parquet").parquet(in.toString)
      val q = stream.writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, id: Long) =>
          fold(latestImageAtMost(id), batch).write.mode("overwrite")
            .parquet(state.resolve(f"v${id + 1}%05d").toString)
        }
        .start()
      q.awaitTermination()
    }
    runToCompletion()
    stageParquetParts(phase2, work, in, "changes_b")
    runToCompletion()
    latestImageAtMost(Long.MaxValue)
  }

  // ===== Streaming MinHash near-dedup (continuous-ingest dedup) =====

  /** Per-bucket LSH state for [[streamingNearDupCandidates]]: the sorted
    * doc ids seen in one (band, bucket-hash) cell so far. */
  final case class BucketState(ids: Array[Long])

  /** CONTINUOUS-INGEST near-duplicate candidates: each arriving document
    * computes its MinHash signature and LSH band buckets IN THE STREAM
    * (the same codegen'd shingle-hash/minhash kernels and banding
    * arithmetic as the batch [[graft.pipeline.Dedup.minhashBuckets]], so
    * batch and stream bucket IDENTICALLY), and a per-bucket
    * `flatMapGroupsWithState` emits one candidate pair (id1 < id2) the
    * moment a document lands in a bucket that already holds others — the
    * shape a training-data pipeline needs when the corpus arrives as a
    * feed rather than a snapshot.
    *
    * State per bucket is the SORTED DOC IDS ONLY (no text, no shingle
    * sets, no signatures): at 100 TB the streaming tier finds candidates
    * with O(ids-in-bucket) state and the exact-Jaccard verify runs as a
    * batch join against the document store ([[nearDedupStreamGate]]
    * wires it), keeping heavy payloads out of the state store. Re-delivered
    * ids (a replayed micro-batch) are skipped idempotently. For an
    * unbounded feed, bound the state with a GroupStateTimeout TTL —
    * dedup-against-a-horizon; the gate keeps NoTimeout so its output is
    * the complete candidate set and the batch oracle applies verbatim.
    *
    * Output order within the sink is arbitrary; the COMMITTED SET is
    * order-independent: an unordered pair is emitted exactly once per
    * shared bucket (by whichever member arrives second) and duplicates
    * across bands are dropped by the consumer's distinct. */
  def streamingNearDupCandidates(docs: DataFrame, idCol: String,
                                 textCol: String, numHashes: Int,
                                 bands: Int, shingleLen: Int): DataFrame = {
    val r = numHashes / bands
    require(bands * r == numHashes, "bands must divide numHashes")
    val spark = docs.sparkSession
    import spark.implicits._
    val sig = docs.select(col(idCol).cast("long").as("id"),
      graft.functions.MinhashExpression.minhash_signature(
        graft.functions.ShingleHashExpression.shingle_hash_sorted(
          graft.pipeline.TextAnalysis.tokens(col(textCol)), shingleLen),
        numHashes).as("sig"))
    val buckets = sig.select(col("id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          xxhash64(b, slice(col("sig"), b * r + 1, lit(r)).cast("string"))
            .as("bh")))).as("bucket"))
      .select(col("id"), col("bucket.band").as("band"), col("bucket.bh").as("bh"))
      .as[(Long, Int, Long)]
    buckets.groupByKey(t => (t._2, t._3))
      .flatMapGroupsWithState[BucketState, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state) =>
          val prior = state.getOption.map(_.ids).getOrElse(Array.empty[Long])
          // deterministic in-batch order; skip ids already in state
          // (idempotent under micro-batch re-delivery)
          val fresh = rows.map(_._1).toArray.sorted.distinct
            .filterNot(prior.contains)
          val out = Seq.newBuilder[(Long, Long)]
          val seen = scala.collection.mutable.ArrayBuffer.from(prior)
          fresh.foreach { id =>
            seen.foreach { p =>
              out += ((math.min(p, id), math.max(p, id)))
            }
            seen += id
          }
          if (fresh.nonEmpty) state.update(BucketState(seen.toArray.sorted))
          out.result().iterator
      }.toDF("id1", "id2")
  }

  /** Streaming near-dedup under a TWO-PHASE checkpoint-resume harness
    * (q_stream_neardedup): phase 1 streams the even-doc_id half of the
    * documents table, phase 2 stages the odd half and RESUMES from the
    * checkpoint — so cross-half duplicate pairs can only be found if the
    * bucket state survived the restart. The committed candidate set is
    * then verified batch-side (exact shingle Jaccard against the full
    * corpus, the two-tier production shape), and with recall-complete
    * banding (48/24 at τ=0.7 — the q_dedup_minhash argument) the result
    * equals the all-pairs threshold join, so the SAME DuckDB oracle
    * gates the streaming path end to end. */
  def nearDedupStreamGate(spark: SparkSession, sfDir: String,
                          workDir: String, threshold: Double = 0.7,
                          numHashes: Int = 48, bands: Int = 24,
                          shingleLen: Int = 3): DataFrame = {
    import java.nio.file.{Files, Paths}
    val work = Paths.get(workDir)
    deleteRecursively(work)
    val in = work.resolve("in")
    Files.createDirectories(in)
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val docSchema = docs.schema
    stageParquetParts(docs.where(col("doc_id") % 2 === 0), work, in, "docs_a")
    val outDir = work.resolve("out").toString
    val ckpt = work.resolve("ckpt").toString
    val inBytes = dirBytes(in)
    def runToCompletion(): Unit = graft.Sessions.withDerivedPartitions(
        spark, inBytes, StateBytesPerPartition) { child =>
      val stream = child.readStream.schema(docSchema)
        .option("pathGlobFilter", "docs*.parquet").parquet(in.toString)
      val q = streamingNearDupCandidates(stream, "doc_id", "text",
        numHashes, bands, shingleLen)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runToCompletion()
    stageParquetParts(docs.where(col("doc_id") % 2 =!= 0), work, in, "docs_b")
    runToCompletion()
    // batch verify tier: exact Jaccard over the committed candidate set
    val cand = spark.read.parquet(outDir).distinct()
    val sh = graft.pipeline.Dedup.withShingleHashSet(
      docs, "doc_id", "text", shingleLen, "sh")
    cand
      .join(sh.select(col("doc_id").as("id1"), col("sh").as("sh1")), "id1")
      .join(sh.select(col("doc_id").as("id2"), col("sh").as("sh2")), "id2")
      .withColumn("jac",
        graft.pipeline.Dedup.jaccardSortedLong(col("sh1"), col("sh2")))
      .where(col("jac") >= threshold)
      .select(col("id1"), col("id2"), col("jac"))
  }
}
