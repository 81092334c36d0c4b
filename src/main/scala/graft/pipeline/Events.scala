package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-sequence analytics over an append-only event log — the funnel /
  * cohort family every OLAP engine grows once it has windowed aggregation
  * (the reference covers the windowed half via its stateful expressions,
  * supersonic/expression/templated/cast_expression.h-adjacent stateful
  * machinery; the sequential-conversion shapes here are the standard
  * composition on top).
  *
  * Scale posture: every step keys by the user column — one hash exchange
  * each, co-partitioned thereafter (AQE reuses the exchange). Nothing is
  * ever collected to the driver; per-stage event scans carry a pushed-down
  * `event_type = stage` filter so each funnel stage reads only its own
  * slice of the log.
  */
object Events {

  /** Ordered-stage funnel: a user converts to stage i+1 when an event of
    * that stage's type occurs STRICTLY after their earliest completion of
    * stage i (the classic "min-time frontier" semantics — re-orderable
    * duplicates don't double count, and a purchase logged before the first
    * click does not convert).
    *
    * Returns one row per stage: (stage 1-based, stage_name, users, conv)
    * where conv = users / users-at-stage-1 (NaN-free: stage 1 always has
    * the max count).
    *
    * Stage i's frontier feeds both stage i+1's join and the final count
    * union; the whole funnel is one query, whose reused exchanges compute
    * each frontier once, so no frontier is materialized. A frontier is
    * one row per converted user — orders of magnitude below the event log
    * it summarizes. k−1 user-keyed joins total; the per-stage scans prune
    * to `type = stage` at the source.
    */
  def funnel(df: DataFrame, userCol: String, tsCol: String, typeCol: String,
             stages: Seq[String], maxGapSeconds: Option[Long] = None): DataFrame = {
    require(stages.nonEmpty, "funnel: need at least one stage")
    require(stages.distinct.size == stages.size, "funnel: stages must be distinct")
    maxGapSeconds.foreach(g => require(g > 0, "funnel: maxGapSeconds must be positive"))
    val ev = df.select(col(userCol).as("__u"), col(tsCol).as("__ts"),
      col(typeCol).as("__t"))
    var frontier = ev.where(col("__t") === stages.head)
      .groupBy("__u").agg(min("__ts").as("__reach"))
    val perStage = scala.collection.mutable.ArrayBuffer(
      frontier.select(lit(1).as("stage"), lit(stages.head).as("stage_name"), col("__u")))
    stages.zipWithIndex.drop(1).foreach { case (st, i) =>
      // time-bounded variant: the next stage must land within maxGap of
      // the frontier (half-open (reach, reach+gap]) — abandonment cutoff
      val inWindow = maxGapSeconds match {
        case Some(g) => col("__ts") > col("__reach") &&
          col("__ts") <= col("__reach") + expr(s"INTERVAL $g SECOND")
        case None => col("__ts") > col("__reach")
      }
      frontier = ev.where(col("__t") === st)
        .join(frontier, Seq("__u"))
        .where(inWindow)
        .groupBy("__u").agg(min("__ts").as("__reach"))
      perStage += frontier.select(lit(i + 1).as("stage"), lit(st).as("stage_name"), col("__u"))
    }
    val counts = perStage.reduce(_ unionAll _)
      .groupBy("stage", "stage_name").agg(count(lit(1)).as("users"))
    val w = Window.orderBy("stage") // k rows total — not a data-scale window
    counts.withColumn("conv",
      col("users").cast("double") / first("users").over(w).cast("double"))
  }

  /** Period-over-period change report: per-key `unit`-bucket DECIMAL sums
    * (order-independent ⇒ bit-stable), then each bucket against the
    * PREVIOUS OBSERVED bucket of that key (lag — gap periods are not
    * densified; compose with TimeSeries.resampleFill for a regular
    * grid). Output: (key, bucket, cur, prev, change, pct_change) — pct
    * is NULL on the first bucket and on a zero base. The decimal sums
    * cross into double through the exact digit string (see
    * Profile.momentSums for why). One key exchange + one key window. */
  def periodOverPeriod(df: DataFrame, keyCol: String, tsCol: String,
                       valueCol: String, unit: String = "day"): DataFrame = {
    val sums = df.groupBy(col(keyCol), graft.functions.Exprs.dateTruncCivil(unit, col(tsCol)).as("bucket"))
      .agg(sum(col(valueCol).cast("decimal(18,6)")).as("__s"))
      .withColumn("cur", col("__s").cast("string").cast("double"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    sums.withColumn("prev", lag(col("cur"), 1).over(w))
      .select(col(keyCol), col("bucket"), col("cur"), col("prev"),
        (col("cur") - col("prev")).as("change"),
        when(col("prev").isNull || col("prev") === 0.0, lit(null).cast("double"))
          .otherwise(col("cur") / col("prev") - lit(1.0)).as("pct_change"))
  }

  /** Cohort retention: users are cohorted by the `unit`-truncated time of
    * their FIRST event; a cohort's offset-w row counts the distinct users
    * of that cohort active in the w-th unit after their cohort unit.
    * Returns (cohort: truncated timestamp, offset: long, users: long).
    *
    * Both Spark and ANSI engines truncate weeks to Monday 00:00, so the
    * day-difference is an exact multiple of the unit width and the integer
    * division below is exact — the oracle replays it verbatim.
    */
  def cohortRetention(df: DataFrame, userCol: String, tsCol: String,
                      unit: String = "week"): DataFrame = {
    val days = unit match {
      case "day" => 1; case "week" => 7
      case other => throw new IllegalArgumentException(
        s"cohortRetention: unit must be day|week, got $other")
    }
    val ev = df.select(col(userCol).as("__u"),
      graft.functions.Exprs.dateTruncCivil(unit, col(tsCol)).as("__w"))
    val firstSeen = ev.groupBy("__u").agg(min("__w").as("__c"))
    ev.join(firstSeen, Seq("__u"))
      .withColumn("offset",
        floor(datediff(col("__w"), col("__c")) / lit(days)).cast("long"))
      .groupBy(col("__c").as("cohort"), col("offset"))
      .agg(countDistinct(col("__u")).as("users"))
  }

  /** Cohort VALUE curves (LTV) — [[cohortRetention]]'s revenue twin:
    * users cohort by first-seen `unit`; each (cohort, offset) cell
    * reports active users, the period's exact decimal revenue, the
    * cohort's CUMULATIVE revenue through that offset, and cumulative
    * revenue per cohort user — the curve a growth team calls LTV.
    * Revenue sums are exact decimals end to end (cumulative included);
    * the per-user division is the one double at the edge. The
    * cumulative window runs per cohort over OFFSETS (calendar-bounded).
    * Output: (cohort, offset, users, cohort_size, period_value,
    * cum_value, cum_value_per_user). */
  def cohortValueCurves(df: DataFrame, userCol: String, tsCol: String,
                        valueCol: String, unit: String = "week"): DataFrame = {
    val days = unit match {
      case "day" => 1; case "week" => 7
      case other => throw new IllegalArgumentException(
        s"cohortValueCurves: unit must be day|week, got $other")
    }
    def d(c: Column) = c.cast("string").cast("double")
    val ev = df.select(col(userCol).as("__u"),
      graft.functions.Exprs.dateTruncCivil(unit, col(tsCol)).as("__w"),
      col(valueCol).cast("decimal(18,6)").as("__v"))
    val firstSeen = ev.groupBy("__u").agg(min("__w").as("__c"))
    val sizes = firstSeen.groupBy(col("__c").as("cohort"))
      .agg(count(lit(1)).as("cohort_size"))
    val cells = ev.join(firstSeen, Seq("__u"))
      .withColumn("offset",
        floor(datediff(col("__w"), col("__c")) / lit(days)).cast("long"))
      .groupBy(col("__c").as("cohort"), col("offset"))
      .agg(countDistinct(col("__u")).as("users"),
        sum(col("__v")).cast("decimal(28,6)").as("__pv"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("offset").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.join(sizes, Seq("cohort"))
      .withColumn("__cum", sum(col("__pv")).over(w).cast("decimal(28,6)"))
      .select(col("cohort"), col("offset"), col("users"), col("cohort_size"),
        d(col("__pv")).as("period_value"), d(col("__cum")).as("cum_value"),
        (d(col("__cum")) / col("cohort_size").cast("double"))
          .as("cum_value_per_user"))
  }

  /** Event-rate anomaly detection — the pipeline-health monitor "did this
    * hour's volume jump?": bucket counts per `bucket` unit, then a
    * trailing-window z-score per bucket ((c − mean)/std over the previous
    * `window` observed buckets, current excluded). The window runs over
    * the BUCKET table (|buckets| rows — hours of history, never raw
    * events) with exact integer sums (Σc, Σc²) feeding a fixed double
    * dag; z rounds 6 dp at the edge. Buckets with fewer than `window`
    * predecessors report NULL z (no baseline yet); gaps in the bucket
    * grid count as absent, not zero — resampleFill first if zeros should
    * alarm. */
  def rateAnomaly(df: DataFrame, tsCol: String, bucket: String = "hour",
                  window: Int = 24, zThreshold: Double = 3.0): DataFrame = {
    require(window >= 2, "rateAnomaly: window must be >= 2")
    val b = df.groupBy(graft.functions.Exprs.dateTruncCivil(bucket, col(tsCol)).as("bucket"))
      .agg(count(lit(1)).as("c"))
    // global window over the time-BUCKET table — bounded by the covered
    // time range (hours/days), not the event count (sweep-audited r8)
    val w = Window.orderBy(col("bucket")).rowsBetween(-window, -1)
    val n = count(col("c")).over(w)
    val s = sum(col("c")).over(w)
    val ss = sum(col("c") * col("c")).over(w)
    val mean = s.cast("double") / n.cast("double")
    val variance = (ss.cast("double") - s.cast("double") * s.cast("double") /
      n.cast("double")) / (n.cast("double") - lit(1.0))
    val z = when(n === window && variance > 0,
      round((col("c").cast("double") - mean) / sqrt(variance), 6))
    b.select(col("bucket"), col("c"), z.as("z"),
      (z.isNotNull && abs(z) > zThreshold).as("anomaly"))
  }

  /** Touch attribution: for every conversion event, the touch event that
    * gets credit — `model = "last"` (last touch strictly before the
    * conversion) or `"first"` (earliest touch before it). ONE user-sharded
    * window pass over the whole event stream (no per-conversion scan, no
    * self-join): touches become (ts, type) structs, non-touches NULL, and
    * last/first(ignoreNulls) over rows [unbounded, −1) resolves credit —
    * the frame end at −1 row makes "strictly before" exact, with
    * (ts, id) ordering pinning simultaneous-event ties. Conversions with
    * no prior touch keep NULL credit (organic). */
  def attribution(df: DataFrame, userCol: String, tsCol: String,
                  idCol: String, typeCol: String, conversionType: String,
                  touchTypes: Seq[String], model: String = "last"): DataFrame = {
    require(touchTypes.nonEmpty, "attribution: need at least one touch type")
    require(!touchTypes.contains(conversionType),
      "attribution: conversion type cannot be a touch type")
    require(model == "last" || model == "first",
      s"attribution: unknown model '$model'")
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col(typeCol).isin(touchTypes: _*),
      struct(col(tsCol).as("ts"), col(typeCol).as("t")))
    val credit = if (model == "last") last(touch, ignoreNulls = true).over(w)
                 else first(touch, ignoreNulls = true).over(w)
    df.withColumn("__a", credit)
      .where(col(typeCol) === conversionType)
      .select(col(idCol).as("conversion_id"), col(userCol).as("user_id"),
        col(tsCol).as("conv_ts"),
        col("__a").getField("t").as("touch_type"),
        col("__a").getField("ts").as("touch_ts"))
  }

  /** Burst-collapse (event debounce): within each key, a chain of events
    * where each follows its predecessor within `gapSeconds` is ONE burst
    * — duplicate clicks, retry storms, sensor chatter — and only the
    * burst LEADER (its first event) survives. The gap measures from the
    * PREVIOUS EVENT (gaps-and-islands semantics: one lag() window,
    * exactly replayable in any SQL engine), not from the last KEPT event
    * — that greedy variant depends on its own output sequentially and
    * has no bounded relational form. A leader is a row with no
    * predecessor, or one whose gap STRICTLY exceeds `gapSeconds`.
    * Simultaneous events order by `tieCol`, so the leader is
    * deterministic. One key-sharded window (high-cardinality partition
    * key — scales); rows drop in place, nothing is rewritten. */
  /** Merge overlapping-or-touching closed intervals [start, end] per key
    * into maximal disjoint spans (the classic gaps-and-islands reduction:
    * calendar availability, IP ranges, session stitching). An interval
    * starts a new island iff its start STRICTLY exceeds the running max
    * end of everything before it — touching intervals (start == prior
    * end) merge. One key-sharded window (running max + running break sum
    * over the same sort) then one aggregate: two exchanges total, both on
    * the high-cardinality key. Output: key cols, merged start/end,
    * n_merged source intervals. */
  def mergeIntervals(df: DataFrame, keyCols: Seq[String],
                     startCol: String, endCol: String): DataFrame = {
    require(keyCols.nonEmpty, "mergeIntervals: need at least one key column")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(startCol).asc, col(endCol).asc)
    val prevMaxEnd = max(col(endCol)).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    val island = sum(
      when(prevMaxEnd.isNull || col(startCol) > prevMaxEnd, 1L).otherwise(0L))
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    df.withColumn("__island", island)
      .groupBy((keyCols.map(col) :+ col("__island")): _*)
      .agg(min(col(startCol)).as(startCol), max(col(endCol)).as(endCol),
        count(lit(1)).as("n_merged"))
      .drop("__island")
  }

  /** The COMPLEMENT of [[mergeIntervals]]: the gaps between a key's
    * merged busy spans — idle windows, coverage holes, SLA dead air.
    * One extra key-sharded lag over the merged islands; a gap is the
    * open interval (prior island end, next island start), reported only
    * when strictly positive (touching islands have no gap — they merged).
    * Leading/trailing open-ended time is not a gap (nothing brackets
    * it). Output: key cols, gap_start, gap_end, gap_len. */
  def intervalGaps(df: DataFrame, keyCols: Seq[String],
                   startCol: String, endCol: String): DataFrame = {
    val merged = mergeIntervals(df, keyCols, startCol, endCol)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(startCol).asc)
    merged.withColumn("__pe", lag(col(endCol), 1).over(w))
      .where(col("__pe").isNotNull && col(startCol) > col("__pe"))
      .select((keyCols.map(col) :+ col("__pe").as("gap_start") :+
        col(startCol).as("gap_end") :+
        (col(startCol) - col("__pe")).as("gap_len")): _*)
  }

  /** Burstiness of a key's event stream — Goh-Barabási B = (σ−μ)/(σ+μ)
    * over inter-event times, with the coefficient of variation: B → −1
    * for a metronome, 0 for Poisson, → 1 for extreme bursts. Gaps are
    * exact epoch-µs longs (one key-sharded lag); moments sum as
    * DECIMAL(38,0) (gap squares pass 2^63) and cross the digit-string
    * hop once; σ/μ/B are one fixed dag. Keys with < 3 events (< 2 gaps)
    * are dropped — a single gap has no dispersion.
    * Output: (key…, n_gaps, mean_gap_us, sd_gap_us, cv, burstiness). */
  def burstiness(df: DataFrame, keyCols: Seq[String], tsCol: String,
                 tieCol: String): DataFrame = {
    require(keyCols.nonEmpty, "burstiness: need at least one key column")
    def d(c: Column) = c.cast("string").cast("double")
    val ks = keyCols.map(col)
    val w = Window.partitionBy(ks: _*)
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val gaps = df
      .withColumn("__pt", lag(graft.functions.Exprs.epochMicrosCivil(col(tsCol)), 1).over(w))
      .where(col("__pt").isNotNull)
      .withColumn("__g", graft.functions.Exprs.epochMicrosCivil(col(tsCol)) - col("__pt"))
    val m = gaps.groupBy(ks: _*)
      .agg(count(lit(1)).as("n_gaps"),
        d(sum(col("__g").cast("decimal(38,0)"))).as("__s"),
        d(sum(col("__g").cast("decimal(19,0)") *
          col("__g").cast("decimal(19,0)"))).as("__s2"))
      .where(col("n_gaps") >= 2)
    val nd = col("n_gaps").cast("double")
    val mean = col("__s") / nd
    val sd = sqrt(greatest(lit(0.0), nd * col("__s2") - col("__s") * col("__s"))) / nd
    m.select((ks :+ col("n_gaps") :+ mean.as("mean_gap_us") :+
        sd.as("sd_gap_us")): _*)
      .withColumn("cv", col("sd_gap_us") / col("mean_gap_us"))
      .withColumn("burstiness", (col("sd_gap_us") - col("mean_gap_us")) /
        (col("sd_gap_us") + col("mean_gap_us")))
  }

  /** First-order transition counts over per-key event sequences (the
    * Markov-chain face of event analytics: what follows what). Each key's
    * events order by (ts, tie); every adjacent pair contributes one
    * (from_type, to_type) observation; the last event of a key has no
    * successor and contributes nothing. One key-sharded lead window, one
    * hash aggregate on the (from, to) pair — both exchanges key-sharded.
    * The |types|² output is bounded metadata, never per-row data. */
  def transitions(df: DataFrame, keyCols: Seq[String], tsCol: String,
                  typeCol: String, tieCol: String): DataFrame = {
    require(keyCols.nonEmpty, "transitions: need at least one key column")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    df.withColumn("__next", lead(col(typeCol), 1).over(w))
      .where(col("__next").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** User-journey path mining: each user's first `depth` event types in
    * time order, concatenated with '>' — then paths counted across
    * users. The "what do people do first" query of product analytics.
    * Determinism: the tie column makes the per-user order total, and
    * the path string is built by an ordered collect INSIDE one window
    * pass (array_agg over the running prefix), so the same user always
    * yields the same path on any engine.
    *
    * Shape: one user-sharded window (rank + running prefix), one path
    * aggregate over the per-user PATH table (|users| rows). */
  def topPaths(df: DataFrame, userCol: String, tsCol: String,
               typeCol: String, tieCol: String, depth: Int): DataFrame = {
    require(depth > 0, "topPaths: depth must be positive")
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val ranked = df
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= depth)
    val path = ranked.groupBy(col(userCol))
      .agg(array_sort(collect_list(struct(col("__rn"), col(typeCol).as("t"))))
        .as("__steps"))
      .select(col(userCol),
        array_join(transform(col("__steps"), s => s("t")), ">").as("path"),
        size(col("__steps")).as("depth"))
    path.groupBy(col("path"), col("depth"))
      .agg(count(lit(1)).as("n_users"))
  }

  def burstLeaders(df: DataFrame, keyCols: Seq[String], tsCol: String,
                   gapSeconds: Long, tieCol: String): DataFrame = {
    require(keyCols.nonEmpty, "burstLeaders: need at least one key column")
    require(gapSeconds > 0, "burstLeaders: gapSeconds must be positive")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    df.withColumn("__prev", lag(col(tsCol), 1).over(w))
      .where(col("__prev").isNull ||
        graft.functions.Exprs.epochMicrosCivil(col(tsCol)) - graft.functions.Exprs.epochMicrosCivil(col("__prev")) >
          gapSeconds * 1000000L)
      .drop("__prev")
  }

  /** Sweep-line concurrency over half-open [start, end) intervals: per
    * key, the peak number of simultaneously-open intervals, the earliest
    * time that peak is reached, and the interval count — the "max
    * concurrent sessions / licenses / connections" question.
    *
    * Half-open semantics make the tie rule explicit: an interval ending
    * at t releases BEFORE one starting at t acquires, so back-to-back
    * intervals never double-count. The sweep therefore nets all deltas
    * per (key, time) FIRST (starts − ends at that instant) — this also
    * makes the running sum deterministic: a per-row cumulative sum over
    * tied timestamps would be order-dependent, but the per-instant
    * aggregate is not. Concurrency after instant t = prefix sum of nets;
    * the peak over the whole timeline is the max of that prefix series.
    *
    * Shape: one union of two projections of the interval table, one
    * (key, t) hash aggregate, one key-sharded window, one key aggregate —
    * every exchange keyed by the interval key, never a global window.
    * Peak + its earliest time fold as ONE max(struct(conc, −t)) so no
    * second pass re-scans for the argmax. */
  def concurrencyProfile(df: DataFrame, keyCols: Seq[String],
                         startCol: String, endCol: String): DataFrame = {
    require(keyCols.nonEmpty, "concurrencyProfile: need at least one key column")
    val ks = keyCols.map(col)
    val deltas =
      df.select((ks :+ col(startCol).cast("long").as("__t") :+
        lit(1L).as("__d")): _*)
        .unionByName(df.select((ks :+ col(endCol).cast("long").as("__t") :+
          lit(-1L).as("__d")): _*))
    val perInstant = deltas
      .groupBy((ks :+ col("__t")): _*)
      .agg(sum(col("__d")).as("__net"),
        sum(when(col("__d") > 0, 1L).otherwise(0L)).as("__starts"))
    val w = Window.partitionBy(ks: _*).orderBy(col("__t").asc)
    perInstant
      .withColumn("__conc",
        sum(col("__net")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(ks: _*)
      .agg(sum(col("__starts")).as("n_intervals"),
        max(struct(col("__conc"), (-col("__t")).as("__negt"))).as("__pk"))
      .select((ks :+ col("n_intervals") :+
        col("__pk.__conc").as("max_concurrency") :+
        (-col("__pk.__negt")).as("at_time")): _*)
  }

  /** Cumulative-unique counting ("users to date"): per period, how many
    * keys were active AND how many were seen for the FIRST time, plus
    * the running total of distinct keys ever seen — the growth-curve
    * query that a naive windowed COUNT(DISTINCT) cannot do at scale
    * (its state is the full key set per window).
    *
    * Shape: dedup to the (key, period) table (one key-sharded
    * aggregate), per-key MIN period (the first-seen table — one row per
    * key), then per-period counts and ONE prefix sum over the
    * distinct-period table (bounded by the calendar, the
    * histogramEquiDepth posture). Every shuffle is keyed; nothing holds
    * a key set in memory. Output per period: (period, active, first_seen,
    * cumulative). Periods with no events don't emit (compose with a
    * calendar spine for gap rows). */
  def cumulativeUnique(df: DataFrame, keyCol: String, tsCol: String,
                       unit: String = "day"): DataFrame = {
    val perKey = df.select(col(keyCol).as("__k"),
        graft.functions.Exprs.dateTruncCivil(unit, col(tsCol)).as("period"))
      .groupBy(col("__k"), col("period")).agg(count(lit(1)).as("__n"))
    val active = perKey.groupBy(col("period"))
      .agg(count(lit(1)).as("active"))
    val firstSeen = perKey.groupBy(col("__k"))
      .agg(min(col("period")).as("period"))
      .groupBy(col("period")).agg(count(lit(1)).as("first_seen"))
    // global window over the PERIOD table — bounded by the covered time
    // range, not the key count (sweep-audited r8)
    val w = Window.orderBy(col("period"))
      .rowsBetween(Window.unboundedPreceding, 0)
    active.join(firstSeen, Seq("period"), "left")
      .withColumn("first_seen", coalesce(col("first_seen"), lit(0L)))
      .withColumn("cumulative", sum(col("first_seen")).over(w))
  }

  /** Consecutive event-type n-grams per key (the order-n generalization
    * of [[transitions]]): each run of n adjacent events contributes one
    * 'a>b>c' pattern; counts aggregate corpus-wide with the distinct-key
    * support alongside (patterns common to many users vs one power
    * user's loop). n−1 lead columns from ONE key-sharded window pass,
    * one pattern aggregate. */
  def typeNgrams(df: DataFrame, keyCols: Seq[String], tsCol: String,
                 typeCol: String, tieCol: String, n: Int): DataFrame = {
    require(n >= 2, "typeNgrams: n must be >= 2")
    require(keyCols.nonEmpty, "typeNgrams: need at least one key column")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val stepNames = (0 until n).map(i => s"__s$i")
    val withSteps = (1 until n).foldLeft(
      df.withColumn("__s0", col(typeCol))) { (acc, i) =>
      acc.withColumn(s"__s$i", lead(col(typeCol), i).over(w))
    }
    withSteps
      .where(stepNames.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("__ngram", concat_ws(">", stepNames.map(col): _*))
      .groupBy(col("__ngram").as("ngram"))
      .agg(count(lit(1)).as("n"),
        count_distinct(struct(keyCols.map(col): _*)).as("n_keys"))
  }

  /** Sliding-window rate-limit audit: per event, how many of the key's
    * events fall in the trailing (t − W, t] window — RANGE-framed, so
    * simultaneous events count each other regardless of tie order (the
    * frame is value-based, deterministically) — and whether that count
    * exceeds `limitN`. The "who would my quota throttle" replay over
    * historical logs. One key-sharded range window; no state beyond the
    * frame. */
  def rateLimitFlags(df: DataFrame, keyCols: Seq[String], tsCol: String,
                     limitN: Long, windowSec: Long): DataFrame = {
    require(keyCols.nonEmpty, "rateLimitFlags: need at least one key column")
    require(limitN >= 1 && windowSec >= 1,
      "rateLimitFlags: limit and window must be positive")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__t"))
      .rangeBetween(-(windowSec * 1000000L - 1), 0)
    df.withColumn("__t", graft.functions.Exprs.epochMicrosCivil(col(tsCol)))
      .withColumn("window_count", count(lit(1)).over(w))
      .withColumn("over_limit", col("window_count") > limitN)
      .drop("__t")
  }

  /** Longest consecutive-day activity streak per key (the engagement
    * metric gamified apps pin badges on): dedup to (key, day), then the
    * classic gaps-and-islands constant — day-number minus the per-key
    * row_number is invariant exactly within a consecutive run — groups
    * runs without any self-join. Output per key: distinct active days,
    * number of streaks, the longest streak length, and that streak's
    * start day (ties → earliest, folded as one max(struct(len, −start))
    * — the concurrencyProfile argmax idiom). One key-sharded window +
    * two keyed aggregates. */
  def longestStreak(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val perDay = df.select(col(keyCol),
        to_date(col(tsCol)).as("__d")).distinct()
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__d").asc)
    val runs = perDay
      .withColumn("__island", datediff(col("__d"), lit("1970-01-01")) -
        row_number().over(w))
      .groupBy(col(keyCol), col("__island"))
      .agg(count(lit(1)).as("__len"), min(col("__d")).as("__start"))
    runs.groupBy(col(keyCol))
      .agg(sum(col("__len")).as("n_days"),
        count(lit(1)).as("n_streaks"),
        max(struct(col("__len"),
          (-datediff(col("__start"), lit("1970-01-01"))).as("__negs"),
          col("__start"))).as("__best"))
      .select(col(keyCol), col("n_days"), col("n_streaks"),
        col("__best.__len").as("longest"),
        col("__best.__start").as("streak_start"))
  }

  /** Linear multi-touch attribution with EXACT integer credit: each
    * user's first conversion distributes 1,000,000 credit mills equally
    * across their touch events strictly before it — base = 10⁶ div n
    * per touch, the division remainder to the EARLIEST touch (largest-
    * remainder style), so per-user credit sums to exactly 10⁶ and no
    * float crumbs appear at any aggregation level (the [[Sampling
    * .apportion]] exactness posture applied to attribution).
    *
    * One conversion-frontier aggregate, one keyed join onto the
    * type-pruned touch scan, one key-sharded rank window. Output: one
    * row per credited touch — (user, tie, type, ts, credit_mills).
    * Users without a conversion or without prior touches emit nothing. */
  def linearAttribution(df: DataFrame, userCol: String, tsCol: String,
                        typeCol: String, tieCol: String,
                        touchTypes: Seq[String],
                        convType: String): DataFrame = {
    require(touchTypes.nonEmpty, "linearAttribution: need touch types")
    require(!touchTypes.contains(convType),
      "linearAttribution: conversion type cannot also be a touch type")
    val conv = df.where(col(typeCol) === convType)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("__conv"))
    val w = Window.partitionBy(col(userCol))
    val touches = df.where(col(typeCol).isin(touchTypes: _*))
      .join(conv, Seq(userCol))
      .where(col(tsCol) < col("__conv"))
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__rn", row_number().over(
        w.orderBy(col(tsCol).asc, col(tieCol).asc)))
    touches.select(col(userCol), col(tieCol), col(typeCol), col(tsCol),
      (expr("1000000L div __n") +
        when(col("__rn") === 1, expr("1000000L % __n")).otherwise(0L))
        .as("credit_mills"))
  }

  /** U-shaped (position-based) attribution — the 40/20/40 industry
    * default: the FIRST touch before conversion gets 400,000 mills, the
    * LAST 400,000, and the middles split 200,000 with the integer
    * remainder to the EARLIEST middle ([[linearAttribution]]'s exactness
    * convention — per-user credit sums to exactly 1,000,000 at every
    * aggregation level). Degenerate paths: one touch → all 1,000,000;
    * two touches → 500,000 each (no middle to fund). Same shape as
    * linear: one conversion-frontier join + one user-sharded window. */
  def positionAttribution(df: DataFrame, userCol: String, tsCol: String,
                          typeCol: String, tieCol: String,
                          touchTypes: Seq[String],
                          convType: String): DataFrame = {
    require(touchTypes.nonEmpty, "positionAttribution: need touch types")
    require(!touchTypes.contains(convType),
      "positionAttribution: conversion type cannot also be a touch type")
    val conv = df.where(col(typeCol) === convType)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("__conv"))
    val w = Window.partitionBy(col(userCol))
    val touches = df.where(col(typeCol).isin(touchTypes: _*))
      .join(conv, Seq(userCol))
      .where(col(tsCol) < col("__conv"))
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__rn", row_number().over(
        w.orderBy(col(tsCol).asc, col(tieCol).asc)))
    val credit =
      when(col("__n") === 1, lit(1000000L))
        .when(col("__n") === 2, lit(500000L))
        .when(col("__rn") === 1 || col("__rn") === col("__n"), lit(400000L))
        .otherwise(expr("200000L div (__n - 2)") +
          when(col("__rn") === 2, expr("200000L % (__n - 2)")).otherwise(0L))
    touches.select(col(userCol), col(tieCol), col(typeCol), col(tsCol),
      credit.as("credit_mills"))
  }

  /** Time-decay attribution: touch i gets weight 2^(−age_days) relative
    * to the conversion instant — implemented as EXACT integer weights
    * w = 2^(maxAge − age) (ages clamp at `maxAgeDays`, so weights fit a
    * long and the ewmaLags integer-half-life convention carries over);
    * credit_mills = ⌊10⁶·w/Σw⌋ with the remainder to the EARLIEST touch.
    * Per-user credit again sums to exactly 1,000,000. One frontier join,
    * one user-sharded window pair (weight sum + rank). */
  def timeDecayAttribution(df: DataFrame, userCol: String, tsCol: String,
                           typeCol: String, tieCol: String,
                           touchTypes: Seq[String], convType: String,
                           maxAgeDays: Int = 30): DataFrame = {
    require(touchTypes.nonEmpty, "timeDecayAttribution: need touch types")
    require(maxAgeDays >= 1 && maxAgeDays <= 40,
      "timeDecayAttribution: maxAgeDays must be in [1, 40] (10^6 * 2^maxAge fits a long)")
    val conv = df.where(col(typeCol) === convType)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("__conv"))
    val w = Window.partitionBy(col(userCol))
    val age = least(
      expr(s"timestampdiff(MICROSECOND, ${tsCol}, __conv) div 86400000000L"),
      lit(maxAgeDays.toLong))
    val touches = df.where(col(typeCol).isin(touchTypes: _*))
      .join(conv, Seq(userCol))
      .where(col(tsCol) < col("__conv"))
      .withColumn("__age", age)
      .withColumn("__w", expr(s"shiftleft(1L, CAST($maxAgeDays - __age AS INT))"))
      .withColumn("__sw", sum(col("__w")).over(w))
      .withColumn("__rn", row_number().over(
        w.orderBy(col(tsCol).asc, col(tieCol).asc)))
    touches
      .withColumn("__base", expr("(1000000L * __w) div __sw"))
      // remainder = 10^6 − Σ floors, NOT a modulus of one term: the floor
      // losses of EVERY touch accumulate, and all of them go to the
      // earliest touch so per-user credit is exactly 10^6
      .withColumn("__rem", lit(1000000L) - sum(col("__base")).over(w))
      .select(col(userCol), col(tieCol), col(typeCol), col(tsCol),
        col("__w").as("weight"),
        (col("__base") +
          when(col("__rn") === 1, col("__rem")).otherwise(0L))
          .as("credit_mills"))
  }

  /** Count of PATTERN SUBSEQUENCES per key — every index-increasing
    * (i < j < k) triple of events typed (a, b, c): the "all funnel
    * paths" count, where [[funnel]] keeps only the first frontier. The
    * classic O(n) DP runs as TWO STACKED prefix windows over one
    * key-sharded sort: at each b-event, pairs_ab = count of prior a's;
    * at each c-event, triples += running sum of prior pairs_ab — no
    * joins, no explosion, counts are exact longs. Output: one row per
    * key (key, n_events, subseq_count). */
  def subsequenceCount(df: DataFrame, keyCol: String, tsCol: String,
                       tieCol: String, typeCol: String,
                       pattern: (String, String, String)): DataFrame = {
    val (a, b, c) = pattern
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val before = w.rowsBetween(Window.unboundedPreceding, -1)
    val aCnt = coalesce(sum(when(col(typeCol) === a, 1L)).over(before), lit(0L))
    val stepped = df
      .withColumn("__ab", when(col(typeCol) === b, aCnt))
    val abRun = coalesce(sum(col("__ab")).over(before), lit(0L))
    stepped
      .withColumn("__abc", when(col(typeCol) === c, abRun).otherwise(0L))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum(col("__abc")).as("subseq_count"))
  }

  /** Time from first `fromStage` to the first `toStage` STRICTLY after
    * it, per key — the conversion-latency measurement behind "how long
    * does view → purchase take" (feeds [[Profile.percentilesExact]] for
    * the latency distribution). Users who never convert are absent.
    * Two pushed-down per-stage scans, two key-sharded aggregates, one
    * keyed join — the [[funnel]] frontier shape for a single hop. */
  def funnelLatency(df: DataFrame, userCol: String, tsCol: String,
                    typeCol: String, fromStage: String,
                    toStage: String): DataFrame = {
    val first = df.where(col(typeCol) === fromStage)
      .groupBy(col(userCol)).agg(min(graft.functions.Exprs.epochMicrosCivil(col(tsCol))).as("from_us"))
    val converted = df.where(col(typeCol) === toStage)
      .select(col(userCol), graft.functions.Exprs.epochMicrosCivil(col(tsCol)).as("__t2"))
      .join(first, Seq(userCol))
      .where(col("__t2") > col("from_us"))
      .groupBy(col(userCol), col("from_us"))
      .agg(min(col("__t2")).as("to_us"))
    converted.select(col(userCol), col("from_us"), col("to_us"),
      (col("to_us") - col("from_us")).as("delay_us"))
  }

  /** Exact DAU / WAU / MAU + stickiness, without a rolling
    * COUNT(DISTINCT): a key active on day d is "covered" for the next
    * w−1 days, so trailing-window actives = distinct (key, covered-day)
    * counts — the (users × active-days) table fans out w× and dedups,
    * every step a keyed aggregate with bounded state (no per-window key
    * sets anywhere). Fan-out is on the DEDUPED (key, day) table, not raw
    * events — at 100 TB of events the dedup is the big reduction and the
    * ×30 fan is small change. Stickiness = DAU/MAU (6 dp). Only days
    * with activity emit (compose with a calendar spine for gaps). */
  def activeUserStats(df: DataFrame, keyCol: String, tsCol: String,
                      wauDays: Int = 7, mauDays: Int = 30): DataFrame = {
    require(wauDays >= 1 && mauDays >= 1,
      "activeUserStats: window lengths must be >= 1")
    val perDay = df.select(col(keyCol).as("__k"),
      to_date(col(tsCol)).as("__d")).distinct()
    val dau = perDay.groupBy(col("__d").as("day"))
      .agg(count(lit(1)).as("dau"))
    def rolling(wnd: Int, name: String) = perDay
      .select(col("__k"),
        explode(sequence(lit(0), lit(wnd - 1))).as("__i"), col("__d"))
      .select(col("__k"), date_add(col("__d"), col("__i")).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as(name))
    dau.join(rolling(wauDays, "wau"), Seq("day"))
      .join(rolling(mauDays, "mau"), Seq("day"))
      .withColumn("stickiness",
        round(col("dau").cast("double") / col("mau").cast("double"), 6))
  }

  /** Kaplan-Meier survival curves per group: subjects with a duration and
    * an event flag (true = observed event, false = right-censored);
    * S(t) = Π over event times t_i ≤ t of (1 − d_i / n_i), the standard
    * product-limit estimator (churn curves, time-to-failure,
    * time-to-conversion under censoring).
    *
    * Distributed shape: everything folds out of the per-(group, duration)
    * aggregate — at-risk counts are a SUFFIX sum over the distinct-
    * duration table (descending window), never a per-subject rank. The
    * prefix product is carried as a sum of per-factor ln's, each rounded
    * 6 dp and DECIMAL-summed so the accumulation is order-exact and any
    * engine replays it bit-for-bit (the q_tfidf ln convention); survival
    * re-exponentiates at the output edge, rounded 6 dp. A factor of zero
    * (everyone at risk dies at t) has no ln — the row and everything
    * after it report survival 0 via a prefix-max flag.
    *
    * Output: one row per (group, event time with d > 0) —
    * (group, t, n_at_risk, d, survival). Censoring times shape n_at_risk
    * but emit no row, per the estimator. */
  def kaplanMeier(df: DataFrame, groupCol: String, durationCol: String,
                  eventCol: Column): DataFrame = {
    val base = df.where(col(durationCol).isNotNull)
      .select(col(groupCol), col(durationCol).cast("long").as("__t"),
        when(eventCol, 1L).otherwise(0L).as("__d"))
    val perT = base.groupBy(col(groupCol), col("__t"))
      .agg(sum(col("__d")).as("__dd"), count(lit(1)).as("__c"))
    val wDesc = Window.partitionBy(col(groupCol)).orderBy(col("__t").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAsc = Window.partitionBy(col(groupCol)).orderBy(col("__t").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    perT.withColumn("__n", sum(col("__c")).over(wDesc))
      .where(col("__dd") > 0)
      .withColumn("__ln", when(col("__dd") < col("__n"),
        round(log(lit(1.0) -
          col("__dd").cast("double") / col("__n").cast("double")), 6)
          .cast("decimal(18,6)")))
      .withColumn("__zero",
        max(when(col("__dd") === col("__n"), 1L).otherwise(0L)).over(wAsc))
      .withColumn("__cum", sum(col("__ln")).over(wAsc))
      .select(col(groupCol), col("__t").as("t"), col("__n").as("n_at_risk"),
        col("__dd").as("d"),
        when(col("__zero") === 1, lit(0.0))
          .otherwise(round(exp(col("__cum").cast("double")), 6))
          .as("survival"))
  }

  /** Total pairwise overlap between two interval sets per key — the
    * co-presence / viewability aggregate: for every (a, b) pair under the
    * same key, overlap = max(0, min(e_a, e_b) − max(s_a, s_b)), summed
    * per key with the contributing pair count. Half-open [s, e): touching
    * intervals overlap zero and don't count as pairs.
    *
    * Scale shape (the q_range_join doctrine — NO key-only all-pairs
    * join): both sides bucketize by floor(t / bucketWidth); an interval
    * spans its covering buckets (explode over a bounded sequence —
    * `maxSpanBuckets` require()s the width is sane for the data), the
    * join keys on (key, bucket) so long keys shard by time, and each
    * pair counts ONCE at the canonical bucket containing max(s_a, s_b) —
    * the bucket where the overlap (or the pair's closest approach)
    * begins. Integer arithmetic end to end.
    * Output: (key, n_pairs, total_overlap). */
  def overlapDuration(dfA: DataFrame, dfB: DataFrame, keyCol: String,
                      startCol: String, endCol: String, bucketWidth: Long,
                      maxSpanBuckets: Int = 64): DataFrame = {
    require(bucketWidth > 0, "overlapDuration: bucketWidth must be > 0")
    def prep(df: DataFrame, tag: String): DataFrame = {
      val s = col(startCol).cast("long")
      val e = col(endCol).cast("long")
      // the span guard lives INSIDE the sequence bound (a pruned side
      // column would be dead-code-eliminated and never fire)
      val endBucket = expr(s"__e$tag div ${bucketWidth}L")
      val guarded = when(
        endBucket - expr(s"__s$tag div ${bucketWidth}L") < maxSpanBuckets,
        endBucket).otherwise(raise_error(lit(
          s"overlapDuration: interval spans >= $maxSpanBuckets buckets — " +
            "raise bucketWidth")).cast("long"))
      df.select(col(keyCol).as("__k"), s.as(s"__s$tag"), e.as(s"__e$tag"))
        .where(col(s"__s$tag").isNotNull && col(s"__e$tag").isNotNull &&
          col(s"__e$tag") >= col(s"__s$tag"))
        .withColumn("__b", explode(sequence(
          expr(s"__s$tag div ${bucketWidth}L"), guarded)))
    }
    val a = prep(dfA, "a")
    val b = prep(dfB, "b")
    val paired = a.join(b, Seq("__k", "__b"))
      .where(expr(s"greatest(__sa, __sb) div ${bucketWidth}L") === col("__b"))
      .select(col("__k"),
        greatest(lit(0L), least(col("__ea"), col("__eb")) -
          greatest(col("__sa"), col("__sb"))).as("__ov"))
    val agg = paired.groupBy(col("__k"))
      .agg(sum(when(col("__ov") > 0, 1L).otherwise(0L)).as("n_pairs"),
        sum(col("__ov")).as("total_overlap"))
    // OUTPUT-SET fix (r17, pre-existing, surfaced by the sf0.001 sweep):
    // the quadratic oracle emits a (key, 0, 0) row for every key present
    // on BOTH sides even when no pair overlaps, but the bucketized join
    // drops keys whose cross pairs never share a bucket — invisible on
    // dense data (every key has a bucket-sharing pair at sf0.01+), a
    // 14-row deficit at sf0.001. Emit the co-present key set explicitly;
    // two key-distinct aggregates, scale-trivial.
    val keys = a.select(col("__k")).distinct()
      .join(b.select(col("__k")).distinct(), Seq("__k"))
    keys.join(agg, Seq("__k"), "left")
      .select(col("__k").as("key"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("total_overlap"), lit(0L)).as("total_overlap"))
  }
}
