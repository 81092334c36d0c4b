package graft.pipeline

import graft.pipeline.Checkpoints.DatasetCheckpointOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StringType}

/** Data-profiling report: per-column null counts, distinct counts, numeric
  * ranges, and string-length stats in ONE aggregation pass — the
  * "describe your 100 TB table" operator a pipeline runs before training.
  * Beyond-reference surface (the reference has no profiling operator).
  *
  * The wide aggregate computes every column's metrics in a single scan;
  * the per-column rows are then unpivoted from the 1-row result with a
  * stack projection (driver-free — the 1×(7·cols) row never leaves the
  * executors).
  */
object Profile {

  /** Profile `cols` of `df`. Output: one row per column —
    * (col_name, n_nonnull, n_null, n_distinct, min_num, max_num, avg_len) —
    * min/max_num are NULL for non-numeric columns, avg_len is NULL for
    * non-string columns.
    *
    * `exactDistinct = true` uses COUNT(DISTINCT) — Catalyst's multi-
    * distinct rewrite EXPANDS the input ×cols, the right trade at gate
    * scale. At 100 TB profile breadth, pass false for HyperLogLog++
    * (`rsd` relative error): single pass, no expansion, fixed memory —
    * the same partial/final mergeable-sketch shape as Sketches. */
  def profileColumns(df: DataFrame, cols: Seq[String],
                     exactDistinct: Boolean = true, rsd: Double = 0.02): DataFrame = {
    require(cols.nonEmpty, "profileColumns: need at least one column")
    val aggs: Seq[Column] = cols.flatMap { c =>
      val isNum = df.schema(c).dataType.isInstanceOf[NumericType]
      val isStr = df.schema(c).dataType == StringType
      val nd = if (exactDistinct) count_distinct(col(c))
               else approx_count_distinct(col(c), rsd)
      Seq(
        count(col(c)).as(s"__nn_$c"),
        // coalesce: SUM over zero rows is NULL, but "0 nulls" is the
        // truthful report for an empty input
        coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L)).as(s"__nl_$c"),
        nd.as(s"__nd_$c"),
        (if (isNum) min(col(c)).cast("double") else lit(null).cast("double")).as(s"__mn_$c"),
        (if (isNum) max(col(c)).cast("double") else lit(null).cast("double")).as(s"__mx_$c"),
        (if (isStr) avg(length(col(c))) else lit(null).cast("double")).as(s"__al_$c"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val perCol = cols.map { c =>
      struct(lit(c).as("col_name"),
        col(s"__nn_$c").as("n_nonnull"), col(s"__nl_$c").as("n_null"),
        col(s"__nd_$c").as("n_distinct"),
        col(s"__mn_$c").as("min_num"), col(s"__mx_$c").as("max_num"),
        col(s"__al_$c").as("avg_len"))
    }
    wide.select(explode(array(perCol: _*)).as("p")).select(col("p.*"))
  }

  /** Winsorize: clamp a numeric column to its [pLo, pHi] percentiles —
    * the outlier-capping step before training on heavy-tailed features.
    * The two percentiles ride a broadcast 1-row aggregate (one extra
    * pass), then the clamp itself is a pure codegen projection. Output
    * replaces `valueCol` with the clamped value (NULLs pass through
    * unclamped).
    *
    * `exact = true` uses the exact interpolating `percentile` aggregate
    * (cross-engine-identical to DuckDB's quantile_cont — what the gate
    * verifies) — but it BUFFERS every value in the aggregation state, so
    * at 100 TB pass false for the GK-sketch `approx_percentile`
    * (`accuracy` = 1/eps): fixed memory, mergeable partials, bounds off
    * by at most the rank error — harmless for outlier capping. */
  def winsorize(df: DataFrame, valueCol: String,
                pLo: Double = 0.01, pHi: Double = 0.99,
                exact: Boolean = true, accuracy: Int = 10000): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo <= pHi, "winsorize: need 0 <= pLo <= pHi <= 1")
    val fn = if (exact) "percentile" else "approx_percentile"
    val acc = if (exact) "" else s", $accuracy"
    // ONE array-percentile aggregate: both bounds share a single value
    // buffer / sketch — two scalar percentile aggs each buffer the whole
    // column independently (measured ~2x on the exact path at sf0.1)
    val bounds = df.agg(
      expr(s"$fn(`$valueCol`, array($pLo, $pHi)$acc)").as("__b"))
      .select(col("__b")(0).as("__lo"), col("__b")(1).as("__hi"))
    // NULL guard: Spark's greatest/least SKIP nulls (they don't propagate
    // them), so an unguarded clamp would silently turn NULL into the lower
    // bound — NULLs must pass through as NULLs
    val clamped = when(col(valueCol).isNotNull,
      least(greatest(col(valueCol).cast("double"), col("__lo")), col("__hi")))
    df.crossJoin(broadcast(bounds))
      .withColumn(valueCol, clamped)
      .drop("__lo", "__hi")
  }

  /** Equi-width histogram over [lo, hi): one codegen projection + one
    * partial/final count aggregation keyed by bin — the column-
    * distribution profile at any scale. Out-of-range mass is KEPT, not
    * dropped: values below lo land in bin −1, values ≥ hi in bin
    * `nBins`, so Σn equals the non-NULL row count (mass conservation is
    * what makes a histogram trustworthy); NULLs get a NULL bin. The bin
    * arithmetic is plain floor((v−lo)·nBins/(hi−lo)) — deliberately NOT
    * width_bucket(), which not every engine ships — so the q_histogram
    * oracle replays it textually, and IEEE double ops make boundary
    * assignment identical across engines. */
  def histogram(df: DataFrame, valueCol: String, lo: Double, hi: Double,
                nBins: Int): DataFrame = {
    require(nBins > 0, "histogram: nBins must be positive")
    require(hi > lo, "histogram: need hi > lo")
    val v = col(valueCol).cast("double")
    val bin = when(v.isNull, lit(null).cast("long"))
      .when(v < lo, lit(-1L))
      .when(v >= hi, lit(nBins.toLong))
      .otherwise(floor((v - lit(lo)) * lit(nBins) / (lit(hi) - lit(lo))))
    df.select(bin.as("bin")).groupBy("bin").agg(count(lit(1)).as("n"))
  }

  /** 2-D equi-width histogram — the density grid behind heatmaps and
    * coarse spatial joins: the [[histogram]] bucket rule applied per
    * axis (−1 underflow, nBins overflow, NULL for NULL coords — a row
    * with EITHER coordinate NULL lands in the (NULL, NULL) cell so mass
    * is conserved: Σn = row count, always). One projection + one
    * (bx, by) aggregate. */
  def histogram2d(df: DataFrame, xCol: String, yCol: String,
                  xLo: Double, xHi: Double, nx: Int,
                  yLo: Double, yHi: Double, ny: Int): DataFrame = {
    require(nx > 0 && ny > 0, "histogram2d: bin counts must be positive")
    require(xHi > xLo && yHi > yLo, "histogram2d: need hi > lo on both axes")
    def bin(c: Column, lo: Double, hi: Double, n: Int) =
      when(c.isNull, lit(null).cast("long"))
        .when(c < lo, lit(-1L))
        .when(c >= hi, lit(n.toLong))
        .otherwise(floor((c - lit(lo)) * lit(n) / (lit(hi) - lit(lo))))
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val anyNull = x.isNull || y.isNull
    df.select(
        when(anyNull, lit(null).cast("long"))
          .otherwise(bin(x, xLo, xHi, nx)).as("bx"),
        when(anyNull, lit(null).cast("long"))
          .otherwise(bin(y, yLo, yHi, ny)).as("by"))
      .groupBy("bx", "by").agg(count(lit(1)).as("n"))
  }

  /** Group-wise WEIGHTED least squares y = slope·x + intercept with
    * per-row weights (row importance / frequency / exposure): the
    * weighted normal equations over exact decimal moment sums — W = Σw,
    * slope = (W·Σwxy − Σwx·Σwy)/(W·Σwx² − (Σwx)²), intercept =
    * (Σwy − slope·Σwx)/W — one fixed dag over digit-string moments
    * (the linearFit convention; slope materializes before intercept).
    * Per-ROW decimal products stay small (the int64-path contract:
    * feed row-level values, not pre-aggregated sums). */
  def weightedLinearFit(df: DataFrame, groupCol: String, xCol: String,
                        yCol: String, wCol: String): DataFrame = {
    def d(c: Column) = c.cast("string").cast("double")
    val x = col(xCol).cast("decimal(12,2)")
    val y = col(yCol).cast("decimal(12,2)")
    val wt = col(wCol).cast("decimal(12,2)")
    val m = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        d(sum(wt)).as("__w"),
        d(sum(wt * x)).as("__swx"), d(sum(wt * y)).as("__swy"),
        d(sum(wt * x * y)).as("__swxy"),
        d(sum(wt * x * x)).as("__swxx"))
    val withSlope = m.withColumn("slope",
      (col("__w") * col("__swxy") - col("__swx") * col("__swy")) /
        (col("__w") * col("__swxx") - col("__swx") * col("__swx")))
    withSlope.select(col(groupCol), col("n"), col("__w").as("w_sum"),
      col("slope"),
      ((col("__swy") - col("slope") * col("__swx")) / col("__w"))
        .as("intercept"))
  }

  /** EXACT equi-depth histogram: k buckets of (near-)equal row count over
    * the global (value, tie-break keys) order. Bucket of the rank-r row
    * (1-based) is (r−1)·k div n — ANSI integer arithmetic any engine
    * replays. NULL values are dropped (they have no rank).
    *
    * Output: (bucket, n, lo, hi) — count and value range per bucket.
    *
    * Distributed shape: the global rank is NOT a single-partition window
    * over the rows. Per-distinct-value counts aggregate first (one
    * exchange, massively reduced), the prefix sum runs over the DISTINCT-
    * value table (a window whose input is |distinct values| rows — the
    * documented compromise; at extreme distinct cardinality swap in a
    * range-partitioned two-pass prefix sum), and each row's within-value
    * rank is a window PARTITIONED by value (distributed; a pathologically
    * hot single value concentrates its partition — the same caveat as any
    * per-key window, and the per-value count table tells you beforehand).
    * The row count n arrives via a broadcast one-row cross join, not a
    * collect. */
  def histogramEquiDepth(df: DataFrame, valueCol: String,
                         keyCols: Seq[String], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, "histogramEquiDepth: k must be positive")
    require(keyCols.nonEmpty, "histogramEquiDepth: need tie-break key columns")
    val v = df.select((col(valueCol).cast("double").as("__v") +:
        keyCols.map(c => col(c).as(s"__k_$c"))): _*)
      .where(col("__v").isNotNull)
    val counts = v.groupBy("__v").agg(count(lit(1)).as("__c"))
    // round 8: distinct-value prefix via prefixFold (range exchange)
    // instead of the single-reducer global window — the distinct-value
    // table can grow with the data (all-distinct values = one dead core).
    val cum = prefixFold(counts, Seq(col("__v").asc),
        Seq(PrefixSum(col("__c"), "__b")))
      .withColumn("__before", coalesce(col("__b"), lit(0L)))
    val total = counts.agg(sum("__c").as("__n"))
    val wv = Window.partitionBy("__v")
      .orderBy(keyCols.map(c => col(s"__k_$c")): _*)
    v.join(cum.select("__v", "__before"), Seq("__v"))
      .withColumn("__r", col("__before") + row_number().over(wv))
      .crossJoin(broadcast(total))
      .withColumn("bucket", expr(s"(__r - 1) * $k div __n"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), min("__v").as("lo"), max("__v").as("hi"))
  }

  /** Quantile (rank) normalization: map each value to its empirical CDF
    * position cume = (# rows with value ≤ v) / n — the feature-scaling
    * transform that is invariant to any monotone distortion of the raw
    * column. Ties share one cume value (classic cume_dist semantics), so
    * the result needs no tie-break keys and is exactly portable: the
    * count arithmetic is integer, the single final division is one
    * double op.
    *
    * Distributed shape: same distinct-value rank trick as
    * [[histogramEquiDepth]] — per-value counts (one reduced exchange), a
    * prefix sum over the DISTINCT-value table, then a value-keyed join
    * back; no per-row window anywhere. Output: input columns of
    * `keepCols` + (valueCol, cume). NULL values pass through with NULL
    * cume. */
  def quantileNormalize(df: DataFrame, valueCol: String,
                        keepCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = df.select((col(valueCol).cast("double").as("__v") +:
      keepCols.map(col)): _*)
    val counts = v.where(col("__v").isNotNull)
      .groupBy("__v").agg(count(lit(1)).as("__c"))
    // round 8: inclusive cume via the prefixFold range exchange (see
    // histogramEquiDepth) — exclusive prefix + own count.
    val cum = prefixFold(counts, Seq(col("__v").asc),
        Seq(PrefixSum(col("__c"), "__b")))
      .withColumn("__cum", coalesce(col("__b"), lit(0L)) + col("__c"))
    val tot = counts.agg(sum("__c").as("__n"))
    v.join(cum.select("__v", "__cum"), Seq("__v"), "left")
      .crossJoin(broadcast(tot))
      .select((keepCols.map(col) :+ col("__v").as(valueCol) :+
        (col("__cum").cast("double") / col("__n").cast("double")).as("cume")): _*)
  }

  /** Lower median per group WITHOUT a per-row window: per-distinct-value
    * counts (one reduced exchange), a prefix sum over the distinct-value
    * table, then min value whose cumulative count reaches rank
    * (n+1) div 2 — the same distributed-rank shape as
    * [[histogramEquiDepth]], exact and replayable in ANSI SQL. Input
    * frame must have columns (__g, __v); output (__g, med). */
  /** Input is the pre-counted distinct-value table (__g, __v, __c) — so a
    * caller computing several medians pays the row-level exchange ONCE. */
  private def lowerMedianOfCounts(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cum = counts.withColumn("__cum",
      sum("__c").over(Window.partitionBy("__g").orderBy("__v")))
    val tot = counts.groupBy("__g").agg(sum("__c").as("__n"))
    cum.join(tot, Seq("__g"))
      .where(col("__cum") >= expr("(__n + 1) div 2"))
      .groupBy("__g").agg(min("__v").as("med"))
  }

  /** Robust outlier summary per group: lower median, MAD (median absolute
    * deviation, lower-median convention so every statistic is an ACTUAL
    * data value — no interpolation, hence bit-portable across engines),
    * and the count of rows with |x − med| > k·MAD. NULL values are
    * ignored. Output: (group, n, med, mad, n_outliers).
    *
    * The raw rows are exchanged exactly ONCE (the per-(group, value)
    * count); deviations, the second median, and the outlier tally all
    * derive from that distinct-value table, with the one-row-per-group
    * med/mad frames BROADCAST back (a low-cardinality group column must
    * never key a row-level exchange — it funnels the table through a
    * handful of reducers). */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
                  k: Double = 3.0): DataFrame = {
    require(k > 0, "madOutliers: k must be positive")
    val v = df.select(col(groupCol).as("__g"), col(valueCol).cast("double").as("__v"))
      .where(col("__v").isNotNull)
    val c1 = v.groupBy("__g", "__v").agg(count(lit(1)).as("__c"))
    val med = lowerMedianOfCounts(c1)
    // deviation-value counts fold out of the distinct-value table — the
    // raw rows are never rescanned
    val devc = c1.join(broadcast(med), Seq("__g"))
      .groupBy(col("__g"), abs(col("__v") - col("med")).as("__v"))
      .agg(sum("__c").as("__c"))
    val mad = lowerMedianOfCounts(devc).withColumnRenamed("med", "mad")
    devc.join(broadcast(med), Seq("__g")).join(broadcast(mad), Seq("__g"))
      .groupBy(col("__g").as(groupCol))
      .agg(sum("__c").as("n"), first(col("med")).as("med"),
        first(col("mad")).as("mad"),
        sum(when(col("__v") > lit(k) * col("mad"), col("__c"))
          .otherwise(0L)).as("n_outliers"))
  }

  /** Exact bivariate statistics per group: Pearson correlation and sample
    * covariance from DECIMAL moment sums (n, Σx, Σy, Σxy, Σx², Σy²).
    * Decimal addition is associative — the sums are bit-identical under
    * ANY partitioning / reduce order, unlike a naive double accumulation
    * (and unlike Spark's own `corr`, whose double partials are order-
    * sensitive in the last ulps). The final r/cov are computed in DOUBLE
    * from the exact sums with a fixed expression shape, so any engine
    * reproduces them bit-for-bit from the same moments.
    *
    * One partial-aggregated exchange on the group key; nothing else. */
  /** The six exact moments behind [[corrExact]] and [[linearFit]]:
    * (group, n, Σx, Σy, Σxy, Σx², Σy²) as doubles derived from
    * DECIMAL(12,2) sums — (12,2) is wide enough for monetary/count
    * inputs and the cross product stays within 24 digits, so int128
    * decimal engines replay it exactly. decimal → double goes THROUGH
    * THE EXACT DIGIT STRING: engines differ in native decimal→double
    * casts once the unscaled value passes 2^53 (some compute
    * unscaled/10^scale in floats — two roundings), but string→double
    * parsing is correctly rounded everywhere, so the doubles are
    * bit-identical at any scale. */
  private def momentSums(df: DataFrame, groupCol: String, xCol: String,
                         yCol: String): DataFrame = {
    val x = col(xCol).cast("decimal(12,2)")
    val y = col(yCol).cast("decimal(12,2)")
    def d(c: Column) = c.cast("string").cast("double")
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        d(sum(x)).as("__sx"), d(sum(y)).as("__sy"),
        d(sum(x * y)).as("__sxy"),
        d(sum(x * x)).as("__sxx"),
        d(sum(y * y)).as("__syy"))
  }

  def corrExact(df: DataFrame, groupCol: String, xCol: String,
                yCol: String): DataFrame = {
    val g = momentSums(df, groupCol, xCol, yCol)
    val nd = col("n").cast("double")
    g.select(col(groupCol), col("n"),
        ((nd * col("__sxy") - col("__sx") * col("__sy")) /
          (sqrt(nd * col("__sxx") - col("__sx") * col("__sx")) *
           sqrt(nd * col("__syy") - col("__sy") * col("__sy")))).as("corr"),
        ((nd * col("__sxy") - col("__sx") * col("__sy")) /
          (nd * (nd - lit(1.0)))).as("cov_samp"))
  }

  /** Group-wise ordinary-least-squares fit y = slope·x + intercept from
    * the same exact moments (order-independent, bit-portable):
    * slope = (n·Σxy − Σx·Σy)/(n·Σx² − Σx²ᵉ), intercept = (Σy −
    * slope·Σx)/n, r² from the squared covariance ratio. Intercept reuses
    * the MATERIALIZED slope column so both engines evaluate the shared
    * subterm once — identical expression shape, identical doubles. */
  def linearFit(df: DataFrame, groupCol: String, xCol: String,
                yCol: String): DataFrame = {
    val g = momentSums(df, groupCol, xCol, yCol)
    val nd = col("n").cast("double")
    g.select(col(groupCol), col("n"), col("__sx"), col("__sy"),
        col("__sxy"), col("__sxx"), col("__syy"),
        ((nd * col("__sxy") - col("__sx") * col("__sy")) /
          (nd * col("__sxx") - col("__sx") * col("__sx"))).as("slope"))
      .select(col(groupCol), col("n"), col("slope"),
        ((col("__sy") - col("slope") * col("__sx")) / nd).as("intercept"),
        (((nd * col("__sxy") - col("__sx") * col("__sy")) *
          (nd * col("__sxy") - col("__sx") * col("__sy"))) /
          ((nd * col("__sxx") - col("__sx") * col("__sx")) *
           (nd * col("__syy") - col("__sy") * col("__sy")))).as("r2"))
  }

  /** Distributed exclusive prefix counts over a (value, count) table —
    * THE replacement for the `Window.orderBy(value)` single-partition
    * global window, the one Spark shape that silently stops scaling:
    * an un-partitioned ordered window moves EVERY row through one
    * reducer, so wall time is bounded by one core no matter the cluster
    * (measured here: q_fdr 7.3× wall at 10× data before this primitive;
    * 2.0× after). Reach for this whenever a global rank / cumulative
    * count / quantile boundary is taken over a column whose distinct
    * cardinality grows with the data — p-values, scores, revenues.
    * Aggregate to (value, count) first; only when the DISTINCT value
    * table is provably small (a fixed enum, bounded buckets) is the
    * plain global window acceptable, and such sites should say so.
    *
    * Two-level shape: range-partition the distinct-value table
    * (partition order = value order by the RangePartitioner contract),
    * per-partition totals fold to a partition-count-sized table whose
    * window is trivial, and the within-partition prefix windows are
    * partition-local. The result — for each value, the summed count of
    * STRICTLY smaller (ascending) or larger (descending) values — is
    * independent of where range boundaries land, so sampling inside the
    * partitioner cannot affect output. Used by the FDR/BH rank, decile
    * lift, equi-depth histograms and the global-rank faces.
    * Returns (value, __off). */
  def prefixOffsets(counts: DataFrame, valueCol: String,
                    countCol: String,
                    ascending: Boolean): DataFrame = {
    val order = if (ascending) col(valueCol).asc else col(valueCol).desc
    prefixFold(counts, Seq(order),
      Seq(PrefixSum(col(countCol), "__off")))
      .select(col(valueCol), coalesce(col("__off"), lit(0L)).as("__off"))
  }

  /** One exclusive prefix aggregate in a [[prefixFold]]: `out` carries
    * the fold of `agg` over all rows STRICTLY before the current one in
    * the requested total order. [[PrefixSum]] folds sums (missing prefix
    * = typed zero via coalesce with the aggregate's own null), and
    * [[PrefixMax]] folds running maxima (missing prefix = NULL — the
    * caller sees "no predecessor" explicitly, the skyline contract). */
  sealed trait PrefixAgg {
    def src: Column; def out: String
    private[Profile] def aggFn(c: Column): Column
    private[Profile] def combine(a: Column, b: Column): Column
  }
  final case class PrefixSum(src: Column, out: String) extends PrefixAgg {
    private[Profile] def aggFn(c: Column): Column = sum(c)
    private[Profile] def combine(a: Column, b: Column): Column =
      when(a.isNull, b).when(b.isNull, a).otherwise(a + b)
  }
  final case class PrefixMax(src: Column, out: String) extends PrefixAgg {
    private[Profile] def aggFn(c: Column): Column = max(c)
    private[Profile] def combine(a: Column, b: Column): Column = greatest(a, b)
  }

  /** The generalized two-level distributed EXCLUSIVE prefix fold — the
    * engine under [[prefixOffsets]] and every global cumulative shape
    * here: range-partition `df` by the requested sort order (partition
    * index follows the order by the RangePartitioner contract — including
    * descending sort columns), run each aggregate as a partition-LOCAL
    * exclusive window, fold per-partition totals on the bounded
    * (#partitions)-row table, and combine. No row ever passes through a
    * single-reducer global window; results are independent of where the
    * sampled range boundaries land. The sort order should be total (add
    * tie-break columns) whenever `df` can hold duplicate sort keys and
    * per-row determinism matters. Appends one column per [[PrefixAgg]];
    * a sum with no preceding rows is NULL (callers coalesce with their
    * typed zero), a max with none is NULL.
    *
    * Durability: the checkpoint goes through [[Checkpoints.stageCheckpoint]]
    * — a reliable checkpoint on clusters that set a checkpoint dir (local
    * checkpoint blocks die with their executor and CANNOT be recomputed
    * past the lineage truncation), a local one otherwise.
    *
    * Ownership: the returned frame reads the checkpoint, so the
    * checkpoint belongs to it (the [[Checkpoints]] rule). ContextCleaner
    * frees its blocks once the frame is unreachable; a caller done with
    * the frame earlier calls `releaseInputs()`. */
  def prefixFold(df: DataFrame, sortCols: Seq[Column],
                 aggs: Seq[PrefixAgg]): DataFrame = {
    require(sortCols.nonEmpty, "prefixFold: need at least one sort column")
    require(aggs.nonEmpty, "prefixFold: need at least one aggregate")
    // The lazy checkpoint is LOAD-BEARING: the per-row window branch and
    // the per-partition totals branch below both consume `ranged`, and
    // without one shared materialization each branch re-executes the
    // range exchange under its own AQE coalescing — the two runs can
    // renumber spark_partition_id differently, silently corrupting (or
    // dropping, via the pid join) cross-partition offsets. Invisible at
    // toy scale where AQE coalesces everything to one partition; found
    // by the sf1 sweep (q_ntile emitted six buckets, q_rfm lost a third
    // of its rows).
    val ranged = df.repartitionByRange(sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .stageCheckpoint(false)
    val wIn = Window.partitionBy("__pid").orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val inner = aggs.zipWithIndex.foldLeft(ranged) { case (d, (a, i)) =>
      d.withColumn(s"__in_$i", a.aggFn(a.src).over(wIn))
    }
    val wPid = Window.orderBy(col("__pid").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val totals = ranged.groupBy("__pid")
      .agg(aggs.head.aggFn(aggs.head.src).as("__pt_0"),
        aggs.tail.zipWithIndex.map { case (a, i) =>
          a.aggFn(a.src).as(s"__pt_${i + 1}")
        }: _*)
    val pidOffsets = aggs.zipWithIndex.foldLeft(totals) { case (d, (a, i)) =>
      d.withColumn(s"__po_$i", a.aggFn(col(s"__pt_$i")).over(wPid))
    }.select((col("__pid") +:
      aggs.indices.map(i => col(s"__po_$i"))): _*)
    val joined = inner.join(pidOffsets, Seq("__pid"))
    aggs.zipWithIndex.foldLeft(joined) { case (d, (a, i)) =>
      d.withColumn(a.out, a.combine(col(s"__in_$i"), col(s"__po_$i")))
        .drop(s"__in_$i", s"__po_$i")
    }.drop("__pid")
  }

  /** 0-based global position of every row in a TOTAL order — the
    * distributed replacement for `row_number().over(Window.orderBy(...))`
    * (see [[prefixFold]]). A/B note (r8): the RDD zipWithIndex shape
    * (Relational.withRowidOrdered) was measured SLOWER here — the
    * row-serialization hop costs more than prefixFold's checkpoint
    * (3-rank q_rfm at sf0.1: 2.3 s zipWithIndex vs 1.5 s prefixFold) —
    * so this stays in the DataFrame planner. The order must be total or
    * equal rows get an arbitrary (but valid) relative order, exactly
    * like row_number. */
  def rowPositions(df: DataFrame, outCol: String,
                   sortCols: Column*): DataFrame =
    prefixFold(df, sortCols, Seq(PrefixSum(lit(1L), outCol)))
      .withColumn(outCol, coalesce(col(outCol), lit(0L)))

  /** Per-GROUP 0-based row positions in one pass — the distributed
    * replacement for the `Window.partitionBy(fewGroups).orderBy(...)`
    * shape whose reducer count equals the GROUP count (3 groups = 3 live
    * cores regardless of cluster size — the q_ntile 8.1×-at-10× shape).
    * Range-partitions by (group, sort) jointly so one group's rows spread
    * over many partitions; the cross-partition fix-up joins on the
    * bounded (#partitions × #groups) totals table. A NULL group key forms
    * its own group (the fix-up join is null-safe), exactly as
    * `Window.partitionBy` treats NULL partitions — no row is dropped. */
  def groupedRowPositions(df: DataFrame, groupCols: Seq[Column],
                          outCol: String, sortCols: Column*): DataFrame = {
    require(groupCols.nonEmpty, "groupedRowPositions: need group columns")
    val gNames = groupCols.indices.map(i => s"__g_$i")
    val withG = groupCols.zip(gNames).foldLeft(df) { case (d, (c, n)) =>
      d.withColumn(n, c)
    }
    val ranged = withG
      .repartitionByRange((gNames.map(col(_).asc) ++ sortCols): _*)
      .withColumn("__pid", spark_partition_id())
      .stageCheckpoint(false) // shared pid assignment — see prefixFold
    val wIn = Window.partitionBy(("__pid" +: gNames).map(col(_)): _*)
      .orderBy(sortCols: _*)
    val inner = ranged.withColumn("__in", row_number().over(wIn) - 1)
    val wPid = Window.partitionBy(gNames.map(col(_)): _*)
      .orderBy(col("__pid").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val totals = ranged.groupBy(("__pid" +: gNames).map(col(_)): _*)
      .agg(count(lit(1)).as("__pt"))
      .withColumn("__po", coalesce(sum(col("__pt")).over(wPid), lit(0L)))
      .select((col("__pid").as("__pid_t") +: gNames.map(n => col(n).as(s"${n}_t")))
        :+ col("__po"): _*)
    // null-safe on the group keys: NULL groups keep their rows and get
    // real positions computed within the NULL group
    val joinCond = (col("__pid") === col("__pid_t")) &&
      gNames.map(n => col(n) <=> col(s"${n}_t")).reduce(_ && _)
    inner.join(totals, joinCond)
      .withColumn(outCol, col("__in") + col("__po"))
      .drop((gNames ++ gNames.map(_ + "_t") ++
        Seq("__pid", "__pid_t", "__in", "__po")): _*)
  }

  /** Spark/ANSI `ntile(k)` bucket from a 0-based position and group size:
    * the first n%k buckets take ⌈n/k⌉ rows, the rest ⌊n/k⌋ — the exact
    * semantics of the window function, as a plain expression over
    * [[rowPositions]]/[[groupedRowPositions]] output. Integer division
    * via floor-of-exact-double (`/` on long Columns is double division);
    * exact for any count below 2⁵³. */
  def ntileAt(pos: Column, n: Column, k: Int): Column = {
    def idiv(a: Column, b: Column): Column =
      floor(a.cast("double") / b.cast("double")).cast("long")
    val q = idiv(n.cast("long"), lit(k.toLong))
    val r = n.cast("long") % k
    val cut = r * (q + 1)
    when(pos < cut, idiv(pos, q + 1) + 1)
      .otherwise(r + idiv(pos - cut, q) + 1)
  }

  /** Group-wise TWO-feature OLS y = b0 + b1·x1 + b2·x2 by the closed
    * Cramer form over exact decimal moments — the smallest multiple
    * regression, and the largest whose normal equations stay a fixed
    * expression dag (no iterative solver, no matrix library). The nine
    * DECIMAL(12,2) moment sums are order-independent (bit-portable under
    * any partitioning — the corrExact convention), cross the
    * digit-string→double hop once, and every derived quantity is a fixed
    * IEEE dag: centered cross-products Sij = n·Σxixj − Σxi·Σxj, det =
    * S11·S22 − S12², coefficients by Cramer, R² = (b1·S1y + b2·S2y)/Syy.
    * b1/b2 MATERIALIZE as columns before b0/r2 so both engines evaluate
    * the shared subterms once — identical shape, identical doubles. */
  def linearFit2(df: DataFrame, groupCol: String, x1Col: String,
                 x2Col: String, yCol: String): DataFrame = {
    val x1 = col(x1Col).cast("decimal(12,2)")
    val x2 = col(x2Col).cast("decimal(12,2)")
    val y = col(yCol).cast("decimal(12,2)")
    def d(c: Column) = c.cast("string").cast("double")
    val m = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        d(sum(x1)).as("__s1"), d(sum(x2)).as("__s2"), d(sum(y)).as("__sy"),
        d(sum(x1 * x1)).as("__s11"), d(sum(x2 * x2)).as("__s22"),
        d(sum(x1 * x2)).as("__s12"),
        d(sum(x1 * y)).as("__s1y"), d(sum(x2 * y)).as("__s2y"),
        d(sum(y * y)).as("__syy"))
    val nd = col("n").cast("double")
    val centered = m.select(col(groupCol), col("n"), col("__s1"),
      col("__s2"), col("__sy"),
      (nd * col("__s11") - col("__s1") * col("__s1")).as("__c11"),
      (nd * col("__s22") - col("__s2") * col("__s2")).as("__c22"),
      (nd * col("__s12") - col("__s1") * col("__s2")).as("__c12"),
      (nd * col("__s1y") - col("__s1") * col("__sy")).as("__c1y"),
      (nd * col("__s2y") - col("__s2") * col("__sy")).as("__c2y"),
      (nd * col("__syy") - col("__sy") * col("__sy")).as("__cyy"))
    val withDet = centered.withColumn("__det",
      col("__c11") * col("__c22") - col("__c12") * col("__c12"))
    val withB = withDet
      .withColumn("b1", (col("__c22") * col("__c1y") -
        col("__c12") * col("__c2y")) / col("__det"))
      .withColumn("b2", (col("__c11") * col("__c2y") -
        col("__c12") * col("__c1y")) / col("__det"))
    withB.select(col(groupCol), col("n"), col("b1"), col("b2"),
      ((col("__sy") - col("b1") * col("__s1") - col("b2") * col("__s2")) /
        col("n").cast("double")).as("b0"),
      ((col("b1") * col("__c1y") + col("b2") * col("__c2y")) /
        col("__cyy")).as("r2"))
  }

  /** Group-wise SPEARMAN rank correlation, tie-aware — the monotone-
    * relation detector Pearson misses (and robust to the heavy tails
    * that dominate corpus statistics). Ranks never materialize per row
    * as floats: each variable's tie MIDRANKS are carried as INTEGER
    * doubled ranks 2r = 2·|{v' < v}| + c + 1 (the Mann-Whitney two_r
    * device; Pearson is affine-invariant, so corr(2rx, 2ry) IS ρ),
    * derived from per-distinct-value counts + a group-sharded prefix
    * window, joined back by value. Moments sum as DECIMAL(38,0) exact
    * integers (rank products pass 2⁶³), one corrExact dag at the edge.
    * Rows with a NULL in either column are excluded (no rank). */
  def spearmanCorr(df: DataFrame, groupCol: String, xCol: String,
                   yCol: String): DataFrame = {
    def d(c: Column) = c.cast("string").cast("double")
    val base = df.select(col(groupCol).as("__g"), col(xCol).as("__xv"),
        col(yCol).as("__yv"))
      .where(col("__xv").isNotNull && col("__yv").isNotNull)
    def doubledRanks(vCol: String, out: String) = {
      val counts = base.groupBy(col("__g"), col(vCol))
        .agg(count(lit(1)).as("__c"))
      val w = Window.partitionBy(col("__g")).orderBy(col(vCol).asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      counts
        .withColumn("__prev", coalesce(sum(col("__c")).over(w), lit(0L)))
        .select(col("__g"), col(vCol),
          (lit(2L) * col("__prev") + col("__c") + lit(1L)).as(out))
    }
    val joined = base
      .join(doubledRanks("__xv", "__2rx"), Seq("__g", "__xv"))
      .join(doubledRanks("__yv", "__2ry"), Seq("__g", "__yv"))
    val rx = col("__2rx").cast("decimal(19,0)")
    val ry = col("__2ry").cast("decimal(19,0)")
    val m = joined.groupBy(col("__g").as(groupCol))
      .agg(count(lit(1)).as("n"),
        d(sum(rx)).as("__sx"), d(sum(ry)).as("__sy"),
        d(sum(rx * ry)).as("__sxy"),
        d(sum(rx * rx)).as("__sxx"), d(sum(ry * ry)).as("__syy"))
    val nd = col("n").cast("double")
    m.select(col(groupCol), col("n"),
      ((nd * col("__sxy") - col("__sx") * col("__sy")) /
        (sqrt(nd * col("__sxx") - col("__sx") * col("__sx")) *
         sqrt(nd * col("__syy") - col("__sy") * col("__sy"))))
        .as("spearman_rho"))
  }

  /** Macro-averaged multi-class precision/recall/F1 from predicted-vs-
    * true columns — the class-imbalance-honest companion to accuracy
    * (and the summary [[cohensKappa]] doesn't give): per class, P =
    * diag/col_pred, R = diag/row_true, F1 harmonic; macro = unweighted
    * class means over 6-dp-rounded decimal terms (order-independent).
    * Classes never predicted have NULL P (0/0) and contribute F1 = 0 —
    * the sklearn zero-division convention, spelled out. The class set
    * is the union of true labels (prediction-only classes have R = 0/0
    * and are excluded, matching macro-over-true-classes). One cell
    * aggregate + marginal windows + a k-row fold.
    * Output: 1 row (n_classes, accuracy, macro_p, macro_r, macro_f1). */
  def macroF1(df: DataFrame, predCol: Column, trueCol: Column): DataFrame = {
    val cells = df.select(predCol.as("__p"), trueCol.as("__t"))
      .where(col("__p").isNotNull && col("__t").isNotNull)
      .groupBy("__p", "__t").agg(count(lit(1)).as("__c"))
    val perTrue = cells.groupBy(col("__t").as("cls"))
      .agg(sum(col("__c")).as("__row"),
        sum(when(col("__p") === col("__t"), col("__c")).otherwise(0L))
          .as("__diag"))
    val perPred = cells.groupBy(col("__p").as("cls"))
      .agg(sum(col("__c")).as("__col"))
    val k = perTrue.join(perPred, Seq("cls"), "left")
      .withColumn("__prec", when(col("__col") > 0,
        col("__diag").cast("double") / col("__col").cast("double")))
      .withColumn("__rec",
        col("__diag").cast("double") / col("__row").cast("double"))
      .withColumn("__f1", when(
        col("__prec").isNotNull && col("__prec") + col("__rec") > 0,
        lit(2.0) * col("__prec") * col("__rec") /
          (col("__prec") + col("__rec"))).otherwise(lit(0.0)))
    val folded = k.agg(count(lit(1)).as("n_classes"),
      sum(col("__row")).as("__n"), sum(col("__diag")).as("__ok"),
      sum(round(coalesce(col("__prec"), lit(0.0)), 6)
        .cast("decimal(18,6)")).as("__sp"),
      sum(round(col("__rec"), 6).cast("decimal(18,6)")).as("__sr"),
      sum(round(col("__f1"), 6).cast("decimal(18,6)")).as("__sf"))
    def d(c: Column) = c.cast("string").cast("double")
    folded.select(col("n_classes"),
      (col("__ok").cast("double") / col("__n").cast("double")).as("accuracy"),
      (d(col("__sp")) / col("n_classes").cast("double")).as("macro_p"),
      (d(col("__sr")) / col("n_classes").cast("double")).as("macro_r"),
      (d(col("__sf")) / col("n_classes").cast("double")).as("macro_f1"))
  }

  /** Sample-ratio-mismatch check — the first integrity gate of every
    * A/B readout: chi-square goodness-of-fit of observed arm counts
    * against the intended split (here equal shares over k arms):
    * χ² = Σ (o − e)²/e with e = n/k; the 95% alarm for k−1 df uses the
    * standard critical values (k ≤ 6 covered). Exact counts, one dag.
    * Output: 1 row (n, k, chi2, srm_alarm). */
  def sampleRatioCheck(df: DataFrame, armCol: Column): DataFrame = {
    val arms = df.select(armCol.as("__a")).where(col("__a").isNotNull)
      .groupBy("__a").agg(count(lit(1)).as("__c"))
    val crit = typedLit(Map(1 -> 3.841, 2 -> 5.991, 3 -> 7.815,
      4 -> 9.488, 5 -> 11.070))
    val folded = arms.agg(sum(col("__c")).as("n"), count(lit(1)).as("k"),
      sum(col("__c").cast("decimal(19,0)") * col("__c").cast("decimal(19,0)"))
        .cast("string").cast("double").as("__ss"))
    // Σ(o−e)²/e with e = n/k simplifies to k·Σo²/n − n — one dag over
    // the exact count moments, no per-arm doubles
    val chi2 = col("k").cast("double") * col("__ss") /
      col("n").cast("double") - col("n").cast("double")
    folded.select(col("n"), col("k"), round(chi2, 6).as("chi2"),
      (round(chi2, 6) > element_at(crit, (col("k") - 1).cast("int")))
        .as("srm_alarm"))
  }

  /** Lorenz curve points — the decile coordinates behind every revenue-
    * concentration chart (the curve [[gini]] summarizes): entities rank
    * ascending by their metric total (ties by key), cut into `points`
    * equal-count bins via the [[histogramEquiDepth]] rank arithmetic,
    * and each bin reports the cumulative share of entities vs cumulative
    * share of the metric. Entity totals are exact decimals; ranks ride
    * the distributed distinct-value pattern; shares are fixed dags.
    * Output: `points` rows (bin, cum_entities, cum_value, entity_share,
    * value_share). */
  def lorenzPoints(df: DataFrame, keyCol: String, valueCol: String,
                   points: Int = 10): DataFrame = {
    require(points >= 2, "lorenzPoints: need >= 2 points")
    val per = df.groupBy(col(keyCol).as("__k"))
      .agg(sum(col(valueCol).cast("decimal(12,2)")).as("__v"))
    val perVal = per.groupBy("__v").agg(count(lit(1)).as("__c"))
    val offs = prefixOffsets(perVal, "__v", "__c", ascending = true)
    val wIn = Window.partitionBy(col("__v")).orderBy(col("__k").asc)
    val tot = per.agg(count(lit(1)).as("__n"),
      sum(col("__v")).cast("decimal(28,2)").as("__tv"))
    val ranked = per.join(offs, Seq("__v"))
      .withColumn("__r", col("__off") + row_number().over(wIn))
      .crossJoin(broadcast(tot))
      .withColumn("bin", expr(s"(__r - 1) * $points div __n"))
    def d(c: Column) = c.cast("string").cast("double")
    val perBin = ranked.groupBy(col("bin"))
      .agg(count(lit(1)).as("__bc"),
        sum(col("__v")).cast("decimal(28,2)").as("__bv"),
        max(col("__n")).as("__n"), max(col("__tv")).as("__tv"))
    val wCum = Window.orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBin
      .withColumn("cum_entities", sum(col("__bc")).over(wCum))
      .withColumn("__cv", sum(col("__bv")).over(wCum).cast("decimal(28,2)"))
      .select(col("bin"), col("cum_entities"),
        d(col("__cv")).as("cum_value"),
        (col("cum_entities").cast("double") /
          col("__n").cast("double")).as("entity_share"),
        (d(col("__cv")) / d(col("__tv"))).as("value_share"))
  }

  /** Wilson score interval per group for a boolean outcome — the
    * dashboard-grade proportion CI that behaves at small n and extreme
    * p̂ where the naive normal interval fails (it can leave [0,1]):
    * center (p̂ + z²/2n)/(1 + z²/n), half-width z·√(p̂(1−p̂)/n +
    * z²/4n²)/(1 + z²/n). Counts exact; the interval is one fixed dag
    * per group, rounded 6 dp. Output: (group, n, successes, rate,
    * wilson_lo, wilson_hi). */
  def wilsonInterval(df: DataFrame, groupCol: String, successCol: Column,
                     z: Double = 1.96): DataFrame = {
    val m = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(successCol, 1L).otherwise(0L)).as("successes"))
    val nd = col("n").cast("double")
    val p = col("successes").cast("double") / nd
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / nd
    val center = (p + z2 / (lit(2.0) * nd)) / denom
    val half = (lit(z) * sqrt(p * (lit(1.0) - p) / nd +
      z2 / (lit(4.0) * nd * nd))) / denom
    m.select(col(groupCol), col("n"), col("successes"),
      round(p, 6).as("rate"),
      round(center - half, 6).as("wilson_lo"),
      round(center + half, 6).as("wilson_hi"))
  }

  /** Top-k leaderboard stability between two deterministic halves of
    * the data — "is this ranking signal or noise": aggregate the metric
    * per (half, key), take each half's top-k (ties broken by key — an
    * engine-exact total order), and report the overlap and its Jaccard.
    * The top-k runs as TakeOrdered per half (distributed, no global
    * window); the overlap join is k×k tiny. Output: 1 row (k, n_common,
    * jaccard). */
  def topkStability(df: DataFrame, keyCol: String, valueCol: String,
                    halfExpr: Column, k: Int): DataFrame = {
    require(k >= 1, "topkStability: k must be >= 1")
    val per = df.groupBy(halfExpr.as("__h"), col(keyCol).as("__k"))
      .agg(sum(col(valueCol).cast("decimal(12,2)")).as("__v"))
    def top(h: Int) = per.where(col("__h") === h)
      .orderBy(col("__v").desc, col("__k").asc).limit(k)
      .select(col("__k"))
    val common = top(0).join(top(1), Seq("__k"))
      .agg(count(lit(1)).as("n_common"))
    common.select(lit(k.toLong).as("k"), col("n_common"),
      round(col("n_common").cast("double") /
        (lit(2.0 * k) - col("n_common").cast("double")), 6).as("jaccard"))
  }

  /** Cohen's kappa between two categorical columns — chance-corrected
    * agreement (label-quality audits, model-vs-heuristic, annotator
    * pairs): po = diagonal mass, pe = Σ_k row_k·col_k / n², κ =
    * (po − pe)/(1 − pe). pe is computed from the TRUE marginals — a
    * per-__a and a per-__b marginal table full-outer-joined on the
    * class label — NOT by summing row·col over existing diagonal
    * cells: a class present in both margins but never agreed on (no
    * (k,k) cell) still contributes row_k·col_k to chance agreement,
    * and the diagonal-cell shortcut silently drops it (inflating κ).
    * The marginal tables are one-row-per-class tiny; the join is a
    * class-cardinality-bounded exchange. Rows with a NULL on either
    * side are excluded. Output: 1 row (n, po, pe, kappa). */
  def cohensKappa(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val cells = df.select(aCol.as("__a"), bCol.as("__b"))
      .where(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy("__a", "__b").agg(count(lit(1)).as("__c"))
    val perA = cells.groupBy(col("__a").as("__k"))
      .agg(sum(col("__c")).as("__row"))
    val perB = cells.groupBy(col("__b").as("__k"))
      .agg(sum(col("__c")).as("__colc"))
    val pexn = perA.join(perB, Seq("__k"), "full_outer")
      .agg(sum(coalesce(col("__row"), lit(0L)).cast("decimal(19,0)") *
        coalesce(col("__colc"), lit(0L)).cast("decimal(19,0)"))
        .as("__pexn"))
    val totals = cells.agg(sum(col("__c")).as("n"),
      sum(when(col("__a") === col("__b"), col("__c"))
        .otherwise(0L)).as("__diag"))
    val m = totals.crossJoin(broadcast(pexn)) // both sides are 1 row
    val nd = col("n").cast("double")
    val po = col("__diag").cast("double") / nd
    val pe = col("__pexn").cast("string").cast("double") / (nd * nd)
    m.select(col("n"), po.as("po"), pe.as("pe"))
      .withColumn("kappa", (col("po") - col("pe")) / (lit(1.0) - col("pe")))
  }

  /** Group-wise Weibull fit by probability plotting — the reliability
    * engineer's latency/lifetime model (shape < 1 infant mortality,
    * ≈ 1 memoryless, > 1 wear-out): one plotting point per DISTINCT
    * positive value at Benard's median rank F = (c − 0.3)/(n + 0.4)
    * evaluated at the tied block's inclusive cumulative count c, then
    * OLS of y = ln(−ln(1−F)) on x = ln(v) — shape = slope, scale =
    * exp(−intercept/slope). Both lns round to 6 dp decimals (the zipf
    * convention) and the fit is the linearFit dag over exact sums.
    * Non-positive values are excluded (no ln).
    * Output: (group, n, n_distinct, shape, scale, r2). */
  def weibullFit(df: DataFrame, groupCol: String,
                 valueCol: String): DataFrame = {
    def d(c: Column) = c.cast("string").cast("double")
    val base = df.select(col(groupCol).as("__g"), col(valueCol).as("__v"))
      .where(col("__v").isNotNull && col("__v") > 0)
    val counts = base.groupBy("__g", "__v").agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = base.groupBy("__g").agg(count(lit(1)).as("n"))
    val pts = counts
      .withColumn("__cum", sum(col("__c")).over(w))
      .join(tot, Seq("__g"))
      .withColumn("__F", (col("__cum").cast("double") - lit(0.3)) /
        (col("n").cast("double") + lit(0.4)))
      .select(col("__g"), col("n"),
        round(log(col("__v").cast("double")), 6)
          .cast("decimal(12,6)").as("__x"),
        round(log(-log(lit(1.0) - col("__F"))), 6)
          .cast("decimal(12,6)").as("__y"))
    val m = pts.groupBy(col("__g"))
      .agg(max(col("n")).as("n"), count(lit(1)).as("n_distinct"),
        d(sum(col("__x"))).as("__sx"), d(sum(col("__y"))).as("__sy"),
        d(sum(col("__x") * col("__y"))).as("__sxy"),
        d(sum(col("__x") * col("__x"))).as("__sxx"),
        d(sum(col("__y") * col("__y"))).as("__syy"))
    val nd = col("n_distinct").cast("double")
    val withSlope = m.withColumn("shape",
      (nd * col("__sxy") - col("__sx") * col("__sy")) /
        (nd * col("__sxx") - col("__sx") * col("__sx")))
    withSlope.select(col("__g").as(groupCol), col("n"), col("n_distinct"),
      col("shape"),
      exp(-((col("__sy") - col("shape") * col("__sx")) / nd) / col("shape"))
        .as("scale"),
      (((nd * col("__sxy") - col("__sx") * col("__sy")) *
        (nd * col("__sxy") - col("__sx") * col("__sy"))) /
        ((nd * col("__sxx") - col("__sx") * col("__sx")) *
         (nd * col("__syy") - col("__sy") * col("__sy")))).as("r2"))
  }

  /** Decision-stump BEST SPLIT on a numeric feature against a binary
    * label — the scoring primitive inside every tree learner, and the
    * "which threshold separates good from bad docs" knob a curation
    * pipeline tunes: every DISTINCT feature value is a candidate
    * threshold (left: x ≤ v, right: x > v); left class counts are
    * prefix sums over the per-value class counts, the weighted Gini
    * impurity (nL·gL + nR·gR)/n is one fixed dag per candidate, and the
    * argmin folds via min(struct(gini, v)) — ties to the SMALLEST
    * threshold. Degenerate splits (empty side) are excluded.
    * Output: (group, n, threshold, gini, n_left, pos_left, n_right,
    * pos_right). */
  def bestSplit(df: DataFrame, groupCol: String, xCol: String,
                labelCol: Column): DataFrame = {
    val base = df.select(col(groupCol).as("__g"), col(xCol).as("__x"),
        when(labelCol, 1L).otherwise(0L).as("__y"))
      .where(col("__x").isNotNull)
    val perV = base.groupBy("__g", "__x")
      .agg(count(lit(1)).as("__c"), sum(col("__y")).as("__p"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__x").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = base.groupBy("__g").agg(count(lit(1)).as("__n"),
      sum(col("__y")).as("__pos"))
    val cands = perV
      .withColumn("__nl", sum(col("__c")).over(w))
      .withColumn("__pl", sum(col("__p")).over(w))
      .join(tot, Seq("__g"))
      .where(col("__nl") < col("__n")) // right side must be non-empty
    val nl = col("__nl").cast("double")
    val nr = (col("__n") - col("__nl")).cast("double")
    val pl = col("__pl").cast("double")
    val pr = (col("__pos") - col("__pl")).cast("double")
    def gini(p: Column, n: Column) =
      lit(1.0) - (p / n) * (p / n) - ((n - p) / n) * ((n - p) / n)
    val weighted = (nl * gini(pl, nl) + nr * gini(pr, nr)) /
      col("__n").cast("double")
    cands
      .select(col("__g"), col("__n"), col("__pos"),
        struct(weighted.as("g"), col("__x").as("v"), col("__nl").as("nl"),
          col("__pl").as("pl")).as("__cand"))
      .groupBy(col("__g"))
      .agg(max(col("__n")).as("n"), max(col("__pos")).as("__tp"),
        min(col("__cand")).as("__m"))
      .select(col("__g").as(groupCol), col("n"),
        col("__m.v").as("threshold"), round(col("__m.g"), 6).as("gini"),
        col("__m.nl").as("n_left"), col("__m.pl").as("pos_left"),
        (col("n") - col("__m.nl")).as("n_right"),
        (col("__tp") - col("__m.pl")).as("pos_right"))
  }

  /** Group-wise KENDALL tau-b, tie-aware — the third rank correlation
    * (with Pearson corrExact and [[spearmanCorr]]): concordant/
    * discordant counts fold over PAIRS OF DISTINCT CELLS of the joint
    * (x, y) table with multiplicity products — the pair join is bounded
    * by |X|·|Y| distinct cells squared, never n². A cell pair in
    * canonical (x, then y) order contributes n₁·n₂ concordant when both
    * coordinates move the same strict direction, discordant when
    * opposite (equal-in-either pairs are the tie terms, handled by the
    * marginal formulas: T_x = Σ C(n_x,2), T_y likewise, n₀ = C(n,2);
    * tau_b = (C−D)/√((n₀−T_x)(n₀−T_y))). Counts are exact — products
    * ride DECIMAL(38,0) — and tau is one fixed dag.
    * Output: (group, n, concordant, discordant, tau_b). */
  def kendallTau(df: DataFrame, groupCol: String, xCol: String,
                 yCol: String): DataFrame = {
    def d(c: Column) = c.cast("string").cast("double")
    val base = df.select(col(groupCol).as("__g"), col(xCol).as("__x"),
        col(yCol).as("__y"))
      .where(col("__x").isNotNull && col("__y").isNotNull)
    val cells = base.groupBy("__g", "__x", "__y")
      .agg(count(lit(1)).as("__c"))
      .stagePersist(true)
    val l = cells.select(col("__g"), col("__x").as("x1"),
      col("__y").as("y1"), col("__c").as("c1"))
    val r = cells.select(col("__g"), col("__x").as("x2"),
      col("__y").as("y2"), col("__c").as("c2"))
    val pairProd = (col("c1").cast("decimal(19,0)") *
      col("c2").cast("decimal(19,0)"))
    val pairs = l.join(r, Seq("__g"))
      .where(col("x1") < col("x2") ||
        (col("x1") === col("x2") && col("y1") < col("y2")))
      .groupBy(col("__g"))
      .agg(
        d(sum(when(col("x1") < col("x2") && col("y1") < col("y2"), pairProd)
          .when(col("x1") > col("x2") && col("y1") > col("y2"), pairProd)))
          .as("__conc"),
        d(sum(when(col("x1") < col("x2") && col("y1") > col("y2"), pairProd)
          .when(col("x1") > col("x2") && col("y1") < col("y2"), pairProd)))
          .as("__disc"))
    def tieSum(vCol: String) = {
      // t(t-1) is even, so the integer div is exact; sums ride decimal
      base.groupBy(col("__g"), col(vCol)).agg(count(lit(1)).as("__t"))
        .groupBy(col("__g"))
        .agg(d(sum(expr("(__t * (__t - 1)) div 2")
          .cast("decimal(38,0)"))).as(s"__T$vCol"))
    }
    val tot = base.groupBy(col("__g")).agg(count(lit(1)).as("n"))
    val joined = tot
      .join(pairs, Seq("__g"), "left")
      .join(tieSum("__x"), Seq("__g"))
      .join(tieSum("__y"), Seq("__g"))
    val nd = col("n").cast("double")
    val n0 = nd * (nd - lit(1.0)) / lit(2.0)
    joined.select(col("__g").as(groupCol), col("n"),
      coalesce(col("__conc"), lit(0.0)).as("concordant"),
      coalesce(col("__disc"), lit(0.0)).as("discordant"),
      ((coalesce(col("__conc"), lit(0.0)) - coalesce(col("__disc"), lit(0.0))) /
        sqrt((n0 - col("__T__x")) * (n0 - col("__T__y")))).as("tau_b"))
  }

  /** Group-wise PARTIAL correlation of x and y CONTROLLING for z —
    * "does quantity still track revenue once discount is held fixed?":
    * all three pairwise Pearson r's from ONE ten-moment decimal pass,
    * then the first-order identity r_xy·z = (r_xy − r_xz·r_yz) /
    * √((1−r_xz²)(1−r_yz²)). The three r's MATERIALIZE as columns so
    * both engines share subterms. Output: (group, n, r_xy, r_xz, r_yz,
    * partial_r). */
  def partialCorr(df: DataFrame, groupCol: String, xCol: String,
                  yCol: String, zCol: String): DataFrame = {
    def d(c: Column) = c.cast("string").cast("double")
    val x = col(xCol).cast("decimal(12,2)")
    val y = col(yCol).cast("decimal(12,2)")
    val z = col(zCol).cast("decimal(12,2)")
    val m = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        d(sum(x)).as("__sx"), d(sum(y)).as("__sy"), d(sum(z)).as("__sz"),
        d(sum(x * x)).as("__sxx"), d(sum(y * y)).as("__syy"),
        d(sum(z * z)).as("__szz"),
        d(sum(x * y)).as("__sxy"), d(sum(x * z)).as("__sxz"),
        d(sum(y * z)).as("__syz"))
    val nd = col("n").cast("double")
    def r(sab: String, sa: String, sb: String, saa: String, sbb: String) =
      (nd * col(sab) - col(sa) * col(sb)) /
        (sqrt(nd * col(saa) - col(sa) * col(sa)) *
         sqrt(nd * col(sbb) - col(sb) * col(sb)))
    val withR = m
      .withColumn("r_xy", r("__sxy", "__sx", "__sy", "__sxx", "__syy"))
      .withColumn("r_xz", r("__sxz", "__sx", "__sz", "__sxx", "__szz"))
      .withColumn("r_yz", r("__syz", "__sy", "__sz", "__syy", "__szz"))
    withR.select(col(groupCol), col("n"), col("r_xy"), col("r_xz"),
      col("r_yz"),
      ((col("r_xy") - col("r_xz") * col("r_yz")) /
        sqrt((lit(1.0) - col("r_xz") * col("r_xz")) *
          (lit(1.0) - col("r_yz") * col("r_yz")))).as("partial_r"))
  }

  /** CUPED variance reduction for an A/B metric (Deng et al. 2013 —
    * "Improving the sensitivity of online controlled experiments"):
    * per-unit pre-period covariate X and experiment metric Y, θ =
    * cov(X,Y)/var(X) fitted GLOBALLY (standard practice — θ from both
    * arms jointly), adjusted metric Ŷ = Y − θ(X − X̄). Linearity means
    * per-arm adjusted MEANS need no per-row doubles at all: mean(Ŷ|arm)
    * = mean(Y|arm) − θ·(mean(X|arm) − X̄) — every mean an exact decimal
    * sum over one conditional pass, every derived quantity one fixed
    * dag. The variance-reduction ratio is the identity var(Ŷ)/var(Y) =
    * 1 − r², reported as var_reduction = r²_xy. Units missing a period
    * contribute 0 for it (the standard new-user convention).
    * `armExpr` names the experiment-arm assignment (the embeddingDrift
    * halfExpr pattern): any Column over the input rows that is CONSTANT
    * within a unit — an assignment column, or a hash of the unit id.
    * It joins the per-unit groupBy key, so a row-varying armExpr splits
    * a unit across arms (caller contract, not checked). Output: one row
    * per arm carrying the shared (theta, var_reduction). */
  def cupedAdjust(df: DataFrame, userCol: String, tsCol: String,
                  valueCol: String, splitTs: String,
                  armExpr: Column): DataFrame = {
    def d(c: Column) = c.cast("string").cast("double")
    val v = col(valueCol).cast("decimal(18,6)")
    val zero = lit(java.math.BigDecimal.ZERO).cast("decimal(18,6)")
    val split = lit(splitTs).cast("timestamp_ntz")
    val per = df.groupBy(col(userCol).as("__u"), armExpr.as("__arm"))
      .agg(sum(when(col(tsCol) < split, v).otherwise(zero))
          .cast("decimal(18,6)").as("__pre"),
        sum(when(col(tsCol) >= split, v).otherwise(zero))
          .cast("decimal(18,6)").as("__post"))
    val g = per.agg(count(lit(1)).as("__n"),
      d(sum(col("__pre"))).as("__sx"), d(sum(col("__post"))).as("__sy"),
      d(sum(col("__pre") * col("__post"))).as("__sxy"),
      d(sum(col("__pre") * col("__pre"))).as("__sxx"),
      d(sum(col("__post") * col("__post"))).as("__syy"))
    val nd = col("__n").cast("double")
    val globals = g.select(col("__n"),
      (col("__sx") / nd).as("__xbar"),
      ((nd * col("__sxy") - col("__sx") * col("__sy")) /
        (nd * col("__sxx") - col("__sx") * col("__sx"))).as("theta"),
      (((nd * col("__sxy") - col("__sx") * col("__sy")) *
        (nd * col("__sxy") - col("__sx") * col("__sy"))) /
        ((nd * col("__sxx") - col("__sx") * col("__sx")) *
         (nd * col("__syy") - col("__sy") * col("__sy"))))
        .as("var_reduction"))
    val arms = per.groupBy(col("__arm").as("arm"))
      .agg(count(lit(1)).as("n_users"),
        d(sum(col("__pre"))).as("__asx"), d(sum(col("__post"))).as("__asy"))
    arms.crossJoin(broadcast(globals))
      .select(col("arm"), col("n_users"),
        (col("__asy") / col("n_users").cast("double")).as("mean_post"),
        ((col("__asy") / col("n_users").cast("double")) - col("theta") *
          ((col("__asx") / col("n_users").cast("double")) - col("__xbar")))
          .as("mean_adjusted"),
        col("theta"), col("var_reduction"))
  }

  /** Cronbach's alpha over k item columns per group — the internal-
    * consistency check for any multi-signal score (k quality heuristics,
    * k rater columns): α = k/(k−1)·(1 − Σvar_i/var_total), variances
    * POPULATION (n divisor — a pure convention; both engines replay the
    * same dag) from exact DECIMAL(12,2) moments of each item and of the
    * per-row item SUM. One wide aggregation scan — 2(k+1) moment sums —
    * and one fixed dag. Output: (group, n, k, sum_item_vars, var_total,
    * alpha). */
  def cronbachAlpha(df: DataFrame, groupCol: String,
                    itemCols: Seq[String]): DataFrame = {
    require(itemCols.size >= 2, "cronbachAlpha: need >= 2 items")
    def d(c: Column) = c.cast("string").cast("double")
    val k = itemCols.size
    val items = itemCols.map(c => col(c).cast("decimal(12,2)"))
    val total = items.reduce(_ + _).cast("decimal(16,2)")
    val aggs = items.zipWithIndex.flatMap { case (it, i) =>
      Seq(d(sum(it)).as(s"__s$i"), d(sum(it * it)).as(s"__q$i"))
    } ++ Seq(d(sum(total)).as("__st"),
      d(sum(total * total)).as("__qt"), count(lit(1)).as("n"))
    val m = df.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
    val nd = col("n").cast("double")
    def popVar(s: String, q: String) =
      (nd * col(q) - col(s) * col(s)) / (nd * nd)
    val sumVars = (0 until k).map(i => popVar(s"__s$i", s"__q$i"))
      .reduce(_ + _)
    val withVars = m
      .withColumn("sum_item_vars", sumVars)
      .withColumn("var_total", popVar("__st", "__qt"))
    withVars.select(col(groupCol), col("n"), lit(k.toLong).as("k"),
      col("sum_item_vars"), col("var_total"),
      ((lit(k.toDouble) / lit(k - 1.0)) *
        (lit(1.0) - col("sum_item_vars") / col("var_total"))).as("alpha"))
  }

  /** 2-D Mahalanobis outlier detection per group: d² = (v−μ)ᵀ Σ⁻¹ (v−μ)
    * via the closed-form 2×2 inverse — with the n²-scaled centered sums
    * c·· (the pca2d quantities), d² = n²·(cyy·dx² − 2·cxy·dx·dy +
    * cxx·dy²)/(cxx·cyy − cxy²) — one fixed dag per row over broadcast
    * group stats. Rows with d² > threshold (χ²₂: 9.21 ≈ 99%) are the
    * joint outliers a univariate fence misses (unusual COMBINATION,
    * ordinary margins). One moment scan + one broadcast join + one
    * codegen'd filter. Output: (group, id…, x, y, md2 rounded 6 dp). */
  def mahalanobis2d(df: DataFrame, groupCol: String, xCol: String,
                    yCol: String, idCols: Seq[String],
                    threshold: Double): DataFrame = {
    val g = momentSums(df, groupCol, xCol, yCol)
    val nd = col("n").cast("double")
    val stats = g.select(col(groupCol), col("n"),
      (col("__sx") / nd).as("__mx"), (col("__sy") / nd).as("__my"),
      (nd * col("__sxx") - col("__sx") * col("__sx")).as("__cxx"),
      (nd * col("__syy") - col("__sy") * col("__sy")).as("__cyy"),
      (nd * col("__sxy") - col("__sx") * col("__sy")).as("__cxy"))
    val dx = col(xCol).cast("double") - col("__mx")
    val dy = col(yCol).cast("double") - col("__my")
    val n2 = col("n").cast("double") * col("n").cast("double")
    val md2 = n2 * (col("__cyy") * dx * dx -
      lit(2.0) * col("__cxy") * dx * dy + col("__cxx") * dy * dy) /
      (col("__cxx") * col("__cyy") - col("__cxy") * col("__cxy"))
    df.join(broadcast(stats), Seq(groupCol))
      .withColumn("md2", round(md2, 6))
      .where(col("md2") > threshold)
      .select((col(groupCol) +: idCols.map(col)) ++
        Seq(col(xCol), col(yCol), col("md2")): _*)
  }

  /** Cohen's d (pooled-SD standardized mean difference) with the Hedges
    * g small-sample correction — the effect SIZE companion to
    * [[welchTTest]]'s significance (a tiny p on a huge corpus can mean
    * a negligible difference; d says how big it actually is). One
    * conditional-aggregation pass over exact DECIMAL(12,2) moments, then
    * one fixed double dag: (n−1)-weighted pooled variance, d =
    * (m₁−m₂)/sp, g = d·(1 − 3/(4n−9)). Output: 1 row. */
  def cohensD(df: DataFrame, groupCol: String, valueCol: String,
              arm1: String, arm2: String): DataFrame = {
    def d(c: Column) = c.cast("string").cast("double")
    val v = col(valueCol).cast("decimal(12,2)")
    val in1 = col(groupCol) === arm1
    val in2 = col(groupCol) === arm2
    val m = df.agg(
      sum(when(in1, 1L).otherwise(0L)).as("n1"),
      sum(when(in2, 1L).otherwise(0L)).as("n2"),
      d(sum(when(in1, v))).as("__s1"), d(sum(when(in2, v))).as("__s2"),
      d(sum(when(in1, v * v))).as("__q1"),
      d(sum(when(in2, v * v))).as("__q2"))
    val n1 = col("n1").cast("double")
    val n2 = col("n2").cast("double")
    val withMeans = m
      .withColumn("mean1", col("__s1") / n1)
      .withColumn("mean2", col("__s2") / n2)
      .withColumn("pooled_sd", sqrt(
        ((n1 * col("__q1") - col("__s1") * col("__s1")) / n1 +
         (n2 * col("__q2") - col("__s2") * col("__s2")) / n2) /
          (n1 + n2 - lit(2.0))))
    withMeans
      .withColumn("cohens_d",
        (col("mean1") - col("mean2")) / col("pooled_sd"))
      .withColumn("hedges_g", col("cohens_d") *
        (lit(1.0) - lit(3.0) / (lit(4.0) * (n1 + n2) - lit(9.0))))
      .select(col("n1"), col("n2"), col("mean1"), col("mean2"),
        col("pooled_sd"), col("cohens_d"), col("hedges_g"))
  }

  /** Concentration / diversity indices of a categorical column per
    * group — the "is this language dominated by one source?" corpus
    * audit: Herfindahl-Hirschman index Σpᵢ² (1/k at perfect evenness,
    * 1.0 at monopoly), Simpson diversity 1−Σpᵢ², and the top category's
    * share. EVERYTHING is a fixed dag over exact integer counts — Σcᵢ²
    * in DECIMAL(38,0), shares divided once at the edge — so no rounding
    * convention is needed at all. One (group, category) aggregate, one
    * group fold. Output: (group, n, k, hhi, simpson, top_share). */
  def diversityIndices(df: DataFrame, groupCol: String,
                       valueCol: String): DataFrame = {
    def d(c: Column) = c.cast("string").cast("double")
    val cells = df.groupBy(col(groupCol), col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__c"))
    val g = cells.groupBy(col(groupCol))
      .agg(sum(col("__c")).as("n"), count(lit(1)).as("k"),
        d(sum(col("__c").cast("decimal(19,0)") *
          col("__c").cast("decimal(19,0)"))).as("__ss"),
        max(col("__c")).as("__mx"))
    val nd = col("n").cast("double")
    g.select(col(groupCol), col("n"), col("k"),
        (col("__ss") / (nd * nd)).as("hhi"),
        col("__mx"), nd.as("__nd"))
      .select(col(groupCol), col("n"), col("k"), col("hhi"),
        (lit(1.0) - col("hhi")).as("simpson"),
        (col("__mx").cast("double") / col("__nd")).as("top_share"))
  }

  /** Wald-Wolfowitz runs test per group — "is this sequence random, or
    * does it trend/cluster?": values binarize against the group's LOWER
    * MEDIAN (an actual data value — the madOutliers convention; exact
    * median ties are DROPPED, standard practice), the sequence orders by
    * (order, tie), R counts the maximal same-sign runs, and z =
    * (R − E)/√V with E = 1 + 2n₁n₂/n and the textbook variance — one
    * fixed dag over exact integers. One row-level exchange (the distinct
    * value table), one key-sharded lag window for the run count.
    * Groups with n₁ = 0 or n₂ = 0 report NULL z (no second symbol).
    * Output: (group, n_above, n_below, runs, z). */
  def runsTest(df: DataFrame, groupCol: String, orderCol: String,
               tieCol: String, valueCol: String): DataFrame = {
    val counts = df.select(col(groupCol).as("__g"), col(valueCol).as("__v"))
      .where(col("__v").isNotNull)
      .groupBy("__g", "__v").agg(count(lit(1)).as("__c"))
    val med = lowerMedianOfCounts(counts)
    val signed = df
      .join(broadcast(med.select(col("__g").as(groupCol), col("med"))),
        Seq(groupCol))
      .where(col(valueCol) =!= col("med"))
      .withColumn("__sgn", when(col(valueCol) > col("med"), 1).otherwise(-1))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(orderCol).asc, col(tieCol).asc)
    val runs = signed
      .withColumn("__brk",
        when(lag(col("__sgn"), 1).over(w).isNull ||
          lag(col("__sgn"), 1).over(w) =!= col("__sgn"), 1L).otherwise(0L))
      .groupBy(col(groupCol))
      .agg(sum(when(col("__sgn") === 1, 1L).otherwise(0L)).as("n_above"),
        sum(when(col("__sgn") === -1, 1L).otherwise(0L)).as("n_below"),
        sum(col("__brk")).as("runs"))
    val n1 = col("n_above").cast("double")
    val n2 = col("n_below").cast("double")
    val nn = n1 + n2
    val e = lit(1.0) + lit(2.0) * n1 * n2 / nn
    val v = lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - n1 - n2) /
      (nn * nn * (nn - lit(1.0)))
    runs.select(col(groupCol), col("n_above"), col("n_below"), col("runs"),
      when(col("n_above") > 0 && col("n_below") > 0,
        (col("runs").cast("double") - e) / sqrt(v)).as("z"))
  }

  /** Group-wise 2-D PCA by the closed-form eigendecomposition of the
    * 2×2 covariance matrix — the largest PCA whose eigenproblem is a
    * fixed expression dag (λ = tr/2 ± √((Δ/2)² + cov²)). Moments ride
    * the corrExact DECIMAL(12,2) convention (order-independent,
    * bit-portable); the n²-scaled centered sums cxx/cyy/cxy and the
    * shared discriminant MATERIALIZE as columns so both engines
    * evaluate each subterm once. The principal-axis angle
    * θ = atan2(2·cov, varx−vary)/2 is the one transcendental — rounded
    * 6 dp at the edge (the geo-mean convention). */
  def pca2d(df: DataFrame, groupCol: String, xCol: String,
            yCol: String): DataFrame = {
    val g = momentSums(df, groupCol, xCol, yCol)
    val nd = col("n").cast("double")
    val centered = g.select(col(groupCol), col("n"),
      (nd * col("__sxx") - col("__sx") * col("__sx")).as("__cxx"),
      (nd * col("__syy") - col("__sy") * col("__sy")).as("__cyy"),
      (nd * col("__sxy") - col("__sx") * col("__sy")).as("__cxy"))
    val n2 = col("n").cast("double") * col("n").cast("double")
    val withDisc = centered.withColumn("__disc",
      sqrt((col("__cxx") - col("__cyy")) * (col("__cxx") - col("__cyy")) /
        lit(4.0) + col("__cxy") * col("__cxy")))
    val withLam = withDisc
      .withColumn("lam1",
        ((col("__cxx") + col("__cyy")) / lit(2.0) + col("__disc")) / n2)
      .withColumn("lam2",
        ((col("__cxx") + col("__cyy")) / lit(2.0) - col("__disc")) / n2)
    withLam.select(col(groupCol), col("n"),
      (col("__cxx") / n2).as("var_x"), (col("__cyy") / n2).as("var_y"),
      (col("__cxy") / n2).as("cov_xy"),
      col("lam1"), col("lam2"),
      (col("lam1") / (col("lam1") + col("lam2"))).as("explained_1"),
      round(atan2(lit(2.0) * col("__cxy"),
        col("__cxx") - col("__cyy")) / lit(2.0), 6).as("theta"))
  }

  /** Fisher's EXACT test on a 2×2 contingency table — the small-sample
    * complement to [[chiSquareIndependence]]/[[propTest2]] (exact
    * p-values where the χ² normal approximation breaks down). The
    * hypergeometric pmf is computed entirely from a ln-factorial table:
    * lnfact(m) = Σ_{i≤m} round(ln i, 6) as exact decimal prefix sums —
    * built DISTRIBUTED (per-65536-bucket partials, then a window over
    * the tiny bucket table — the histogramEquiDepth rank pattern, no
    * full-table single-partition window). Each pmf is exp() of one
    * fixed double dag over digit-string moments, rounded to an absolute
    * 10 dp decimal so selection (pmf ≤ pmf_obs, the standard two-sided
    * rule) and the three p-value sums are engine-exact.
    *
    * Contract: Fisher is a SMALL-SAMPLE statistic — the ln-factorial
    * table is Θ(n) rows and the support scan Θ(min margin); feed it the
    * bounded slice under test (use propTest2 at corpus scale). One
    * driver-side count() sizes the range — bounded metadata, never rows.
    * Output: 1 row (a, b, c, d, n, pmf_obs, p_two, p_left, p_right). */
  def fisherExact2x2(df: DataFrame, groupCol: Column,
                     successCol: Column): DataFrame = {
    val spark = df.sparkSession
    def d(c: Column) = c.cast("string").cast("double")
    val nTotal = df.count()
    val bucket = 65536L
    val terms = spark.range(0L, nTotal + 1L).toDF("i")
      .withColumn("__t", when(col("i") >= 2L,
        round(log(col("i").cast("double")), 6).cast("decimal(18,6)"))
        .otherwise(lit(java.math.BigDecimal.ZERO).cast("decimal(18,6)")))
      .withColumn("__bk", expr(s"i div $bucket"))
    val wIn = Window.partitionBy("__bk").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inner = terms.withColumn("__p", sum(col("__t")).over(wIn))
    val wBk = Window.orderBy("__bk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = terms.groupBy("__bk").agg(sum(col("__t")).as("__bt"))
      .withColumn("__off", coalesce(sum(col("__bt")).over(wBk),
        lit(java.math.BigDecimal.ZERO).cast("decimal(28,6)")))
      .select(col("__bk"), col("__off"))
    val lf = inner.join(offs, Seq("__bk"))
      .select(col("i"), (col("__p") + col("__off"))
        .cast("decimal(28,6)").as("lf"))
    val m = df.agg(
        sum(when(groupCol && successCol, 1L).otherwise(0L)).as("a"),
        sum(when(groupCol && !successCol, 1L).otherwise(0L)).as("b"),
        sum(when(!groupCol && successCol, 1L).otherwise(0L)).as("c"),
        sum(when(!groupCol && !successCol, 1L).otherwise(0L)).as("dd"))
      .select(col("a"), col("b"), col("c"), col("dd"),
        (col("a") + col("b")).as("r1"), (col("c") + col("dd")).as("r2"),
        (col("a") + col("c")).as("k1"), (col("b") + col("dd")).as("k2"),
        (col("a") + col("b") + col("c") + col("dd")).as("nn"))
    def at(as: String) =
      lf.select(col("i").as(s"__i_$as"), col("lf").as(as))
    val sup = m.select(col("*"),
        explode(sequence(greatest(lit(0L), col("r1") - col("k2")),
          least(col("r1"), col("k1")))).as("k"))
      .join(at("lfk"), col("k") === col("__i_lfk"))
      .join(at("lfr1k"), col("r1") - col("k") === col("__i_lfr1k"))
      .join(at("lfk1k"), col("k1") - col("k") === col("__i_lfk1k"))
      .join(at("lfrest"),
        col("nn") - col("r1") - col("k1") + col("k") === col("__i_lfrest"))
      .join(at("lfr1"), col("r1") === col("__i_lfr1"))
      .join(at("lfr2"), col("r2") === col("__i_lfr2"))
      .join(at("lfk1"), col("k1") === col("__i_lfk1"))
      .join(at("lfk2"), col("k2") === col("__i_lfk2"))
      .join(at("lfn"), col("nn") === col("__i_lfn"))
    val pmf = round(exp(
      d(col("lfr1")) + d(col("lfr2")) + d(col("lfk1")) + d(col("lfk2")) -
        d(col("lfn")) - d(col("lfk")) - d(col("lfr1k")) -
        d(col("lfk1k")) - d(col("lfrest"))), 10).cast("decimal(12,10)")
    val scored = sup.select(col("a"), col("b"), col("c"), col("dd"),
      col("nn"), col("k"), pmf.as("pmf"))
    val obs = scored.where(col("k") === col("a"))
      .select(col("pmf").as("__pobs"))
    scored.crossJoin(broadcast(obs))
      .groupBy(col("a"), col("b"), col("c"), col("dd"), col("nn"),
        col("__pobs"))
      .agg(
        sum(when(col("pmf") <= col("__pobs"), col("pmf"))).as("__ptwo"),
        sum(when(col("k") <= col("a"), col("pmf"))).as("__pleft"),
        sum(when(col("k") >= col("a"), col("pmf"))).as("__pright"))
      .select(col("a"), col("b"), col("c"), col("dd").as("d"),
        col("nn").as("n"), d(col("__pobs")).as("pmf_obs"),
        d(col("__ptwo")).as("p_two"), d(col("__pleft")).as("p_left"),
        d(col("__pright")).as("p_right"))
  }

  /** Pearson chi-square test of independence between two categorical
    * columns — the "is quality correlated with domain?" check a corpus
    * audit runs. One (a, b) aggregation shuffle produces the contingency
    * cells; marginals and the total are window sums OVER THE CELLS (the
    * |A|·|B| aggregate, tiny by the nature of a contingency test — never
    * the raw rows).
    *
    * Cross-engine determinism: counts are exact integers; each cell's
    * contribution (n−e)²/e is one fixed IEEE dag evaluated identically
    * everywhere, then rounded to 6 dp and summed as DECIMAL so the final
    * statistic is independent of cell order (the q_tfidf ln-rounding
    * convention). Output: 1 row (n, cells, dof, chi2). */
  def chiSquareIndependence(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.select(col(aCol).as("__a"), col(bCol).as("__b"))
      .groupBy("__a", "__b").agg(count(lit(1)).as("__c"))
    val wa = Window.partitionBy("__a")
    val wb = Window.partitionBy("__b")
    val wAll = Window.partitionBy()
    val e = (sum(col("__c")).over(wa).cast("double") *
             sum(col("__c")).over(wb).cast("double")) /
            sum(col("__c")).over(wAll).cast("double")
    val diff = col("__c").cast("double") - e
    cells
      .select(col("__a"), col("__b"), col("__c"),
        round(diff * diff / e, 6).cast("decimal(24,6)").as("__contrib"))
      .agg(sum(col("__c")).as("n"), count(lit(1)).as("cells"),
        ((count_distinct(col("__a")) - lit(1L)) *
         (count_distinct(col("__b")) - lit(1L))).as("dof"),
        sum(col("__contrib")).cast("string").cast("double").as("chi2"))
  }

  /** Welch's unequal-variance t-test between two groups of a numeric
    * column — the A/B significance check over experiment events. ONE
    * conditional-aggregation pass (no pivot, no join): exact
    * DECIMAL(12,2) moment sums per arm, then means/variances/t/dof as a
    * fixed double dag over digit-string-cast sums (the corrExact
    * convention — bit-identical on any engine, any partitioning).
    * Intermediates are MATERIALIZED column layers so shared subterms
    * evaluate once (the linearFit convention). Output: 1 row
    * (n_a, n_b, mean_a, mean_b, t_stat, dof). */
  def welchTTest(df: DataFrame, groupCol: String, valueCol: String,
                 groupA: String, groupB: String): DataFrame = {
    val v = col(valueCol).cast("decimal(12,2)")
    def d(c: Column) = c.cast("string").cast("double")
    val base = df.where(col(groupCol).isin(groupA, groupB) && col(valueCol).isNotNull)
      .agg(count(when(col(groupCol) === lit(groupA), 1L)).as("n_a"),
        d(sum(when(col(groupCol) === lit(groupA), v))).as("__s_a"),
        d(sum(when(col(groupCol) === lit(groupA), v * v))).as("__ss_a"),
        count(when(col(groupCol) === lit(groupB), 1L)).as("n_b"),
        d(sum(when(col(groupCol) === lit(groupB), v))).as("__s_b"),
        d(sum(when(col(groupCol) === lit(groupB), v * v))).as("__ss_b"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    base
      .select(col("n_a"), col("n_b"),
        (col("__s_a") / na).as("mean_a"), (col("__s_b") / nb).as("mean_b"),
        ((col("__ss_a") - col("__s_a") * col("__s_a") / na) / (na - lit(1.0))).as("__v_a"),
        ((col("__ss_b") - col("__s_b") * col("__s_b") / nb) / (nb - lit(1.0))).as("__v_b"))
      .select(col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
        (col("__v_a") / col("n_a").cast("double")).as("__se_a"),
        (col("__v_b") / col("n_b").cast("double")).as("__se_b"))
      .select(col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
        ((col("mean_a") - col("mean_b")) /
          sqrt(col("__se_a") + col("__se_b"))).as("t_stat"),
        (((col("__se_a") + col("__se_b")) * (col("__se_a") + col("__se_b"))) /
          (col("__se_a") * col("__se_a") / (col("n_a").cast("double") - lit(1.0)) +
           col("__se_b") * col("__se_b") / (col("n_b").cast("double") - lit(1.0)))).as("dof"))
  }

  /** EXACT per-group nearest-rank percentiles WITHOUT a per-row window —
    * the p50/p95/p99 SLA report at 100 TB scale: raw rows are exchanged
    * exactly once into per-distinct-value counts; the cumulative rank,
    * group totals, and the percentile selection all run over the DISTINCT
    * table (|values| rows per group). Nearest-rank definition: the value
    * at rank ⌈p·n⌉ — a data value, never an interpolation (the MAD
    * convention), so cross-engine equality is exact. The ⌈p·n⌉ product is
    * one IEEE multiply both engines compute identically. */
  def percentilesExact(df: DataFrame, groupCol: String, valueCol: String,
                       ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      "percentilesExact: percentiles must be in (0, 1]")
    val dv = df.where(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("__g"), col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__c"))
    val cum = sum(col("__c")).over(
      Window.partitionBy("__g").orderBy(col("__v")))
    val n = sum(col("__c")).over(Window.partitionBy("__g"))
    // window layer FIRST, generator second — a same-select explode would
    // run below the window and multiply the partition sums
    val ranked = dv.select(col("__g"), col("__v"), cum.as("__cum"), n.as("__n"))
    val t = ranked.select(col("__g"), col("__v"), col("__cum"), col("__n"),
        explode(array(ps.map(lit): _*)).as("p"))
      .where(col("__cum") >= ceil(col("p") * col("__n").cast("double")))
    t.groupBy(col("__g").as(groupCol), col("p"))
      .agg(max(col("__n")).as("n"), min(col("__v")).as("value"))
  }

  /** Tukey-fence outlier bounds per group: nearest-rank quartiles from
    * the distinct-value table (the [[percentilesExact]] shape — raw rows
    * exchange once into per-value counts; quartile selection runs over
    * |values| rows), IQR fences at 1.5× in EXACT decimals (q1/q3 are
    * data values, 1.5·IQR is one scale-3 decimal product), and the
    * outlier count folded from the same distinct table — never a second
    * raw scan. The box-plot / robust-range audit complementing
    * [[madOutliers]] (which fences by median deviation instead).
    * Output: (group, n, q1, q3, lo, hi, n_outliers), bounds as
    * digit-string doubles. */
  def tukeyFences(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    def d(c: Column) = c.cast("string").cast("double")
    val dv = df.where(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("__g"),
        col(valueCol).cast("decimal(18,2)").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val cum = sum(col("__c")).over(
      Window.partitionBy("__g").orderBy(col("__v")))
    val n = sum(col("__c")).over(Window.partitionBy("__g"))
    val ranked = dv.select(col("__g"), col("__v"), col("__c"),
      cum.as("__cum"), n.as("__n"))
    // nearest-rank: q1 at ⌈n/4⌉ = (n+3) div 4, q3 at ⌈3n/4⌉ = (3n+3) div 4
    val quart = ranked.groupBy(col("__g"))
      .agg(max(col("__n")).as("n"),
        min(when(col("__cum") >= expr("(__n + 3) div 4"), col("__v")))
          .as("__q1"),
        min(when(col("__cum") >= expr("(3 * __n + 3) div 4"), col("__v")))
          .as("__q3"))
      .withColumn("__lo", col("__q1") -
        (col("__q3") - col("__q1")) * lit(BigDecimal("1.5").underlying))
      .withColumn("__hi", col("__q3") +
        (col("__q3") - col("__q1")) * lit(BigDecimal("1.5").underlying))
    ranked.join(broadcast(quart.withColumnRenamed("__g", "__g2")),
        col("__g") === col("__g2"))
      .drop("__g2")
      .groupBy(col("__g").as(groupCol))
      .agg(max(col("n")).as("n"), d(max(col("__q1"))).as("q1"),
        d(max(col("__q3"))).as("q3"), d(max(col("__lo"))).as("lo"),
        d(max(col("__hi"))).as("hi"),
        sum(when(col("__v") < col("__lo") || col("__v") > col("__hi"),
          col("__c")).otherwise(0L)).as("n_outliers"))
  }

  /** Hill tail-index estimate over the k largest observations — "how
    * heavy is this distribution's tail" (power-law exponent α; α ≤ 2
    * warns that variance-based stats are unstable — the check to run
    * before trusting means at 100 TB). α = k / Σ ln(x_i / x_k), summed
    * over the k top values with x_k the k-th largest.
    *
    * Distilled to the distinct-value table: x_k is the smallest value
    * whose suffix count ≥ k (nearest-rank, a data value), and because
    * ties AT x_k contribute ln(1) = 0, the sum is exactly
    * Σ_{v > x_k} c_v · ln(v/x_k) — no per-row top-k materialization and
    * no tie-capping logic. Each ln rounds 6 dp and sums in DECIMAL (the
    * q_tfidf convention), so any engine replays the statistic exactly.
    * Non-positive values are excluded (power laws live on x > 0).
    * Output: one row (k, n, x_k, alpha). */
  def hillTail(df: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k >= 2, "hillTail: k must be >= 2")
    def d(c: Column) = c.cast("string").cast("double")
    val dv = df.where(col(valueCol).isNotNull && col(valueCol) > 0)
      .groupBy(col(valueCol).cast("decimal(18,2)").as("__v"))
      .agg(count(lit(1)).as("__c"))
    // round 8: the descending suffix count via prefixFold, and the grand
    // total via a broadcast 1-row aggregate instead of the whole-table
    // window (Window.partitionBy() with no key is one reducer too).
    val tot = dv.agg(sum(col("__c")).as("__n"))
    val ranked = prefixFold(dv, Seq(col("__v").desc),
        Seq(PrefixSum(col("__c"), "__b")))
      .withColumn("__ge", coalesce(col("__b"), lit(0L)) + col("__c"))
      .crossJoin(broadcast(tot))
      .select(col("__v"), col("__c"), col("__ge"), col("__n"))
    val xk = ranked.where(col("__ge") >= k)
      .agg(max(col("__v")).as("__xk"), max(col("__n")).as("n"))
    ranked.crossJoin(broadcast(xk))
      .where(col("__v") > col("__xk"))
      .agg(max(col("n")).as("n"), d(max(col("__xk"))).as("x_k"),
        sum(col("__c") *
          round(log(d(col("__v")) / d(col("__xk"))), 6)
            .cast("decimal(18,6)")).as("__lnsum"))
      .select(lit(k).as("k"), col("n"), col("x_k"),
        round(lit(k.toDouble) / d(col("__lnsum")), 6).as("alpha"))
  }

  /** WEIGHTED nearest-rank percentiles per group — the revenue-weighted
    * median family ("the price at which half the MONEY was spent", not
    * half the rows). Same distinct-value shape as [[percentilesExact]],
    * but cumulating an exact DECIMAL weight sum; the selected value is
    * the smallest v with cumW(v) ≥ p·W. The p·W threshold is one IEEE
    * multiply of the digit-string total — both engines compute the
    * comparison identically. NULL values and NULL/negative weights are
    * excluded. Output: (group, p, total_w, value). */
  def weightedPercentiles(df: DataFrame, groupCol: String, valueCol: String,
                          weightCol: String, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      "weightedPercentiles: percentiles must be in (0, 1]")
    def d(c: Column) = c.cast("string").cast("double")
    val dv = df.where(col(valueCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol) >= 0)
      .groupBy(col(groupCol).as("__g"), col(valueCol).as("__v"))
      .agg(sum(col(weightCol).cast("decimal(18,2)")).as("__w"))
    val cum = sum(col("__w")).over(
      Window.partitionBy("__g").orderBy(col("__v")))
    val tot = sum(col("__w")).over(Window.partitionBy("__g"))
    val ranked = dv.select(col("__g"), col("__v"),
      d(cum).as("__cum"), d(tot).as("__tot"))
    ranked.select(col("__g"), col("__v"), col("__cum"), col("__tot"),
        explode(array(ps.map(lit): _*)).as("p"))
      .where(col("__cum") >= col("p") * col("__tot"))
      .groupBy(col("__g").as(groupCol), col("p"))
      .agg(max(col("__tot")).as("total_w"), min(col("__v")).as("value"))
  }

  /** Population Stability Index between a baseline and a current sample
    * over fixed [lo, hi) equi-width bins (plus underflow/overflow bins) —
    * the train/serve drift metric ML-ops alarms on (rule of thumb:
    * PSI > 0.2 = shifted). Bins come from [[histogram]]'s arithmetic with
    * CALLER-FIXED bounds, so the binning is deterministic and the two
    * sides share it; add-one smoothing keeps empty bins finite. Each
    * term (p−q)·ln(p/q) takes the 6-dp-rounded ln and lands in
    * DECIMAL(18,8), so the k-bin sum is order-exact and replayable.
    * NULL values are excluded. Output: one row
    * (n_base, n_current, psi). */
  def psi(base: DataFrame, current: DataFrame, valueCol: String,
          lo: Double, hi: Double, nBins: Int): DataFrame = {
    val hb = histogram(base.where(col(valueCol).isNotNull), valueCol,
      lo, hi, nBins).withColumnRenamed("n", "__nb")
    val hc = histogram(current.where(col(valueCol).isNotNull), valueCol,
      lo, hi, nBins).withColumnRenamed("n", "__nc")
    val k = nBins + 2 // under/overflow participate
    val joined = hb.join(hc, Seq("bin"), "full_outer")
      .select(col("bin"), coalesce(col("__nb"), lit(0L)).as("__nb"),
        coalesce(col("__nc"), lit(0L)).as("__nc"))
    val totals = joined.agg(sum(col("__nb")).as("n_base"),
      sum(col("__nc")).as("n_current"))
    val p = (col("__nb") + 1).cast("double") /
      (col("n_base") + k).cast("double")
    val q = (col("__nc") + 1).cast("double") /
      (col("n_current") + k).cast("double")
    joined.crossJoin(broadcast(totals))
      .select(col("n_base"), col("n_current"),
        round((p - q) * round(log(p / q), 6), 8)
          .cast("decimal(18,8)").as("__t"))
      .groupBy(col("n_base"), col("n_current"))
      .agg(round(sum(col("__t")).cast("string").cast("double"), 6)
        .as("psi"))
  }

  /** Mutual information between two categorical columns, in nats —
    * MI = Σ (n_xy/n)·ln(n_xy·n/(n_x·n_y)) — the dependence measure that
    * catches what correlation can't (non-linear, categorical). All
    * probabilities are exact-integer ratios; the ln argument is an
    * exact-int ratio too, so both engines feed ln the identical double;
    * each term rounds 8 dp into DECIMAL so the cell sum is order-exact.
    * NULL in either column is excluded (treat NULL as a category by
    * coalescing upstream if wanted). Joint cells fold from one
    * aggregate; marginals are window sums over the CELL table (the
    * chi-square shape — never a second raw scan). */
  def mutualInfo(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("__x"), col(yCol).as("__y"))
      .agg(count(lit(1)).as("__c"))
    val nx = sum(col("__c")).over(Window.partitionBy(col("__x")))
    val ny = sum(col("__c")).over(Window.partitionBy(col("__y")))
    val n = sum(col("__c")).over(Window.partitionBy())
    val t = cells.select(col("__c"), nx.as("__nx"), ny.as("__ny"),
      n.as("__n"))
    t.select(col("__n"),
        round(col("__c").cast("double") / col("__n").cast("double") *
          round(log((col("__c") * col("__n")).cast("double") /
            (col("__nx") * col("__ny")).cast("double")), 6), 8)
          .cast("decimal(18,8)").as("__t"))
      .groupBy(col("__n").as("n"))
      .agg(round(sum(col("__t")).cast("string").cast("double"), 6)
        .as("mi"))
  }

  /** Exact trimmed mean per group: drop the lowest and highest
    * `trimNum/trimDen` fraction of ROWS (t = ⌊n·num/den⌋ from each side,
    * exact integer) and average the rest — the robust mean between
    * plain mean (α=0) and median. Never materializes per-row ranks: per
    * distinct value, the kept multiplicity is the overlap of its rank
    * interval [cum−c+1, cum] with [t+1, n−t] — pure integer arithmetic
    * over the distinct-value table; the kept mass folds in exact
    * DECIMAL and divides once through the digit string. Groups left
    * empty by trimming (n ≤ 2t) report NULL.
    * Output: (group, n, n_trimmed_each_side, n_kept, mean). */
  def trimmedMean(df: DataFrame, groupCol: String, valueCol: String,
                  trimNum: Long, trimDen: Long): DataFrame = {
    require(trimNum >= 0 && trimDen >= 1 && trimNum * 2 < trimDen,
      "trimmedMean: trim fraction must be in [0, 0.5)")
    def d(c: Column) = c.cast("string").cast("double")
    val dv = df.where(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("__g"),
        col(valueCol).cast("decimal(18,2)").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val cum = sum(col("__c")).over(
      Window.partitionBy("__g").orderBy(col("__v")))
    val n = sum(col("__c")).over(Window.partitionBy("__g"))
    val ranked = dv.select(col("__g"), col("__v"), col("__c"),
        cum.as("__cum"), n.as("__n"))
      .withColumn("__t", expr(s"(__n * ${trimNum}L) div ${trimDen}L"))
    val kept = greatest(lit(0L),
      least(col("__cum"), col("__n") - col("__t")) -
        greatest(col("__cum") - col("__c") + 1, col("__t") + 1) + 1)
    ranked.withColumn("__kept", kept)
      .groupBy(col("__g").as(groupCol))
      .agg(max(col("__n")).as("n"), max(col("__t")).as("n_trimmed_each_side"),
        sum(col("__kept")).as("n_kept"),
        sum(col("__v") * col("__kept")).as("__ks"))
      .select(col(groupCol), col("n"), col("n_trimmed_each_side"),
        col("n_kept"),
        when(col("n_kept") > 0,
          round(d(col("__ks")) / col("n_kept").cast("double"), 6))
          .as("mean"))
  }

  /** Per-group equi-depth quantile bin ASSIGNMENT (ntile) — the feature-
    * binning step before bucketed models / calibration: every non-NULL row
    * gets a bucket in [1, k], sizes differing by at most one per group.
    * Ordering must be TOTAL for a distributed engine to be deterministic,
    * so ties on the value break by the caller's unique `tieCols` —
    * ntile over a partial order would let equal values straddle a bucket
    * boundary in either order. Round 8: runs on [[groupedRowPositions]] +
    * [[ntileAt]] instead of `ntile().over(partitionBy(group))` — the old
    * shape's reducer count equalled the GROUP count (3 return-flags = 3
    * live cores for 2M rows each at sf1; the 8.1×-at-10× entry in the
    * ledger), while the positions primitive spreads each group across
    * the whole range exchange. Semantics are bit-identical to the window
    * function (spec-asserted). NULL values pass through with NULL
    * bucket; a NULL GROUP forms its own partition with real buckets
    * (round 9 — the joins are null-safe, matching partitionBy). */
  def quantileBins(df: DataFrame, groupCol: String, valueCol: String,
                   k: Int, tieCols: Seq[String]): DataFrame = {
    require(k >= 1, "quantileBins: k must be >= 1")
    require(tieCols.nonEmpty, "quantileBins: need tie-break columns")
    // NULL rows must not occupy ntile slots (they'd shift every real
    // bucket), so they ride a separate pushed-down scan and union back.
    val nn = df.where(col(valueCol).isNotNull)
    val pos = groupedRowPositions(nn, Seq(col(groupCol)), "__pos",
      (col(valueCol).asc +: tieCols.map(col(_).asc)): _*)
    val sizes = nn.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
      .withColumnRenamed(groupCol, "__g_sz")
    // null-safe: rows whose GROUP is NULL form their own ntile partition
    // (the Window.partitionBy semantics), rather than being dropped
    val binned = pos.join(sizes, col(groupCol) <=> col("__g_sz"))
      .withColumn("bucket", ntileAt(col("__pos"), col("__n"), k).cast("long"))
      .drop("__pos", "__n", "__g_sz")
    binned.select(df.columns.map(col(_)) :+ col("bucket"): _*)
      .unionByName(
        df.where(col(valueCol).isNull)
          .withColumn("bucket", lit(null).cast("long")))
  }

  /** Top-k most frequent values per column — the value-frequency half of
    * a profile ("what's actually IN this column"): ONE scan stacks the
    * requested columns into (col_name, value-as-string) rows, one
    * aggregation counts, and a per-column window (partitioned by column
    * name — shards) ranks with the (count desc, value asc) deterministic
    * tie-break. NULLs are excluded (they're counted by profileColumns).
    * Stringly-typed output by design: one schema for any column mix. */
  def topValues(df: DataFrame, cols: Seq[String], k: Int): DataFrame = {
    require(cols.nonEmpty && k >= 1, "topValues: need columns and k >= 1")
    val stacked = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("string").as("value"))): _*)).as("s"))
      .select(col("s.col_name").as("col_name"), col("s.value").as("value"))
      .where(col("value").isNotNull)
    val counts = stacked.groupBy("col_name", "value").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("col_name").orderBy(col("cnt").desc, col("value").asc)
    counts.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Profile DRIFT between two snapshots of the same table — the
    * release-gate check "did this column's distribution move?": runs
    * profileColumns on both sides (one wide-aggregate scan each) and
    * joins the two k-row profiles on column name. `drifted` flags any
    * NULL-safe difference in the count metrics (null/distinct/nonnull) —
    * the cheap alarms; numeric range and length shifts surface in their
    * paired columns for the caller's thresholds. */
  def compareProfiles(dfA: DataFrame, dfB: DataFrame, cols: Seq[String],
                      exactDistinct: Boolean = true): DataFrame = {
    val a = profileColumns(dfA, cols, exactDistinct)
    val b = profileColumns(dfB, cols, exactDistinct)
    val metrics = Seq("n_nonnull", "n_null", "n_distinct", "min_num",
      "max_num", "avg_len")
    val pa = a.select(col("col_name") +: metrics.map(m => col(m).as(s"${m}_a")): _*)
    val pb = b.select(col("col_name") +: metrics.map(m => col(m).as(s"${m}_b")): _*)
    pa.join(pb, Seq("col_name"))
      .withColumn("drifted",
        !(col("n_nonnull_a") <=> col("n_nonnull_b")) ||
        !(col("n_null_a") <=> col("n_null_b")) ||
        !(col("n_distinct_a") <=> col("n_distinct_b")))
  }

  /** One-way ANOVA F-test across ALL groups of a categorical column —
    * the k-group generalization of welchTTest ("does segment affect
    * spend at all?"). Per-group exact decimal moments (one aggregation
    * shuffle), grand totals as window sums over the GROUP table (k rows,
    * never raw rows), between/within sum-of-squares terms rounded 6 dp
    * and decimal-summed (group-order-independent, the chi-square
    * convention). The SS terms are NORMALIZED by the total row count
    * BEFORE rounding — F is invariant (both SS scale by 1/N) and the
    * term magnitude stays O(variance) at ANY corpus size, so the 6-dp
    * rounding never leaves the range where both engines' round() is
    * exact (an un-normalized SSB at 10× data already drifted a ulp —
    * caught by the sf1 hash gate). Output: 1 row (k, n, dof_between,
    * dof_within, ssb_over_n, ssw_over_n, f_stat). */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("decimal(12,2)")
    def d(c: Column) = c.cast("string").cast("double")
    val g = df.where(col(valueCol).isNotNull).groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"), sum(v).as("__sdec"), sum(v * v).as("__ssdec"))
    val wAll = Window.partitionBy()
    val nTot = sum(col("__n")).over(wAll).cast("double")
    val grand = d(sum(col("__sdec")).over(wAll)) / nTot
    val nG = col("__n").cast("double")
    val meanG = d(col("__sdec")) / nG
    val terms = g.select(col("__n"),
      round((d(col("__ssdec")) - d(col("__sdec")) * d(col("__sdec")) / nG) / nTot, 6)
        .cast("decimal(24,6)").as("__ssw"),
      round(nG * (meanG - grand) * (meanG - grand) / nTot, 6)
        .cast("decimal(24,6)").as("__ssb"))
    terms
      .agg(count(lit(1)).as("k"), sum(col("__n")).as("n"),
        sum(col("__ssb")).cast("string").cast("double").as("ssb_over_n"),
        sum(col("__ssw")).cast("string").cast("double").as("ssw_over_n"))
      .select(col("k"), col("n"),
        (col("k") - lit(1L)).as("dof_between"),
        (col("n") - col("k")).as("dof_within"), col("ssb_over_n"), col("ssw_over_n"),
        ((col("ssb_over_n") / (col("k") - lit(1L)).cast("double")) /
         (col("ssw_over_n") / (col("n") - col("k")).cast("double"))).as("f_stat"))
  }

  /** Key-distribution skew profile — the diagnostic that DECIDES whether
    * a key needs salting (Aggregates.saltedAgg) before a 100 TB groupBy:
    * row count, distinct keys, the hottest key's count and share, and the
    * Shannon entropy of the key distribution (max = ln n_keys; a low
    * ratio means a few keys dominate). One key aggregation shuffle; the
    * entropy fold runs over the per-key counts (|keys| rows, not raw
    * rows) with each −p·ln p term rounded 6 dp and summed as DECIMAL so
    * the result is order-independent (q_tfidf convention). The total
    * rides a broadcast 1-row aggregate, NOT a whole-table window — the
    * counts table has one row per DISTINCT key, and the operator's whole
    * point is diagnosing high-cardinality keys (caught by PlanLint r9:
    * the `Window.partitionBy()` form funneled |keys| rows through one
    * reducer). */
  def keySkewProfile(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol).as("__k")).agg(count(lit(1)).as("__c"))
    val tot = counts.agg(sum(col("__c")).cast("double").as("__n"))
    val n = col("__n")
    counts.crossJoin(broadcast(tot))
      .select(col("__c"),
        round(-(col("__c").cast("double") / n) * log(col("__c").cast("double") / n), 6)
          .cast("decimal(24,6)").as("__h"))
      .agg(sum(col("__c")).as("n"), count(lit(1)).as("n_keys"),
        max(col("__c")).as("max_key_count"),
        round(max(col("__c")).cast("double") /
          sum(col("__c")).cast("double"), 6).as("top_share"),
        sum(col("__h")).cast("string").cast("double").as("entropy"))
  }

  /** Per-value counts of two named arms — the shared reduction under the
    * rank tests: one aggregation exchange keyed on the DISTINCT value, so
    * every downstream step (prefix sums, folds) runs on the distinct-value
    * table, never raw rows. */
  private def armCounts(df: DataFrame, groupCol: String, valueCol: String,
                        arm1: String, arm2: String): DataFrame =
    df.where(col(groupCol).isin(arm1, arm2) && col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("__v"),
        when(col(groupCol) === arm1, 1L).otherwise(0L).as("__a1"),
        when(col(groupCol) === arm2, 1L).otherwise(0L).as("__a2"))
      .groupBy(col("__v"))
      .agg(sum(col("__a1")).as("__c1"), sum(col("__a2")).as("__c2"))

  /** Mann-Whitney U (Wilcoxon rank-sum) for two arms, tie-aware and
    * integer-exact: with per-distinct-value counts c1/c2 and the prefix
    * count `bef` of strictly smaller values, arm 1's average-rank sum is
    * R1 = Σ c1·(bef + (c+1)/2), kept integral as 2·R1 = Σ c1·(2·bef+c+1)
    * (c = c1+c2), so `two_u` = 2·R1 − n1·(n1+1) is an exact BIGINT any
    * engine replays — ranks are never materialized per row. The normal
    * approximation z applies the standard tie correction Σ(t³−t) (no
    * continuity correction) and the rank-biserial effect size is
    * 1 − two_u/(n1·n2); both are fixed double dags over the exact
    * integers, rounded 6 dp.
    *
    * Scale: one value-keyed exchange; the prefix window runs over the
    * DISTINCT-value table (bounded by the value domain, the
    * histogramEquiDepth posture). */
  def mannWhitneyU(df: DataFrame, groupCol: String, valueCol: String,
                   arm1: String, arm2: String): DataFrame = {
    val g = armCounts(df, groupCol, valueCol, arm1, arm2)
    val c = col("__c1") + col("__c2")
    // round 8: the distinct-value prefix rides the prefixFold range
    // exchange (see histogramEquiDepth) instead of a global window.
    val folded = prefixFold(g.withColumn("__ct", c), Seq(col("__v").asc),
        Seq(PrefixSum(col("__ct"), "__b")))
      .withColumn("__bef", coalesce(col("__b"), lit(0L)))
      .agg(sum(col("__c1")).as("n1"), sum(col("__c2")).as("n2"),
        sum(col("__c1") * (lit(2L) * col("__bef") + c + 1)).as("__two_r1"),
        sum(c * c * c - c).as("__ties"))
    val n1 = col("n1").cast("double")
    val n2 = col("n2").cast("double")
    val n = (col("n1") + col("n2")).cast("double")
    val u1 = col("two_u").cast("double") / 2.0
    folded
      .select(col("n1"), col("n2"),
        (col("__two_r1") - col("n1") * (col("n1") + 1)).as("two_u"),
        col("__ties"))
      .select(col("n1"), col("n2"), col("two_u"),
        round(lit(1.0) - col("two_u").cast("double") / (n1 * n2), 6)
          .as("rank_biserial"),
        round((u1 - n1 * n2 / 2.0) /
          sqrt(n1 * n2 / 12.0 *
            ((n + 1.0) - col("__ties").cast("double") / (n * (n - 1.0)))), 6)
          .as("z"))
  }

  /** 2-D skyline (Pareto frontier): the rows not dominated in
    * (xCol, yCol) — p dominates q iff x_p ≥ x_q ∧ y_p ≥ y_q with at
    * least one strict. The multi-objective "best tradeoffs" operator
    * (price vs quality, revenue vs volume).
    *
    * Distributed shape — no all-pairs anywhere: reduce to the DISTINCT-x
    * table (per-x max y), prefix-max over x descending, keep x whose max
    * y strictly exceeds every higher-x max (y = prefix max ⇒ some
    * higher-x point weakly dominates with strict x ⇒ dominated), then
    * one value-keyed join back picks up the surviving rows — within an
    * x, only rows AT the per-x max y survive (lower y is strictly
    * dominated); exact duplicates of a frontier point all survive
    * (dominance needs a strict coordinate). NULL coordinates are
    * excluded. The prefix window runs over the distinct-x table (the
    * histogramEquiDepth posture). */
  def skyline2d(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val base = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
    val perX = base.groupBy(col(xCol).as("__x")).agg(max(col(yCol)).as("__my"))
    // round 8: the running max over the distinct-x table is a PrefixMax
    // prefixFold (the same two-level exchange as the sums — max is the
    // other monoid it folds); NULL still means "no predecessor".
    val keepX = prefixFold(perX, Seq(col("__x").desc),
        Seq(PrefixMax(col("__my"), "__pm")))
      .where(col("__pm").isNull || col("__my") > col("__pm"))
      .select(col("__x"), col("__my"))
    base.join(keepX,
      base(xCol) === keepX("__x") && base(yCol) === keepX("__my"))
      .drop("__x", "__my")
  }

  /** Two-proportion z-test (pooled) — the A/B conversion-rate
    * comparison: arms' trial/success counts fold in one conditional-
    * aggregation scan (the q_ttest shape); rates, the pooled proportion
    * and z = (p1−p2)/√(p̂(1−p̂)(1/n1+1/n2)) are fixed double dags over
    * the exact integers, rounded 6 dp at the edge. */
  def propTest2(df: DataFrame, groupCol: String, successCol: Column,
                arm1: String, arm2: String): DataFrame = {
    val s = successCol.cast("boolean")
    val folded = df.where(col(groupCol).isin(arm1, arm2))
      .agg(
        sum(when(col(groupCol) === arm1, 1L).otherwise(0L)).as("n1"),
        sum(when(col(groupCol) === arm1 && s, 1L).otherwise(0L)).as("x1"),
        sum(when(col(groupCol) === arm2, 1L).otherwise(0L)).as("n2"),
        sum(when(col(groupCol) === arm2 && s, 1L).otherwise(0L)).as("x2"))
    val n1 = col("n1").cast("double")
    val n2 = col("n2").cast("double")
    val p1 = col("x1").cast("double") / n1
    val p2 = col("x2").cast("double") / n2
    val pp = (col("x1") + col("x2")).cast("double") /
      (col("n1") + col("n2")).cast("double")
    folded.select(col("n1"), col("x1"), col("n2"), col("x2"),
      round(p1, 6).as("p1"), round(p2, 6).as("p2"),
      round((p1 - p2) /
        sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / n1 + lit(1.0) / n2)), 6)
        .as("z"))
  }

  /** Two-sample Kolmogorov-Smirnov distance, integer-exact: the ECDFs are
    * step functions changing only at observed values, so
    * D = max |F1 − F2| = max |n2·cum1(v) − n1·cum2(v)| / (n1·n2) over the
    * distinct values — `d_num` is that integer max, exact under any
    * partitioning; the single final division is one rounded double.
    * Same distributed shape as [[mannWhitneyU]]: one value-keyed
    * exchange, a prefix window over the distinct-value table, one fold. */
  def ksTest2(df: DataFrame, groupCol: String, valueCol: String,
              arm1: String, arm2: String): DataFrame = {
    val g = armCounts(df, groupCol, valueCol, arm1, arm2)
    val totals = g.agg(sum(col("__c1")).as("n1"), sum(col("__c2")).as("n2"))
    // round 8: both inclusive CDFs in ONE prefixFold pass (two PrefixSum
    // aggregates share the range exchange) instead of two global windows.
    prefixFold(g, Seq(col("__v").asc),
        Seq(PrefixSum(col("__c1"), "__b1"), PrefixSum(col("__c2"), "__b2")))
      .withColumn("__cum1", coalesce(col("__b1"), lit(0L)) + col("__c1"))
      .withColumn("__cum2", coalesce(col("__b2"), lit(0L)) + col("__c2"))
      .crossJoin(broadcast(totals))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        max(abs(col("n2") * col("__cum1") - col("n1") * col("__cum2")))
          .as("d_num"))
      .select(col("n1"), col("n2"), col("d_num"),
        round(col("d_num").cast("double") /
          (col("n1").cast("double") * col("n2").cast("double")), 6).as("d"))
  }

  /** Exact tie-aware ROC AUC — the probability a random positive scores
    * above a random negative, with ties counting 1/2. Computed as the
    * Mann-Whitney statistic over the DISTINCT-SCORE table (never per-row
    * ranks): with per-score counts (pos, neg) and `bef` = rows at
    * strictly smaller scores, the positives' midrank sum is kept
    * integral as 2·R⁺ = Σ pos·(2·bef + c + 1), so
    * two_u = 2·R⁺ − n_pos·(n_pos+1) = 2·(#concordant + ½·#tied) is an
    * exact BIGINT under any partitioning; AUC = two_u / (2·n_pos·n_neg)
    * is the single final double (operands stay below 2⁵³ far past any
    * realistic eval-set size — the division inputs are exact).
    *
    * One score-keyed exchange, a prefix window over the distinct-score
    * table, one fold — the [[mannWhitneyU]] shape applied to classifier
    * evaluation. NULL scores are excluded. */
  def rocAuc(df: DataFrame, scoreCol: String, labelCol: Column): DataFrame = {
    val g = df.where(col(scoreCol).isNotNull)
      .select(col(scoreCol).as("__v"),
        when(labelCol, 1L).otherwise(0L).as("__p"))
      .groupBy(col("__v"))
      .agg(sum(col("__p")).as("__pos"),
        sum(lit(1L) - col("__p")).as("__neg"))
    val c = col("__pos") + col("__neg")
    // round 8: score-rank prefix via prefixFold (see histogramEquiDepth).
    prefixFold(g.withColumn("__ct", c), Seq(col("__v").asc),
        Seq(PrefixSum(col("__ct"), "__b")))
      .withColumn("__bef", coalesce(col("__b"), lit(0L)))
      .agg(sum(col("__pos")).as("n_pos"), sum(col("__neg")).as("n_neg"),
        sum(col("__pos") * (lit(2L) * col("__bef") + c + 1)).as("__two_rp"))
      .select(col("n_pos"), col("n_neg"),
        (col("__two_rp") - col("n_pos") * (col("n_pos") + 1)).as("two_u"))
      .select(col("n_pos"), col("n_neg"), col("two_u"),
        round(col("two_u").cast("double") /
          (lit(2.0) * col("n_pos").cast("double") *
            col("n_neg").cast("double")), 6).as("auc"))
  }

  /** Theil-Sen robust slope per group: the (lower-)median of all
    * pairwise slopes (y_j − y_i)/(x_j − x_i), plus the matching median-
    * of-residuals intercept — the outlier-resistant regression line
    * (up to ~29% contamination breakdown vs OLS's zero).
    *
    * BOUNDED-GROUP CONTRACT (the linkage-blocking posture): pairs are
    * O(n²) per group by definition of the estimator — feed AGGREGATED
    * series (e.g. per-bucket means), not raw 100 TB rows; the pair join
    * keys by group so each group's quadratic work shards independently.
    * Slopes are IEEE doubles from exact decimal differences (correctly-
    * rounded division — bit-identical on any engine); the median is the
    * LOWER median (a data value, no interpolation — the MAD convention),
    * picked by row_number over (slope, i, j) so ties order totally.
    * Pairs with equal x are skipped per the estimator. Output:
    * (group, n_points, n_pairs, slope, intercept). */
  def theilSen(df: DataFrame, groupCol: String, xCol: String,
               yCol: String): DataFrame = {
    val pts = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(xCol).cast("decimal(18,2)").as("__x"),
        col(yCol).cast("decimal(18,2)").as("__y"))
      .withColumn("__i", row_number().over(
        Window.partitionBy(col("__g")).orderBy(col("__x"), col("__y"))))
    def d(c: Column) = c.cast("string").cast("double")
    val a = pts.select(col("__g"), col("__x").as("__xa"),
      col("__y").as("__ya"), col("__i").as("__ia"))
    val b = pts.select(col("__g"), col("__x").as("__xb"),
      col("__y").as("__yb"), col("__i").as("__ib"))
    val pairs = a.join(b, Seq("__g"))
      .where(col("__ia") < col("__ib") && col("__xa") =!= col("__xb"))
      .select(col("__g"), col("__ia"), col("__ib"),
        (d(col("__yb") - col("__ya")) / d(col("__xb") - col("__xa")))
          .as("__s"))
    val wS = Window.partitionBy(col("__g"))
      .orderBy(col("__s"), col("__ia"), col("__ib"))
    val med = pairs
      .withColumn("__rn", row_number().over(wS))
      .withColumn("__m", count(lit(1)).over(Window.partitionBy(col("__g"))))
      .where(col("__rn") === expr("(__m + 1) div 2"))
      .select(col("__g"), col("__m").as("n_pairs"), col("__s").as("slope"))
    val wR = Window.partitionBy(col("__g"))
      .orderBy(col("__r"), col("__i"))
    val inter = pts.join(med, Seq("__g"))
      .withColumn("__r", d(col("__y")) - col("slope") * d(col("__x")))
      .withColumn("__rn", row_number().over(wR))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__g"))))
      .where(col("__rn") === expr("(__n + 1) div 2"))
      .select(col("__g").as(groupCol), col("__n").as("n_points"),
        col("n_pairs"), round(col("slope"), 6).as("slope"),
        round(col("__r"), 6).as("intercept"))
    inter
  }

  /** Per-row z-score standardization by group: z = (x − μ)/σ with the
    * sample standard deviation, both derived from the same exact decimal
    * moment sums as [[corrExact]] (digit-string doubles, fixed IEEE dag —
    * bit-identical on any engine). The per-group stats row broadcasts
    * back onto the rows (one row per group — never a wide shuffle).
    * Groups with σ = 0 or n < 2 yield NULL z. NULL x passes through as
    * NULL z. 6 dp at the edge. */
  def standardize(df: DataFrame, groupCol: String, valueCol: String,
                  outCol: String = "z"): DataFrame = {
    val x = col(valueCol).cast("decimal(12,2)")
    def d(c: Column) = c.cast("string").cast("double")
    val stats = df.where(col(valueCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"), d(sum(x)).as("__sx"),
        d(sum(x * x)).as("__sxx"))
      .select(col(groupCol), col("__n"),
        (col("__sx") / col("__n").cast("double")).as("__mu"),
        when(col("__n") > 1, sqrt(
          (col("__n").cast("double") * col("__sxx") -
            col("__sx") * col("__sx")) /
          (col("__n").cast("double") *
            (col("__n").cast("double") - lit(1.0))))).as("__sigma"))
    df.join(broadcast(stats), Seq(groupCol), "left")
      .withColumn(outCol, round(
        when(col("__sigma") > 0,
          (d(x) - col("__mu")) / col("__sigma")), 6))
      .drop("__n", "__sx", "__sxx", "__mu", "__sigma")
  }

  /** Group-mean imputation: fill NULL values with their group's mean
    * (exact decimal sum / count through the digit string, 6 dp — the
    * deterministic fill any engine reproduces). Groups that are entirely
    * NULL stay NULL (no silent global fallback — compose with a second
    * pass if wanted). Adds `<out>` and a boolean `<out>_imputed` marker;
    * non-NULL values pass through unrounded. */
  def imputeMean(df: DataFrame, groupCol: String, valueCol: String,
                 outCol: String): DataFrame = {
    def d(c: Column) = c.cast("string").cast("double")
    val means = df.where(col(valueCol).isNotNull)
      .groupBy(col(groupCol))
      .agg((d(sum(col(valueCol).cast("decimal(18,2)"))) /
        count(lit(1)).cast("double")).as("__mu"))
    df.join(broadcast(means), Seq(groupCol), "left")
      .withColumn(outCol,
        coalesce(col(valueCol).cast("double"), round(col("__mu"), 6)))
      .withColumn(s"${outCol}_imputed",
        col(valueCol).isNull && col("__mu").isNotNull)
      .drop("__mu")
  }

  /** Threshold classifier evaluation in ONE conditional-aggregation scan:
    * confusion counts (exact BIGINTs) plus precision / recall / F1 /
    * accuracy as fixed-shape doubles over those counts (identical IEEE
    * dags on any engine; 6 dp at the edge). Zero denominators yield NULL
    * rather than NaN. Complements [[rocAuc]] (threshold-free) with the
    * operating-point view. NULL scores are excluded. */
  def classifierEval(df: DataFrame, scoreCol: String, labelCol: Column,
                     threshold: Double): DataFrame = {
    val pred = col(scoreCol) >= threshold
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    val g = df.where(col(scoreCol).isNotNull)
      .select(pred.as("__pred"), labelCol.as("__lab"))
      .agg(cnt(col("__pred") && col("__lab")).as("tp"),
        cnt(col("__pred") && !col("__lab")).as("fp"),
        cnt(!col("__pred") && col("__lab")).as("fn"),
        cnt(!col("__pred") && !col("__lab")).as("tn"))
    val tp = col("tp").cast("double")
    val fp = col("fp").cast("double")
    val fn = col("fn").cast("double")
    val tn = col("tn").cast("double")
    g.select(col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") > 0, tp / (tp + fp)).as("__p"),
        when(col("tp") + col("fn") > 0, tp / (tp + fn)).as("__r"),
        when(col("tp") + col("fp") + col("fn") + col("tn") > 0,
          (tp + tn) / (tp + fp + fn + tn)).as("__a"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        round(col("__p"), 6).as("precision"),
        round(col("__r"), 6).as("recall"),
        round(when(col("__p") + col("__r") > 0,
          lit(2.0) * col("__p") * col("__r") / (col("__p") + col("__r"))), 6)
          .as("f1"),
        round(col("__a"), 6).as("accuracy"))
  }

  /** Per-group Gini coefficient of a non-negative measure — the
    * inequality statistic (revenue concentration, token-count imbalance
    * across sources). Uses the rank identity on values sorted ascending:
    * G = (2·Σ r·x − (n+1)·Σx) / (n·Σx), exact in DECIMAL until the one
    * final division. The identity is invariant to tie order — a tied
    * block contributes x·Σr and the rank SET of the block is fixed — so
    * row_number's nondeterminism among equal values cannot change the
    * result, and no tie-break column is needed.
    *
    * One key-sharded rank window over raw rows, one key aggregate; the
    * division goes decimal → exact digit string → double per the
    * [[corrExact]] convention so both engines round identically at any
    * scale. NULL and negative measures are excluded (Gini is defined on
    * non-negative data); a group with Σx = 0 reports NULL. */
  def gini(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val x = col(valueCol).cast("decimal(18,2)")
    val base = df.where(col(valueCol).isNotNull && col(valueCol) >= 0)
      .select(col(groupCol), x.as("__x"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__x").asc)
    def d(c: Column) = c.cast("string").cast("double")
    base.withColumn("__r", row_number().over(w).cast("long"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).as("__sx"),
        sum(col("__x") * col("__r")).as("__srx"))
      .select(col(groupCol), col("n"), d(col("__sx")).as("sum_x"),
        when(col("__sx") > 0, round(
          d(lit(2L) * col("__srx") - (col("n") + 1) * col("__sx")) /
            d(col("n") * col("__sx")), 6)).as("gini"))
  }

  /** Isotonic (monotone non-decreasing) regression per group via the
    * closed-form max-min identity: fitted(i) = max_{j≤i} min_{k≥i}
    * wavg(y, bins j..k) — exactly the pool-adjacent-violators solution,
    * but expressed as a fixed dataflow dag instead of the sequential
    * PAVA sweep (which has no bounded relational form). This is the
    * standard score-calibration step of an ML pipeline: learn the best
    * monotone map from score bin → empirical label rate.
    *
    * BOUNDED-BIN CONTRACT (the theilSen posture): raw rows first
    * collapse to per-(group, x) weight + y-sum — ONE map-side-combined
    * aggregate over the 100 TB input — and everything quadratic/cubic
    * runs on the BIN table (O(B³) rows per group for B bins; feed ≤ a
    * few hundred bins). Interval means are exact-decimal sums divided
    * once through the digit string (correctly-rounded doubles — the
    * corrExact convention), so min/max over them is engine-independent.
    * Output: (g, x, n, y_mean, fitted), fitted monotone in x, 6 dp. */
  def isotonicFit(df: DataFrame, groupCol: String, xCol: String,
                  yCol: String): DataFrame = {
    def d(c: Column) = c.cast("string").cast("double")
    val pts = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(groupCol).as("__g"), col(xCol).cast("long").as("__x"))
      .agg(count(lit(1)).as("__w"),
        sum(col(yCol).cast("decimal(18,2)")).as("__sy"))
    val wi = Window.partitionBy(col("__g")).orderBy(col("__x"))
    val cum = pts.select(col("__g"), col("__x"),
      row_number().over(wi).cast("long").as("__i"),
      col("__w"), col("__sy"),
      sum(col("__w")).over(wi).as("__cw"),
      sum(col("__sy")).over(wi).cast("decimal(28,2)").as("__csy"))
    // index 0 anchor per group so interval [j..k] is the prefix delta
    // (j-1, k]; intervals then come from one self-join of the cum table.
    val z = cum.select(col("__g")).distinct()
      .select(col("__g"), lit(0L).as("__i"), lit(0L).as("__cw"),
        lit(BigDecimal(0)).cast("decimal(28,2)").as("__csy"))
      .unionByName(cum.select(col("__g"), col("__i"), col("__cw"),
        col("__csy")))
    val iv = z.as("lo").join(z.as("hi"),
        col("hi.__g") === col("lo.__g") && col("hi.__i") > col("lo.__i"))
      .select(col("lo.__g").as("__g"), col("lo.__i").as("__j0"),
        col("hi.__i").as("__k"),
        (d(col("hi.__csy") - col("lo.__csy")) /
          d(col("hi.__cw") - col("lo.__cw"))).as("__avg"))
    val mn = cum.select(col("__g"), col("__i"))
      .join(iv, Seq("__g"))
      .where(col("__j0") < col("__i") && col("__k") >= col("__i"))
      .groupBy(col("__g"), col("__i"), col("__j0"))
      .agg(min(col("__avg")).as("__m"))
    val ft = mn.groupBy(col("__g"), col("__i"))
      .agg(max(col("__m")).as("__f"))
    cum.join(ft, Seq("__g", "__i"))
      .select(col("__g").as("g"), col("__x").as("x"), col("__w").as("n"),
        round(d(col("__sy")) / col("__w").cast("double"), 6).as("y_mean"),
        round(col("__f"), 6).as("fitted"))
  }

  /** Per-query ranking quality — NDCG@k, MRR, and average precision over
    * binary relevance: the retrieval-evaluation triple every search /
    * RAG corpus pipeline reports. Ranks come from one key-sharded
    * row_number window (score desc, id asc tie-break — total order, so
    * both engines rank identically); every irrational term (1/log2(r+1)
    * discounts, 1/r precisions) is rounded to 6 dp BEFORE the decimal
    * sum (the tfidf convention — cross-engine log/division ulp noise
    * cannot accumulate), and the final ratios divide once through the
    * digit string. IDCG needs no second sort: the i-th relevant item's
    * ideal rank IS its index among relevant rows, which the cumulative
    * relevant-count window already carries. Queries with no relevant
    * item report NULL metrics. Output: (q, n, n_rel, ndcg, mrr, ap). */
  def rankingMetrics(df: DataFrame, queryCol: String, scoreCol: String,
                     idCol: String, relCol: Column, k: Int): DataFrame = {
    require(k >= 1, "rankingMetrics: k must be >= 1")
    def d(c: Column) = c.cast("string").cast("double")
    val w = Window.partitionBy(col("__q"))
      .orderBy(col("__s").desc, col("__id").asc)
    val ranked = df.select(col(queryCol).as("__q"), col(scoreCol).as("__s"),
        col(idCol).as("__id"), when(relCol, 1L).otherwise(0L).as("__rel"))
      .withColumn("__r", row_number().over(w).cast("long"))
      .withColumn("__cr", sum(col("__rel")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val dec6 = "decimal(18,6)"
    val terms = ranked.select(col("__q"), col("__rel"), col("__r"), col("__cr"),
      when(col("__rel") === 1 && col("__r") <= k,
        round(lit(1.0) / log(2.0, col("__r").cast("double") + 1.0), 6)
          .cast(dec6)).as("__dcg_t"),
      when(col("__rel") === 1 && col("__cr") <= k,
        round(lit(1.0) / log(2.0, col("__cr").cast("double") + 1.0), 6)
          .cast(dec6)).as("__idcg_t"),
      when(col("__rel") === 1,
        round(col("__cr").cast("double") / col("__r").cast("double"), 6)
          .cast(dec6)).as("__prec_t"),
      when(col("__rel") === 1, col("__r")).as("__relr"))
    terms.groupBy(col("__q").as("q"))
      .agg(count(lit(1)).as("n"), sum(col("__rel")).as("n_rel"),
        sum(col("__dcg_t")).as("__dcg"), sum(col("__idcg_t")).as("__idcg"),
        min(col("__relr")).as("__minr"), sum(col("__prec_t")).as("__sprec"))
      .select(col("q"), col("n"), col("n_rel"),
        when(col("n_rel") > 0,
          round(d(col("__dcg")) / d(col("__idcg")), 6)).as("ndcg"),
        when(col("n_rel") > 0,
          round(lit(1.0) / col("__minr").cast("double"), 6)).as("mrr"),
        when(col("n_rel") > 0,
          round(d(col("__sprec")) / col("n_rel").cast("double"), 6)).as("ap"))
  }

  /** Probability-calibration reliability table: bin predictions by a
    * caller-supplied integer bin key, and per bin report volume, mean
    * predicted probability, empirical positive rate, the |gap| between
    * them (the reliability-diagram vertical), and the mean squared error
    * (per-bin Brier term). Everything sums in exact decimals — the
    * predicted probability must arrive as a DECIMAL column (e.g. an
    * integer score scaled by 0.01), so (p − y)² is exact and the single
    * division per metric goes through the digit string. The gap is
    * computed from the two ALREADY-6dp-rounded means, so both engines
    * subtract identical doubles. One map-side-combined aggregate; bins
    * shard by key. Output: (bin, n, n_pos, mean_p, pos_rate, gap, brier). */
  def calibrationBins(df: DataFrame, binCol: String, probCol: String,
                      labelCol: Column): DataFrame = {
    def d(c: Column) = c.cast("string").cast("double")
    val y = when(labelCol, 1L).otherwise(0L)
    val p = col(probCol)
    val sq = (p - y.cast("decimal(5,4)")) * (p - y.cast("decimal(5,4)"))
    val agg = df.groupBy(col(binCol).as("bin"))
      .agg(count(lit(1)).as("n"), sum(y).as("n_pos"),
        sum(p).as("__sp"), sum(sq).as("__ssq"))
    agg.select(col("bin"), col("n"), col("n_pos"),
        round(d(col("__sp")) / col("n").cast("double"), 6).as("mean_p"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("pos_rate"),
        col("__ssq"))
      .select(col("bin"), col("n"), col("n_pos"), col("mean_p"),
        col("pos_rate"),
        round(abs(col("mean_p") - col("pos_rate")), 6).as("gap"),
        round(d(col("__ssq")) / col("n").cast("double"), 6).as("brier"))
  }

  /** Difference-in-differences estimate: the 2×2 causal contrast
    * (treated−control) × (post−pre) over exact-decimal cell sums —
    * the first-pass effect readout of any launch/experiment ledger.
    * All four cell means divide exact decimal sums by exact counts
    * (digit-string doubles), the DiD combines those IEEE doubles, and
    * ONE final 6-dp round lands at the edge — so both engines agree
    * bit-for-bit. Cells with no rows yield NULL (and a NULL estimate).
    * One map-side-combined aggregate over the full input.
    * Output: 1 row — (n, mean_treat_pre, mean_treat_post, mean_ctrl_pre,
    * mean_ctrl_post, did). */
  /** Geometric and harmonic means per group over POSITIVE values (both
    * are undefined otherwise; NULLs and non-positives are excluded and
    * reported via n vs n_excluded). Geometric rides the decimal-summed
    * 6-dp ln convention (tfidf/kaplanMeier precedent) re-exponentiated
    * at the edge; harmonic sums 12-dp-rounded reciprocals (the values'
    * reciprocals live near zero — 12 dp keeps precision while pinning
    * both engines to identical decimals). One map-side-combined
    * aggregate. Output: (g, n, n_excluded, geo_mean, harm_mean). */
  def geoHarmMeans(df: DataFrame, groupCol: String,
                   valueCol: String): DataFrame = {
    def d(c: Column) = c.cast("string").cast("double")
    val v = col(valueCol).cast("decimal(18,2)")
    val pos = col(valueCol).isNotNull && v > 0
    val lnT = when(pos, round(log(d(v)), 6).cast("decimal(18,6)"))
    val invT = when(pos, round(lit(1.0) / d(v), 12).cast("decimal(24,12)"))
    df.groupBy(col(groupCol).as("g"))
      .agg(sum(when(pos, 1L).otherwise(0L)).as("n"),
        sum(when(pos, 0L).otherwise(1L)).as("n_excluded"),
        sum(lnT).as("__sln"), sum(invT).as("__sinv"))
      .select(col("g"), col("n"), col("n_excluded"),
        when(col("n") > 0, round(
          exp(d(col("__sln")) / col("n").cast("double")), 6)).as("geo_mean"),
        when(col("n") > 0, round(
          col("n").cast("double") / d(col("__sinv")), 6)).as("harm_mean"))
  }

  def diffInDiff(df: DataFrame, treatedCol: Column, postCol: Column,
                 valueCol: String): DataFrame = {
    def d(c: Column) = c.cast("string").cast("double")
    val v = col(valueCol).cast("decimal(18,2)")
    def cell(t: Boolean, p: Boolean) = {
      val in = treatedCol === t && postCol === p
      (sum(when(in, v)), sum(when(in, 1L).otherwise(0L)))
    }
    val (stp, ntp) = cell(t = true, p = false)
    val (stq, ntq) = cell(t = true, p = true)
    val (scp, ncp) = cell(t = false, p = false)
    val (scq, ncq) = cell(t = false, p = true)
    df.agg(count(lit(1)).as("n"),
        stp.as("__stp"), ntp.as("__ntp"), stq.as("__stq"), ntq.as("__ntq"),
        scp.as("__scp"), ncp.as("__ncp"), scq.as("__scq"), ncq.as("__ncq"))
      .select(col("n"),
        (d(col("__stp")) / col("__ntp").cast("double")).as("__mtp"),
        (d(col("__stq")) / col("__ntq").cast("double")).as("__mtq"),
        (d(col("__scp")) / col("__ncp").cast("double")).as("__mcp"),
        (d(col("__scq")) / col("__ncq").cast("double")).as("__mcq"))
      .select(col("n"),
        round(col("__mtp"), 6).as("mean_treat_pre"),
        round(col("__mtq"), 6).as("mean_treat_post"),
        round(col("__mcp"), 6).as("mean_ctrl_pre"),
        round(col("__mcq"), 6).as("mean_ctrl_post"),
        round((col("__mtq") - col("__mtp")) - (col("__mcq") - col("__mcp")),
          6).as("did"))
  }
}
