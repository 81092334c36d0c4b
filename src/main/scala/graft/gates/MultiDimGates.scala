package graft
package gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Aggregates, Relational}
import graft.operators.Aggregates._
import graft.pipeline.{Dedup, Multimodal, Profile, Sampling, Scoring, Similarity}

import GateHelpers.{BpeNumMerges, NgramPairsCte, asDouble, bpeTrainOracle, dec}

/** Multi-dimensional aggregation gates (ROLLUP / CUBE / GROUPING SETS /
  * PIVOT), then the gates appended after that section: statistics,
  * time-series, graph and evaluation gates. */
object MultiDimGates extends GateGroup {

  gate("q_rollup", (s, d) => {
    // Hierarchical subtotals over (returnflag, linestatus) in ONE pass —
    // Expand before the partial aggregate, so the shuffle moves partials.
    val li = Tables.lineitem(s, d).withColumn("qty", dec(col("l_quantity")))
    val agg = Aggregates.rollupAggregate(Seq("l_returnflag", "l_linestatus"), Seq(
      Agg(SUM, Some("qty"), "sum_qty"), Agg(COUNT, None, "n")))(li)
    Relational.sort(col("gid"), col("l_returnflag"), col("l_linestatus"))(
      asDouble("sum_qty")(agg))
  }, oracle =
    """SELECT l_returnflag, l_linestatus,
      |GROUPING(l_returnflag, l_linestatus) AS gid,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |COUNT(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)

  gate("q_cube", (s, d) => {
    val o = Tables.orders(s, d).withColumn("price", dec(col("o_totalprice")))
    val agg = Aggregates.cubeAggregate(Seq("o_orderstatus", "o_orderpriority"), Seq(
      Agg(SUM, Some("price"), "sum_price"), Agg(COUNT, None, "n")))(o)
    Relational.sort(col("gid"), col("o_orderstatus"), col("o_orderpriority"))(
      asDouble("sum_price")(agg))
  }, oracle =
    """SELECT o_orderstatus, o_orderpriority,
      |GROUPING(o_orderstatus, o_orderpriority) AS gid,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |COUNT(*) AS n
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin)

  gate("q_grouping_sets", (s, d) => {
    // Explicit sets: per-flag, per-status, and the grand total — the shape
    // a reference user would emulate with three aggregations + union.
    val li = Tables.lineitem(s, d).withColumn("qty", dec(col("l_quantity")))
    val agg = Aggregates.groupingSetsAggregate(
      Seq(Seq("l_returnflag"), Seq("l_linestatus"), Seq.empty),
      Seq("l_returnflag", "l_linestatus"),
      Seq(Agg(SUM, Some("qty"), "sum_qty"), Agg(COUNT, None, "n")))(li)
    Relational.sort(col("gid"), col("l_returnflag"), col("l_linestatus"))(
      asDouble("sum_qty")(agg))
  }, oracle =
    """SELECT l_returnflag, l_linestatus,
      |GROUPING(l_returnflag, l_linestatus) AS gid,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |COUNT(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)

  gate("q_pivot", (s, d) => {
    // Explicit value list (no hidden distinct-discovery job); single
    // conditional aggregation underneath. Absent combinations stay NULL.
    val o = Tables.orders(s, d).withColumn("price", dec(col("o_totalprice")))
    val p = Aggregates.pivotAggregate(Seq("o_orderpriority"), "o_orderstatus",
      Seq("O", "F", "P"), Agg(SUM, Some("price"), "sum_price"))(o)
    Relational.sort(col("o_orderpriority"))(
      p.select(col("o_orderpriority"),
        col("O").cast("double").as("sum_open"),
        col("F").cast("double").as("sum_filled"),
        col("P").cast("double").as("sum_pending")))
  }, oracle =
    """SELECT o_orderpriority,
      |CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_open,
      |CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_filled,
      |CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_pending
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  gate("q_concurrency", (s, d) => {
    // Sweep-line peak concurrency over the same synthetic intervals as
    // q_interval_merge: per user, max simultaneously-open sessions, the
    // earliest instant the peak is reached, and the interval count.
    val iv = Tables.events(s, d).select(col("user_id"),
      graft.functions.Exprs.epochMicrosCivil(col("ts")).as("s"),
      (graft.functions.Exprs.epochMicrosCivil(col("ts")) +
        ((col("event_id") % 7) + 1) * 600000000L).as("e"))
    Relational.sort(col("user_id"))(
      graft.pipeline.Events.concurrencyProfile(iv, Seq("user_id"), "s", "e"))
  }, oracle =
    // Sweep-line concurrency: deltas netted per (key, instant) — ends
    // release before starts acquire at the same time — then a prefix sum
    // per user; peak + earliest peak time.
    """WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
      |  epoch_us(ts) + ((event_id % 7) + 1) * 600000000 AS e FROM events),
      |d AS (SELECT user_id, s AS t, 1 AS dd FROM iv
      |  UNION ALL SELECT user_id, e, -1 FROM iv),
      |pi AS (SELECT user_id, t, SUM(dd) AS net,
      |    SUM(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS starts
      |  FROM d GROUP BY user_id, t),
      |c AS (SELECT user_id, t, starts, SUM(net) OVER (
      |    PARTITION BY user_id ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
      |  FROM pi),
      |a AS (SELECT user_id, CAST(SUM(starts) AS BIGINT) AS n_intervals,
      |    MAX(conc) AS maxc FROM c GROUP BY user_id)
      |SELECT a.user_id, a.n_intervals,
      |  CAST(a.maxc AS BIGINT) AS max_concurrency,
      |  CAST(MIN(c.t) AS BIGINT) AS at_time
      |FROM a JOIN c ON c.user_id = a.user_id AND c.conc = a.maxc
      |GROUP BY a.user_id, a.n_intervals, a.maxc
      |ORDER BY a.user_id""".stripMargin)

  gate("q_auc", (s, d) => {
    // Exact tie-aware ROC AUC: score = l_quantity (heavily tied — the
    // midrank path is what's under test), label = returned flag.
    graft.pipeline.Profile.rocAuc(Tables.lineitem(s, d), "l_quantity",
      col("l_returnflag") === "R")
  }, oracle =
    // Exact AUC = Mann-Whitney midranks over the distinct-score table;
    // two_u is an exact BIGINT, one final division.
    """WITH g AS (SELECT l_quantity AS v,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS pos,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)
      |      AS BIGINT) AS neg
      |  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY l_quantity),
      |w AS (SELECT pos, neg, COALESCE(SUM(pos + neg) OVER (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
      |  FROM g),
      |f AS (SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
      |    CAST(SUM(neg) AS BIGINT) AS n_neg,
      |    CAST(SUM(pos * (2 * bef + pos + neg + 1)) AS BIGINT) AS two_rp
      |  FROM w)
      |SELECT n_pos, n_neg, two_rp - n_pos * (n_pos + 1) AS two_u,
      |  round(CAST(two_rp - n_pos * (n_pos + 1) AS DOUBLE) /
      |    (2.0 * n_pos * n_neg), 6) AS auc
      |FROM f""".stripMargin)

  gate("q_gini", (s, d) => {
    // Revenue-concentration Gini per market segment over per-customer
    // order totals; rank identity in exact decimals, one final division
    // through the digit string.
    val rev = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(sum(dec(col("o_totalprice"))).cast("decimal(18,2)").as("rev"))
    val seg = rev.join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("rev"))
    Relational.sort(col("seg"))(
      graft.pipeline.Profile.gini(seg, "seg", "rev"))
  }, oracle =
    // Gini rank identity in exact decimals; tie order cannot matter (a
    // tied block contributes x·Σr with a fixed rank set), division via
    // the digit string.
    """WITH rev AS (SELECT o_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
      |      AS rev
      |  FROM orders GROUP BY o_custkey),
      |j AS (SELECT c.c_mktsegment AS seg, r.rev AS x
      |  FROM rev r JOIN customer c ON c.c_custkey = r.o_custkey
      |  WHERE r.rev IS NOT NULL AND r.rev >= 0),
      |rk AS (SELECT seg, x, CAST(row_number() OVER (
      |    PARTITION BY seg ORDER BY x) AS BIGINT) AS r FROM j),
      |ag AS (SELECT seg, COUNT(*) AS n, SUM(x) AS sx, SUM(x * r) AS srx
      |  FROM rk GROUP BY seg)
      |SELECT seg, n, CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sum_x,
      |  CASE WHEN sx > 0 THEN round(
      |    CAST(CAST(2 * srx - (n + 1) * sx AS VARCHAR) AS DOUBLE) /
      |    CAST(CAST(n * sx AS VARCHAR) AS DOUBLE), 6) END AS gini
      |FROM ag ORDER BY seg""".stripMargin)

  gate("q_bfs", (s, d) => {
    // Multi-source BFS over a data-derived directed graph (order/customer
    // keys folded into a 500-node space, cycles included); min hop
    // distance from the %50 source set, budget 6 — the oracle explores
    // ALL bounded paths recursively and takes MIN(hops).
    val o = Tables.orders(s, d)
    val edges = o.select((col("o_orderkey") % 500).as("src"),
      ((col("o_custkey") * 3 + 1) % 500).as("dst"))
    val sources = edges.select(col("src").as("id"))
      .where(col("id") % 50 === 0).distinct()
    Relational.sort(col("id"))(
      graft.pipeline.Graph.bfsHops(edges, "src", "dst", sources, "id",
        maxHops = 6))
  }, oracle =
    // BFS min-hop: the recursive CTE explores every path of <= 6 hops
    // (rows dedup via UNION, so cycles terminate); MIN(hops) per node is
    // the BFS distance the engine's frontier iteration settles.
    """WITH RECURSIVE e AS (SELECT DISTINCT o_orderkey % 500 AS src,
      |    (o_custkey * 3 + 1) % 500 AS dst FROM orders),
      |s0 AS (SELECT DISTINCT src AS id FROM e WHERE src % 50 = 0),
      |r AS (SELECT id, 0 AS hops FROM s0
      |  UNION
      |  SELECT e.dst, r.hops + 1 FROM r JOIN e ON e.src = r.id
      |  WHERE r.hops < 6)
      |SELECT CAST(id AS BIGINT) AS id, CAST(MIN(hops) AS BIGINT) AS hops
      |FROM r GROUP BY id ORDER BY id""".stripMargin)

  gate("q_pip", (s, d) => {
    // Point-in-polygon over the q_spatial_join synthetic points against a
    // non-convex L-shape: exact-integer ray casting unrolled into ONE
    // codegen'd projection (zero joins/shuffles); the oracle replays the
    // crossing parity through an explicit edge VALUES join.
    val m = 2147483648L
    val pts = Tables.documents(s, d).select(col("doc_id").as("id"),
      (pmod(col("doc_id"), lit(m)) * lit(2654435761L) % lit(m) % lit(4000L)).as("x"),
      (pmod(col("doc_id"), lit(m)) * lit(2246822519L) % lit(m) % lit(4000L)).as("y"))
    Relational.sort(col("id"))(
      graft.pipeline.Spatial.pointInPolygon(pts, "id", "x", "y", LPolygon))
  }, oracle =
    // Ray-casting parity with cross-multiplied (exact integer) right-of
    // tests; half-open straddle rule so vertices never double-count.
    """WITH p AS (SELECT doc_id AS id,
      |  ((doc_id % 2147483648) * 2654435761 % 2147483648) % 4000 AS x,
      |  ((doc_id % 2147483648) * 2246822519 % 2147483648) % 4000 AS y
      |  FROM documents),
      |ed AS (SELECT * FROM (VALUES
      |  (1000, 1000, 3000, 1000), (3000, 1000, 3000, 2000),
      |  (3000, 2000, 2000, 2000), (2000, 2000, 2000, 3000),
      |  (2000, 3000, 1000, 3000), (1000, 3000, 1000, 1000))
      |  AS t(x1, y1, x2, y2)),
      |cr AS (SELECT p.id, p.x, p.y, SUM(CASE WHEN y1 <> y2
      |      AND ((y1 <= p.y AND p.y < y2) OR (y2 <= p.y AND p.y < y1))
      |      AND (CASE WHEN y2 > y1
      |        THEN (p.x - x1) * (y2 - y1) < (p.y - y1) * (x2 - x1)
      |        ELSE (p.x - x1) * (y2 - y1) > (p.y - y1) * (x2 - x1) END)
      |    THEN 1 ELSE 0 END) AS c
      |  FROM p CROSS JOIN ed GROUP BY p.id, p.x, p.y)
      |SELECT id, x, y, (c % 2 = 1) AS inside FROM cr ORDER BY id""".stripMargin)

  /** Simple non-convex L-shape in the 4000×4000 synthetic point domain —
    * shared by qPip and its oracle text. */
  private val LPolygon: Seq[(Long, Long)] = Seq(
    (1000L, 1000L), (3000L, 1000L), (3000L, 2000L),
    (2000L, 2000L), (2000L, 3000L), (1000L, 3000L))

  gate("q_survival", (s, d) => {
    // Kaplan-Meier per order priority: duration = key % 100 + 1, every
    // 7th subject right-censored; survival via 6-dp-rounded decimal-
    // summed ln factors, re-exponentiated at the edge.
    val subj = Tables.orders(s, d).select(
      col("o_orderpriority").as("g"),
      (col("o_orderkey") % 100 + 1).as("dur"),
      (col("o_orderkey") % 7 =!= 0).as("ev"))
    Relational.sort(col("g"), col("t"))(
      graft.pipeline.Events.kaplanMeier(subj, "g", "dur", col("ev")))
  }, oracle =
    // Kaplan-Meier: at-risk = suffix sum over the distinct-duration
    // table; survival = exp of the 6-dp-rounded decimal-summed ln
    // factors; an all-die time zeroes everything after via prefix max.
    """WITH b AS (SELECT o_orderpriority AS g, o_orderkey % 100 + 1 AS t,
      |    CASE WHEN o_orderkey % 7 <> 0 THEN 1 ELSE 0 END AS d
      |  FROM orders),
      |pt AS (SELECT g, t, CAST(SUM(d) AS BIGINT) AS dd,
      |    CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY g, t),
      |r AS (SELECT g, t, dd, CAST(SUM(c) OVER (PARTITION BY g ORDER BY t DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n
      |  FROM pt),
      |e AS (SELECT g, t, dd, n,
      |    CASE WHEN dd < n THEN CAST(round(ln(1.0 -
      |      CAST(dd AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6))
      |    END AS lnf,
      |    CASE WHEN dd = n THEN 1 ELSE 0 END AS z
      |  FROM r WHERE dd > 0),
      |w AS (SELECT g, t, n, dd,
      |    MAX(z) OVER (PARTITION BY g ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zs,
      |    SUM(lnf) OVER (PARTITION BY g ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM e)
      |SELECT g, t, n AS n_at_risk, dd AS d,
      |  CASE WHEN zs = 1 THEN 0.0
      |    ELSE round(exp(CAST(cum AS DOUBLE)), 6) END AS survival
      |FROM w ORDER BY g, t""".stripMargin)

  gate("q_log_templates", (s, d) => {
    // Drain-style parameter masking over synthetic log lines
    // (event_type + props JSON): digit runs collapse to '#'.
    val ev = Tables.events(s, d)
      .select(col("event_id"),
        concat(col("event_type"), lit(" "), col("props")).as("line"))
    Relational.sort(col("template"))(
      graft.pipeline.TextAnalysis.logTemplates(ev, "event_id", "line"))
  }, oracle =
    // Log templates: digit runs masked to '#'; NULL-propagating concat
    // on both sides (|| in DuckDB, concat in Spark).
    """SELECT regexp_replace(event_type || ' ' || props, '[0-9]+', '#', 'g')
      |    AS template,
      |  COUNT(*) AS n, CAST(MIN(event_id) AS BIGINT) AS example_id
      |FROM events WHERE event_type IS NOT NULL AND props IS NOT NULL
      |GROUP BY template ORDER BY template""".stripMargin)

  gate("q_entity_tag", (s, d) => {
    // Gazetteer tagging of the document corpus against a 4-name
    // dictionary (one mixed-case to exercise normalization).
    import s.implicits._
    val gaz = Seq("Spark", "customer", "query", "vector").toDF("name")
    Relational.sort(col("doc_id"), col("entity"))(
      graft.pipeline.TextAnalysis.tagEntities(Tables.documents(s, d),
        "doc_id", "text", gaz, "name")
        .withColumn("first_pos", col("first_pos").cast("long")))
  }, oracle =
    // Gazetteer tagging: zipped unnest gives 1-based token positions;
    // dictionary lowercased on both sides.
    """WITH w AS (SELECT doc_id, list_filter(string_split_regex(
      |    lower(text), '[^a-z0-9]+'), x -> x <> '') AS ws FROM documents),
      |t AS (SELECT doc_id, unnest(ws) AS tok,
      |    unnest(generate_series(1, len(ws))) AS pos FROM w),
      |g AS (SELECT unnest(['spark', 'customer', 'query', 'vector']) AS tok)
      |SELECT t.doc_id, t.tok AS entity, COUNT(*) AS n_mentions,
      |  CAST(MIN(t.pos) AS BIGINT) AS first_pos
      |FROM t JOIN g USING (tok)
      |GROUP BY t.doc_id, t.tok ORDER BY doc_id, entity""".stripMargin)

  gate("q_skipgram", (s, d) => {
    // Skip-gram pair extraction (window 2) — HOF-generated pairs, one
    // count shuffle; the oracle regenerates every pair list-wise.
    Relational.sort(col("center"), col("context"))(
      graft.pipeline.Vocab.skipgramPairs(Tables.documents(s, d), "text",
        window = 2))
  }, oracle =
    // Skip-gram window-2 pairs regenerated list-wise (no positional
    // self-join on either side).
    """WITH w AS (SELECT list_filter(string_split_regex(lower(text),
      |    '[^a-z0-9]+'), x -> x <> '') AS ws FROM documents),
      |f AS (SELECT ws FROM w WHERE len(ws) > 1),
      |p AS (SELECT unnest(flatten(list_transform(
      |    generate_series(1, len(ws)), i ->
      |    list_filter(list_transform([-2, -1, 1, 2], o ->
      |      CASE WHEN i + o >= 1 AND i + o <= len(ws)
      |        THEN struct_pack(center := ws[i], context := ws[i + o])
      |      END), x -> x IS NOT NULL)))) AS pr
      |  FROM f)
      |SELECT pr.center AS center, pr.context AS context, COUNT(*) AS n
      |FROM p GROUP BY pr.center, pr.context
      |ORDER BY center, context""".stripMargin)

  gate("q_apportion", (s, d) => {
    // Hamilton apportionment of a 100k budget across parts by lineitem
    // count: Σ seats = 100000 exactly, every placement integer-derived.
    val wts = Tables.lineitem(s, d).groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("cnt"))
    Relational.sort(col("l_partkey"))(
      graft.pipeline.Sampling.apportion(wts, "l_partkey", "cnt",
        total = 100000L))
  }, oracle =
    // Hamilton apportionment: base = floor(w·T/W), leftovers to the
    // largest remainders (tie: key asc); Σ seats = T exactly.
    """WITH g AS (SELECT l_partkey, COUNT(*) AS w FROM lineitem
      |  GROUP BY l_partkey),
      |t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM g),
      |b AS (SELECT l_partkey, w,
      |    CAST(w * 100000 // tw AS BIGINT) AS base,
      |    CAST(w * 100000 % tw AS BIGINT) AS rem
      |  FROM g CROSS JOIN t),
      |sb AS (SELECT CAST(SUM(base) AS BIGINT) AS sbase FROM b),
      |r AS (SELECT l_partkey, w, base, rem, row_number() OVER (
      |    ORDER BY rem DESC, l_partkey ASC) AS rk FROM b)
      |SELECT l_partkey, CAST(w AS BIGINT) AS weight,
      |  CAST(base + CASE WHEN rk <= 100000 - sbase THEN 1 ELSE 0 END
      |    AS BIGINT) AS seats
      |FROM r CROSS JOIN sb ORDER BY l_partkey""".stripMargin)

  gate("q_cusum", (s, d) => {
    // Two-sided CUSUM per event type (target 50, slack 2, alarm 200):
    // closed-form prefix-extrema windows, decimal-exact statistics.
    Relational.sort(col("event_type"), col("event_id"))(
      graft.pipeline.TimeSeries.cusum(Tables.events(s, d), "event_type",
        "ts", "value", "event_id", target = BigDecimal(50),
        slack = BigDecimal(2), threshold = BigDecimal(200)))
  }, oracle =
    // CUSUM closed form: S+ = prefix − min(0, running min of prior
    // prefixes); S− mirrors with the running max. Decimal-exact; the
    // prefix sums are CAST DOWN to DECIMAL(28,2) (a DECIMAL(38,2)
    // difference needs 39 digits and falls to DOUBLE) and the min/max
    // clamps are CASE, not least/greatest — DuckDB's least/greatest
    // returns DOUBLE for ANY decimal inputs.
    """WITH e AS (SELECT event_type AS k, epoch_us(ts) AS t, event_id AS eid,
      |    CAST(value AS DECIMAL(18,2)) AS x FROM events),
      |p AS (SELECT k, t, eid,
      |    CAST(SUM(x - 52.00) OVER win AS DECIMAL(28,2)) AS ph,
      |    CAST(SUM(x - 48.00) OVER win AS DECIMAL(28,2)) AS pl
      |  FROM e WINDOW win AS (PARTITION BY k ORDER BY t, eid
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |m AS (SELECT k, eid, ph, pl,
      |    COALESCE(MIN(ph) OVER wprev, CAST(0 AS DECIMAL(28,2))) AS mph,
      |    COALESCE(MAX(pl) OVER wprev, CAST(0 AS DECIMAL(28,2))) AS mpl
      |  FROM p WINDOW wprev AS (PARTITION BY k ORDER BY t, eid
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |s0 AS (SELECT k, eid,
      |    ph - (CASE WHEN mph < 0 THEN mph
      |          ELSE CAST(0 AS DECIMAL(28,2)) END) AS dh,
      |    (CASE WHEN mpl > 0 THEN mpl
      |     ELSE CAST(0 AS DECIMAL(28,2)) END) - pl AS dl FROM m),
      |s AS (SELECT k, eid,
      |    CASE WHEN dh > 0 THEN dh ELSE CAST(0 AS DECIMAL(29,2)) END AS sh,
      |    CASE WHEN dl > 0 THEN dl ELSE CAST(0 AS DECIMAL(29,2)) END AS sl
      |  FROM s0)
      |SELECT k AS event_type, eid AS event_id,
      |  CAST(CAST(sh AS VARCHAR) AS DOUBLE) AS s_hi,
      |  CAST(CAST(sl AS VARCHAR) AS DOUBLE) AS s_lo,
      |  sh > 200 AS alarm_hi, sl > 200 AS alarm_lo
      |FROM s ORDER BY event_type, event_id""".stripMargin)

  gate("q_autocorr", (s, d) => {
    // Lag-3 autocorrelation of event values per type — the corrExact
    // moment machinery over lag-window pairs.
    Relational.sort(col("event_type"))(
      graft.pipeline.TimeSeries.autocorrLag(Tables.events(s, d),
        "event_type", "ts", "value", "event_id", lagK = 3))
  }, oracle =
    // Lag-3 autocorrelation: lag pairs then the q_corr moment replay.
    """WITH l AS (SELECT event_type AS k, value AS v,
      |    lag(value, 3) OVER (PARTITION BY event_type
      |      ORDER BY epoch_us(ts), event_id) AS pv
      |  FROM events),
      |f AS (SELECT k, CAST(v AS DECIMAL(12,2)) AS x,
      |    CAST(pv AS DECIMAL(12,2)) AS y FROM l WHERE pv IS NOT NULL),
      |m AS (SELECT k, count(*) AS n,
      |  CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
      |  CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
      |  CAST(CAST(SUM(x * y) AS VARCHAR) AS DOUBLE) AS sxy,
      |  CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
      |  CAST(CAST(SUM(y * y) AS VARCHAR) AS DOUBLE) AS syy
      |  FROM f GROUP BY k)
      |SELECT k AS event_type, n,
      |  (CAST(n AS DOUBLE) * sxy - sx * sy) /
      |    (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) *
      |     sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS corr,
      |  (CAST(n AS DOUBLE) * sxy - sx * sy) /
      |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS cov_samp
      |FROM m ORDER BY event_type""".stripMargin)

  gate("q_classifier_eval", (s, d) => {
    // Operating-point metrics at threshold 26 for the q_auc score/label
    // pair: exact confusion counts, fixed-shape ratio dag.
    graft.pipeline.Profile.classifierEval(Tables.lineitem(s, d),
      "l_quantity", col("l_returnflag") === "R", threshold = 26.0)
  }, oracle =
    // Confusion counts + fixed-shape ratio dag at threshold 26.
    """WITH c AS (SELECT
      |  CAST(SUM(CASE WHEN l_quantity >= 26 AND l_returnflag = 'R'
      |    THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |  CAST(SUM(CASE WHEN l_quantity >= 26 AND l_returnflag <> 'R'
      |    THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |  CAST(SUM(CASE WHEN l_quantity < 26 AND l_returnflag = 'R'
      |    THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      |  CAST(SUM(CASE WHEN l_quantity < 26 AND l_returnflag <> 'R'
      |    THEN 1 ELSE 0 END) AS BIGINT) AS tn
      |  FROM lineitem WHERE l_quantity IS NOT NULL),
      |p AS (SELECT tp, fp, fn, tn,
      |  CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) /
      |    (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)) END AS pr,
      |  CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) /
      |    (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE)) END AS rc,
      |  CASE WHEN tp + fp + fn + tn > 0 THEN
      |    (CAST(tp AS DOUBLE) + CAST(tn AS DOUBLE)) /
      |    (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE) +
      |     CAST(fn AS DOUBLE) + CAST(tn AS DOUBLE)) END AS ac
      |  FROM c)
      |SELECT tp, fp, fn, tn, round(pr, 6) AS precision,
      |  round(rc, 6) AS recall,
      |  round(CASE WHEN pr + rc > 0
      |    THEN 2.0 * pr * rc / (pr + rc) END, 6) AS f1,
      |  round(ac, 6) AS accuracy
      |FROM p""".stripMargin)

  gate("q_theilsen", (s, d) => {
    // Robust slope of revenue-vs-quantity per flag over the BOUNDED
    // per-quantity revenue series (50 points/group — the aggregated-
    // series contract); lower-median pair slopes + residual intercept.
    val pts = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(sum(dec(col("l_extendedprice"))).cast("decimal(18,2)").as("y"))
    Relational.sort(col("l_returnflag"))(
      graft.pipeline.Profile.theilSen(pts, "l_returnflag", "l_quantity", "y"))
  }, oracle =
    // Theil-Sen: lower-median of pair slopes (ties totalized by the
    // point indices), then lower-median residual intercept; slopes are
    // IEEE doubles of exact decimal differences.
    """WITH pts AS (SELECT l_returnflag AS g,
      |    CAST(l_quantity AS DECIMAL(18,2)) AS x,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
      |      AS DECIMAL(18,2)) AS y
      |  FROM lineitem GROUP BY l_returnflag, l_quantity),
      |i AS (SELECT g, x, y, row_number() OVER (PARTITION BY g
      |    ORDER BY x, y) AS i FROM pts),
      |p AS (SELECT a.g, a.i AS ia, b.i AS ib,
      |    CAST(CAST(b.y - a.y AS VARCHAR) AS DOUBLE) /
      |    CAST(CAST(b.x - a.x AS VARCHAR) AS DOUBLE) AS s
      |  FROM i a JOIN i b ON a.g = b.g AND a.i < b.i AND a.x <> b.x),
      |med AS (SELECT g, s, m FROM (SELECT g, s, ia, ib,
      |    row_number() OVER (PARTITION BY g ORDER BY s, ia, ib) AS rn,
      |    COUNT(*) OVER (PARTITION BY g) AS m FROM p)
      |  WHERE rn = (m + 1) // 2),
      |r AS (SELECT i.g, i.i,
      |    CAST(CAST(i.y AS VARCHAR) AS DOUBLE) -
      |      med.s * CAST(CAST(i.x AS VARCHAR) AS DOUBLE) AS res,
      |    med.s, med.m FROM i JOIN med ON i.g = med.g),
      |fin AS (SELECT g, res, s, m, n FROM (SELECT g, res, i, s, m,
      |    row_number() OVER (PARTITION BY g ORDER BY res, i) AS rn,
      |    COUNT(*) OVER (PARTITION BY g) AS n FROM r)
      |  WHERE rn = (n + 1) // 2)
      |SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n_points,
      |  CAST(m AS BIGINT) AS n_pairs, round(s, 6) AS slope,
      |  round(res, 6) AS intercept
      |FROM fin ORDER BY l_returnflag""".stripMargin)

  gate("q_standardize", (s, d) => {
    // Per-flag z-scores of quantity from exact moment sums; the stats
    // row broadcasts back onto 60k rows.
    val out = graft.pipeline.Profile.standardize(Tables.lineitem(s, d),
      "l_returnflag", "l_quantity")
    Relational.sort(col("l_orderkey"), col("l_linenumber"))(
      out.select(col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), col("z")))
  }, oracle =
    // z-scores from the digit-strung moment sums; fixed IEEE dag.
    """WITH st AS (SELECT l_returnflag AS g, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR)
      |    AS DOUBLE) AS sx,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) *
      |    CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxx
      |  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY l_returnflag),
      |s2 AS (SELECT g, sx / CAST(n AS DOUBLE) AS mu,
      |  CASE WHEN n > 1 THEN sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) /
      |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) END AS sigma
      |  FROM st)
      |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
      |  round(CASE WHEN sigma > 0 THEN
      |    (CAST(CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR)
      |      AS DOUBLE) - mu) / sigma END, 6) AS z
      |FROM lineitem l JOIN s2 ON s2.g = l.l_returnflag
      |ORDER BY l_orderkey, l_linenumber""".stripMargin)

  gate("q_impute", (s, d) => {
    // Group-mean imputation of synthesized NULLs (every 11th order):
    // deterministic digit-string mean fill + imputed marker.
    val base = Tables.orders(s, d).select(col("o_orderkey"),
      col("o_orderpriority"),
      when(col("o_orderkey") % 11 === 0, lit(null).cast("double"))
        .otherwise(col("o_totalprice")).as("v"))
    Relational.sort(col("o_orderkey"))(
      graft.pipeline.Profile.imputeMean(base, "o_orderpriority", "v",
        "filled")
        .select(col("o_orderkey"), col("o_orderpriority"), col("filled"),
          col("filled_imputed")))
  }, oracle =
    // Group-mean fill of the synthesized NULLs; marker column.
    """WITH b AS (SELECT o_orderkey, o_orderpriority,
      |    CASE WHEN o_orderkey % 11 = 0 THEN NULL
      |      ELSE o_totalprice END AS v FROM orders),
      |m AS (SELECT o_orderpriority,
      |    CAST(CAST(SUM(CAST(v AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) /
      |      CAST(COUNT(*) AS DOUBLE) AS mu
      |  FROM b WHERE v IS NOT NULL GROUP BY o_orderpriority)
      |SELECT b.o_orderkey, b.o_orderpriority,
      |  COALESCE(CAST(b.v AS DOUBLE), round(m.mu, 6)) AS filled,
      |  (b.v IS NULL AND m.mu IS NOT NULL) AS filled_imputed
      |FROM b LEFT JOIN m USING (o_orderpriority)
      |ORDER BY o_orderkey""".stripMargin)

  gate("q_target_encode", (s, d) => {
    // Leave-one-out mean-price encoding of order priority: the leakage-
    // guarded categorical encoder, (Σ−x)/(n−1) in exact decimals.
    Relational.sort(col("o_orderkey"))(
      graft.pipeline.Scoring.targetEncodeLoo(Tables.orders(s, d),
        "o_orderpriority", "o_totalprice", "enc")
        .select(col("o_orderkey"), col("o_orderpriority"), col("enc")))
  }, oracle =
    // LOO target encoding: (Σ−x)/(n−1); the category sum is cast DOWN
    // to DECIMAL(28,2) so the subtraction stays decimal (38,2 would
    // fall to DOUBLE — the q_cusum trap).
    """WITH a AS (SELECT o_orderpriority,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |      AS DECIMAL(28,2)) AS s, COUNT(*) AS n
      |  FROM orders WHERE o_totalprice IS NOT NULL
      |  GROUP BY o_orderpriority)
      |SELECT o.o_orderkey, o.o_orderpriority,
      |  round(CASE WHEN o.o_totalprice IS NOT NULL AND n > 1 THEN
      |      CAST(CAST(s - CAST(o.o_totalprice AS DECIMAL(18,2))
      |        AS VARCHAR) AS DOUBLE) / CAST(n - 1 AS DOUBLE)
      |    WHEN o.o_totalprice IS NULL AND n > 0 THEN
      |      CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
      |    END, 6) AS enc
      |FROM orders o LEFT JOIN a USING (o_orderpriority)
      |ORDER BY o_orderkey""".stripMargin)

  gate("q_clustering_coef", (s, d) => {
    // Local clustering coefficient over the q_triangles co-occurrence
    // graph: distinct-neighbor degrees + the triangle counts.
    val o = Tables.orders(s, d)
    val edges = o.select(pmod(col("o_custkey"), lit(97L)).as("x"),
      pmod(col("o_orderkey"), lit(97L)).as("y"))
    Relational.sort(col("node"))(
      graft.pipeline.Graph.clusteringCoefficient(edges, "x", "y"))
  }, oracle =
    // Clustering coefficient: distinct-neighbor degrees over the
    // canonical edge set + the q_triangles wedge count.
    """WITH raw AS (SELECT o_custkey % 97 AS x, o_orderkey % 97 AS y
      |  FROM orders),
      |e AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
      |  FROM raw WHERE x <> y),
      |tr AS (SELECT e1.a, e1.b, e2.b AS c FROM e e1
      |  JOIN e e2 ON e2.a = e1.b
      |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |tn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
      |  FROM (SELECT unnest([a, b, c]) AS node FROM tr) GROUP BY node),
      |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
      |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      |  GROUP BY node)
      |SELECT deg.node, deg.degree,
      |  COALESCE(tn.n_triangles, 0) AS n_triangles,
      |  round(CASE WHEN deg.degree >= 2 THEN
      |    2.0 * CAST(COALESCE(tn.n_triangles, 0) AS DOUBLE) /
      |    (CAST(deg.degree AS DOUBLE) * (CAST(deg.degree AS DOUBLE) - 1.0))
      |    END, 6) AS coefficient
      |FROM deg LEFT JOIN tn USING (node) ORDER BY node""".stripMargin)

  gate("q_cumulative_users", (s, d) => {
    // Users-to-date growth curve: active / first-seen / cumulative per
    // day — no windowed COUNT(DISTINCT) anywhere.
    Relational.sort(col("day"))(
      graft.pipeline.Events.cumulativeUnique(Tables.events(s, d),
        "user_id", "ts", "day")
        .select(date_format(col("period"), "yyyy-MM-dd").as("day"),
          col("active"), col("first_seen"), col("cumulative")))
  }, oracle =
    // Users-to-date: first-seen day per user, per-day counts, one
    // prefix sum over the day table.
    """WITH pk AS (SELECT DISTINCT user_id,
      |    CAST(date_trunc('day', ts) AS DATE) AS p FROM events),
      |act AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS active
      |  FROM pk GROUP BY p),
      |fs AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS first_seen FROM (
      |    SELECT user_id, MIN(p) AS p FROM pk GROUP BY user_id)
      |  GROUP BY p)
      |SELECT strftime(act.p, '%Y-%m-%d') AS day, act.active,
      |  COALESCE(fs.first_seen, 0) AS first_seen,
      |  CAST(SUM(COALESCE(fs.first_seen, 0)) OVER (ORDER BY act.p
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cumulative
      |FROM act LEFT JOIN fs USING (p) ORDER BY day""".stripMargin)

  gate("q_active_users", (s, d) => {
    // DAU/WAU/MAU + stickiness via coverage fan-out on the deduped
    // (user, day) table — no rolling COUNT(DISTINCT).
    Relational.sort(col("day"))(
      graft.pipeline.Events.activeUserStats(Tables.events(s, d),
        "user_id", "ts")
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd")))
  }, oracle =
    // DAU/WAU/MAU: day-d activity covers days d..d+w−1; trailing
    // actives = distinct coverage counts.
    """WITH pk AS (SELECT DISTINCT user_id,
      |    CAST(date_trunc('day', ts) AS DATE) AS d FROM events),
      |dau AS (SELECT d AS day, CAST(COUNT(*) AS BIGINT) AS dau
      |  FROM pk GROUP BY d),
      |wc AS (SELECT DISTINCT user_id, d + CAST(i AS INTEGER) AS day
      |  FROM pk, (SELECT unnest(generate_series(0, 6)) AS i)),
      |wau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS wau
      |  FROM wc GROUP BY day),
      |mc AS (SELECT DISTINCT user_id, d + CAST(i AS INTEGER) AS day
      |  FROM pk, (SELECT unnest(generate_series(0, 29)) AS i)),
      |mau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS mau
      |  FROM mc GROUP BY day)
      |SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau,
      |  mau.mau,
      |  round(CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE), 6)
      |    AS stickiness
      |FROM dau JOIN wau USING (day) JOIN mau USING (day)
      |ORDER BY day""".stripMargin)

  gate("q_band_join", (s, d) => {
    // Price-tier banding of orders through the broadcast theta-join;
    // aggregated per band so a wrong band boundary hash-mismatches.
    import s.implicits._
    val bands = Seq(("low", 0L, 50000L), ("mid", 50000L, 150000L),
      ("high", 150000L, 300000L), ("vip", 300000L, 1000000000L))
      .toDF("band", "lo", "hi")
    val j = Relational.bandJoin(Tables.orders(s, d), bands,
      "o_totalprice", "lo", "hi")
    Relational.sort(col("band"))(asDouble("sum_price")(
      j.groupBy(col("band")).agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).as("sum_price"))))
  }, oracle =
    // Half-open band classification against the VALUES band table.
    """WITH bands AS (SELECT * FROM (VALUES
      |  ('low', 0, 50000), ('mid', 50000, 150000),
      |  ('high', 150000, 300000), ('vip', 300000, 1000000000))
      |  AS t(band, lo, hi))
      |SELECT band, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
      |    AS DOUBLE) AS sum_price
      |FROM orders JOIN bands
      |  ON o_totalprice >= lo AND o_totalprice < hi
      |GROUP BY band ORDER BY band""".stripMargin)

  gate("q_reconcile", (s, d) => {
    // Books-agree audit: per-order lineitem revenue vs the order header
    // total at a 1-cent tolerance; headerless/lineless keys classify as
    // one-sided.
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("k"), col("l_extendedprice"))
    val o = Tables.orders(s, d)
      .select(col("o_orderkey").as("k"), col("o_totalprice"))
    Relational.sort(col("k"))(
      graft.pipeline.Checks.reconcile(li, o, Seq("k"),
        "l_extendedprice", "o_totalprice", BigDecimal("0.01")))
  }, oracle =
    // Reconciliation: per-key decimal sums both sides, full outer,
    // 1-cent tolerance classified in exact decimals.
    """WITH l AS (SELECT l_orderkey AS k,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
      |      AS DECIMAL(28,2)) AS ls,
      |    CAST(COUNT(*) AS BIGINT) AS lr FROM lineitem GROUP BY 1),
      |r AS (SELECT o_orderkey AS k,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |      AS DECIMAL(28,2)) AS rs,
      |    CAST(COUNT(*) AS BIGINT) AS rr FROM orders GROUP BY 1),
      |f AS (SELECT COALESCE(l.k, r.k) AS k, lr, rr, ls, rs,
      |    COALESCE(ls, CAST(0 AS DECIMAL(28,2))) -
      |      COALESCE(rs, CAST(0 AS DECIMAL(28,2))) AS dd
      |  FROM l FULL OUTER JOIN r ON l.k = r.k)
      |SELECT k, COALESCE(lr, 0) AS l_rows, COALESCE(rr, 0) AS r_rows,
      |  CAST(CAST(ls AS VARCHAR) AS DOUBLE) AS l_sum,
      |  CAST(CAST(rs AS VARCHAR) AS DOUBLE) AS r_sum,
      |  CAST(CAST(dd AS VARCHAR) AS DOUBLE) AS diff,
      |  CASE WHEN lr IS NULL THEN 'right_only'
      |    WHEN rr IS NULL THEN 'left_only'
      |    WHEN abs(dd) <= 0.01 THEN 'match'
      |    ELSE 'mismatch' END AS status
      |FROM f ORDER BY k""".stripMargin)

  gate("q_tukey", (s, d) => {
    // IQR outlier fences per flag from nearest-rank quartiles over the
    // distinct-value table; outlier tally folds from the same table.
    Relational.sort(col("l_returnflag"))(
      graft.pipeline.Profile.tukeyFences(Tables.lineitem(s, d),
        "l_returnflag", "l_extendedprice"))
  }, oracle =
    // Tukey fences: nearest-rank quartiles over the distinct-value
    // table, 1.5×IQR in exact decimals, outliers folded from the same
    // table.
    """WITH dv AS (SELECT l_returnflag AS g,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY g, v),
      |rk AS (SELECT g, v, c,
      |    CAST(SUM(c) OVER (PARTITION BY g ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS cum,
      |    CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n FROM dv),
      |q AS (SELECT g, MAX(n) AS n,
      |    MIN(CASE WHEN cum >= (n + 3) // 4 THEN v END) AS q1,
      |    MIN(CASE WHEN cum >= (3 * n + 3) // 4 THEN v END) AS q3
      |  FROM rk GROUP BY g),
      |b AS (SELECT g, n, q1, q3, q1 - (q3 - q1) * 1.5 AS lo,
      |    q3 + (q3 - q1) * 1.5 AS hi FROM q),
      |o AS (SELECT rk.g, CAST(SUM(CASE WHEN rk.v < b.lo OR rk.v > b.hi
      |      THEN rk.c ELSE 0 END) AS BIGINT) AS n_outliers
      |  FROM rk JOIN b ON rk.g = b.g GROUP BY rk.g)
      |SELECT b.g AS l_returnflag, CAST(b.n AS BIGINT) AS n,
      |  CAST(CAST(b.q1 AS VARCHAR) AS DOUBLE) AS q1,
      |  CAST(CAST(b.q3 AS VARCHAR) AS DOUBLE) AS q3,
      |  CAST(CAST(b.lo AS VARCHAR) AS DOUBLE) AS lo,
      |  CAST(CAST(b.hi AS VARCHAR) AS DOUBLE) AS hi,
      |  o.n_outliers
      |FROM b JOIN o ON b.g = o.g ORDER BY l_returnflag""".stripMargin)

  gate("q_type_trigrams", (s, d) => {
    // Order-3 event patterns per user with distinct-user support.
    Relational.sort(col("ngram"))(
      graft.pipeline.Events.typeNgrams(Tables.events(s, d),
        Seq("user_id"), "ts", "event_type", "event_id", n = 3))
  }, oracle =
    // Adjacent type trigrams with distinct-user support.
    """WITH t AS (SELECT user_id, event_type AS a,
      |    lead(event_type, 1) OVER w AS b,
      |    lead(event_type, 2) OVER w AS c
      |  FROM events WINDOW w AS (PARTITION BY user_id
      |    ORDER BY ts, event_id))
      |SELECT a || '>' || b || '>' || c AS ngram,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys
      |FROM t WHERE a IS NOT NULL AND b IS NOT NULL AND c IS NOT NULL
      |GROUP BY ngram ORDER BY ngram""".stripMargin)

  gate("q_seasonal", (s, d) => {
    // Hour-of-day baseline per event type: count, exact-decimal mean,
    // slot share of the type's total mass.
    Relational.sort(col("event_type"), col("slot"))(
      graft.pipeline.TimeSeries.seasonalProfile(Tables.events(s, d),
        "event_type", "ts", "value", slot = "hour"))
  }, oracle =
    // Hour-of-day seasonal profile: decimal sums, digit-string ratios.
    """WITH p AS (SELECT event_type, CAST(hour(ts) AS INTEGER) AS slot,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS s
      |  FROM events WHERE value IS NOT NULL GROUP BY event_type, slot),
      |t AS (SELECT event_type, CAST(SUM(s) AS DECIMAL(28,2)) AS tot
      |  FROM p GROUP BY event_type)
      |SELECT p.event_type, p.slot, p.n,
      |  round(CAST(CAST(p.s AS VARCHAR) AS DOUBLE) /
      |    CAST(p.n AS DOUBLE), 6) AS mean,
      |  CASE WHEN tot <> 0 THEN round(
      |    CAST(CAST(p.s AS VARCHAR) AS DOUBLE) /
      |    CAST(CAST(tot AS VARCHAR) AS DOUBLE), 6) END AS share
      |FROM p JOIN t USING (event_type)
      |ORDER BY event_type, slot""".stripMargin)

  gate("q_hill", (s, d) => {
    // Tail-index of order totals over the top 1000 observations:
    // distinct-value suffix ranks, 6-dp decimal-summed lns.
    graft.pipeline.Profile.hillTail(Tables.orders(s, d), "o_totalprice",
      k = 1000)
  }, oracle =
    // Hill tail index: x_k from suffix ranks over the distinct-value
    // table; ties at x_k contribute ln(1)=0, so only v > x_k sums.
    """WITH dv AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
      |  GROUP BY v),
      |rk AS (SELECT v, c,
      |    CAST(SUM(c) OVER (ORDER BY v DESC ROWS BETWEEN UNBOUNDED
      |      PRECEDING AND CURRENT ROW) AS BIGINT) AS ge,
      |    CAST(SUM(c) OVER () AS BIGINT) AS n FROM dv),
      |xk AS (SELECT MAX(v) AS xkv, MAX(n) AS n FROM rk WHERE ge >= 1000),
      |s AS (SELECT MAX(rk.n) AS n, MAX(xk.xkv) AS xkv,
      |    CAST(SUM(rk.c * CAST(round(ln(
      |      CAST(CAST(rk.v AS VARCHAR) AS DOUBLE) /
      |      CAST(CAST(xk.xkv AS VARCHAR) AS DOUBLE)), 6)
      |      AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS lnsum
      |  FROM rk CROSS JOIN xk WHERE rk.v > xk.xkv)
      |SELECT 1000 AS k, n, CAST(CAST(xkv AS VARCHAR) AS DOUBLE) AS x_k,
      |  round(1000.0 / CAST(CAST(lnsum AS VARCHAR) AS DOUBLE), 6)
      |    AS alpha
      |FROM s""".stripMargin)

  gate("q_blocking_quality", (s, d) => {
    // Audit of the q_linkage blocking key (case-normalized name) against
    // the known truth (each customer matches its dirtied copy):
    // reduction ratio ≈ 1, pair completeness must be exactly 1.
    val c = Tables.customer(s, d)
    val dirty = c.select(lower(col("c_name")).as("block"),
      col("c_custkey").as("r_id"))
    val leftT = c.select(lower(col("c_name")).as("block"), col("c_custkey"))
    val truth = c.select(col("c_custkey"), col("c_custkey").as("r_id"))
    graft.pipeline.Dedup.blockingQuality(leftT, dirty, "block",
      "c_custkey", "r_id", truth)
  }, oracle =
    // Blocking audit: candidates from per-block count products; truth
    // pairs checked for same-block membership.
    """WITH l AS (SELECT lower(c_name) AS b, c_custkey AS lid
      |  FROM customer),
      |r AS (SELECT lower(c_name) AS b, c_custkey AS rid FROM customer),
      |lb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS lc FROM l GROUP BY b),
      |rb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS rc FROM r GROUP BY b),
      |cand AS (SELECT CAST(COALESCE(SUM(lc * rc), 0) AS BIGINT)
      |    AS candidates FROM lb JOIN rb USING (b)),
      |sz AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM l) AS n_left,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM r) AS n_right),
      |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
      |    CAST(SUM(CASE WHEN l.b = r.b THEN 1 ELSE 0 END) AS BIGINT)
      |      AS truth_in_block
      |  FROM l JOIN r ON l.lid = r.rid)
      |SELECT n_left, n_right, candidates, n_truth, truth_in_block,
      |  round(1.0 - CAST(candidates AS DOUBLE) /
      |    (CAST(n_left AS DOUBLE) * CAST(n_right AS DOUBLE)), 6)
      |    AS reduction_ratio,
      |  CASE WHEN n_truth > 0 THEN round(
      |    CAST(truth_in_block AS DOUBLE) / CAST(n_truth AS DOUBLE), 6)
      |    END AS pair_completeness
      |FROM cand CROSS JOIN sz CROSS JOIN m""".stripMargin)

  gate("q_hopping_window", (s, d) => {
    // 30-min windows sliding 10 min per event type: each event lands in
    // exactly 3 windows; one hash aggregate after the explode.
    Relational.sort(col("event_type"), col("window_start_us"))(
      graft.pipeline.TimeSeries.hoppingWindows(Tables.events(s, d),
        "event_type", "ts", "value", sizeSec = 1800, slideSec = 600))
  }, oracle =
    // Hopping windows: slide-aligned starts, 3 windows per event.
    """WITH e AS (SELECT event_type, epoch_us(ts) AS t,
      |    CAST(value AS DECIMAL(18,2)) AS v FROM events),
      |x AS (SELECT event_type, v,
      |    (t // 600000000) * 600000000 - i * 600000000 AS ws
      |  FROM e, (SELECT unnest(generate_series(0, 2)) AS i))
      |SELECT event_type, CAST(ws AS BIGINT) AS window_start_us,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) AS sum_v,
      |  CAST(ws + 1800000000 AS BIGINT) AS window_end_us
      |FROM x GROUP BY event_type, ws
      |ORDER BY event_type, window_start_us""".stripMargin)

  gate("q_rate_limit", (s, d) => {
    // Trailing-hour event counts per user (RANGE frame — simultaneous
    // events count each other deterministically), limit 5.
    Relational.sort(col("event_id"))(
      graft.pipeline.Events.rateLimitFlags(Tables.events(s, d),
        Seq("user_id"), "ts", limitN = 5, windowSec = 3600)
        .select(col("event_id"), col("user_id"), col("window_count"),
          col("over_limit")))
  }, oracle =
    // Trailing-hour RANGE-framed counts; (t−3600 s, t] inclusive.
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t
      |  FROM events),
      |c AS (SELECT event_id, user_id,
      |    CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY t
      |      RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS window_count
      |  FROM e)
      |SELECT event_id, user_id, window_count, window_count > 5
      |    AS over_limit
      |FROM c ORDER BY event_id""".stripMargin)

  gate("q_weighted_median", (s, d) => {
    // Revenue-weighted quantity percentiles per flag: "the quantity at
    // which half the money moved", exact decimal weight cumulation.
    Relational.sort(col("l_returnflag"), col("p"))(
      graft.pipeline.Profile.weightedPercentiles(Tables.lineitem(s, d),
        "l_returnflag", "l_quantity", "l_extendedprice", Seq(0.5, 0.9)))
  }, oracle =
    // Weighted nearest-rank percentiles: smallest v with cumW >= p*W.
    """WITH dv AS (SELECT l_returnflag AS g, l_quantity AS v,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS w
      |  FROM lineitem WHERE l_quantity IS NOT NULL
      |    AND l_extendedprice IS NOT NULL AND l_extendedprice >= 0
      |  GROUP BY g, v),
      |rk AS (SELECT g, v,
      |    CAST(CAST(SUM(w) OVER (PARTITION BY g ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS VARCHAR) AS DOUBLE) AS cum,
      |    CAST(CAST(SUM(w) OVER (PARTITION BY g) AS VARCHAR) AS DOUBLE)
      |      AS tot
      |  FROM dv),
      |x AS (SELECT g, v, cum, tot, p FROM rk,
      |  (SELECT unnest([0.5, 0.9]) AS p) WHERE cum >= p * tot)
      |SELECT g AS l_returnflag, p, MAX(tot) AS total_w, MIN(v) AS value
      |FROM x GROUP BY g, p ORDER BY l_returnflag, p""".stripMargin)

  gate("q_funnel_latency", (s, d) => {
    // First-view to first-later-purchase delay per user — the latency
    // face of the funnel frontier machinery.
    Relational.sort(col("user_id"))(
      graft.pipeline.Events.funnelLatency(Tables.events(s, d),
        "user_id", "ts", "event_type", "view", "purchase"))
  }, oracle =
    // Funnel latency: first view → first strictly-later purchase.
    """WITH f AS (SELECT user_id, CAST(MIN(epoch_us(ts)) AS BIGINT)
      |    AS from_us FROM events WHERE event_type = 'view'
      |  GROUP BY user_id),
      |c AS (SELECT e.user_id, f.from_us,
      |    CAST(MIN(epoch_us(e.ts)) AS BIGINT) AS to_us
      |  FROM events e JOIN f USING (user_id)
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > f.from_us
      |  GROUP BY e.user_id, f.from_us)
      |SELECT user_id, from_us, to_us, to_us - from_us AS delay_us
      |FROM c ORDER BY user_id""".stripMargin)

  gate("q_psi", (s, d) => {
    // Drift between early (≤1996) and late order totals over 20 fixed
    // [0, 600k) bins + under/overflow; add-one smoothing, decimal-
    // summed terms.
    val o = Tables.orders(s, d)
    val base = o.where(year(col("o_orderdate")) <= 1996)
    val cur = o.where(year(col("o_orderdate")) > 1996)
    graft.pipeline.Profile.psi(base, cur, "o_totalprice",
      lo = 0.0, hi = 600000.0, nBins = 20)
  }, oracle =
    // PSI over fixed 20 bins + under/overflow, add-one smoothing,
    // 6-dp lns, 8-dp decimal-summed terms.
    """WITH bb AS (SELECT CASE WHEN o_totalprice < 0 THEN -1
      |      WHEN o_totalprice >= 600000 THEN 20
      |      ELSE CAST(floor(o_totalprice * 20 / 600000.0) AS BIGINT)
      |      END AS bin
      |  FROM orders WHERE year(o_orderdate) <= 1996
      |    AND o_totalprice IS NOT NULL),
      |cc AS (SELECT CASE WHEN o_totalprice < 0 THEN -1
      |      WHEN o_totalprice >= 600000 THEN 20
      |      ELSE CAST(floor(o_totalprice * 20 / 600000.0) AS BIGINT)
      |      END AS bin
      |  FROM orders WHERE year(o_orderdate) > 1996
      |    AND o_totalprice IS NOT NULL),
      |hb AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS nb FROM bb GROUP BY bin),
      |hc AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS nc FROM cc GROUP BY bin),
      |j AS (SELECT COALESCE(hb.bin, hc.bin) AS bin,
      |    COALESCE(nb, 0) AS nb, COALESCE(nc, 0) AS nc
      |  FROM hb FULL OUTER JOIN hc ON hb.bin = hc.bin),
      |t AS (SELECT CAST(SUM(nb) AS BIGINT) AS n_base,
      |    CAST(SUM(nc) AS BIGINT) AS n_current FROM j),
      |terms AS (SELECT n_base, n_current,
      |    CAST(round((CAST(nb + 1 AS DOUBLE) / CAST(n_base + 22 AS DOUBLE)
      |      - CAST(nc + 1 AS DOUBLE) / CAST(n_current + 22 AS DOUBLE)) *
      |      round(ln((CAST(nb + 1 AS DOUBLE) / CAST(n_base + 22 AS DOUBLE)) /
      |        (CAST(nc + 1 AS DOUBLE) / CAST(n_current + 22 AS DOUBLE))), 6),
      |      8) AS DECIMAL(18,8)) AS tt
      |  FROM j CROSS JOIN t)
      |SELECT n_base, n_current,
      |  round(CAST(CAST(SUM(tt) AS VARCHAR) AS DOUBLE), 6) AS psi
      |FROM terms GROUP BY n_base, n_current""".stripMargin)

  gate("q_mutual_info", (s, d) => {
    // Dependence between priority and status in nats; marginals fold
    // from the joint-cell table.
    graft.pipeline.Profile.mutualInfo(Tables.orders(s, d),
      "o_orderpriority", "o_orderstatus")
  }, oracle =
    // Mutual information in nats from the joint-cell table.
    """WITH cells AS (SELECT o_orderpriority AS x, o_orderstatus AS y,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM orders WHERE o_orderpriority IS NOT NULL
      |    AND o_orderstatus IS NOT NULL GROUP BY x, y),
      |m AS (SELECT c,
      |    CAST(SUM(c) OVER (PARTITION BY x) AS BIGINT) AS nx,
      |    CAST(SUM(c) OVER (PARTITION BY y) AS BIGINT) AS ny,
      |    CAST(SUM(c) OVER () AS BIGINT) AS n FROM cells),
      |t AS (SELECT n, CAST(round(CAST(c AS DOUBLE) / CAST(n AS DOUBLE) *
      |    round(ln(CAST(c * n AS DOUBLE) / CAST(nx * ny AS DOUBLE)), 6),
      |    8) AS DECIMAL(18,8)) AS tt FROM m)
      |SELECT n, round(CAST(CAST(SUM(tt) AS VARCHAR) AS DOUBLE), 6) AS mi
      |FROM t GROUP BY n""".stripMargin)

  gate("q_path_length", (s, d) => {
    // L1 track statistics per user over hashed synthetic waypoints in
    // event order (event_id is the unique sequence).
    val m = 2147483648L
    val pts = Tables.events(s, d).select(col("user_id"),
      col("event_id").as("seq"),
      (pmod(col("event_id"), lit(m)) * lit(2654435761L) % lit(m) % lit(1000L)).as("x"),
      (pmod(col("event_id"), lit(m)) * lit(2246822519L) % lit(m) % lit(1000L)).as("y"))
    Relational.sort(col("user_id"))(
      graft.pipeline.Spatial.pathStats(pts, Seq("user_id"), "x", "y", "seq"))
  }, oracle =
    // L1 path stats per user over hashed waypoints in event order.
    """WITH p AS (SELECT user_id, event_id AS seq,
      |    ((event_id % 2147483648) * 2654435761 % 2147483648) % 1000 AS x,
      |    ((event_id % 2147483648) * 2246822519 % 2147483648) % 1000 AS y
      |  FROM events),
      |l AS (SELECT user_id, seq, x, y,
      |    lag(x) OVER w AS px, lag(y) OVER w AS py
      |  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY seq)),
      |agg AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_points,
      |    CAST(COALESCE(SUM(abs(x - px) + abs(y - py)), 0) AS BIGINT)
      |      AS path_len,
      |    CAST(arg_min(x, seq) AS BIGINT) AS fx,
      |    CAST(arg_min(y, seq) AS BIGINT) AS fy,
      |    CAST(arg_max(x, seq) AS BIGINT) AS lx,
      |    CAST(arg_max(y, seq) AS BIGINT) AS ly
      |  FROM l GROUP BY user_id)
      |SELECT user_id, n_points, path_len,
      |  CAST(abs(lx - fx) + abs(ly - fy) AS BIGINT) AS net_displacement
      |FROM agg ORDER BY user_id""".stripMargin)

  gate("q_multi_touch", (s, d) => {
    // Linear attribution in exact mills: per-user credit sums to 10^6
    // by construction; aggregated per touch type.
    Relational.sort(col("event_type"))(
      graft.pipeline.Events.linearAttribution(Tables.events(s, d),
        "user_id", "ts", "event_type", "event_id",
        Seq("view", "click"), "purchase")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_touches"),
          sum(col("credit_mills")).as("total_credit")))
  }, oracle =
    // Linear attribution: 10^6 mills per converting user, remainder to
    // the earliest touch; aggregated per touch type.
    """WITH conv AS (SELECT user_id, MIN(ts) AS cts FROM events
      |  WHERE event_type = 'purchase' GROUP BY user_id),
      |touch AS (SELECT e.user_id, e.event_id, e.event_type,
      |    CAST(COUNT(*) OVER (PARTITION BY e.user_id) AS BIGINT) AS n,
      |    row_number() OVER (PARTITION BY e.user_id
      |      ORDER BY e.ts, e.event_id) AS rn
      |  FROM events e JOIN conv USING (user_id)
      |  WHERE e.event_type IN ('view', 'click') AND e.ts < conv.cts)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
      |  CAST(SUM(1000000 // n +
      |    CASE WHEN rn = 1 THEN 1000000 % n ELSE 0 END) AS BIGINT)
      |    AS total_credit
      |FROM touch GROUP BY event_type ORDER BY event_type""".stripMargin)

  gate("q_not_in", (s, d) => {
    // ANSI NOT IN three-valued semantics, proven against DuckDB's own
    // NOT IN: customers with no orders (clean subquery) vs the SAME
    // subquery with one NULL injected — which must empty the result.
    val cust = Tables.customer(s, d)
    val orderKeys = Tables.orders(s, d).select(col("o_custkey").as("k"))
    val withNull = orderKeys.unionByName(
      cust.limit(1).select(lit(null).cast("long").as("k")))
    def tally(label: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n"),
        coalesce(sum(col("c_custkey")), lit(0L)).as("key_sum"))
        .select(lit(label).as("label"), col("n"), col("key_sum"))
    Relational.sort(col("label"))(
      tally("clean", Relational.notInSubquery(cust, "c_custkey",
        orderKeys, "k")).unionByName(
        tally("with_null", Relational.notInSubquery(cust, "c_custkey",
          withNull, "k"))))
  }, oracle =
    // NOT IN proven against the engine-native predicate: one NULL in
    // the subquery must empty the result.
    """SELECT 'clean' AS label, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COALESCE(SUM(c_custkey), 0) AS BIGINT) AS key_sum
      |FROM customer
      |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
      |UNION ALL
      |SELECT 'with_null', CAST(COUNT(*) AS BIGINT),
      |  CAST(COALESCE(SUM(c_custkey), 0) AS BIGINT)
      |FROM customer
      |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
      |  UNION ALL SELECT NULL)
      |ORDER BY label""".stripMargin)

  gate("q_streak", (s, d) => {
    // Longest consecutive-active-day streak per user via the
    // gaps-and-islands constant; earliest-start tie-break.
    Relational.sort(col("user_id"))(
      graft.pipeline.Events.longestStreak(Tables.events(s, d),
        "user_id", "ts")
        .withColumn("streak_start",
          date_format(col("streak_start"), "yyyy-MM-dd")))
  }, oracle =
    // Longest streak: gaps-and-islands constant over the (user, day)
    // table; earliest start on length ties.
    """WITH pk AS (SELECT DISTINCT user_id,
      |    CAST(date_trunc('day', ts) AS DATE) AS d FROM events),
      |i AS (SELECT user_id, d,
      |    (d - DATE '1970-01-01') - row_number() OVER (
      |      PARTITION BY user_id ORDER BY d) AS isl FROM pk),
      |r AS (SELECT user_id, isl, CAST(COUNT(*) AS BIGINT) AS len,
      |    MIN(d) AS st FROM i GROUP BY user_id, isl),
      |a AS (SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_days,
      |    CAST(COUNT(*) AS BIGINT) AS n_streaks,
      |    CAST(MAX(len) AS BIGINT) AS longest FROM r GROUP BY user_id)
      |SELECT a.user_id, a.n_days, a.n_streaks, a.longest,
      |  strftime(MIN(r.st), '%Y-%m-%d') AS streak_start
      |FROM a JOIN r ON r.user_id = a.user_id AND r.len = a.longest
      |GROUP BY a.user_id, a.n_days, a.n_streaks, a.longest
      |ORDER BY a.user_id""".stripMargin)

  gate("q_fk_discovery", (s, d) => {
    // Inclusion-dependency audit: two true FKs (containment 1.0) and a
    // deliberately wrong pair — the schema-discovery probe.
    import graft.pipeline.Checks
    def one(label: String, c: DataFrame, cc: String, p: DataFrame,
            pc: String): DataFrame =
      Checks.inclusionDependency(c, cc, p, pc)
        .select(lit(label).as("pair"), col("n_child_distinct"),
          col("n_missing"), col("containment"))
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    Relational.sort(col("pair"))(
      one("li_orderkey_in_orders", li, "l_orderkey", o, "o_orderkey")
        .unionByName(one("o_custkey_in_customer", o, "o_custkey", c, "c_custkey"))
        .unionByName(one("o_orderkey_in_customer", o, "o_orderkey", c, "c_custkey")))
  }, oracle =
    // Inclusion dependency: distinct child values missing from parent.
    """WITH li AS (SELECT DISTINCT l_orderkey AS v FROM lineitem
      |  WHERE l_orderkey IS NOT NULL),
      |lim AS (SELECT CAST(COUNT(*) AS BIGINT) AS nm FROM li
      |  WHERE v NOT IN (SELECT o_orderkey FROM orders
      |    WHERE o_orderkey IS NOT NULL)),
      |lic AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc FROM li),
      |oc AS (SELECT DISTINCT o_custkey AS v FROM orders
      |  WHERE o_custkey IS NOT NULL),
      |ocm AS (SELECT CAST(COUNT(*) AS BIGINT) AS nm FROM oc
      |  WHERE v NOT IN (SELECT c_custkey FROM customer
      |    WHERE c_custkey IS NOT NULL)),
      |occ AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc FROM oc),
      |oo AS (SELECT DISTINCT o_orderkey AS v FROM orders
      |  WHERE o_orderkey IS NOT NULL),
      |oom AS (SELECT CAST(COUNT(*) AS BIGINT) AS nm FROM oo
      |  WHERE v NOT IN (SELECT c_custkey FROM customer
      |    WHERE c_custkey IS NOT NULL)),
      |ooc AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc FROM oo)
      |SELECT 'li_orderkey_in_orders' AS pair, nc AS n_child_distinct,
      |  nm AS n_missing, CASE WHEN nc > 0 THEN round(1.0 -
      |    CAST(nm AS DOUBLE) / CAST(nc AS DOUBLE), 6) END AS containment
      |FROM lic CROSS JOIN lim
      |UNION ALL
      |SELECT 'o_custkey_in_customer', nc, nm, CASE WHEN nc > 0 THEN
      |  round(1.0 - CAST(nm AS DOUBLE) / CAST(nc AS DOUBLE), 6) END
      |FROM occ CROSS JOIN ocm
      |UNION ALL
      |SELECT 'o_orderkey_in_customer', nc, nm, CASE WHEN nc > 0 THEN
      |  round(1.0 - CAST(nm AS DOUBLE) / CAST(nc AS DOUBLE), 6) END
      |FROM ooc CROSS JOIN oom
      |ORDER BY pair""".stripMargin)

  // k=21: six genuine peeling rounds at sf0.01 with a 908-node core
  // surviving (k=22 cascades to empty; k=18 barely peels)
  private val KcoreK = 21

  private val KcoreRounds = 10

  gate("q_kcore", (s, d) => {
    // k-core of a 997-node co-occurrence graph: iterative peeling to
    // the fixpoint (monotone — the oracle's fixed unroll is safe).
    val o = Tables.orders(s, d)
    val edges = o.select(pmod(col("o_custkey"), lit(997L)).as("x"),
      pmod(col("o_orderkey"), lit(997L)).as("y"))
    Relational.sort(col("node"))(
      graft.pipeline.Graph.kCore(edges, "x", "y", k = KcoreK,
        maxRounds = KcoreRounds))
  }, oracle = kcoreOracleSql(KcoreRounds, KcoreK))

  /** The q_kcore oracle unrolls the peeling loop `rounds` times as a
    * CTE chain (the q_pagerank standard); extra rounds past the engine's
    * fixpoint are no-ops because peeling is monotone. */
  private def kcoreOracleSql(rounds: Int, k: Int): String = {
    // every CTE is MATERIALIZED: with inlining each round references the
    // previous one several times and the expansion (and its file opens)
    // grows exponentially — the BPE-oracle lesson
    val sb = new StringBuilder
    sb.append("WITH e0 AS MATERIALIZED (SELECT DISTINCT least(x, y) AS a, " +
      "greatest(x, y) AS b FROM (SELECT o_custkey % 997 AS x, " +
      "o_orderkey % 997 AS y FROM orders) WHERE x <> y),\n")
    for (r <- 1 to rounds) {
      sb.append(s"d$r AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM (" +
        s"SELECT a AS node FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1}) " +
        s"GROUP BY node),\n")
      sb.append(s"k$r AS MATERIALIZED (SELECT node FROM d$r WHERE deg >= $k),\n")
      sb.append(s"e$r AS MATERIALIZED (SELECT e.a, e.b FROM e${r - 1} e " +
        s"JOIN k$r ka ON ka.node = e.a JOIN k$r kb ON kb.node = e.b),\n")
    }
    sb.append(s"fin AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree " +
      s"FROM (SELECT a AS node FROM e$rounds UNION ALL " +
      s"SELECT b FROM e$rounds) GROUP BY node)\n")
    sb.append(s"SELECT node, degree FROM fin WHERE degree >= $k ORDER BY node")
    sb.toString
  }

  gate("q_trimmed_mean", (s, d) => {
    // 10%-each-side trimmed mean per flag from the distinct-value
    // rank-interval overlap — no per-row ranks.
    Relational.sort(col("l_returnflag"))(
      graft.pipeline.Profile.trimmedMean(Tables.lineitem(s, d),
        "l_returnflag", "l_extendedprice", trimNum = 1, trimDen = 10))
  }, oracle =
    // Trimmed mean: kept multiplicity = rank-interval overlap.
    """WITH dv AS (SELECT l_returnflag AS g,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY g, v),
      |rk AS (SELECT g, v, c,
      |    CAST(SUM(c) OVER (PARTITION BY g ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS cum,
      |    CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n FROM dv),
      |t AS (SELECT g, v, c, cum, n, (n * 1) // 10 AS tt FROM rk),
      |kk AS (SELECT g, n, tt, v, greatest(0, least(cum, n - tt) -
      |    greatest(cum - c + 1, tt + 1) + 1) AS kept FROM t),
      |ag AS (SELECT g, MAX(n) AS n, CAST(MAX(tt) AS BIGINT) AS tt,
      |    CAST(SUM(kept) AS BIGINT) AS n_kept, SUM(v * kept) AS ks
      |  FROM kk GROUP BY g)
      |SELECT g AS l_returnflag, n, tt AS n_trimmed_each_side, n_kept,
      |  CASE WHEN n_kept > 0 THEN round(
      |    CAST(CAST(ks AS VARCHAR) AS DOUBLE) / CAST(n_kept AS DOUBLE),
      |    6) END AS mean
      |FROM ag ORDER BY l_returnflag""".stripMargin)

  gate("q_rebalance", (s, d) => {
    // Deterministic class rebalancing to the smallest class's size;
    // aggregated per class with the key sum pinning WHICH rows survive.
    Relational.sort(col("o_orderpriority"))(
      graft.pipeline.Sampling.rebalanceClasses(Tables.orders(s, d),
        "o_orderpriority", Seq("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum")))
  }, oracle =
    // Rebalance: cap at the smallest class, portable-hash rank replay.
    """WITH cn AS (SELECT o_orderpriority AS g,
      |    CAST(COUNT(*) AS BIGINT) AS c FROM orders GROUP BY g),
      |mn AS (SELECT MIN(c) AS mc FROM cn),
      |b AS (SELECT o_orderkey, o_orderpriority AS g,
      |    ((o_orderkey % 2147483648) * 2654435761 % 2147483648)
      |      % 2147483648 % 1000000 AS bk FROM orders),
      |r AS (SELECT o_orderkey, g, row_number() OVER (PARTITION BY g
      |    ORDER BY bk, o_orderkey) AS rn FROM b)
      |SELECT g AS o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
      |FROM r CROSS JOIN mn WHERE rn <= mc GROUP BY g ORDER BY g""".stripMargin)

  gate("q_naive_bayes", (s, d) => {
    // Train on even docs (label = lang), classify odd docs; smoothing,
    // priors and unseen-word mass all replayed by the oracle.
    val docs = Tables.documents(s, d)
    Relational.sort(col("doc_id"))(
      graft.pipeline.Scoring.naiveBayes(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1),
        "doc_id", "text", "lang"))
  }, oracle =
    // Multinomial NB: add-one smoothing, 6-dp decimal-summed lns,
    // argmax with lexicographic tie-break.
    """WITH tr AS (SELECT lang AS l, doc_id, text FROM documents
      |  WHERE doc_id % 2 = 0),
      |te AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
      |trtf AS (SELECT l, unnest(list_filter(string_split_regex(
      |    lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w FROM tr),
      |cnt AS (SELECT l, w, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM trtf GROUP BY l, w),
      |tl AS (SELECT l, CAST(SUM(c) AS BIGINT) AS tt FROM cnt GROUP BY l),
      |vs AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS vv FROM cnt),
      |pr AS (SELECT l, CAST(COUNT(*) AS BIGINT) AS dd FROM tr GROUP BY l),
      |prt AS (SELECT CAST(SUM(dd) AS BIGINT) AS dtot FROM pr),
      |lab AS (SELECT pr.l, tl.tt, vs.vv,
      |    CAST(round(ln(CAST(pr.dd AS DOUBLE) / CAST(prt.dtot AS DOUBLE)),
      |      6) AS DECIMAL(18,6)) AS lnprior
      |  FROM pr JOIN tl USING (l) CROSS JOIN vs CROSS JOIN prt),
      |tetf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM (
      |    SELECT doc_id, unnest(list_filter(string_split_regex(
      |      lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w FROM te)
      |  GROUP BY doc_id, w),
      |terms AS (SELECT t.doc_id, lab.l, lab.lnprior,
      |    t.tf * CAST(round(ln(
      |      CAST(COALESCE(c.c, 0) + 1 AS DOUBLE) /
      |      CAST(lab.tt + lab.vv AS DOUBLE)), 6) AS DECIMAL(18,6)) AS term
      |  FROM tetf t CROSS JOIN lab
      |  LEFT JOIN cnt c ON c.l = lab.l AND c.w = t.w),
      |sc AS (SELECT doc_id, l, MAX(lnprior) + SUM(term) AS score
      |  FROM terms GROUP BY doc_id, l),
      |rk AS (SELECT doc_id, l, score, row_number() OVER (
      |    PARTITION BY doc_id ORDER BY score DESC, l ASC) AS rn FROM sc)
      |SELECT doc_id, l AS predicted,
      |  round(CAST(CAST(score AS VARCHAR) AS DOUBLE), 6) AS score
      |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin)

  gate("q_sorted_blocking", (s, d) => {
    // Sorted-neighborhood candidates over the normalized name, w=3:
    // exactly n·w pairs by construction, banded rank join (no global
    // self-join on rank inequality).
    Relational.sort(col("id_a"), col("id_b"))(
      graft.pipeline.Dedup.sortedNeighborhoodPairs(
        Tables.customer(s, d).select(col("c_custkey"),
          lower(col("c_name")).as("k")),
        "c_custkey", "k", w = 3))
  }, oracle =
    // Sorted-neighborhood candidates: rank self-join replay.
    """WITH r AS (SELECT c_custkey AS id, lower(c_name) AS k,
      |    row_number() OVER (ORDER BY lower(c_name), c_custkey) AS rn
      |  FROM customer)
      |SELECT a.id AS id_a, b.id AS id_b, a.k AS key_a, b.k AS key_b,
      |  CAST(b.rn - a.rn AS BIGINT) AS rank_dist
      |FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 3
      |ORDER BY id_a, id_b""".stripMargin)

  gate("q_sssp", (s, d) => {
    // Bounded-hop weighted shortest path over the q_bfs graph with edge
    // weights 1..9: min total cost within 6 hops from the %50 source
    // set — truncated Bellman-Ford frontier relaxation; the oracle
    // explores every bounded path recursively and takes MIN(cost).
    val o = Tables.orders(s, d)
    val edges = o.select((col("o_orderkey") % 500).as("src"),
      ((col("o_custkey") * 3 + 1) % 500).as("dst"),
      ((col("o_orderkey") + col("o_custkey")) % 9 + 1).as("w"))
    val sources = edges.select(col("src").as("id"))
      .where(col("id") % 50 === 0).distinct()
    Relational.sort(col("id"))(
      graft.pipeline.Graph.ssspHops(edges, "src", "dst", "w", sources,
        "id", maxHops = 6))
  }, oracle =
    // Weighted bounded-hop shortest path: the recursive CTE explores
    // every path of <= 6 edges ((id, dist, hops) states dedup via UNION,
    // so cycles terminate); MIN(dist) is the truncated-Bellman-Ford fix.
    """WITH RECURSIVE e AS (SELECT DISTINCT o_orderkey % 500 AS src,
      |    (o_custkey * 3 + 1) % 500 AS dst,
      |    (o_orderkey + o_custkey) % 9 + 1 AS w FROM orders),
      |s0 AS (SELECT DISTINCT src AS id FROM e WHERE src % 50 = 0),
      |r AS (SELECT id, CAST(0 AS BIGINT) AS dist, 0 AS hops FROM s0
      |  UNION
      |  SELECT e.dst, r.dist + e.w, r.hops + 1 FROM r JOIN e ON e.src = r.id
      |  WHERE r.hops < 6)
      |SELECT CAST(id AS BIGINT) AS id, CAST(MIN(dist) AS BIGINT) AS dist
      |FROM r GROUP BY id ORDER BY id""".stripMargin)

  gate("q_isotonic", (s, d) => {
    // Isotonic calibration per linestatus: 24 score bins whose label
    // rate trends upward with planted noise (rate ≈ (20+3·bin)%), so
    // PAVA genuinely pools violating bins; max-min identity over exact
    // interval means, O(B³) only on the bin table.
    val li = Tables.lineitem(s, d).select(col("l_linestatus").as("ls"),
      (col("l_partkey") % 24).as("bin"),
      when(col("l_orderkey") % 100 <
        lit(20) + lit(3) * (col("l_partkey") % 24), 1).otherwise(0).as("y"))
    Relational.sort(col("g"), col("x"))(
      graft.pipeline.Profile.isotonicFit(li, "ls", "bin", "y"))
  }, oracle =
    // Isotonic max-min identity replay: prefix sums over the bin table,
    // interval means via exact-decimal digit strings, min over k>=i then
    // max over j<=i.
    """WITH b AS (SELECT l_linestatus AS g, l_partkey % 24 AS x,
      |    CASE WHEN l_orderkey % 100 < 20 + 3 * (l_partkey % 24)
      |      THEN 1 ELSE 0 END AS y FROM lineitem),
      |pt AS (SELECT g, x, CAST(COUNT(*) AS BIGINT) AS w,
      |    CAST(SUM(y) AS DECIMAL(18,2)) AS sy FROM b GROUP BY g, x),
      |cu AS (SELECT g, x, CAST(row_number() OVER (
      |      PARTITION BY g ORDER BY x) AS BIGINT) AS i, w, sy,
      |    CAST(SUM(w) OVER (PARTITION BY g ORDER BY x) AS BIGINT) AS cw,
      |    CAST(SUM(sy) OVER (PARTITION BY g ORDER BY x)
      |      AS DECIMAL(28,2)) AS csy FROM pt),
      |z AS (SELECT g, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS cw,
      |    CAST(0 AS DECIMAL(28,2)) AS csy FROM (SELECT DISTINCT g FROM cu)
      |  UNION ALL SELECT g, i, cw, csy FROM cu),
      |iv AS (SELECT lo.g, lo.i AS j0, hi.i AS k,
      |    CAST(CAST(hi.csy - lo.csy AS VARCHAR) AS DOUBLE) /
      |    CAST(CAST(hi.cw - lo.cw AS VARCHAR) AS DOUBLE) AS avgv
      |  FROM z lo JOIN z hi ON hi.g = lo.g AND hi.i > lo.i),
      |mn AS (SELECT c.g, c.i, iv.j0, MIN(iv.avgv) AS m
      |  FROM cu c JOIN iv ON iv.g = c.g AND iv.j0 < c.i AND iv.k >= c.i
      |  GROUP BY c.g, c.i, iv.j0),
      |ft AS (SELECT g, i, MAX(m) AS f FROM mn GROUP BY g, i)
      |SELECT c.g, CAST(c.x AS BIGINT) AS x, c.w AS n,
      |  round(CAST(CAST(c.sy AS VARCHAR) AS DOUBLE) / CAST(c.w AS DOUBLE),
      |    6) AS y_mean,
      |  round(ft.f, 6) AS fitted
      |FROM cu c JOIN ft ON ft.g = c.g AND ft.i = c.i
      |ORDER BY c.g, c.x""".stripMargin)

  gate("q_ranking_metrics", (s, d) => {
    // NDCG@10 / MRR / AP per ~200-query workload: orders ranked by
    // totalprice desc within o_custkey % 200, relevance = fulfilled.
    val o = Tables.orders(s, d).select((col("o_custkey") % 200).as("qk"),
      col("o_totalprice"), col("o_orderkey"), col("o_orderstatus"))
    Relational.sort(col("q"))(
      graft.pipeline.Profile.rankingMetrics(o, "qk", "o_totalprice",
        "o_orderkey", col("o_orderstatus") === "F", k = 10))
  }, oracle =
    // Ranking metrics: one rank window (score desc, id asc), 6-dp-rounded
    // discount/precision terms summed as decimals (tfidf convention),
    // ideal rank = cumulative relevant count.
    """WITH b AS (SELECT o_custkey % 200 AS q, o_totalprice AS s,
      |    o_orderkey AS id,
      |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS rel
      |  FROM orders),
      |rk AS (SELECT q, rel, CAST(row_number() OVER (
      |      PARTITION BY q ORDER BY s DESC, id ASC) AS BIGINT) AS r,
      |    CAST(SUM(rel) OVER (PARTITION BY q ORDER BY s DESC, id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cr FROM b),
      |t AS (SELECT q, rel, r, cr,
      |    CASE WHEN rel = 1 AND r <= 10 THEN CAST(round(
      |      1.0 / log2(CAST(r AS DOUBLE) + 1.0), 6) AS DECIMAL(18,6))
      |    END AS dcg_t,
      |    CASE WHEN rel = 1 AND cr <= 10 THEN CAST(round(
      |      1.0 / log2(CAST(cr AS DOUBLE) + 1.0), 6) AS DECIMAL(18,6))
      |    END AS idcg_t,
      |    CASE WHEN rel = 1 THEN CAST(round(
      |      CAST(cr AS DOUBLE) / CAST(r AS DOUBLE), 6) AS DECIMAL(18,6))
      |    END AS prec_t,
      |    CASE WHEN rel = 1 THEN r END AS relr FROM rk),
      |ag AS (SELECT q, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(rel) AS BIGINT) AS n_rel, SUM(dcg_t) AS dcg,
      |    SUM(idcg_t) AS idcg, MIN(relr) AS minr, SUM(prec_t) AS sprec
      |  FROM t GROUP BY q)
      |SELECT q, n, n_rel,
      |  CASE WHEN n_rel > 0 THEN round(
      |    CAST(CAST(dcg AS VARCHAR) AS DOUBLE) /
      |    CAST(CAST(idcg AS VARCHAR) AS DOUBLE), 6) END AS ndcg,
      |  CASE WHEN n_rel > 0 THEN round(1.0 / CAST(minr AS DOUBLE), 6)
      |    END AS mrr,
      |  CASE WHEN n_rel > 0 THEN round(
      |    CAST(CAST(sprec AS VARCHAR) AS DOUBLE) / CAST(n_rel AS DOUBLE),
      |    6) END AS ap
      |FROM ag ORDER BY q""".stripMargin)

  gate("q_calibration", (s, d) => {
    // Reliability diagram + per-bin Brier terms: p = (orderkey%100)/100
    // as an EXACT decimal (integer score × 0.01), decile bins, label =
    // fulfilled; every sum decimal-exact, one division per metric.
    val o = Tables.orders(s, d).select(
      expr("(o_orderkey % 100) DIV 10").as("b"),
      (expr("CAST(o_orderkey % 100 AS DECIMAL(5,2))") *
        expr("CAST(0.01 AS DECIMAL(3,2))")).as("p"),
      col("o_orderstatus"))
    Relational.sort(col("bin"))(
      graft.pipeline.Profile.calibrationBins(o, "b", "p",
        col("o_orderstatus") === "F"))
  }, oracle =
    // Calibration reliability bins: exact-decimal p sums and squared
    // errors, one digit-string division per metric; the gap subtracts
    // the two already-rounded means.
    """WITH b AS (SELECT (o_orderkey % 100) // 10 AS bin,
      |    CAST(o_orderkey % 100 AS DECIMAL(5,2)) *
      |      CAST(0.01 AS DECIMAL(3,2)) AS p,
      |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      |  FROM orders),
      |ag AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(y) AS BIGINT) AS n_pos, SUM(p) AS sp,
      |    SUM((p - CAST(y AS DECIMAL(5,4))) *
      |        (p - CAST(y AS DECIMAL(5,4)))) AS ssq
      |  FROM b GROUP BY bin),
      |m AS (SELECT bin, n, n_pos,
      |    round(CAST(CAST(sp AS VARCHAR) AS DOUBLE) /
      |      CAST(n AS DOUBLE), 6) AS mean_p,
      |    round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pos_rate,
      |    ssq FROM ag)
      |SELECT bin, n, n_pos, mean_p, pos_rate,
      |  round(abs(mean_p - pos_rate), 6) AS gap,
      |  round(CAST(CAST(ssq AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE), 6)
      |    AS brier
      |FROM m ORDER BY bin""".stripMargin)

  gate("q_twap", (s, d) => {
    // Time-weighted average event value per user bucket: the value holds
    // until the user's next event; exact decimal·micros weighted sum,
    // one digit-string division.
    val ev = Tables.events(s, d).select((col("user_id") % 100).as("k"),
      col("ts"), col("value"), col("event_id"))
    Relational.sort(col("k"))(
      graft.pipeline.TimeSeries.twap(ev, "k", "ts", "value", "event_id"))
  }, oracle =
    // TWAP: lead window over (ts, event_id), exact decimal·micros sum.
    """WITH b AS (SELECT user_id % 100 AS k, epoch_us(ts) AS t,
      |    event_id AS tb, CAST(value AS DECIMAL(18,2)) AS v FROM events),
      |l AS (SELECT k, t, v, lead(t) OVER (
      |    PARTITION BY k ORDER BY t, tb) AS nt FROM b),
      |ag AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(MAX(t) - MIN(t) AS BIGINT) AS span_micros,
      |    SUM(CASE WHEN nt IS NOT NULL THEN v * (nt - t) END) AS ws
      |  FROM l GROUP BY k)
      |SELECT k, n, span_micros,
      |  CASE WHEN span_micros > 0 THEN round(
      |    CAST(CAST(ws AS VARCHAR) AS DOUBLE) /
      |    CAST(span_micros AS DOUBLE), 6) END AS twap
      |FROM ag ORDER BY k""".stripMargin)

  gate("q_ewma", (s, d) => {
    // Truncated EWMA (α=1/2, lookback 8) per event type — integer
    // weights 256..1 over the lag chain, warm-up renormalizes over the
    // lags that exist; one key-sharded window sort, zero joins.
    val ev = Tables.events(s, d).select(col("event_type"), col("ts"),
      col("event_id"), col("value"))
    Relational.sort(col("event_type"), col("event_id"))(
      graft.pipeline.TimeSeries.ewmaLags(ev, "event_type", "ts", "value",
          "event_id", lookback = 8)
        .select(col("event_type"), col("event_id"), col("n_terms"),
          col("ewma")))
  }, oracle =
    // Truncated EWMA: the 9-term lag chain with integer weights 256..1;
    // warm-up renormalizes over present lags.
    """WITH b AS (SELECT event_type AS g, ts, event_id AS tb,
      |    CAST(value AS DECIMAL(18,2)) AS v FROM events),
      |l AS (SELECT g, tb, v,
      |    lag(v, 1) OVER w AS l1, lag(v, 2) OVER w AS l2,
      |    lag(v, 3) OVER w AS l3, lag(v, 4) OVER w AS l4,
      |    lag(v, 5) OVER w AS l5, lag(v, 6) OVER w AS l6,
      |    lag(v, 7) OVER w AS l7, lag(v, 8) OVER w AS l8
      |  FROM b WINDOW w AS (PARTITION BY g ORDER BY ts, tb)),
      |m AS (SELECT g, tb,
      |    v * 256 + COALESCE(l1 * 128, 0) + COALESCE(l2 * 64, 0) +
      |      COALESCE(l3 * 32, 0) + COALESCE(l4 * 16, 0) +
      |      COALESCE(l5 * 8, 0) + COALESCE(l6 * 4, 0) +
      |      COALESCE(l7 * 2, 0) + COALESCE(l8, 0) AS num,
      |    256 + CASE WHEN l1 IS NULL THEN 0 ELSE 128 END +
      |      CASE WHEN l2 IS NULL THEN 0 ELSE 64 END +
      |      CASE WHEN l3 IS NULL THEN 0 ELSE 32 END +
      |      CASE WHEN l4 IS NULL THEN 0 ELSE 16 END +
      |      CASE WHEN l5 IS NULL THEN 0 ELSE 8 END +
      |      CASE WHEN l6 IS NULL THEN 0 ELSE 4 END +
      |      CASE WHEN l7 IS NULL THEN 0 ELSE 2 END +
      |      CASE WHEN l8 IS NULL THEN 0 ELSE 1 END AS den,
      |    1 + CASE WHEN l1 IS NULL THEN 0 ELSE 1 END +
      |      CASE WHEN l2 IS NULL THEN 0 ELSE 1 END +
      |      CASE WHEN l3 IS NULL THEN 0 ELSE 1 END +
      |      CASE WHEN l4 IS NULL THEN 0 ELSE 1 END +
      |      CASE WHEN l5 IS NULL THEN 0 ELSE 1 END +
      |      CASE WHEN l6 IS NULL THEN 0 ELSE 1 END +
      |      CASE WHEN l7 IS NULL THEN 0 ELSE 1 END +
      |      CASE WHEN l8 IS NULL THEN 0 ELSE 1 END AS nt
      |  FROM l)
      |SELECT g AS event_type, tb AS event_id, CAST(nt AS BIGINT) AS n_terms,
      |  round(CAST(CAST(num AS VARCHAR) AS DOUBLE) / CAST(den AS DOUBLE), 6)
      |    AS ewma
      |FROM m ORDER BY event_type, event_id""".stripMargin)

  gate("q_overlap_duration", (s, d) => {
    // Click×view co-presence per user bucket: total pairwise interval
    // overlap micros — bucketized (10-min buckets, canonical-bucket
    // dedup), never a key-only all-pairs join; the oracle IS the
    // quadratic join (zero-overlap pairs contribute nothing, so the
    // bucket pruning is invisible to the result).
    val ev = Tables.events(s, d)
    val micros = graft.functions.Exprs.epochMicrosCivil(col("ts"))
    val a = ev.where(col("event_type") === "click")
      .select((col("user_id") % 20).as("k"), micros.as("s"),
        (micros + (lit(1) + col("event_id") % 5) * lit(60000000L)).as("e"))
    val b = ev.where(col("event_type") === "view")
      .select((col("user_id") % 20).as("k"), micros.as("s"),
        (micros + (lit(1) + col("user_id") % 7) * lit(60000000L)).as("e"))
    Relational.sort(col("key"))(
      graft.pipeline.Events.overlapDuration(a, b, "k", "s", "e",
        bucketWidth = 600000000L))
  }, oracle =
    // Pairwise interval overlap: the oracle IS the per-key quadratic
    // join — zero-overlap pairs add nothing, so the engine's bucketized
    // join (which never sees bucket-disjoint pairs) agrees exactly.
    """WITH a AS (SELECT user_id % 20 AS k, epoch_us(ts) AS s,
      |    epoch_us(ts) + (1 + event_id % 5) * 60000000 AS e
      |  FROM events WHERE event_type = 'click'),
      |b AS (SELECT user_id % 20 AS k, epoch_us(ts) AS s,
      |    epoch_us(ts) + (1 + user_id % 7) * 60000000 AS e
      |  FROM events WHERE event_type = 'view'),
      |p AS (SELECT a.k,
      |    GREATEST(0, LEAST(a.e, b.e) - GREATEST(a.s, b.s)) AS ov
      |  FROM a JOIN b ON b.k = a.k)
      |SELECT k AS key,
      |  CAST(SUM(CASE WHEN ov > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
      |  CAST(SUM(ov) AS BIGINT) AS total_overlap
      |FROM p GROUP BY k ORDER BY k""".stripMargin)

  gate("q_did", (s, d) => {
    // Difference-in-differences over the 2×2 (custkey parity ×
    // 1998-01-01 cutover) design: four exact-decimal cell means, the
    // causal contrast rounded once at the edge.
    graft.pipeline.Profile.diffInDiff(Tables.orders(s, d),
      col("o_custkey") % 2 === 0,
      col("o_orderdate") >= lit("1998-01-01").cast("timestamp_ntz"),
      "o_totalprice")
  }, oracle =
    // Difference-in-differences: four exact cell means, one rounded
    // contrast.
    """WITH b AS (SELECT
      |    CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END AS tr,
      |    CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
      |      THEN 1 ELSE 0 END AS po,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS v FROM orders),
      |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CASE WHEN tr = 1 AND po = 0 THEN v END) AS stp,
      |    CAST(SUM(CASE WHEN tr = 1 AND po = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS ntp,
      |    SUM(CASE WHEN tr = 1 AND po = 1 THEN v END) AS stq,
      |    CAST(SUM(CASE WHEN tr = 1 AND po = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS ntq,
      |    SUM(CASE WHEN tr = 0 AND po = 0 THEN v END) AS scp,
      |    CAST(SUM(CASE WHEN tr = 0 AND po = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS ncp,
      |    SUM(CASE WHEN tr = 0 AND po = 1 THEN v END) AS scq,
      |    CAST(SUM(CASE WHEN tr = 0 AND po = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS ncq
      |  FROM b),
      |m AS (SELECT n,
      |    CAST(CAST(stp AS VARCHAR) AS DOUBLE) / CAST(ntp AS DOUBLE) AS mtp,
      |    CAST(CAST(stq AS VARCHAR) AS DOUBLE) / CAST(ntq AS DOUBLE) AS mtq,
      |    CAST(CAST(scp AS VARCHAR) AS DOUBLE) / CAST(ncp AS DOUBLE) AS mcp,
      |    CAST(CAST(scq AS VARCHAR) AS DOUBLE) / CAST(ncq AS DOUBLE) AS mcq
      |  FROM ag)
      |SELECT n, round(mtp, 6) AS mean_treat_pre,
      |  round(mtq, 6) AS mean_treat_post,
      |  round(mcp, 6) AS mean_ctrl_pre, round(mcq, 6) AS mean_ctrl_post,
      |  round((mtq - mtp) - (mcq - mcp), 6) AS did
      |FROM m""".stripMargin)

  gate("q_cidr_join", (s, d) => {
    // CIDR containment over synthetic access-log IPs (numeric hash →
    // dotted-quad string → parsed back, exercising the parser): rules
    // BROADCAST pre-exploded to /8 buckets, the log side never shuffles;
    // the oracle replays the integer block arithmetic on the raw value.
    import s.implicits._
    val v = pmod(col("user_id") * 2654435761L, lit(4294967296L))
    val ips = Tables.events(s, d).select(col("event_id"), col("user_id"),
      graft.pipeline.Net.longToIpv4(v).as("ip"))
    val rules = Seq("0.0.0.0/2", "128.0.0.0/1", "55.0.0.0/8",
      "200.100.0.0/16", "10.20.30.0/24", "7.7.7.7/32", "77.0.0.0/6")
      .toDF("cidr")
    Relational.sort(col("cidr"))(
      graft.pipeline.Net.cidrContainJoin(ips, "ip", rules, "cidr")
        .groupBy(col("cidr"))
        .agg(count(lit(1)).as("n_hits"),
          countDistinct(col("user_id")).as("n_users")))
  }, oracle =
    // CIDR containment: the oracle replays the integer block arithmetic
    // (canonical net bases precomputed; v // bsz = net // bsz) on the
    // raw hash value — the engine's string roundtrip must land the same.
    """WITH ips AS (SELECT event_id, user_id,
      |    (user_id * 2654435761) % 4294967296 AS v FROM events),
      |r AS (SELECT * FROM (VALUES
      |    ('0.0.0.0/2', 0, 1073741824),
      |    ('128.0.0.0/1', 2147483648, 2147483648),
      |    ('55.0.0.0/8', 922746880, 16777216),
      |    ('200.100.0.0/16', 3361996800, 65536),
      |    ('10.20.30.0/24', 169090560, 256),
      |    ('7.7.7.7/32', 117901063, 1),
      |    ('77.0.0.0/6', 1275068416, 67108864))
      |  AS t(cidr, net, bsz))
      |SELECT cidr, CAST(COUNT(*) AS BIGINT) AS n_hits,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM ips JOIN r ON ips.v // r.bsz = r.net // r.bsz
      |GROUP BY cidr ORDER BY cidr""".stripMargin)

  gate("q_cidr_lpm", (s, d) => {
    // LONGEST-prefix-match enrichment over the same log/rule fixture as
    // q_cidr_join (overlapping rules planted: /32, /24, /8 all inside
    // 0.0.0.0/2): each event keeps ONLY the most specific rule, or NULL
    // when unmatched. The per-bucket rule-array broadcast means one
    // output row per event with no aggregation exchange (Net.cidrLpmJoin
    // scaladoc); the gate folds per winning cidr (NULL group = unmatched
    // traffic), so the hash distinguishes LPM from all-matches hard.
    import s.implicits._
    val v = pmod(col("user_id") * 2654435761L, lit(4294967296L))
    val ips = Tables.events(s, d).select(col("event_id"), col("user_id"),
      graft.pipeline.Net.longToIpv4(v).as("ip"))
    val rules = Seq("0.0.0.0/2", "128.0.0.0/1", "55.0.0.0/8",
      "200.100.0.0/16", "10.20.30.0/24", "7.7.7.7/32", "77.0.0.0/6")
      .toDF("cidr")
    Relational.sort(col("cidr"))(
      graft.pipeline.Net.cidrLpmJoin(ips, "ip", rules, "cidr")
        .groupBy(col("cidr"))
        .agg(count(lit(1)).as("n_hits"),
          countDistinct(col("user_id")).as("n_users"),
          max(col("plen")).as("plen")))
  }, oracle =
    // LPM winner per event: max plen, ties by cidr asc (row_number over
    // the candidate matches); LEFT join keeps unmatched events as the
    // NULL-cidr group.
    """WITH ips AS (SELECT event_id, user_id,
      |    (user_id * 2654435761) % 4294967296 AS v FROM events),
      |r AS (SELECT * FROM (VALUES
      |    ('0.0.0.0/2', 0, 1073741824, 2),
      |    ('128.0.0.0/1', 2147483648, 2147483648, 1),
      |    ('55.0.0.0/8', 922746880, 16777216, 8),
      |    ('200.100.0.0/16', 3361996800, 65536, 16),
      |    ('10.20.30.0/24', 169090560, 256, 24),
      |    ('7.7.7.7/32', 117901063, 1, 32),
      |    ('77.0.0.0/6', 1275068416, 67108864, 6))
      |  AS t(cidr, net, bsz, plen)),
      |m AS (SELECT event_id, user_id, cidr, plen,
      |    row_number() OVER (PARTITION BY event_id
      |      ORDER BY plen DESC, cidr ASC) AS rk
      |  FROM ips JOIN r ON ips.v // r.bsz = r.net // r.bsz),
      |w AS (SELECT event_id, user_id, cidr, plen FROM m WHERE rk = 1),
      |u AS (SELECT i.event_id, i.user_id, w.cidr, w.plen
      |  FROM ips i LEFT JOIN w ON i.event_id = w.event_id)
      |SELECT cidr, CAST(COUNT(*) AS BIGINT) AS n_hits,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  MAX(plen) AS plen
      |FROM u GROUP BY cidr ORDER BY cidr""".stripMargin)

  gate("q_bpe_train_batched", (s, d) => {
    // BATCHED merge learning (one recount round covers several merges —
    // the 32k-merge scale path; Bpe.trainMergesBatched scaladoc has the
    // serial-equality proof). The oracle is the SAME serial round-by-
    // round SQL replay as q_bpe_train: equality with serial is the gate.
    Relational.sort(col("merge_rank"))(
      graft.pipeline.Bpe.trainMergesBatchedDf(
        Tables.documents(s, d), "text", BpeNumMerges))
  }, oracle =
    // the batched trainer must reproduce the SERIAL merge sequence — the
    // oracle deliberately replays round-by-round serial BPE
    bpeTrainOracle(BpeNumMerges))

  gate("q_phrase_search", (s, d) => {
    // Exact-phrase retrieval ("table hash") over the positional inverted
    // index: per-term postings filter + one (doc, pos−offset) equi-join;
    // the oracle counts the same adjacencies list-wise per document.
    Relational.sort(col("doc_id"))(
      graft.pipeline.Index.phraseSearch(Tables.documents(s, d), "doc_id",
          "text", Seq("table", "hash"))
        .select(col("doc").as("doc_id"), col("n_matches")))
  }, oracle =
    // Phrase search: list-wise adjacency count per document under the
    // identical tokenization.
    """WITH t AS (SELECT doc_id, list_filter(
      |    regexp_split_to_array(lower(text), '[^a-z0-9]+'),
      |    x -> x <> '') AS w FROM documents),
      |m AS (SELECT doc_id, CAST(len(list_filter(range(1, len(w)),
      |    i -> w[i] = 'table' AND w[i+1] = 'hash')) AS BIGINT)
      |  AS n_matches FROM t)
      |SELECT doc_id, n_matches FROM m WHERE n_matches > 0
      |ORDER BY doc_id""".stripMargin)

  gate("q_readability", (s, d) => {
    import graft.pipeline.TextAnalysis._
    // Flesch reading ease per document: three regexp counts + one fixed
    // IEEE expression — single pass, zero joins.
    Relational.sort(col("doc_id"))(
      Tables.documents(s, d).select(col("doc_id"),
        wordCount(col("text")).as("n_words"),
        sentenceCount(col("text")).as("n_sentences"),
        syllableCount(col("text")).as("n_syllables"),
        fleschScore(col("text")).as("flesch")))
  }, oracle =
    // Flesch reading ease: three regexp counts + the fixed formula.
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
      |    AS BIGINT) AS n_words,
      |  CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
      |    AS BIGINT) AS n_sentences,
      |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
      |    AS BIGINT) AS n_syllables,
      |  CASE WHEN n_words > 0 THEN round(206.835
      |    - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
      |    - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6)
      |  END AS flesch
      |FROM documents ORDER BY doc_id""".stripMargin)

  gate("q_luhn", (s, d) => {
    // Luhn mod-10 audit of synthetic 12-digit ids: the HOF expression
    // folds doubled digits positionally; the oracle replays digit by
    // digit in list land.
    val nums = Tables.orders(s, d).select(
      lpad(pmod(col("o_orderkey") * 2654435761L, lit(1000000000000L))
        .cast("string"), 12, "0").as("num"))
    Relational.sort(col("valid"))(
      nums.select(graft.pipeline.Checks.luhnValid(col("num")).as("valid"))
        .groupBy(col("valid")).agg(count(lit(1)).as("n")))
  }, oracle =
    // Luhn mod-10: digit-positional replay in list land.
    """WITH n AS (SELECT lpad(CAST((o_orderkey * 2654435761) %
      |    1000000000000 AS VARCHAR), 12, '0') AS s FROM orders),
      |v AS (SELECT (list_sum(list_transform(range(1, length(s) + 1),
      |    i -> CASE WHEN (length(s) - i) % 2 = 1
      |      THEN CASE WHEN 2 * CAST(substring(s, i, 1) AS INT) > 9
      |        THEN 2 * CAST(substring(s, i, 1) AS INT) - 9
      |        ELSE 2 * CAST(substring(s, i, 1) AS INT) END
      |      ELSE CAST(substring(s, i, 1) AS INT) END)) % 10 = 0)
      |    AS valid FROM n)
      |SELECT valid, CAST(COUNT(*) AS BIGINT) AS n FROM v
      |GROUP BY valid ORDER BY valid""".stripMargin)

  gate("q_topo_layers", (s, d) => {
    // DAG stage layering: edges step +16..+63 in a 400-node id space
    // (dst > src by construction ⇒ acyclic); layer = longest path from
    // any root, converged frontier relaxation vs the oracle's bounded
    // all-paths MAX.
    val o = Tables.orders(s, d)
    val src = col("o_orderkey") % 400
    val dst = src + 16 + (col("o_custkey") % 48)
    val edges = o.select(src.as("src"), dst.as("dst"))
      .where(col("dst") < 400)
    Relational.sort(col("id"))(
      graft.pipeline.Graph.topoLayers(edges, "src", "dst"))
  }, oracle =
    // Topological layers: bounded all-paths MAX over the
    // (id, layer)-deduped recursive expansion.
    """WITH RECURSIVE e AS (SELECT DISTINCT o_orderkey % 400 AS src,
      |    (o_orderkey % 400) + 16 + (o_custkey % 48) AS dst FROM orders
      |  WHERE (o_orderkey % 400) + 16 + (o_custkey % 48) < 400),
      |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      |r AS (SELECT id, 0 AS layer FROM n
      |  UNION
      |  SELECT e.dst, r.layer + 1 FROM r JOIN e ON e.src = r.id
      |  WHERE r.layer < 30)
      |SELECT CAST(id AS BIGINT) AS id, CAST(MAX(layer) AS BIGINT) AS layer
      |FROM r GROUP BY id ORDER BY id""".stripMargin)

  gate("q_subtree_rollup", (s, d) => {
    // BOM-style subtree totals over the custkey div-8 forest (parent <
    // id ⇒ forest; depth ~4 ⇒ two doubling rounds): descendant counts +
    // inclusive decimal value sums vs the recursive-CTE oracle.
    val c = Tables.customer(s, d).select(col("c_custkey").as("id"),
      when(col("c_custkey") < 8, lit(null).cast("long"))
        .otherwise(expr("c_custkey div 8")).as("parent"),
      (col("c_custkey") % 100).as("val"))
    Relational.sort(col("id"))(
      graft.pipeline.Graph.subtreeRollup(c, "id", "parent", "val"))
  }, oracle =
    // Subtree rollup: recursive ancestor pairs (forest ⇒ UNION ALL path
    // uniqueness), descendant aggregate + own value.
    """WITH RECURSIVE nd AS (SELECT c_custkey AS id,
      |    CASE WHEN c_custkey < 8 THEN NULL ELSE c_custkey // 8 END
      |      AS parent,
      |    CAST(c_custkey % 100 AS DECIMAL(18,2)) AS val FROM customer),
      |a AS (SELECT id, parent AS anc FROM nd WHERE parent IS NOT NULL
      |  UNION ALL
      |  SELECT a.id, nd.parent FROM a JOIN nd ON nd.id = a.anc
      |  WHERE nd.parent IS NOT NULL),
      |ag AS (SELECT a.anc AS id, CAST(COUNT(*) AS BIGINT) AS nd_,
      |    SUM(nd.val) AS dsum
      |  FROM a JOIN nd ON nd.id = a.id GROUP BY a.anc)
      |SELECT nd.id, COALESCE(ag.nd_, 0) AS n_desc,
      |  CAST(CAST(nd.val + COALESCE(ag.dsum, 0) AS VARCHAR) AS DOUBLE)
      |    AS subtree_sum
      |FROM nd LEFT JOIN ag ON ag.id = nd.id ORDER BY nd.id""".stripMargin)

  gate("q_geo_harm_mean", (s, d) => {
    // Geometric/harmonic price means per order priority: 6-dp decimal-
    // summed lns and 12-dp reciprocal sums, divisions at the edge.
    Relational.sort(col("g"))(
      graft.pipeline.Profile.geoHarmMeans(Tables.orders(s, d),
        "o_orderpriority", "o_totalprice"))
  }, oracle =
    // Geometric/harmonic means: 6-dp ln terms, 12-dp reciprocal terms,
    // decimal sums, edge divisions.
    """WITH b AS (SELECT o_orderpriority AS g,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS v FROM orders),
      |t AS (SELECT g,
      |    CASE WHEN v > 0 THEN CAST(round(ln(
      |      CAST(CAST(v AS VARCHAR) AS DOUBLE)), 6) AS DECIMAL(18,6))
      |    END AS lnt,
      |    CASE WHEN v > 0 THEN CAST(round(1.0 /
      |      CAST(CAST(v AS VARCHAR) AS DOUBLE), 12) AS DECIMAL(24,12))
      |    END AS invt,
      |    CASE WHEN v > 0 THEN 1 ELSE 0 END AS ok FROM b),
      |ag AS (SELECT g, CAST(SUM(ok) AS BIGINT) AS n,
      |    CAST(COUNT(*) - SUM(ok) AS BIGINT) AS n_excluded,
      |    SUM(lnt) AS sln, SUM(invt) AS sinv FROM t GROUP BY g)
      |SELECT g, n, n_excluded,
      |  CASE WHEN n > 0 THEN round(exp(
      |    CAST(CAST(sln AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)), 6)
      |  END AS geo_mean,
      |  CASE WHEN n > 0 THEN round(CAST(n AS DOUBLE) /
      |    CAST(CAST(sinv AS VARCHAR) AS DOUBLE), 6)
      |  END AS harm_mean
      |FROM ag ORDER BY g""".stripMargin)

  gate("q_sequence_gaps", (s, d) => {
    // Sequence-completeness audit: event_ids within each user_id%10
    // class are deliberately sparse — one gap row per hole.
    val ev = Tables.events(s, d).select((col("user_id") % 10).as("k"),
      col("event_id"))
    Relational.sort(col("key"), col("gap_start"))(
      graft.pipeline.Checks.sequenceGaps(ev, "k", "event_id"))
  }, oracle =
    // Sequence gaps: lag over distinct ids per class.
    """WITH b AS (SELECT DISTINCT user_id % 10 AS k, event_id AS s
      |  FROM events),
      |l AS (SELECT k, s, lag(s) OVER (PARTITION BY k ORDER BY s)
      |    AS prev FROM b)
      |SELECT k AS key, CAST(prev + 1 AS BIGINT) AS gap_start,
      |  CAST(s - 1 AS BIGINT) AS gap_end,
      |  CAST(s - prev - 1 AS BIGINT) AS n_missing
      |FROM l WHERE prev IS NOT NULL AND s - prev > 1
      |ORDER BY key, gap_start""".stripMargin)

  gate("q_dbscan", (s, d) => {
    // Grid-blocked DBSCAN over the q_spatial_join-style synthetic points
    // (eps 40, minPts 5): core/border/noise roles + min-id cluster
    // labels vs the all-pairs + recursive-closure oracle (9 clusters /
    // 286 core / 141 border / 73 noise at sf0.01). The plane side scales
    // with sqrt(n) so spatial DENSITY — and with it per-point neighbor
    // counts, pair volume, and component sizes — stays constant at any
    // scale (a fixed plane would grow neighbors linearly in n and the
    // pair list quadratically; measured: heap-death at the sf1 replica).
    // The side derivation (650·sqrt(n/500), floored, ≥650) is one
    // count() of driver metadata, replayed by the oracle from count(*);
    // sqrt/mult/floor are correctly-rounded IEEE ops in both engines.
    val base = Tables.documents(s, d)
    val n = base.count()
    val side = math.max(650L, math.floor(650.0 * math.sqrt(n / 500.0)).toLong)
    val m = 2147483648L
    val pts = base.select(col("doc_id").as("id"),
      (pmod(col("doc_id"), lit(m)) * lit(2654435761L) % lit(m) % lit(side)).as("x"),
      (pmod(col("doc_id"), lit(m)) * lit(2246822519L) % lit(m) % lit(side)).as("y"))
    Relational.sort(col("id"))(
      graft.pipeline.Spatial.dbscan(pts, "id", "x", "y", eps = 40L, minPts = 5))
  }, oracle =
    // DBSCAN: INDEPENDENTLY-blocked neighbor oracle + contract-then-close
    // components over core-core edges; border -> min adjacent core
    // cluster. At this density (mean degree ~5.9, above the 2-D
    // percolation threshold) the core graph has a GIANT component, so the
    // node-level recursive closure was Theta(n^2) at sf3, and pure
    // min-label/pointer-jump rounds converge only linearly in the
    // component DIAMETER (~600 hops at sf3 — the absorbing frontier
    // advances one hop per round). Instead: 12 contraction rounds (the
    // q_dedup_clusters scheme) shrink the label space to a few hundred
    // classes, then the EXACT recursive closure runs on the contracted
    // supergraph (label classes are connected by construction — a node's
    // label is always a reachable id — so the quotient preserves
    // components exactly, for ANY round count; rounds only size the
    // supergraph, they carry no correctness burden).
    // The oracle blocks on a 53-unit grid (prime, distinct
    // from the engine's eps=40 cells, boundaries never aligned):
    // completeness is a theorem for ANY cell >= eps (a pair within eps
    // lies in same-or-adjacent cells), so agreement still proves the
    // engine's 3x3/eps blocking lost nothing, while the replay stays
    // LINEAR in rows — the previous all-pairs form was quadratic and
    // timed out at the sf3 replica (150k docs).
    s"""WITH RECURSIVE sc AS (SELECT CAST(greatest(650,
      |  floor(650 * sqrt(count(*) / 500.0))) AS BIGINT) AS side FROM documents),
      |p AS MATERIALIZED (SELECT doc_id AS id,
      |  ((doc_id % 2147483648) * 2654435761 % 2147483648) % sc.side AS x,
      |  ((doc_id % 2147483648) * 2246822519 % 2147483648) % sc.side AS y
      |  FROM documents CROSS JOIN sc),
      |g AS MATERIALIZED (SELECT id, x, y, x // 53 AS gx, y // 53 AS gy FROM p),
      |ge AS MATERIALIZED (SELECT id, x, y, gx + dx.d AS gx, gy + dy.d AS gy
      |  FROM g CROSS JOIN (SELECT unnest(range(-1, 2)) AS d) dx
      |  CROSS JOIN (SELECT unnest(range(-1, 2)) AS d) dy),
      |pr AS MATERIALIZED (SELECT a.id AS ia, b.id AS ib
      |  FROM ge a JOIN g b ON a.gx = b.gx AND a.gy = b.gy AND a.id < b.id
      |  WHERE (a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y) <= 1600),
      |sym AS MATERIALIZED (SELECT ia AS id, ib AS nb FROM pr UNION ALL SELECT ib, ia FROM pr),
      |cnt AS (SELECT pp.id, count(s.nb) AS c FROM p pp
      |  LEFT JOIN sym s ON pp.id = s.id GROUP BY 1),
      |core AS MATERIALIZED (SELECT id FROM cnt WHERE c + 1 >= 5),
      |ce AS MATERIALIZED (SELECT s.id AS a, s.nb AS b FROM sym s
      |  JOIN core c1 ON s.id = c1.id JOIN core c2 ON s.nb = c2.id),
      |l0 AS MATERIALIZED (SELECT DISTINCT a AS id, a AS lbl FROM ce),
      |${(1 to 12).map(i =>
          s"""m$i AS MATERIALIZED (SELECT l.id, least(l.lbl, min(ln.lbl)) AS lbl
             |  FROM l${i - 1} l JOIN ce e ON e.a = l.id
             |  JOIN l${i - 1} ln ON ln.id = e.b GROUP BY l.id, l.lbl),
             |l$i AS MATERIALIZED (SELECT m.id, l2.lbl
             |  FROM m$i m JOIN m$i l2 ON l2.id = m.lbl)""".stripMargin)
        .mkString(",\n")},
      |sedge AS MATERIALIZED (SELECT DISTINCT la.lbl AS a, lb.lbl AS b FROM ce
      |  JOIN l12 la ON la.id = ce.a JOIN l12 lb ON lb.id = ce.b
      |  WHERE la.lbl <> lb.lbl),
      |sreach(id, lbl) AS (
      |  SELECT a, a FROM sedge
      |  UNION
      |  SELECT e.a, r.lbl FROM sedge e JOIN sreach r ON r.id = e.b),
      |scc AS (SELECT id, MIN(lbl) AS slbl FROM sreach GROUP BY id),
      |cc AS (SELECT l.id, COALESCE(scc.slbl, l.lbl) AS cluster
      |  FROM l12 l LEFT JOIN scc ON l.lbl = scc.id),
      |corelab AS MATERIALIZED (SELECT c.id, COALESCE(cc.cluster, c.id) AS cluster
      |  FROM core c LEFT JOIN cc ON c.id = cc.id),
      |border AS (SELECT s.id, MIN(cl.cluster) AS cluster
      |  FROM sym s JOIN corelab cl ON s.nb = cl.id
      |  WHERE s.id NOT IN (SELECT id FROM core)
      |  GROUP BY s.id)
      |SELECT pp.id,
      |  CASE WHEN corelab.id IS NOT NULL THEN 'core'
      |       WHEN border.id IS NOT NULL THEN 'border'
      |       ELSE 'noise' END AS role,
      |  COALESCE(corelab.cluster, border.cluster) AS cluster
      |FROM p pp LEFT JOIN corelab ON pp.id = corelab.id
      |LEFT JOIN border ON pp.id = border.id
      |ORDER BY pp.id""".stripMargin)

  gate("q_drawdown", (s, d) => {
    // Max drawdown of the daily revenue series per order priority:
    // decimal prefix-max window + one argmax struct fold (earliest
    // trough wins ties).
    Relational.sort(col("o_orderpriority"))(
      graft.pipeline.TimeSeries.drawdown(Tables.orders(s, d),
        "o_orderpriority", "o_orderdate", "o_totalprice"))
  }, oracle =
    // Max drawdown: decimal daily sums, running-peak window, earliest
    // trough on ties; digit-string->double at the edge only.
    """WITH a AS (SELECT o_orderpriority AS k,
      |  date_trunc('day', o_orderdate) AS dy,
      |  SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS v
      |  FROM orders GROUP BY 1, 2),
      |w AS (SELECT k, dy, v, MAX(v) OVER (PARTITION BY k ORDER BY dy
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak FROM a),
      |t AS (SELECT k, dy, peak, peak - v AS delta FROM w),
      |r AS (SELECT k, dy, peak, delta,
      |  ROW_NUMBER() OVER (PARTITION BY k ORDER BY delta DESC, dy ASC) AS rn,
      |  COUNT(*) OVER (PARTITION BY k) AS np FROM t)
      |SELECT k AS o_orderpriority, CAST(np AS BIGINT) AS n_periods,
      |  CAST(CAST(delta AS VARCHAR) AS DOUBLE) AS max_drawdown,
      |  strftime(dy, '%Y-%m-%d') AS trough_day,
      |  CAST(CAST(peak AS VARCHAR) AS DOUBLE) AS peak_at_trough
      |FROM r WHERE rn = 1 ORDER BY 1""".stripMargin)

  gate("q_ldiversity", (s, d) => {
    // Distinct-l diversity of account balances within (nation, segment)
    // quasi-classes at l=5 — the sensitive-value companion to q_kanon.
    graft.pipeline.Checks.lDiversity(Tables.customer(s, d),
      Seq("c_nationkey", "c_mktsegment"), "c_acctbal", 5L)
  }, oracle =
    // l-diversity: distinct sensitive values per quasi-class, one fold.
    """WITH c AS (SELECT c_nationkey, c_mktsegment, count(*) AS c,
      |  count(DISTINCT c_acctbal) AS dv FROM customer GROUP BY 1, 2)
      |SELECT CAST(5 AS BIGINT) AS l, CAST(SUM(c) AS BIGINT) AS n_rows,
      |  count(*) AS n_classes,
      |  CAST(SUM(CASE WHEN dv < 5 THEN 1 ELSE 0 END) AS BIGINT) AS classes_below_l,
      |  CAST(SUM(CASE WHEN dv < 5 THEN c ELSE 0 END) AS BIGINT) AS rows_below_l,
      |  MIN(dv) AS min_diversity, MAX(dv) AS max_diversity,
      |  SUM(CASE WHEN dv < 5 THEN 1 ELSE 0 END) = 0 AS diverse
      |FROM c""".stripMargin)

  gate("q_multireg", (s, d) => {
    // Two-feature OLS per return flag: extendedprice on (quantity,
    // discount) — Cramer closed form over exact decimal moments.
    Relational.sort(col("l_returnflag"))(
      graft.pipeline.Profile.linearFit2(Tables.lineitem(s, d),
        "l_returnflag", "l_quantity", "l_discount", "l_extendedprice"))
  }, oracle =
    // Two-feature OLS: Cramer closed form, the q_linreg digit-string
    // moment convention; b1/b2 materialize before b0/r2 so both engines
    // share the identical double dag.
    """WITH m AS (SELECT l_returnflag, count(*) AS n,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS s1,
      |  CAST(CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS s2,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sy,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS s11,
      |  CAST(CAST(SUM(CAST(l_discount AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS s22,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS s12,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS s1y,
      |  CAST(CAST(SUM(CAST(l_discount AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS s2y,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS syy
      |  FROM lineitem GROUP BY 1),
      |c AS (SELECT l_returnflag, n, s1, s2, sy,
      |  CAST(n AS DOUBLE) * s11 - s1 * s1 AS c11,
      |  CAST(n AS DOUBLE) * s22 - s2 * s2 AS c22,
      |  CAST(n AS DOUBLE) * s12 - s1 * s2 AS c12,
      |  CAST(n AS DOUBLE) * s1y - s1 * sy AS c1y,
      |  CAST(n AS DOUBLE) * s2y - s2 * sy AS c2y,
      |  CAST(n AS DOUBLE) * syy - sy * sy AS cyy FROM m),
      |dt AS (SELECT *, c11 * c22 - c12 * c12 AS det FROM c),
      |b AS (SELECT *, (c22 * c1y - c12 * c2y) / det AS b1,
      |  (c11 * c2y - c12 * c1y) / det AS b2 FROM dt)
      |SELECT l_returnflag, n, b1, b2,
      |  (sy - b1 * s1 - b2 * s2) / CAST(n AS DOUBLE) AS b0,
      |  (b1 * c1y + b2 * c2y) / cyy AS r2
      |FROM b ORDER BY l_returnflag""".stripMargin)

  gate("q_pca", (s, d) => {
    // 2-D PCA per return flag: closed-form eigen of the exact-moment
    // covariance; lam/explained are fixed double dags, theta 6-dp.
    Relational.sort(col("l_returnflag"))(
      graft.pipeline.Profile.pca2d(Tables.lineitem(s, d),
        "l_returnflag", "l_quantity", "l_extendedprice"))
  }, oracle =
    // 2-D PCA: closed-form eigen over the q_linreg moment convention;
    // identical double dags, atan2 rounded 6 dp at the edge.
    """WITH m AS (SELECT l_returnflag, count(*) AS n,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sx,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sy,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxy,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxx,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS syy
      |  FROM lineitem GROUP BY 1),
      |c AS (SELECT l_returnflag, n,
      |  CAST(n AS DOUBLE) * sxx - sx * sx AS cxx,
      |  CAST(n AS DOUBLE) * syy - sy * sy AS cyy,
      |  CAST(n AS DOUBLE) * sxy - sx * sy AS cxy FROM m),
      |dsc AS (SELECT *, sqrt((cxx - cyy) * (cxx - cyy) / 4.0 + cxy * cxy) AS disc FROM c),
      |l AS (SELECT *,
      |  ((cxx + cyy) / 2.0 + disc) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS lam1,
      |  ((cxx + cyy) / 2.0 - disc) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS lam2 FROM dsc)
      |SELECT l_returnflag, n,
      |  cxx / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS var_x,
      |  cyy / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS var_y,
      |  cxy / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS cov_xy,
      |  lam1, lam2, lam1 / (lam1 + lam2) AS explained_1,
      |  round(atan2(2.0 * cxy, cxx - cyy) / 2.0, 6) AS theta
      |FROM l ORDER BY l_returnflag""".stripMargin)

  gate("q_fisher_exact", (s, d) => {
    // Fisher's exact 2x2 (even-nation x heavy-segment membership):
    // ln-factorial table as distributed decimal prefix sums, pmf =
    // exp(fixed dag) rounded to absolute 10 dp, three p-value folds.
    graft.pipeline.Profile.fisherExact2x2(Tables.customer(s, d),
      pmod(col("c_nationkey"), lit(2)) === 0,
      col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
  }, oracle =
    // Fisher exact: ln-factorial decimal prefix sums, pmf = exp(fixed
    // dag) rounded to ABSOLUTE 10 dp (selection + sums engine-exact).
    """WITH cnt AS (SELECT
      |  CAST(SUM(CASE WHEN c_nationkey % 2 = 0 AND c_mktsegment IN ('BUILDING','AUTOMOBILE') THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |  CAST(SUM(CASE WHEN c_nationkey % 2 = 0 AND NOT c_mktsegment IN ('BUILDING','AUTOMOBILE') THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |  CAST(SUM(CASE WHEN c_nationkey % 2 <> 0 AND c_mktsegment IN ('BUILDING','AUTOMOBILE') THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |  CAST(SUM(CASE WHEN c_nationkey % 2 <> 0 AND NOT c_mktsegment IN ('BUILDING','AUTOMOBILE') THEN 1 ELSE 0 END) AS BIGINT) AS dd
      |  FROM customer),
      |m AS (SELECT a, b, c, dd, a + b AS r1, c + dd AS r2,
      |  a + c AS k1, b + dd AS k2, a + b + c + dd AS nn FROM cnt),
      |lfb AS (SELECT i, SUM(CASE WHEN i >= 2
      |    THEN CAST(round(ln(CAST(i AS DOUBLE)), 6) AS DECIMAL(18,6))
      |    ELSE CAST(0 AS DECIMAL(18,6)) END)
      |  OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS lf
      |  FROM (SELECT unnest(generate_series(0, (SELECT nn FROM m))) AS i)),
      |sup AS (SELECT m.*, unnest(generate_series(greatest(0, r1 - k2), least(r1, k1))) AS k FROM m),
      |j AS (SELECT sup.*,
      |  lk.lf AS lfk, lr1k.lf AS lfr1k, lk1k.lf AS lfk1k, lrest.lf AS lfrest,
      |  lr1.lf AS lfr1, lr2.lf AS lfr2, lk1.lf AS lfk1, lk2.lf AS lfk2, lnn.lf AS lfn
      |  FROM sup
      |  JOIN lfb lk ON lk.i = sup.k
      |  JOIN lfb lr1k ON lr1k.i = sup.r1 - sup.k
      |  JOIN lfb lk1k ON lk1k.i = sup.k1 - sup.k
      |  JOIN lfb lrest ON lrest.i = sup.nn - sup.r1 - sup.k1 + sup.k
      |  JOIN lfb lr1 ON lr1.i = sup.r1
      |  JOIN lfb lr2 ON lr2.i = sup.r2
      |  JOIN lfb lk1 ON lk1.i = sup.k1
      |  JOIN lfb lk2 ON lk2.i = sup.k2
      |  JOIN lfb lnn ON lnn.i = sup.nn),
      |pm AS (SELECT a, b, c, dd, nn, k,
      |  CAST(round(exp(
      |    CAST(CAST(lfr1 AS VARCHAR) AS DOUBLE) + CAST(CAST(lfr2 AS VARCHAR) AS DOUBLE)
      |    + CAST(CAST(lfk1 AS VARCHAR) AS DOUBLE) + CAST(CAST(lfk2 AS VARCHAR) AS DOUBLE)
      |    - CAST(CAST(lfn AS VARCHAR) AS DOUBLE) - CAST(CAST(lfk AS VARCHAR) AS DOUBLE)
      |    - CAST(CAST(lfr1k AS VARCHAR) AS DOUBLE) - CAST(CAST(lfk1k AS VARCHAR) AS DOUBLE)
      |    - CAST(CAST(lfrest AS VARCHAR) AS DOUBLE)), 10) AS DECIMAL(12,10)) AS pmf FROM j),
      |obs AS (SELECT pmf AS pobs FROM pm WHERE k = a)
      |SELECT a, b, c, dd AS d, CAST(nn AS BIGINT) AS n,
      |  CAST(CAST(pobs AS VARCHAR) AS DOUBLE) AS pmf_obs,
      |  CAST(CAST(SUM(CASE WHEN pmf <= pobs THEN pmf END) AS VARCHAR) AS DOUBLE) AS p_two,
      |  CAST(CAST(SUM(CASE WHEN k <= a THEN pmf END) AS VARCHAR) AS DOUBLE) AS p_left,
      |  CAST(CAST(SUM(CASE WHEN k >= a THEN pmf END) AS VARCHAR) AS DOUBLE) AS p_right
      |FROM pm CROSS JOIN obs
      |GROUP BY a, b, c, dd, nn, pobs""".stripMargin)

  gate("q_multimodal_tiff", (s, d) => {
    // REAL codec gate (q_multimodal_bmp pattern): baseline little-endian
    // TIFF per document — pixels at offset 8, 9-tag IFD after them — so
    // n_bytes is closed-form 128 + 3wh and the IFD walk re-reads the
    // dimensions it wrote.
    val docs = Tables.documents(s, d).select(col("doc_id"),
      (pmod(col("doc_id"), lit(64)) + 1).cast("int").as("w"),
      (pmod(floor(col("doc_id") / 64).cast("long"), lit(64)) + 1).cast("int").as("h"),
      col("text").cast("binary").as("seed"))
    val enc = Multimodal.encodeTiff(docs, "w", "h", "seed", "payload")
    val meta = Multimodal.decodeMeta(enc, "payload")
    meta.select(col("doc_id"), col("media_format"), col("width"), col("height"),
      col("n_bytes"),
      (col("width") === col("w") && col("height") === col("h")).as("roundtrip_ok"))
      .orderBy("doc_id")
  }, oracle =
    // TIFF: closed-form file size — 8 header + 3wh pixels + 2 + 9*12 +
    // 4 IFD bytes + 6 out-of-line BitsPerSample = 128 + 3wh.
    """SELECT doc_id, 'image/tiff' AS media_format,
      |CAST(doc_id % 64 + 1 AS INTEGER) AS width,
      |CAST((doc_id // 64) % 64 + 1 AS INTEGER) AS height,
      |CAST(128 + 3 * (doc_id % 64 + 1) * ((doc_id // 64) % 64 + 1) AS BIGINT) AS n_bytes,
      |TRUE AS roundtrip_ok
      |FROM documents ORDER BY doc_id""".stripMargin)

  gate("q_containment_join", (s, d) => {
    // Directional 3-shingle containment >= 0.8 (quote/excerpt detection):
    // one-sided prefix filter + exact sorted-hash verify; ALL-PAIRS
    // oracle equality proves the asymmetric prefix cut lost nothing.
    // Shingle sets, not unigram sets: the synthetic corpus shares a
    // small vocabulary, so unigram containment saturates (measured 144k
    // of 250k ordered pairs >= 0.8) while 3-shingle containment finds
    // exactly the planted copies (50 pairs at sf0.01).
    Relational.sort(col("id1"), col("id2"))(
      graft.pipeline.Dedup.containmentPairs(Tables.documents(s, d),
        "doc_id", "text", threshold = 0.8, shingleWidth = 3))
  }, oracle =
    // Containment join: the oracle derives |T1 ∩ T2| as the aggregated
    // COUNT of shared shingles over the exploded join — set-logic
    // identical to per-pair list intersection (the lists are distinct)
    // but Θ(Σ df²) instead of Θ(n²·|list|), which is what makes the 10×
    // replay feasible (all-pairs list_intersect: >10 min at sf1; this:
    // ~4 min over 279M joined rows). Completeness is STRUCTURAL: any
    // pair with containment ≥ t > 0 shares ≥ 1 shingle and therefore
    // appears in the join — so equality still proves the engine's
    // rare-first prefix filter lost nothing.
    """WITH t0 AS (SELECT doc_id,
      |  list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |t AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
      |  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS tk
      |  FROM t0 WHERE len(toks) >= 3),
      |t2 AS MATERIALIZED (SELECT doc_id, len(tk) AS m FROM t WHERE len(tk) > 0),
      |ex AS MATERIALIZED (SELECT doc_id, unnest(tk) AS sh FROM t WHERE len(tk) > 0),
      |ix AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS ix
      |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id <> b.doc_id
      |  GROUP BY 1, 2),
      |p AS (SELECT ix.id1, ix.id2,
      |  CAST(ix.ix AS DOUBLE) / CAST(ta.m AS DOUBLE) AS cont
      |  FROM ix JOIN t2 ta ON ix.id1 = ta.doc_id)
      |SELECT id1, id2, round(cont, 6) AS containment
      |FROM p WHERE cont >= 0.8 ORDER BY id1, id2""".stripMargin)

  gate("q_assortativity", (s, d) => {
    // Degree assortativity of the q_triangles co-occurrence graph:
    // decimal-exact degree moments, corrExact double dag.
    val o = Tables.orders(s, d)
    val edges = o.select(pmod(col("o_custkey"), lit(97L)).as("x"),
      pmod(col("o_orderkey"), lit(97L)).as("y"))
    graft.pipeline.Graph.degreeAssortativity(edges, "x", "y")
  }, oracle =
    // Degree assortativity: decimal-exact degree moments over the
    // symmetric canonical edge list, corrExact dag.
    """WITH e0 AS (SELECT o_custkey % 97 AS a, o_orderkey % 97 AS b FROM orders),
      |und AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
      |  FROM e0 WHERE a <> b),
      |sym AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
      |dg AS (SELECT a, count(*) AS deg FROM sym GROUP BY a),
      |j AS (SELECT dx.deg AS dx, dy.deg AS dy FROM sym
      |  JOIN dg dx ON sym.a = dx.a JOIN dg dy ON sym.b = dy.a),
      |m AS (SELECT count(*) AS n,
      |  CAST(CAST(SUM(CAST(dx AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sx,
      |  CAST(CAST(SUM(CAST(dy AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sy,
      |  CAST(CAST(SUM(CAST(dx AS DECIMAL(19,0)) * CAST(dy AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS sxy,
      |  CAST(CAST(SUM(CAST(dx AS DECIMAL(19,0)) * CAST(dx AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS sxx,
      |  CAST(CAST(SUM(CAST(dy AS DECIMAL(19,0)) * CAST(dy AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS syy
      |  FROM j)
      |SELECT CAST(n / 2 AS BIGINT) AS n_edges, n,
      |  (CAST(n AS DOUBLE) * sxy - sx * sy) /
      |  (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) *
      |   sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS assortativity
      |FROM m""".stripMargin)

  gate("q_bollinger", (s, d) => {
    // 7-day Bollinger bands (mean +/- 2 sigma) over daily revenue per
    // priority with breakout flags: exact decimal window sums, one
    // fixed double dag per row.
    Relational.sort(col("o_orderpriority"), col("day"))(
      graft.pipeline.TimeSeries.bollinger(Tables.orders(s, d),
        "o_orderpriority", "o_orderdate", "o_totalprice",
        window = 7, mult = 2.0))
  }, oracle =
    // Bollinger bands: exact decimal 7-row window sums, fixed dag.
    """WITH a AS (SELECT o_orderpriority AS k,
      |  date_trunc('day', o_orderdate) AS dy,
      |  SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS v
      |  FROM orders GROUP BY 1, 2),
      |w AS (SELECT k, dy, v,
      |  COUNT(*) OVER win AS n,
      |  SUM(v) OVER win AS s,
      |  SUM(CAST(v AS DECIMAL(19,2)) * CAST(v AS DECIMAL(19,2))) OVER win AS s2
      |  FROM a WINDOW win AS (PARTITION BY k ORDER BY dy
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
      |st AS (SELECT k, dy, v, n,
      |  CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
      |  sqrt(greatest(0.0, CAST(n AS DOUBLE) * CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
      |    - CAST(CAST(s AS VARCHAR) AS DOUBLE) * CAST(CAST(s AS VARCHAR) AS DOUBLE)))
      |    / CAST(n AS DOUBLE) AS sd
      |  FROM w),
      |b AS (SELECT *, mean + 2.0 * sd AS upper, mean - 2.0 * sd AS lower FROM st)
      |SELECT k AS o_orderpriority, strftime(dy, '%Y-%m-%d') AS day,
      |  CAST(CAST(v AS VARCHAR) AS DOUBLE) AS v, CAST(n AS BIGINT) AS n_window,
      |  mean, sd, upper, lower,
      |  (CAST(CAST(v AS VARCHAR) AS DOUBLE) > upper
      |    OR CAST(CAST(v AS VARCHAR) AS DOUBLE) < lower) AS breakout
      |FROM b ORDER BY 1, 2""".stripMargin)

  gate("q_phonetic", (s, d) => {
    // Phonetic blocking over a surname vocabulary with planted spelling
    // variants (smith/smyth/smythe, reed/read/reid, ...) indexed by
    // customer key — the table vocabularies are too small (16-31 words)
    // to block interestingly. karl/carl is the deliberate NEGATIVE case:
    // phonetically identical but Soundex keeps the first letter, so they
    // must NOT pair. Codes + same-code pairs, full SQL chain replay.
    val pool = Seq("smith", "smyth", "smythe", "jon", "john", "jahn",
      "meyer", "myer", "mayer", "reed", "read", "reid",
      "stuart", "stewart", "karl", "carl")
    val words = Tables.customer(s, d).select(
      element_at(array(pool.map(lit): _*),
        (pmod(col("c_custkey"), lit(16)) + 1).cast("int")).as("w"))
    Relational.sort(col("code"), col("w1"), col("w2"))(
      graft.pipeline.TextAnalysis.phoneticPairs(words, "w"))
  }, oracle =
    // Phonetic blocking: the simplified-Soundex chain replayed — RE2 has
    // no backreferences, so the run-collapse is six iterated pair-replace
    // passes (handles runs to 64; words are far shorter).
    """WITH w0 AS (SELECT DISTINCT (['smith','smyth','smythe','jon','john','jahn',
      |  'meyer','myer','mayer','reed','read','reid',
      |  'stuart','stewart','karl','carl'])[CAST(c_custkey % 16 + 1 AS INTEGER)] AS w
      |  FROM customer),
      |w1 AS (SELECT w FROM w0 WHERE w IS NOT NULL AND w <> ''),
      |c0 AS (SELECT w, regexp_replace(upper(w), '[^A-Z]', '', 'g') AS s FROM w1),
      |c1 AS (SELECT w, s, translate(s, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
      |  '01230120022455012623010202') AS cd FROM c0),
      |r1 AS (SELECT w, s, replace(replace(replace(replace(replace(replace(replace(cd,'00','0'),'11','1'),'22','2'),'33','3'),'44','4'),'55','5'),'66','6') AS cd FROM c1),
      |r2 AS (SELECT w, s, replace(replace(replace(replace(replace(replace(replace(cd,'00','0'),'11','1'),'22','2'),'33','3'),'44','4'),'55','5'),'66','6') AS cd FROM r1),
      |r3 AS (SELECT w, s, replace(replace(replace(replace(replace(replace(replace(cd,'00','0'),'11','1'),'22','2'),'33','3'),'44','4'),'55','5'),'66','6') AS cd FROM r2),
      |r4 AS (SELECT w, s, replace(replace(replace(replace(replace(replace(replace(cd,'00','0'),'11','1'),'22','2'),'33','3'),'44','4'),'55','5'),'66','6') AS cd FROM r3),
      |r5 AS (SELECT w, s, replace(replace(replace(replace(replace(replace(replace(cd,'00','0'),'11','1'),'22','2'),'33','3'),'44','4'),'55','5'),'66','6') AS cd FROM r4),
      |r6 AS (SELECT w, s, replace(replace(replace(replace(replace(replace(replace(cd,'00','0'),'11','1'),'22','2'),'33','3'),'44','4'),'55','5'),'66','6') AS cd FROM r5),
      |coded AS (SELECT w, CASE WHEN length(s) > 0 THEN substr(s, 1, 1) ||
      |  rpad(substr(replace(substr(cd, 2, 64), '0', ''), 1, 3), 3, '0') END AS code
      |  FROM r6)
      |SELECT a.code, a.w AS w1, b.w AS w2
      |FROM coded a JOIN coded b ON a.code = b.code AND a.w < b.w
      |WHERE a.code IS NOT NULL
      |ORDER BY a.code, w1, w2""".stripMargin)

  gate("q_silhouette", (s, d) => {
    // Simplified silhouette of the q_kmeans clustering (k=8, 3 iters):
    // exact-integer centroid distances, 6-dp decimal-summed scores.
    Relational.sort(col("cid"))(
      graft.pipeline.Similarity.silhouetteSimplified(Tables.embeddings(s, d),
        "vec_id", "embedding", k = 8, iters = 3))
  }, oracle =
    // Simplified silhouette: the full q_kmeans training unroll, then
    // per-point a/b centroid distances and 6-dp decimal-summed scores.
    """WITH pts AS (SELECT vec_id AS id, CAST(i AS INTEGER) AS dim,
      |  CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000) AS BIGINT) AS q
      |  FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS i) gs),
      |init AS (SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INTEGER) AS cid
      |  FROM (SELECT DISTINCT id FROM pts ORDER BY id LIMIT 8)),
      |c0 AS (SELECT init.cid, p.dim, p.q AS v FROM pts p JOIN init ON p.id = init.id),
      |a1 AS (SELECT id, cid FROM (
      |  SELECT p.id, c.cid,
      |    ROW_NUMBER() OVER (PARTITION BY p.id ORDER BY SUM((p.q - c.v) * (p.q - c.v)) ASC, c.cid ASC) AS rn
      |  FROM pts p JOIN c0 c ON p.dim = c.dim GROUP BY p.id, c.cid) WHERE rn = 1),
      |s1 AS (SELECT a.cid, p.dim, SUM(p.q) AS s, count(*) AS n FROM pts p JOIN a1 a ON p.id = a.id GROUP BY 1, 2),
      |c1 AS (SELECT c0.cid, c0.dim,
      |  CAST(COALESCE((s1.s - (((s1.s % s1.n) + s1.n) % s1.n)) // s1.n, c0.v) AS BIGINT) AS v
      |  FROM c0 LEFT JOIN s1 ON c0.cid = s1.cid AND c0.dim = s1.dim),
      |a2 AS (SELECT id, cid FROM (
      |  SELECT p.id, c.cid,
      |    ROW_NUMBER() OVER (PARTITION BY p.id ORDER BY SUM((p.q - c.v) * (p.q - c.v)) ASC, c.cid ASC) AS rn
      |  FROM pts p JOIN c1 c ON p.dim = c.dim GROUP BY p.id, c.cid) WHERE rn = 1),
      |s2 AS (SELECT a.cid, p.dim, SUM(p.q) AS s, count(*) AS n FROM pts p JOIN a2 a ON p.id = a.id GROUP BY 1, 2),
      |c2 AS (SELECT c1.cid, c1.dim,
      |  CAST(COALESCE((s2.s - (((s2.s % s2.n) + s2.n) % s2.n)) // s2.n, c1.v) AS BIGINT) AS v
      |  FROM c1 LEFT JOIN s2 ON c1.cid = s2.cid AND c1.dim = s2.dim),
      |a3 AS (SELECT id, cid FROM (
      |  SELECT p.id, c.cid,
      |    ROW_NUMBER() OVER (PARTITION BY p.id ORDER BY SUM((p.q - c.v) * (p.q - c.v)) ASC, c.cid ASC) AS rn
      |  FROM pts p JOIN c2 c ON p.dim = c.dim GROUP BY p.id, c.cid) WHERE rn = 1),
      |s3 AS (SELECT a.cid, p.dim, SUM(p.q) AS s, count(*) AS n FROM pts p JOIN a3 a ON p.id = a.id GROUP BY 1, 2),
      |c3 AS (SELECT c2.cid, c2.dim,
      |  CAST(COALESCE((s3.s - (((s3.s % s3.n) + s3.n) % s3.n)) // s3.n, c2.v) AS BIGINT) AS v
      |  FROM c2 LEFT JOIN s3 ON c2.cid = s3.cid AND c2.dim = s3.dim),
      |dd AS (SELECT p.id, c.cid, SUM((p.q - c.v) * (p.q - c.v)) AS d2
      |  FROM pts p JOIN c3 c ON p.dim = c.dim GROUP BY p.id, c.cid),
      |asg AS (SELECT id, cid, d2 FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2 ASC, cid ASC) AS rn FROM dd)
      |  WHERE rn = 1),
      |oth AS (SELECT dd.id, MIN(dd.d2) AS bd2 FROM dd JOIN asg ON dd.id = asg.id
      |  WHERE dd.cid <> asg.cid GROUP BY dd.id),
      |sil AS (SELECT asg.cid,
      |  CAST(round(CASE WHEN greatest(sqrt(asg.d2), sqrt(oth.bd2)) = 0.0 THEN 0.0
      |    ELSE (sqrt(oth.bd2) - sqrt(asg.d2)) / greatest(sqrt(asg.d2), sqrt(oth.bd2)) END, 6)
      |    AS DECIMAL(10,6)) AS s
      |  FROM asg JOIN oth ON asg.id = oth.id)
      |SELECT cid, count(*) AS n,
      |  CAST(CAST(SUM(s) AS VARCHAR) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_silhouette
      |FROM sil GROUP BY cid ORDER BY cid""".stripMargin)

  gate("q_knn_classify", (s, d) => {
    // 5-NN majority-label classification for the first 50 vectors:
    // exact cosine ranks, ties to the smaller label.
    val emb = Tables.embeddings(s, d)
    Relational.sort(col("vec_id"))(
      graft.pipeline.Similarity.knnClassify(emb, "vec_id", "embedding",
        "label", emb.where(col("vec_id") < 50), k = 5))
  }, oracle =
    // 5-NN classification: exact-cosine ranks (the annExactTopKOracle
    // convention), majority vote, ties to the smaller label.
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv, label AS tl
      |  FROM embeddings WHERE vec_id < 50),
      |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv, label FROM embeddings),
      |s AS (SELECT qid, vec_id, label, list_inner_product(qv, cv) /
      |  (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))) AS cos_exact
      |  FROM q CROSS JOIN c WHERE vec_id <> qid),
      |r AS (SELECT qid, label,
      |  row_number() OVER (PARTITION BY qid ORDER BY cos_exact DESC, vec_id) AS rank FROM s),
      |v AS (SELECT qid, label, count(*) AS votes FROM r WHERE rank <= 5 GROUP BY 1, 2),
      |b AS (SELECT qid, label AS pred, votes,
      |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY votes DESC, label ASC) AS rn FROM v)
      |SELECT q.qid AS vec_id, q.tl AS label, b.pred, b.votes, b.pred = q.tl AS correct
      |FROM b JOIN q ON b.qid = q.qid WHERE rn = 1 ORDER BY vec_id""".stripMargin)

  gate("q_decile_lift", (s, d) => {
    // Decile gains table for value-as-score predicting purchases:
    // distributed global rank (no per-row global window), exact counts,
    // fixed-dag rates and cumulative lift.
    Relational.sort(col("bucket"))(
      graft.pipeline.Scoring.decileLift(Tables.events(s, d), "value",
        col("event_type") === "purchase", "event_id", buckets = 10))
  }, oracle =
    // Decile lift: distributed global rank replay (distinct-score prefix
    // sums + within-score rank), exact counts, fixed-dag lift.
    """WITH rws AS (SELECT value AS sc, event_id AS tie,
      |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events WHERE value IS NOT NULL),
      |ps AS (SELECT sc, count(*) AS c FROM rws GROUP BY 1),
      |offs AS (SELECT sc, CAST(COALESCE(SUM(c) OVER (ORDER BY sc DESC
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off FROM ps),
      |tot AS (SELECT count(*) AS n, CAST(SUM(y) AS BIGINT) AS pos FROM rws),
      |rk AS (SELECT r.sc, r.y, o.off + ROW_NUMBER() OVER (PARTITION BY r.sc ORDER BY r.tie ASC) AS rr
      |  FROM rws r JOIN offs o ON r.sc = o.sc),
      |bk AS (SELECT CAST(((rr - 1) * 10) // tot.n AS BIGINT) AS bucket, y FROM rk CROSS JOIN tot),
      |pb AS (SELECT bucket, count(*) AS n, CAST(SUM(y) AS BIGINT) AS positives FROM bk GROUP BY 1),
      |cm AS (SELECT *, CAST(SUM(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn,
      |  CAST(SUM(positives) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp FROM pb)
      |SELECT bucket, cm.n, positives,
      |  CAST(positives AS DOUBLE) / CAST(cm.n AS DOUBLE) AS rate,
      |  (CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE)) /
      |  (CAST(tot.pos AS DOUBLE) / CAST(tot.n AS DOUBLE)) AS cum_lift
      |FROM cm CROSS JOIN tot ORDER BY bucket""".stripMargin)

  gate("q_interval_gaps", (s, d) => {
    // Idle windows between the q_interval_merge busy spans: one extra
    // key-sharded lag over the merged islands.
    val iv = Tables.events(s, d).select(col("user_id"),
      graft.functions.Exprs.epochMicrosCivil(col("ts")).as("s"),
      (graft.functions.Exprs.epochMicrosCivil(col("ts")) +
        ((col("event_id") % 7) + 1) * 600000000L).as("e"))
    Relational.sort(col("user_id"), col("gap_start"))(
      graft.pipeline.Events.intervalGaps(iv, Seq("user_id"), "s", "e"))
  }, oracle =
    // Interval gaps: the merge oracle plus one lag over the islands.
    """WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
      |  epoch_us(ts) + ((event_id % 7) + 1) * 600000000 AS e FROM events),
      |m AS (SELECT user_id, s, e, MAX(e) OVER (PARTITION BY user_id
      |  ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      |  FROM iv),
      |g AS (SELECT *, SUM(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
      |  OVER (PARTITION BY user_id ORDER BY s, e
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM m),
      |mg AS (SELECT user_id, MIN(s) AS s, MAX(e) AS e
      |  FROM g GROUP BY user_id, island),
      |lg AS (SELECT user_id, s,
      |  lag(e) OVER (PARTITION BY user_id ORDER BY s) AS pe FROM mg)
      |SELECT user_id, pe AS gap_start, s AS gap_end, s - pe AS gap_len
      |FROM lg WHERE pe IS NOT NULL AND s > pe
      |ORDER BY user_id, gap_start""".stripMargin)

  gate("q_diversity", (s, d) => {
    // Source concentration per language: HHI / Simpson / top share —
    // fixed dags over exact counts, no rounding convention needed.
    Relational.sort(col("lang"))(
      graft.pipeline.Profile.diversityIndices(Tables.documents(s, d),
        "lang", "source"))
  }, oracle =
    // Diversity indices: exact integer count dags only.
    """WITH c AS (SELECT lang, source, count(*) AS c FROM documents GROUP BY 1, 2),
      |g AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n, count(*) AS k,
      |  CAST(CAST(SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS ss,
      |  MAX(c) AS mx FROM c GROUP BY lang),
      |h AS (SELECT lang, n, k, ss / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS hhi, mx FROM g)
      |SELECT lang, n, k, hhi, 1.0 - hhi AS simpson,
      |  CAST(mx AS DOUBLE) / CAST(n AS DOUBLE) AS top_share
      |FROM h ORDER BY lang""".stripMargin)

  gate("q_runs_test", (s, d) => {
    // Wald-Wolfowitz runs test of value randomness per event type:
    // lower-median binarization, exact run counts, textbook z dag.
    Relational.sort(col("event_type"))(
      graft.pipeline.Profile.runsTest(Tables.events(s, d),
        "event_type", "ts", "event_id", "value"))
  }, oracle =
    // Runs test: lower-median binarization (exact-median ties dropped),
    // run breaks via lag, textbook z dag.
    """WITH vc AS (SELECT event_type AS g, value AS v, count(*) AS c
      |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      |cum AS (SELECT g, v, SUM(c) OVER (PARTITION BY g ORDER BY v
      |  ROWS UNBOUNDED PRECEDING) AS cm FROM vc),
      |tot AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM vc GROUP BY g),
      |med AS (SELECT cum.g, MIN(v) AS med FROM cum JOIN tot ON cum.g = tot.g
      |  WHERE cm >= (n + 1) // 2 GROUP BY cum.g),
      |sg AS (SELECT e.event_type AS g, e.ts, e.event_id,
      |  CASE WHEN e.value > med.med THEN 1 ELSE -1 END AS sgn
      |  FROM events e JOIN med ON e.event_type = med.g
      |  WHERE e.value <> med.med),
      |br AS (SELECT g, sgn, CASE WHEN lag(sgn) OVER w IS NULL
      |    OR lag(sgn) OVER w <> sgn THEN 1 ELSE 0 END AS brk
      |  FROM sg WINDOW w AS (PARTITION BY g ORDER BY ts, event_id)),
      |r AS (SELECT g, CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
      |  CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
      |  CAST(SUM(brk) AS BIGINT) AS runs FROM br GROUP BY g)
      |SELECT g AS event_type, n_above, n_below, runs,
      |  CASE WHEN n_above > 0 AND n_below > 0 THEN
      |    (CAST(runs AS DOUBLE) - (1.0 + 2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE) / (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)))) /
      |    sqrt(2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE) * (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE) - CAST(n_above AS DOUBLE) - CAST(n_below AS DOUBLE)) /
      |      ((CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)) * (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)) * (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE) - 1.0)))
      |  END AS z
      |FROM r ORDER BY event_type""".stripMargin)

  gate("q_seasonal_decompose", (s, d) => {
    // Additive STL-lite over daily revenue per priority: centered 7-row
    // trend, per-weekday seasonal means over 6-dp detrended decimals.
    Relational.sort(col("o_orderpriority"), col("day"))(
      graft.pipeline.TimeSeries.seasonalDecompose(Tables.orders(s, d),
        "o_orderpriority", "o_orderdate", "o_totalprice"))
  }, oracle =
    // STL-lite: centered 7-row trend, 6-dp detrended decimals, per-dow
    // seasonal means (Spark dayofweek convention: 1 = Sunday).
    """WITH a AS (SELECT o_orderpriority AS k,
      |  date_trunc('day', o_orderdate) AS dy,
      |  SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS v
      |  FROM orders GROUP BY 1, 2),
      |t AS (SELECT k, dy, v,
      |  COUNT(*) OVER win AS tn, SUM(v) OVER win AS ts
      |  FROM a WINDOW win AS (PARTITION BY k ORDER BY dy
      |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |tr AS (SELECT k, dy, v,
      |  CAST(CAST(ts AS VARCHAR) AS DOUBLE) / CAST(tn AS DOUBLE) AS trend
      |  FROM t),
      |de AS (SELECT *, CAST(round(CAST(CAST(v AS VARCHAR) AS DOUBLE) - trend, 6)
      |    AS DECIMAL(18,6)) AS det,
      |  CAST(dayofweek(dy) + 1 AS INTEGER) AS dow FROM tr),
      |se AS (SELECT k, dow,
      |  CAST(CAST(SUM(det) AS VARCHAR) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS seasonal
      |  FROM de GROUP BY 1, 2)
      |SELECT de.k AS o_orderpriority, strftime(de.dy, '%Y-%m-%d') AS day,
      |  de.dow, CAST(CAST(de.v AS VARCHAR) AS DOUBLE) AS v, de.trend,
      |  se.seasonal,
      |  CAST(CAST(de.det AS VARCHAR) AS DOUBLE) - se.seasonal AS residual
      |FROM de JOIN se ON de.k = se.k AND de.dow = se.dow
      |ORDER BY 1, 2""".stripMargin)

  gate("q_burstiness", (s, d) => {
    // Goh-Barabasi burstiness + CV of inter-event gaps per user:
    // exact-decimal gap moments, one fixed dag.
    Relational.sort(col("user_id"))(
      graft.pipeline.Events.burstiness(Tables.events(s, d),
        Seq("user_id"), "ts", "event_id"))
  }, oracle =
    // Burstiness: exact-decimal gap moments, (sd-mean)/(sd+mean) dag.
    """WITH g AS (SELECT user_id,
      |  epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id) AS gp FROM events),
      |m AS (SELECT user_id, count(*) AS n_gaps,
      |  CAST(CAST(SUM(CAST(gp AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS s,
      |  CAST(CAST(SUM(CAST(gp AS DECIMAL(19,0)) * CAST(gp AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS s2
      |  FROM g WHERE gp IS NOT NULL GROUP BY user_id HAVING count(*) >= 2),
      |st AS (SELECT user_id, n_gaps, s / CAST(n_gaps AS DOUBLE) AS mean_gap_us,
      |  sqrt(greatest(0.0, CAST(n_gaps AS DOUBLE) * s2 - s * s)) / CAST(n_gaps AS DOUBLE) AS sd_gap_us
      |  FROM m)
      |SELECT user_id, n_gaps, mean_gap_us, sd_gap_us,
      |  sd_gap_us / mean_gap_us AS cv,
      |  (sd_gap_us - mean_gap_us) / (sd_gap_us + mean_gap_us) AS burstiness
      |FROM st ORDER BY user_id""".stripMargin)

  gate("q_breakpoint", (s, d) => {
    // Binary-segmentation first split of daily revenue per priority:
    // exact decimal prefix sums, fixed-dag between-SS, earliest-tie
    // argmax struct fold.
    Relational.sort(col("o_orderpriority"))(
      graft.pipeline.TimeSeries.breakpoint(Tables.orders(s, d),
        "o_orderpriority", "o_orderdate", "o_totalprice"))
  }, oracle =
    // Breakpoint: between-SS dag over exact decimal prefix sums,
    // earliest split on ties.
    """WITH a AS (SELECT o_orderpriority AS k,
      |  date_trunc('day', o_orderdate) AS dy,
      |  SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS v
      |  FROM orders GROUP BY 1, 2),
      |s AS (SELECT k, dy, v,
      |  ROW_NUMBER() OVER w AS t,
      |  SUM(v) OVER (PARTITION BY k ORDER BY dy
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
      |  COUNT(*) OVER (PARTITION BY k) AS n,
      |  SUM(v) OVER (PARTITION BY k) AS stot,
      |  lead(dy) OVER w AS nday
      |  FROM a WINDOW w AS (PARTITION BY k ORDER BY dy)),
      |c AS (SELECT k, n, strftime(nday, '%Y-%m-%d') AS bday, t,
      |  CAST(CAST(p AS VARCHAR) AS DOUBLE) AS pd,
      |  CAST(CAST(stot AS VARCHAR) AS DOUBLE) AS sd
      |  FROM s WHERE t < n),
      |g AS (SELECT *, pd * pd / CAST(t AS DOUBLE)
      |  + (sd - pd) * (sd - pd) / (CAST(n AS DOUBLE) - CAST(t AS DOUBLE)) AS gv
      |  FROM c),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY gv DESC, t ASC) AS rn FROM g)
      |SELECT k AS o_orderpriority, CAST(n AS BIGINT) AS n_periods,
      |  bday AS break_day,
      |  pd / CAST(t AS DOUBLE) AS mean_left,
      |  (sd - pd) / (CAST(n AS DOUBLE) - CAST(t AS DOUBLE)) AS mean_right,
      |  (sd - pd) / (CAST(n AS DOUBLE) - CAST(t AS DOUBLE)) - pd / CAST(t AS DOUBLE) AS delta
      |FROM r WHERE rn = 1 ORDER BY 1""".stripMargin)

  gate("q_interpolate", (s, d) => {
    // Linear-interpolation gap fill over a sparsified event stream
    // (every 11th event): observed buckets exact, gaps on the straight
    // line, edges NULL.
    Relational.sort(col("event_type"), col("bucket"))(
      graft.pipeline.TimeSeries.interpolateLinear(
        Tables.events(s, d).where(col("event_id") % 11 === 0),
        "event_type", "ts", "value", unit = "day"))
  }, oracle =
    // Linear interpolation: known-counting joins replay the ignoreNulls
    // windows (different mechanism, same semantics).
    """WITH a AS (SELECT event_type AS k, date_trunc('day', ts) AS bucket,
      |  count(*) AS n, SUM(CAST(value AS DECIMAL(18,6))) AS s
      |  FROM events WHERE event_id % 11 = 0 GROUP BY 1, 2),
      |sp AS (SELECT k, min(bucket) AS mn, max(bucket) AS mx FROM a GROUP BY k),
      |grid AS (SELECT k, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS bucket FROM sp),
      |j AS (SELECT g.k, g.bucket, a.n,
      |  CAST(CAST(a.s AS VARCHAR) AS DOUBLE) AS dv
      |  FROM grid g LEFT JOIN a ON g.k = a.k AND g.bucket = a.bucket),
      |px AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY bucket) AS pos,
      |  SUM(CASE WHEN n IS NOT NULL THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY k ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS kl,
      |  SUM(CASE WHEN n IS NOT NULL THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY k ORDER BY bucket DESC ROWS UNBOUNDED PRECEDING) AS kr
      |  FROM j),
      |kn AS (SELECT k, pos, dv,
      |  ROW_NUMBER() OVER (PARTITION BY k ORDER BY pos) AS ki
      |  FROM px WHERE n IS NOT NULL)
      |SELECT p.k AS event_type, p.bucket, CAST(COALESCE(p.n, 0) AS BIGINT) AS n,
      |  CASE WHEN p.n IS NOT NULL THEN p.dv
      |       WHEN p.kl >= 1 AND p.kr >= 1 THEN
      |         kp.dv + (kq.dv - kp.dv) * CAST(p.pos - kp.pos AS DOUBLE)
      |           / CAST(kq.pos - kp.pos AS DOUBLE)
      |  END AS value,
      |  CASE WHEN p.n IS NOT NULL THEN 'observed'
      |       WHEN p.kl >= 1 AND p.kr >= 1 THEN 'interpolated'
      |       ELSE 'edge' END AS src
      |FROM px p
      |LEFT JOIN kn kp ON p.k = kp.k AND p.kl = kp.ki
      |LEFT JOIN kn kq ON p.k = kq.k AND p.kl + 1 = kq.ki
      |ORDER BY 1, 2""".stripMargin)

  gate("q_effect_size", (s, d) => {
    // Cohen's d + Hedges g for A-vs-R extendedprice: exact decimal
    // moments, pooled-SD fixed dag.
    graft.pipeline.Profile.cohensD(Tables.lineitem(s, d),
      "l_returnflag", "l_extendedprice", "A", "R")
  }, oracle =
    // Effect size: exact decimal arm moments, pooled-SD fixed dag.
    """WITH m AS (SELECT
      |  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |  CAST(CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_extendedprice AS DECIMAL(12,2)) END) AS VARCHAR) AS DOUBLE) AS s1,
      |  CAST(CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_extendedprice AS DECIMAL(12,2)) END) AS VARCHAR) AS DOUBLE) AS s2,
      |  CAST(CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)) END) AS VARCHAR) AS DOUBLE) AS q1,
      |  CAST(CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)) END) AS VARCHAR) AS DOUBLE) AS q2
      |  FROM lineitem),
      |w AS (SELECT n1, n2,
      |  s1 / CAST(n1 AS DOUBLE) AS mean1, s2 / CAST(n2 AS DOUBLE) AS mean2,
      |  sqrt(((CAST(n1 AS DOUBLE) * q1 - s1 * s1) / CAST(n1 AS DOUBLE)
      |    + (CAST(n2 AS DOUBLE) * q2 - s2 * s2) / CAST(n2 AS DOUBLE))
      |    / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0)) AS pooled_sd
      |  FROM m),
      |e AS (SELECT *, (mean1 - mean2) / pooled_sd AS cohens_d FROM w)
      |SELECT n1, n2, mean1, mean2, pooled_sd, cohens_d,
      |  cohens_d * (1.0 - 3.0 / (4.0 * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) - 9.0)) AS hedges_g
      |FROM e""".stripMargin)

  gate("q_fdr", (s, d) => {
    // Benjamini-Hochberg step-up over synthetic deterministic p-values
    // (planted 1000x-smaller signals at event_id % 23): distributed
    // global rank, broadcast m and k*.
    val ps = Tables.events(s, d).select(col("event_id").as("id"),
      (when(col("event_id") % 23 === 0, lit(0.001)).otherwise(lit(1.0)) *
        (pmod(col("event_id") * 2654435761L, lit(1000000L)).cast("double") /
          lit(1000000.0))).as("p"))
    Relational.sort(col("id"))(
      graft.pipeline.Checks.benjaminiHochberg(ps, "id", "p", q = 0.1))
  }, oracle =
    // BH FDR: distributed rank replay, broadcast m and k*.
    """WITH rws AS (SELECT event_id AS id,
      |  (CASE WHEN event_id % 23 = 0 THEN 0.001 ELSE 1.0 END) *
      |  (CAST((event_id * 2654435761) % 1000000 AS DOUBLE) / 1000000.0) AS p
      |  FROM events),
      |pp AS (SELECT p, count(*) AS c FROM rws GROUP BY 1),
      |offs AS (SELECT p, CAST(COALESCE(SUM(c) OVER (ORDER BY p ASC
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off FROM pp),
      |tot AS (SELECT count(*) AS m FROM rws),
      |rk AS (SELECT r.id, r.p,
      |  o.off + ROW_NUMBER() OVER (PARTITION BY r.p ORDER BY r.id) AS rank
      |  FROM rws r JOIN offs o ON r.p = o.p),
      |th AS (SELECT rk.*, CAST(rank AS DOUBLE) * 0.1 / CAST(tot.m AS DOUBLE) AS bh_threshold
      |  FROM rk CROSS JOIN tot),
      |ks AS (SELECT MAX(CASE WHEN p <= bh_threshold THEN rank END) AS kk FROM th)
      |SELECT id, p, rank, bh_threshold,
      |  (ks.kk IS NOT NULL AND rank <= ks.kk) AS significant
      |FROM th CROSS JOIN ks ORDER BY id""".stripMargin)

  gate("q_rolling_corr", (s, d) => {
    // 14-day rolling correlation of daily quantity vs revenue per
    // return flag: exact decimal window moments, corrExact dag per row.
    Relational.sort(col("l_returnflag"), col("day"))(
      graft.pipeline.TimeSeries.rollingCorr(Tables.lineitem(s, d),
        "l_returnflag", "l_shipdate", "l_quantity", "l_extendedprice",
        window = 14))
  }, oracle =
    // Rolling correlation: exact decimal window moments; product
    // operands cast (19,2) for DuckDB's int128 path (the bollinger
    // lesson) — Spark multiplies the same exact values at (12,2).
    """WITH a AS (SELECT l_returnflag AS k, date_trunc('day', l_shipdate) AS dy,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(12,2)) AS x,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(12,2)) AS y
      |  FROM lineitem GROUP BY 1, 2),
      |w AS (SELECT k, dy, COUNT(*) OVER win AS n,
      |  SUM(x) OVER win AS sx, SUM(y) OVER win AS sy,
      |  SUM(CAST(x AS DECIMAL(19,2)) * CAST(y AS DECIMAL(19,2))) OVER win AS sxy,
      |  SUM(CAST(x AS DECIMAL(19,2)) * CAST(x AS DECIMAL(19,2))) OVER win AS sxx,
      |  SUM(CAST(y AS DECIMAL(19,2)) * CAST(y AS DECIMAL(19,2))) OVER win AS syy
      |  FROM a WINDOW win AS (PARTITION BY k ORDER BY dy
      |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
      |c AS (SELECT k, dy, n,
      |  CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
      |    - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS cov,
      |  CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
      |    - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS vx,
      |  CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE)
      |    - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS vy
      |  FROM w)
      |SELECT k AS l_returnflag, strftime(dy, '%Y-%m-%d') AS day,
      |  CAST(n AS BIGINT) AS n_window,
      |  CASE WHEN n >= 2 AND vx > 0.0 AND vy > 0.0
      |    THEN cov / (sqrt(vx) * sqrt(vy)) END AS rolling_corr
      |FROM c ORDER BY 1, 2""".stripMargin)

  gate("q_cross_corr", (s, d) => {
    // Lead-lag cross-correlation (lags -3..3) of daily quantity vs
    // revenue per return flag: one lag-shifted self-join per lag value.
    Relational.sort(col("l_returnflag"), col("lag"))(
      graft.pipeline.TimeSeries.crossCorrLags(Tables.lineitem(s, d),
        "l_returnflag", "l_shipdate", "l_quantity", "l_extendedprice",
        maxLag = 3))
  }, oracle =
    // Cross-correlation: one lag-shifted join per lag, corrExact dag.
    """WITH a AS (SELECT l_returnflag AS k, date_trunc('day', l_shipdate) AS dy,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(12,2)) AS x,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(12,2)) AS y
      |  FROM lineitem GROUP BY 1, 2),
      |l AS (SELECT unnest(generate_series(-3, 3)) AS lag),
      |j AS (SELECT a.k, l.lag, a.x, b.y
      |  FROM a CROSS JOIN l
      |  JOIN a b ON a.k = b.k AND b.dy = a.dy + CAST(l.lag AS INT) * INTERVAL 1 DAY),
      |m AS (SELECT k, lag, count(*) AS n,
      |  CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
      |  CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
      |  CAST(CAST(SUM(CAST(x AS DECIMAL(19,2)) * CAST(y AS DECIMAL(19,2))) AS VARCHAR) AS DOUBLE) AS sxy,
      |  CAST(CAST(SUM(CAST(x AS DECIMAL(19,2)) * CAST(x AS DECIMAL(19,2))) AS VARCHAR) AS DOUBLE) AS sxx,
      |  CAST(CAST(SUM(CAST(y AS DECIMAL(19,2)) * CAST(y AS DECIMAL(19,2))) AS VARCHAR) AS DOUBLE) AS syy
      |  FROM j GROUP BY 1, 2),
      |c AS (SELECT k, lag, n,
      |  CAST(n AS DOUBLE) * sxy - sx * sy AS cov,
      |  CAST(n AS DOUBLE) * sxx - sx * sx AS vx,
      |  CAST(n AS DOUBLE) * syy - sy * sy AS vy FROM m)
      |SELECT k AS l_returnflag, CAST(lag AS BIGINT) AS lag, n,
      |  CASE WHEN n >= 2 AND vx > 0.0 AND vy > 0.0
      |    THEN cov / (sqrt(vx) * sqrt(vy)) END AS corr
      |FROM c ORDER BY 1, 2""".stripMargin)

  gate("q_weighted_linreg", (s, d) => {
    // Tax-weighted OLS of extendedprice on quantity per return flag:
    // weighted normal equations over exact decimal moments.
    Relational.sort(col("l_returnflag"))(
      graft.pipeline.Profile.weightedLinearFit(Tables.lineitem(s, d),
        "l_returnflag", "l_quantity", "l_extendedprice", "l_tax"))
  }, oracle =
    // Weighted OLS: per-row decimal products (int64-small), fixed dag.
    """WITH m AS (SELECT l_returnflag, count(*) AS n,
      |  CAST(CAST(SUM(CAST(l_tax AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS w,
      |  CAST(CAST(SUM(CAST(l_tax AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS swx,
      |  CAST(CAST(SUM(CAST(l_tax AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS swy,
      |  CAST(CAST(SUM(CAST(l_tax AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS swxy,
      |  CAST(CAST(SUM(CAST(l_tax AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS swxx
      |  FROM lineitem GROUP BY 1),
      |sl AS (SELECT *, (w * swxy - swx * swy) / (w * swxx - swx * swx) AS slope FROM m)
      |SELECT l_returnflag, n, w AS w_sum, slope,
      |  (swy - slope * swx) / w AS intercept
      |FROM sl ORDER BY l_returnflag""".stripMargin)

  gate("q_histogram_2d", (s, d) => {
    // 2-D density grid of (quantity, extendedprice) with under/overflow
    // and NULL cells — mass-conserving floor arithmetic.
    Relational.sort(col("bx"), col("by"))(
      graft.pipeline.Profile.histogram2d(Tables.lineitem(s, d),
        "l_quantity", "l_extendedprice",
        xLo = 5.0, xHi = 45.0, nx = 8, yLo = 2000.0, yHi = 80000.0, ny = 8))
  }, oracle =
    // 2-D histogram: the q_histogram bucket rule per axis, NULL cell
    // for rows with either coordinate NULL.
    """WITH b AS (SELECT
      |  CASE WHEN l_quantity IS NULL OR l_extendedprice IS NULL THEN NULL
      |       WHEN l_quantity < 5.0 THEN -1
      |       WHEN l_quantity >= 45.0 THEN 8
      |       ELSE CAST(floor((l_quantity - 5.0) * 8 / (45.0 - 5.0)) AS BIGINT) END AS bx,
      |  CASE WHEN l_quantity IS NULL OR l_extendedprice IS NULL THEN NULL
      |       WHEN l_extendedprice < 2000.0 THEN -1
      |       WHEN l_extendedprice >= 80000.0 THEN 8
      |       ELSE CAST(floor((l_extendedprice - 2000.0) * 8 / (80000.0 - 2000.0)) AS BIGINT) END AS by
      |  FROM lineitem)
      |SELECT CAST(bx AS BIGINT) AS bx, CAST(by AS BIGINT) AS by, count(*) AS n
      |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  gate("q_spearman", (s, d) => {
    // Tie-aware Spearman rho per return flag: integer doubled midranks
    // (Pearson is affine-invariant), decimal moments, corrExact dag.
    Relational.sort(col("l_returnflag"))(
      graft.pipeline.Profile.spearmanCorr(Tables.lineitem(s, d),
        "l_returnflag", "l_quantity", "l_extendedprice"))
  }, oracle =
    // Spearman: doubled tie-midranks per variable, exact rank moments.
    """WITH b AS (SELECT l_returnflag AS g, l_quantity AS xv, l_extendedprice AS yv
      |  FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
      |cx AS (SELECT g, xv, count(*) AS c FROM b GROUP BY 1, 2),
      |rx AS (SELECT g, xv, 2 * CAST(COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY xv
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) + c + 1 AS rx2 FROM cx),
      |cy AS (SELECT g, yv, count(*) AS c FROM b GROUP BY 1, 2),
      |ry AS (SELECT g, yv, 2 * CAST(COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY yv
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) + c + 1 AS ry2 FROM cy),
      |j AS (SELECT b.g, rx.rx2, ry.ry2 FROM b
      |  JOIN rx ON b.g = rx.g AND b.xv = rx.xv
      |  JOIN ry ON b.g = ry.g AND b.yv = ry.yv),
      |m AS (SELECT g, count(*) AS n,
      |  CAST(CAST(SUM(CAST(rx2 AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sx,
      |  CAST(CAST(SUM(CAST(ry2 AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sy,
      |  CAST(CAST(SUM(CAST(rx2 AS DECIMAL(19,0)) * CAST(ry2 AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS sxy,
      |  CAST(CAST(SUM(CAST(rx2 AS DECIMAL(19,0)) * CAST(rx2 AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS sxx,
      |  CAST(CAST(SUM(CAST(ry2 AS DECIMAL(19,0)) * CAST(ry2 AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS syy
      |  FROM j GROUP BY g)
      |SELECT g AS l_returnflag, n,
      |  (CAST(n AS DOUBLE) * sxy - sx * sy) /
      |  (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) *
      |   sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS spearman_rho
      |FROM m ORDER BY 1""".stripMargin)

  gate("q_partial_corr", (s, d) => {
    // Partial corr of quantity-revenue controlling discount: ten decimal
    // moments in one pass, first-order identity dag.
    Relational.sort(col("l_returnflag"))(
      graft.pipeline.Profile.partialCorr(Tables.lineitem(s, d),
        "l_returnflag", "l_quantity", "l_extendedprice", "l_discount"))
  }, oracle =
    // Partial correlation: three Pearson r's materialized, identity dag.
    """WITH m AS (SELECT l_returnflag, count(*) AS n,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sx,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sy,
      |  CAST(CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sz,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxx,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS syy,
      |  CAST(CAST(SUM(CAST(l_discount AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS szz,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxy,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxz,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS syz
      |  FROM lineitem GROUP BY 1),
      |r AS (SELECT l_returnflag, n,
      |  (CAST(n AS DOUBLE) * sxy - sx * sy) / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS r_xy,
      |  (CAST(n AS DOUBLE) * sxz - sx * sz) / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) * sqrt(CAST(n AS DOUBLE) * szz - sz * sz)) AS r_xz,
      |  (CAST(n AS DOUBLE) * syz - sy * sz) / (sqrt(CAST(n AS DOUBLE) * syy - sy * sy) * sqrt(CAST(n AS DOUBLE) * szz - sz * sz)) AS r_yz
      |  FROM m)
      |SELECT l_returnflag, n, r_xy, r_xz, r_yz,
      |  (r_xy - r_xz * r_yz) / sqrt((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz)) AS partial_r
      |FROM r ORDER BY 1""".stripMargin)

  gate("q_cuped", (s, d) => {
    // CUPED variance reduction: pre-period covariate before Jan 16,
    // metric after; theta fitted globally, per-arm adjusted means via
    // linearity (no per-row doubles anywhere).
    Relational.sort(col("arm"))(
      graft.pipeline.Profile.cupedAdjust(Tables.events(s, d),
        "user_id", "ts", "value", "2024-01-16 00:00:00",
        pmod(col("user_id"), lit(2L))))
  }, oracle =
    // CUPED: per-user conditional decimal sums, global theta dag,
    // per-arm adjusted means via linearity.
    """WITH per AS (SELECT user_id AS u,
      |  CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
      |    THEN CAST(value AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) AS DECIMAL(18,6)) AS pre,
      |  CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
      |    THEN CAST(value AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) AS DECIMAL(18,6)) AS post
      |  FROM events GROUP BY 1),
      |g AS (SELECT count(*) AS n,
      |  CAST(CAST(SUM(pre) AS VARCHAR) AS DOUBLE) AS sx,
      |  CAST(CAST(SUM(post) AS VARCHAR) AS DOUBLE) AS sy,
      |  CAST(CAST(SUM(CAST(pre AS DECIMAL(19,6)) * CAST(post AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS sxy,
      |  CAST(CAST(SUM(CAST(pre AS DECIMAL(19,6)) * CAST(pre AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS sxx,
      |  CAST(CAST(SUM(CAST(post AS DECIMAL(19,6)) * CAST(post AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS syy
      |  FROM per),
      |gl AS (SELECT n, sx / CAST(n AS DOUBLE) AS xbar,
      |  (CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx) AS theta,
      |  ((CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy)) /
      |  ((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)) AS var_reduction
      |  FROM g),
      |arms AS (SELECT u % 2 AS arm, count(*) AS n_users,
      |  CAST(CAST(SUM(pre) AS VARCHAR) AS DOUBLE) AS asx,
      |  CAST(CAST(SUM(post) AS VARCHAR) AS DOUBLE) AS asy
      |  FROM per GROUP BY 1)
      |SELECT CAST(arm AS BIGINT) AS arm, n_users,
      |  asy / CAST(n_users AS DOUBLE) AS mean_post,
      |  (asy / CAST(n_users AS DOUBLE)) - theta *
      |    ((asx / CAST(n_users AS DOUBLE)) - xbar) AS mean_adjusted,
      |  theta, var_reduction
      |FROM arms CROSS JOIN gl ORDER BY arm""".stripMargin)

  gate("q_cronbach", (s, d) => {
    // Cronbach's alpha over (quantity, discount, tax) per return flag:
    // one wide moment scan, population-variance dag.
    Relational.sort(col("l_returnflag"))(
      graft.pipeline.Profile.cronbachAlpha(Tables.lineitem(s, d),
        "l_returnflag", Seq("l_quantity", "l_discount", "l_tax")))
  }, oracle =
    // Cronbach's alpha: item + total moments, population variances.
    """WITH m AS (SELECT l_returnflag, count(*) AS n,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS s0,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS q0,
      |  CAST(CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS s1,
      |  CAST(CAST(SUM(CAST(l_discount AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS q1,
      |  CAST(CAST(SUM(CAST(l_tax AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS s2,
      |  CAST(CAST(SUM(CAST(l_tax AS DECIMAL(12,2)) * CAST(l_tax AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS q2,
      |  CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) + CAST(l_discount AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)) AS DECIMAL(16,2))) AS VARCHAR) AS DOUBLE) AS st,
      |  CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) + CAST(l_discount AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)) AS DECIMAL(16,2)) * CAST(CAST(l_quantity AS DECIMAL(12,2)) + CAST(l_discount AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)) AS DECIMAL(16,2))) AS VARCHAR) AS DOUBLE) AS qt
      |  FROM lineitem GROUP BY 1),
      |v AS (SELECT l_returnflag, n,
      |  (CAST(n AS DOUBLE) * q0 - s0 * s0) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
      |  + (CAST(n AS DOUBLE) * q1 - s1 * s1) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
      |  + (CAST(n AS DOUBLE) * q2 - s2 * s2) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS sum_item_vars,
      |  (CAST(n AS DOUBLE) * qt - st * st) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS var_total
      |  FROM m)
      |SELECT l_returnflag, n, CAST(3 AS BIGINT) AS k, sum_item_vars, var_total,
      |  (3.0 / 2.0) * (1.0 - sum_item_vars / var_total) AS alpha
      |FROM v ORDER BY l_returnflag""".stripMargin)

  gate("q_mahalanobis", (s, d) => {
    // Joint (quantity, price) outliers per return flag: closed-form 2x2
    // inverse, broadcast stats, codegen filter. Threshold 5.5, not the
    // chi2-99% 9.21: the synthetic marginals are bounded-uniform (max
    // observed md2 = 5.94), so the textbook gaussian fence selects
    // nothing — 5.5 exercises the tail filter on real rows.
    Relational.sort(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))(
      graft.pipeline.Profile.mahalanobis2d(Tables.lineitem(s, d),
        "l_returnflag", "l_quantity", "l_extendedprice",
        Seq("l_orderkey", "l_linenumber"), threshold = 5.5))
  }, oracle =
    // Mahalanobis outliers: q_linreg moments, closed 2x2 inverse dag.
    """WITH m AS (SELECT l_returnflag, count(*) AS n,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sx,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sy,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxy,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxx,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS syy
      |  FROM lineitem GROUP BY 1),
      |st AS (SELECT l_returnflag, n,
      |  sx / CAST(n AS DOUBLE) AS mx, sy / CAST(n AS DOUBLE) AS my,
      |  CAST(n AS DOUBLE) * sxx - sx * sx AS cxx,
      |  CAST(n AS DOUBLE) * syy - sy * sy AS cyy,
      |  CAST(n AS DOUBLE) * sxy - sx * sy AS cxy FROM m),
      |sc AS (SELECT l.l_returnflag, l.l_orderkey, l.l_linenumber,
      |  l.l_quantity, l.l_extendedprice,
      |  round(CAST(st.n AS DOUBLE) * CAST(st.n AS DOUBLE) *
      |    (st.cyy * (CAST(l.l_quantity AS DOUBLE) - st.mx) * (CAST(l.l_quantity AS DOUBLE) - st.mx)
      |     - 2.0 * st.cxy * (CAST(l.l_quantity AS DOUBLE) - st.mx) * (CAST(l.l_extendedprice AS DOUBLE) - st.my)
      |     + st.cxx * (CAST(l.l_extendedprice AS DOUBLE) - st.my) * (CAST(l.l_extendedprice AS DOUBLE) - st.my))
      |    / (st.cxx * st.cyy - st.cxy * st.cxy), 6) AS md2
      |  FROM lineitem l JOIN st ON l.l_returnflag = st.l_returnflag)
      |SELECT * FROM sc WHERE md2 > 5.5
      |ORDER BY l_returnflag, l_orderkey, l_linenumber""".stripMargin)

  gate("q_zipf", (s, d) => {
    // Zipf rank-frequency fit over the corpus vocabulary: 6-dp ln
    // decimals, linearFit dag, exponent = -slope.
    graft.pipeline.Scoring.zipfFit(Tables.documents(s, d), "text")
  }, oracle =
    // Zipf fit: vocabulary ranks, 6-dp lns, linearFit dag; products via
    // (19,6) operands (the int64-path convention).
    """WITH wds AS (SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w FROM documents),
      |f AS (SELECT w, count(*) AS f FROM wds GROUP BY w),
      |r AS (SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, w ASC) AS rk FROM f),
      |t AS (SELECT f,
      |  CAST(round(ln(CAST(rk AS DOUBLE)), 6) AS DECIMAL(12,6)) AS x,
      |  CAST(round(ln(CAST(f AS DOUBLE)), 6) AS DECIMAL(12,6)) AS y FROM r),
      |m AS (SELECT count(*) AS n, CAST(SUM(f) AS BIGINT) AS ntok,
      |  CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
      |  CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
      |  CAST(CAST(SUM(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS sxy,
      |  CAST(CAST(SUM(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS sxx,
      |  CAST(CAST(SUM(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS syy
      |  FROM t),
      |sl AS (SELECT *, (CAST(n AS DOUBLE) * sxy - sx * sy) /
      |  (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope FROM m)
      |SELECT n AS n_words, ntok AS n_tokens, slope,
      |  (sy - slope * sx) / CAST(n AS DOUBLE) AS intercept,
      |  ((CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy)) /
      |  ((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)) AS r2,
      |  -slope AS zipf_exponent
      |FROM sl""".stripMargin)

  gate("q_forecast_eval", (s, d) => {
    // Seasonal-naive (lag-7) forecast error floor per priority:
    // exact decimal errors, 6-dp ratio terms, MAE/RMSE/MAPE/sMAPE.
    Relational.sort(col("o_orderpriority"))(
      graft.pipeline.TimeSeries.forecastErrors(Tables.orders(s, d),
        "o_orderpriority", "o_orderdate", "o_totalprice", seasonLag = 7))
  }, oracle =
    // Seasonal-naive error floor: exact decimal errors, 6-dp terms,
    // (19,2) square operands.
    """WITH a AS (SELECT o_orderpriority AS k,
      |  date_trunc('day', o_orderdate) AS dy,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(12,2)) AS v
      |  FROM orders GROUP BY 1, 2),
      |fc AS (SELECT k, dy, v,
      |  lag(v, 7) OVER (PARTITION BY k ORDER BY dy) AS f FROM a),
      |e AS (SELECT k, v, f, CAST(v - f AS DECIMAL(13,2)) AS err,
      |  abs(CAST(v - f AS DECIMAL(13,2))) AS ae
      |  FROM fc WHERE f IS NOT NULL),
      |t AS (SELECT k, err, ae,
      |  CASE WHEN abs(v) > 0 THEN CAST(round(
      |    CAST(CAST(ae AS VARCHAR) AS DOUBLE) / CAST(CAST(abs(v) AS VARCHAR) AS DOUBLE), 6) AS DECIMAL(18,6)) END AS mt,
      |  CASE WHEN abs(v) + abs(f) > 0 THEN CAST(round(
      |    2.0 * CAST(CAST(ae AS VARCHAR) AS DOUBLE) / CAST(CAST(abs(v) + abs(f) AS VARCHAR) AS DOUBLE), 6) AS DECIMAL(18,6)) END AS st
      |  FROM e),
      |g AS (SELECT k, count(*) AS n_eval,
      |  CAST(CAST(SUM(ae) AS VARCHAR) AS DOUBLE) AS sae,
      |  CAST(CAST(SUM(CAST(err AS DECIMAL(19,2)) * CAST(err AS DECIMAL(19,2))) AS VARCHAR) AS DOUBLE) AS se2,
      |  CAST(SUM(CASE WHEN mt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nzd,
      |  CAST(CAST(SUM(mt) AS VARCHAR) AS DOUBLE) AS smt, COUNT(mt) AS nmt,
      |  CAST(CAST(SUM(st) AS VARCHAR) AS DOUBLE) AS sst, COUNT(st) AS nst
      |  FROM t GROUP BY k)
      |SELECT k AS o_orderpriority, n_eval,
      |  sae / CAST(n_eval AS DOUBLE) AS mae,
      |  sqrt(se2 / CAST(n_eval AS DOUBLE)) AS rmse,
      |  smt / CAST(nmt AS DOUBLE) AS mape,
      |  sst / CAST(nst AS DOUBLE) AS smape,
      |  nzd AS n_zero_denom
      |FROM g ORDER BY 1""".stripMargin)

  gate("q_attribution_position", (s, d) => {
    // U-shaped 40/20/40 credit in exact mills, aggregated per type;
    // per-user credit sums to 10^6 by construction.
    Relational.sort(col("event_type"))(
      graft.pipeline.Events.positionAttribution(Tables.events(s, d),
        "user_id", "ts", "event_type", "event_id",
        Seq("view", "click"), "purchase")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_touches"),
          sum(col("credit_mills")).as("total_credit")))
  }, oracle =
    // U-shaped attribution: 40/20/40 with the middle remainder to the
    // earliest middle; degenerate 1- and 2-touch paths pinned.
    """WITH conv AS (SELECT user_id, MIN(ts) AS cts FROM events
      |  WHERE event_type = 'purchase' GROUP BY user_id),
      |touch AS (SELECT e.user_id, e.event_id, e.event_type,
      |    CAST(COUNT(*) OVER (PARTITION BY e.user_id) AS BIGINT) AS n,
      |    row_number() OVER (PARTITION BY e.user_id
      |      ORDER BY e.ts, e.event_id) AS rn
      |  FROM events e JOIN conv USING (user_id)
      |  WHERE e.event_type IN ('view', 'click') AND e.ts < conv.cts),
      |credit AS (SELECT event_type,
      |  CASE WHEN n = 1 THEN 1000000
      |       WHEN n = 2 THEN 500000
      |       WHEN rn = 1 OR rn = n THEN 400000
      |       ELSE 200000 // (n - 2) +
      |         CASE WHEN rn = 2 THEN 200000 % (n - 2) ELSE 0 END
      |  END AS c FROM touch)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
      |  CAST(SUM(c) AS BIGINT) AS total_credit
      |FROM credit GROUP BY event_type ORDER BY event_type""".stripMargin)

  gate("q_attribution_decay", (s, d) => {
    // Time-decay credit: exact 2^(maxAge-age) integer weights, floor
    // division, remainder to the earliest touch.
    Relational.sort(col("event_type"))(
      graft.pipeline.Events.timeDecayAttribution(Tables.events(s, d),
        "user_id", "ts", "event_type", "event_id",
        Seq("view", "click"), "purchase", maxAgeDays = 30)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_touches"),
          sum(col("credit_mills")).as("total_credit"),
          sum(col("weight")).as("total_weight")))
  }, oracle =
    // Time-decay attribution: exact power-of-two weights, floor shares,
    // the ACCUMULATED remainder to the earliest touch.
    """WITH conv AS (SELECT user_id, MIN(ts) AS cts FROM events
      |  WHERE event_type = 'purchase' GROUP BY user_id),
      |touch AS (SELECT e.user_id, e.event_id, e.event_type,
      |    (1::BIGINT << CAST(30 - least(
      |      (epoch_us(conv.cts) - epoch_us(e.ts)) // 86400000000, 30) AS INTEGER)) AS w,
      |    row_number() OVER (PARTITION BY e.user_id
      |      ORDER BY e.ts, e.event_id) AS rn
      |  FROM events e JOIN conv USING (user_id)
      |  WHERE e.event_type IN ('view', 'click') AND e.ts < conv.cts),
      |ws AS (SELECT *, CAST(SUM(w) OVER (PARTITION BY user_id) AS BIGINT) AS sw FROM touch),
      |base AS (SELECT *, (1000000 * w) // sw AS b FROM ws),
      |rem AS (SELECT *, 1000000 - CAST(SUM(b) OVER (PARTITION BY user_id) AS BIGINT) AS r FROM base)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
      |  CAST(SUM(b + CASE WHEN rn = 1 THEN r ELSE 0 END) AS BIGINT) AS total_credit,
      |  CAST(SUM(w) AS BIGINT) AS total_weight
      |FROM rem GROUP BY event_type ORDER BY event_type""".stripMargin)

  gate("q_graph_summary", (s, d) => {
    // One-row profile of the q_triangles co-occurrence graph treated as
    // DIRECTED (custkey -> orderkey fold): reciprocity, density, degrees.
    val o = Tables.orders(s, d)
    val edges = o.select(pmod(col("o_custkey"), lit(97L)).as("x"),
      pmod(col("o_orderkey"), lit(97L)).as("y"))
    graft.pipeline.Graph.graphSummary(edges, "x", "y")
  }, oracle =
    // Graph summary: distinct directed edges, semi-join reciprocity,
    // canonical undirected degrees, fixed-dag ratios.
    """WITH raw AS (SELECT o_custkey % 97 AS a, o_orderkey % 97 AS b FROM orders),
      |sl AS (SELECT count(*) AS self_loop_rows FROM raw WHERE a = b),
      |dir AS (SELECT DISTINCT a, b FROM raw WHERE a <> b),
      |rec AS (SELECT count(*) AS n_reciprocated FROM dir d
      |  WHERE EXISTS (SELECT 1 FROM dir r WHERE r.a = d.b AND r.b = d.a)),
      |und AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM dir),
      |sym AS (SELECT a FROM und UNION ALL SELECT b FROM und),
      |dg AS (SELECT a, count(*) AS d FROM sym GROUP BY a),
      |ds AS (SELECT count(*) AS n_nodes, MAX(d) AS max_degree FROM dg),
      |c AS (SELECT (SELECT count(*) FROM dir) AS n_directed,
      |  (SELECT n_reciprocated FROM rec) AS n_reciprocated,
      |  (SELECT count(*) FROM und) AS n_undirected,
      |  ds.n_nodes, ds.max_degree,
      |  (SELECT self_loop_rows FROM sl) AS self_loop_rows FROM ds)
      |SELECT n_nodes, CAST(n_directed AS BIGINT) AS n_directed,
      |  CAST(n_undirected AS BIGINT) AS n_undirected,
      |  CAST(n_reciprocated AS BIGINT) AS n_reciprocated,
      |  CAST(self_loop_rows AS BIGINT) AS self_loop_rows, max_degree,
      |  CAST(n_reciprocated AS DOUBLE) / CAST(n_directed AS DOUBLE) AS reciprocity,
      |  2.0 * CAST(n_undirected AS DOUBLE) /
      |    (CAST(n_nodes AS DOUBLE) * (CAST(n_nodes AS DOUBLE) - 1.0)) AS density,
      |  2.0 * CAST(n_undirected AS DOUBLE) / CAST(n_nodes AS DOUBLE) AS mean_degree
      |FROM c""".stripMargin)

  gate("q_subseq_count", (s, d) => {
    // ALL view->click->purchase subsequences per user: the two-stacked-
    // prefix-window DP (funnel counts only the first frontier).
    Relational.sort(col("user_id"))(
      graft.pipeline.Events.subsequenceCount(Tables.events(s, d),
        "user_id", "ts", "event_id", "event_type",
        ("view", "click", "purchase")))
  }, oracle =
    // Subsequence DP: the two stacked prefix windows replayed.
    """WITH o AS (SELECT user_id, ts, event_id, event_type,
      |  CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS acnt
      |  FROM events),
      |p AS (SELECT *, CASE WHEN event_type = 'click' THEN acnt END AS ab FROM o),
      |q AS (SELECT *, CAST(COALESCE(SUM(ab)
      |  OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS abrun
      |  FROM p)
      |SELECT user_id, count(*) AS n_events,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN abrun ELSE 0 END) AS BIGINT)
      |    AS subseq_count
      |FROM q GROUP BY user_id ORDER BY user_id""".stripMargin)

  gate("q_density_anomaly", (s, d) => {
    // Grid relative-density anomalies over the q_spatial_join plane
    // (cell 250): hotspot/void flags vs the 8-neighbor mean.
    val m = 2147483648L
    val pts = Tables.documents(s, d).select(
      (pmod(col("doc_id"), lit(m)) * lit(2654435761L) % lit(m) % lit(4000L)).as("x"),
      (pmod(col("doc_id"), lit(m)) * lit(2246822519L) % lit(m) % lit(4000L)).as("y"))
    Relational.sort(col("cx"), col("cy"))(
      graft.pipeline.Spatial.gridDensityAnomaly(pts, "x", "y", cellSize = 250L))
  }, oracle =
    // Grid density anomalies: 8-neighbor stencil over the cell table.
    """WITH p AS (SELECT
      |  ((doc_id % 2147483648) * 2654435761 % 2147483648) % 4000 AS x,
      |  ((doc_id % 2147483648) * 2246822519 % 2147483648) % 4000 AS y FROM documents),
      |cells AS (SELECT x // 250 AS cx, y // 250 AS cy, count(*) AS n
      |  FROM p GROUP BY 1, 2),
      |nb AS (SELECT c.cx + dx.d AS cx, c.cy + dy.d AS cy, c.n AS nn
      |  FROM cells c,
      |  (SELECT unnest([-1, 0, 1]) AS d) dx,
      |  (SELECT unnest([-1, 0, 1]) AS d) dy
      |  WHERE NOT (dx.d = 0 AND dy.d = 0)),
      |ns AS (SELECT cx, cy, CAST(SUM(nn) AS BIGINT) AS nbhd FROM nb GROUP BY 1, 2),
      |j AS (SELECT cells.cx, cells.cy, cells.n, COALESCE(ns.nbhd, 0) AS nbhd_sum
      |  FROM cells LEFT JOIN ns ON cells.cx = ns.cx AND cells.cy = ns.cy),
      |r AS (SELECT *, CASE WHEN nbhd_sum > 0 THEN
      |  round(CAST(n AS DOUBLE) / (CAST(nbhd_sum AS DOUBLE) / 8.0), 6) END AS rel_density
      |  FROM j)
      |SELECT cx, cy, n, nbhd_sum, rel_density,
      |  (rel_density IS NOT NULL AND (rel_density >= 2.0 OR rel_density <= 0.5)) AS anomaly
      |FROM r ORDER BY cx, cy""".stripMargin)

  gate("q_seasonal_anomaly", (s, d) => {
    // STL-style residual anomalies: decompose + per-key lower-median/MAD
    // fences on the identical-dag residual doubles.
    Relational.sort(col("o_orderpriority"), col("day"))(
      graft.pipeline.TimeSeries.seasonalAnomalies(Tables.orders(s, d),
        "o_orderpriority", "o_orderdate", "o_totalprice", k = 3.0))
  }, oracle =
    // Seasonal anomalies: the decompose chain + per-key lower-median /
    // MAD fences on the residual doubles.
    """WITH a AS (SELECT o_orderpriority AS k,
      |  date_trunc('day', o_orderdate) AS dy,
      |  SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS v
      |  FROM orders GROUP BY 1, 2),
      |t AS (SELECT k, dy, v,
      |  COUNT(*) OVER win AS tn, SUM(v) OVER win AS ts
      |  FROM a WINDOW win AS (PARTITION BY k ORDER BY dy
      |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |tr AS (SELECT k, dy, v,
      |  CAST(CAST(ts AS VARCHAR) AS DOUBLE) / CAST(tn AS DOUBLE) AS trend
      |  FROM t),
      |de AS (SELECT *, CAST(round(CAST(CAST(v AS VARCHAR) AS DOUBLE) - trend, 6)
      |    AS DECIMAL(18,6)) AS det,
      |  CAST(dayofweek(dy) + 1 AS INTEGER) AS dow FROM tr),
      |se AS (SELECT k, dow,
      |  CAST(CAST(SUM(det) AS VARCHAR) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS seasonal
      |  FROM de GROUP BY 1, 2),
      |res AS (SELECT de.k, de.dy, de.v, de.trend, se.seasonal,
      |  CAST(CAST(de.det AS VARCHAR) AS DOUBLE) - se.seasonal AS residual
      |  FROM de JOIN se ON de.k = se.k AND de.dow = se.dow),
      |rc AS (SELECT k, residual, count(*) AS c FROM res GROUP BY 1, 2),
      |rcum AS (SELECT k, residual, SUM(c) OVER (PARTITION BY k ORDER BY residual
      |  ROWS UNBOUNDED PRECEDING) AS cum FROM rc),
      |rtot AS (SELECT k, CAST(SUM(c) AS BIGINT) AS n FROM rc GROUP BY k),
      |med AS (SELECT rcum.k, MIN(residual) AS med FROM rcum
      |  JOIN rtot ON rcum.k = rtot.k WHERE cum >= (n + 1) // 2 GROUP BY rcum.k),
      |ad AS (SELECT res.*, med.med, abs(res.residual - med.med) AS adev
      |  FROM res JOIN med ON res.k = med.k),
      |ac AS (SELECT k, adev, count(*) AS c FROM ad GROUP BY 1, 2),
      |acum AS (SELECT k, adev, SUM(c) OVER (PARTITION BY k ORDER BY adev
      |  ROWS UNBOUNDED PRECEDING) AS cum FROM ac),
      |atot AS (SELECT k, CAST(SUM(c) AS BIGINT) AS n FROM ac GROUP BY k),
      |mad AS (SELECT acum.k, MIN(adev) AS mad FROM acum
      |  JOIN atot ON acum.k = atot.k WHERE cum >= (n + 1) // 2 GROUP BY acum.k)
      |SELECT ad.k AS o_orderpriority, strftime(ad.dy, '%Y-%m-%d') AS day,
      |  CAST(CAST(ad.v AS VARCHAR) AS DOUBLE) AS v, ad.trend, ad.seasonal,
      |  ad.residual, ad.med, mad.mad,
      |  (ad.adev > 3.0 * mad.mad) AS anomaly
      |FROM ad JOIN mad ON ad.k = mad.k ORDER BY 1, 2""".stripMargin)

  gate("q_mann_kendall", (s, d) => {
    // Mann-Kendall monotone-trend test on the daily revenue series:
    // pairwise signs over the bounded day table, tie-corrected z.
    Relational.sort(col("o_orderpriority"))(
      graft.pipeline.TimeSeries.mannKendall(Tables.orders(s, d),
        "o_orderpriority", "o_orderdate", "o_totalprice"))
  }, oracle =
    // Mann-Kendall: pairwise signs on the day table, tie-corrected z.
    """WITH a AS (SELECT o_orderpriority AS k,
      |  date_trunc('day', o_orderdate) AS dy,
      |  SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS v
      |  FROM orders GROUP BY 1, 2),
      |s AS (SELECT x.k, CAST(SUM(CASE WHEN y.v > x.v THEN 1
      |    WHEN y.v < x.v THEN -1 ELSE 0 END) AS BIGINT) AS s
      |  FROM a x JOIN a y ON x.k = y.k AND x.dy < y.dy GROUP BY x.k),
      |t AS (SELECT k, v, count(*) AS t FROM a GROUP BY 1, 2),
      |nt AS (SELECT k, CAST(SUM(t) AS BIGINT) AS n_days,
      |  CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie FROM t GROUP BY k),
      |z AS (SELECT s.k, nt.n_days, s.s,
      |  round(CASE WHEN s.s > 0 THEN (CAST(s.s AS DOUBLE) - 1.0) /
      |      sqrt((CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0) * (2.0 * CAST(n_days AS DOUBLE) + 5.0) - CAST(tie AS DOUBLE)) / 18.0)
      |    WHEN s.s < 0 THEN (CAST(s.s AS DOUBLE) + 1.0) /
      |      sqrt((CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0) * (2.0 * CAST(n_days AS DOUBLE) + 5.0) - CAST(tie AS DOUBLE)) / 18.0)
      |    ELSE 0.0 END, 6) AS z
      |  FROM s JOIN nt ON s.k = nt.k)
      |SELECT k AS o_orderpriority, n_days, s, z,
      |  CASE WHEN z > 1.96 THEN 'up' WHEN z < -1.96 THEN 'down'
      |       ELSE 'none' END AS trend
      |FROM z ORDER BY 1""".stripMargin)

  gate("q_kendall", (s, d) => {
    // Kendall tau-b via distinct-cell pair products (|X||Y| cells, never
    // n^2 rows), marginal tie terms, fixed dag.
    Relational.sort(col("l_returnflag"))(
      graft.pipeline.Profile.kendallTau(Tables.lineitem(s, d),
        "l_returnflag", "l_quantity", "l_discount"))
  }, oracle =
    // Kendall tau-b: cell-pair products + marginal tie terms.
    """WITH b AS (SELECT l_returnflag AS g, l_quantity AS x, l_discount AS y
      |  FROM lineitem WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL),
      |cells AS (SELECT g, x, y, count(*) AS c FROM b GROUP BY 1, 2, 3),
      |pr AS (SELECT l.g,
      |  CAST(CAST(SUM(CASE WHEN (l.x < r.x AND l.y < r.y) OR (l.x > r.x AND l.y > r.y)
      |    THEN CAST(l.c AS DECIMAL(19,0)) * CAST(r.c AS DECIMAL(19,0)) END) AS VARCHAR) AS DOUBLE) AS conc,
      |  CAST(CAST(SUM(CASE WHEN (l.x < r.x AND l.y > r.y) OR (l.x > r.x AND l.y < r.y)
      |    THEN CAST(l.c AS DECIMAL(19,0)) * CAST(r.c AS DECIMAL(19,0)) END) AS VARCHAR) AS DOUBLE) AS disc
      |  FROM cells l JOIN cells r ON l.g = r.g
      |    AND (l.x < r.x OR (l.x = r.x AND l.y < r.y))
      |  GROUP BY l.g),
      |tx AS (SELECT g, CAST(CAST(SUM(CAST((t * (t - 1)) // 2 AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS txx
      |  FROM (SELECT g, x, count(*) AS t FROM b GROUP BY 1, 2) GROUP BY g),
      |ty AS (SELECT g, CAST(CAST(SUM(CAST((t * (t - 1)) // 2 AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS tyy
      |  FROM (SELECT g, y, count(*) AS t FROM b GROUP BY 1, 2) GROUP BY g),
      |tot AS (SELECT g, count(*) AS n FROM b GROUP BY g)
      |SELECT tot.g AS l_returnflag, tot.n,
      |  COALESCE(pr.conc, 0.0) AS concordant,
      |  COALESCE(pr.disc, 0.0) AS discordant,
      |  (COALESCE(pr.conc, 0.0) - COALESCE(pr.disc, 0.0)) /
      |  sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0 - txx) *
      |       (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0 - tyy)) AS tau_b
      |FROM tot LEFT JOIN pr ON tot.g = pr.g
      |JOIN tx ON tot.g = tx.g JOIN ty ON tot.g = ty.g
      |ORDER BY 1""".stripMargin)

  gate("q_chao1", (s, d) => {
    // Chao1 vocabulary-richness + Good's coverage from the frequency-of-
    // frequencies: the "is more crawling still buying new content" card.
    // 3-shingle units: the 31-word closed vocabulary has no rare
    // unigrams (f1 = f2 = 0 makes Chao1 degenerate); shingles have a
    // real tail (9,424 singletons of 16,245 distinct at sf0.01).
    graft.pipeline.Vocab.chao1Richness(Tables.documents(s, d), "text",
      shingleWidth = 3)
  }, oracle =
    // Chao1 + coverage from the frequency-of-frequencies.
    """WITH t0 AS (SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks FROM documents),
      |wds AS (SELECT unnest(list_transform(range(1, len(toks) - 1),
      |  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS w
      |  FROM t0 WHERE len(toks) >= 3),
      |c AS (SELECT w, count(*) AS c FROM wds GROUP BY w)
      |SELECT CAST(SUM(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct,
      |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
      |  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
      |  round(CAST(count(*) AS DOUBLE) +
      |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) *
      |    (CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) - 1.0) /
      |    (2.0 * (CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS DOUBLE) + 1.0)), 6) AS chao1,
      |  round(1.0 - CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
      |    CAST(SUM(c) AS DOUBLE), 6) AS coverage
      |FROM c""".stripMargin)

  gate("q_good_turing", (s, d) => {
    // Good-Turing adjusted counts r* for r <= 5; gap rows report NULL.
    Relational.sort(col("r"))(
      graft.pipeline.Vocab.goodTuring(Tables.documents(s, d), "text",
        maxR = 5, shingleWidth = 3))
  }, oracle =
    // Good-Turing adjusted counts for r <= 5; gaps yield NULL r*.
    """WITH t0 AS (SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks FROM documents),
      |wds AS (SELECT unnest(list_transform(range(1, len(toks) - 1),
      |  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS w
      |  FROM t0 WHERE len(toks) >= 3),
      |c AS (SELECT w, count(*) AS c FROM wds GROUP BY w),
      |fof AS (SELECT c AS r, count(*) AS n_r FROM c GROUP BY c HAVING c <= 6),
      |l AS (SELECT *, lead(r) OVER (ORDER BY r) AS nr,
      |  lead(n_r) OVER (ORDER BY r) AS nn FROM fof)
      |SELECT r, n_r,
      |  CASE WHEN nr = r + 1 THEN round((CAST(r AS DOUBLE) + 1.0) *
      |    CAST(nn AS DOUBLE) / CAST(n_r AS DOUBLE), 6) END AS r_star
      |FROM l WHERE r <= 5 ORDER BY r""".stripMargin)

  gate("q_weibull", (s, d) => {
    // Weibull probability-plot fit of extendedprice per return flag:
    // Benard median ranks at tied-block edges, 6-dp ln decimals.
    Relational.sort(col("l_returnflag"))(
      graft.pipeline.Profile.weibullFit(Tables.lineitem(s, d),
        "l_returnflag", "l_extendedprice"))
  }, oracle =
    // Weibull plotting fit: Benard ranks at tied-block edges, zipf-style
    // 6-dp lns, linearFit dag, (19,6) product operands.
    """WITH b AS (SELECT l_returnflag AS g, l_extendedprice AS v FROM lineitem
      |  WHERE l_extendedprice IS NOT NULL AND l_extendedprice > 0),
      |pv AS (SELECT g, v, count(*) AS c FROM b GROUP BY 1, 2),
      |tot AS (SELECT g, count(*) AS n FROM b GROUP BY g),
      |cum AS (SELECT pv.g, pv.v, tot.n,
      |  CAST(SUM(pv.c) OVER (PARTITION BY pv.g ORDER BY pv.v
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cm
      |  FROM pv JOIN tot ON pv.g = tot.g),
      |pts AS (SELECT g, n,
      |  CAST(round(ln(CAST(v AS DOUBLE)), 6) AS DECIMAL(12,6)) AS x,
      |  CAST(round(ln(-ln(1.0 - (CAST(cm AS DOUBLE) - 0.3) / (CAST(n AS DOUBLE) + 0.4))), 6) AS DECIMAL(12,6)) AS y
      |  FROM cum),
      |m AS (SELECT g, MAX(n) AS n, count(*) AS nd,
      |  CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
      |  CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
      |  CAST(CAST(SUM(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS sxy,
      |  CAST(CAST(SUM(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS sxx,
      |  CAST(CAST(SUM(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS syy
      |  FROM pts GROUP BY g),
      |sl AS (SELECT *, (CAST(nd AS DOUBLE) * sxy - sx * sy) /
      |  (CAST(nd AS DOUBLE) * sxx - sx * sx) AS shape FROM m)
      |SELECT g AS l_returnflag, n, nd AS n_distinct, shape,
      |  exp(-((sy - shape * sx) / CAST(nd AS DOUBLE)) / shape) AS scale,
      |  ((CAST(nd AS DOUBLE) * sxy - sx * sy) * (CAST(nd AS DOUBLE) * sxy - sx * sy)) /
      |  ((CAST(nd AS DOUBLE) * sxx - sx * sx) * (CAST(nd AS DOUBLE) * syy - sy * sy)) AS r2
      |FROM sl ORDER BY 1""".stripMargin)

  gate("q_best_split", (s, d) => {
    // Decision-stump threshold on quantity vs the price>30k label:
    // prefix-sum class counts, weighted-Gini dag, smallest-threshold tie.
    Relational.sort(col("l_returnflag"))(
      graft.pipeline.Profile.bestSplit(Tables.lineitem(s, d),
        "l_returnflag", "l_quantity", col("l_extendedprice") > 30000))
  }, oracle =
    // Decision stump: prefix class counts, weighted-Gini dag, earliest
    // threshold on ties.
    """WITH b AS (SELECT l_returnflag AS g, l_quantity AS x,
      |  CASE WHEN l_extendedprice > 30000 THEN 1 ELSE 0 END AS y
      |  FROM lineitem WHERE l_quantity IS NOT NULL),
      |pv AS (SELECT g, x, count(*) AS c, CAST(SUM(y) AS BIGINT) AS p FROM b GROUP BY 1, 2),
      |cum AS (SELECT *, CAST(SUM(c) OVER win AS BIGINT) AS nl,
      |  CAST(SUM(p) OVER win AS BIGINT) AS pl
      |  FROM pv WINDOW win AS (PARTITION BY g ORDER BY x ROWS UNBOUNDED PRECEDING)),
      |tot AS (SELECT g, count(*) AS n, CAST(SUM(y) AS BIGINT) AS pos FROM b GROUP BY g),
      |ca AS (SELECT cum.g, cum.x, cum.nl, cum.pl, tot.n, tot.pos,
      |  (CAST(nl AS DOUBLE) * (1.0
      |    - (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE)) * (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
      |    - ((CAST(nl AS DOUBLE) - CAST(pl AS DOUBLE)) / CAST(nl AS DOUBLE)) * ((CAST(nl AS DOUBLE) - CAST(pl AS DOUBLE)) / CAST(nl AS DOUBLE)))
      |   + CAST(n - nl AS DOUBLE) * (1.0
      |    - (CAST(pos - pl AS DOUBLE) / CAST(n - nl AS DOUBLE)) * (CAST(pos - pl AS DOUBLE) / CAST(n - nl AS DOUBLE))
      |    - ((CAST(n - nl AS DOUBLE) - CAST(pos - pl AS DOUBLE)) / CAST(n - nl AS DOUBLE)) * ((CAST(n - nl AS DOUBLE) - CAST(pos - pl AS DOUBLE)) / CAST(n - nl AS DOUBLE))))
      |  / CAST(n AS DOUBLE) AS gw
      |  FROM cum JOIN tot ON cum.g = tot.g WHERE cum.nl < tot.n),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY gw ASC, x ASC) AS rn FROM ca)
      |SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n, x AS threshold,
      |  round(gw, 6) AS gini, nl AS n_left, pl AS pos_left,
      |  CAST(n - nl AS BIGINT) AS n_right, CAST(pos - pl AS BIGINT) AS pos_right
      |FROM r WHERE rn = 1 ORDER BY 1""".stripMargin)

  gate("q_fertility", (s, d) => {
    // Tokenizer fertility per language: exact regexp-unit counts, 6-dp
    // rate dags.
    Relational.sort(col("lang"))(
      graft.pipeline.TextAnalysis.fertilityProfile(Tables.documents(s, d),
        "text", "lang"))
  }, oracle =
    // Tokenizer fertility: exact regexp-unit counts per language.
    """SELECT lang, count(*) AS n_docs,
      |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
      |  CAST(SUM(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS BIGINT) AS n_words,
      |  CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) AS BIGINT) AS n_units,
      |  round(CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) AS DOUBLE) /
      |    CAST(SUM(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS DOUBLE), 6) AS fertility,
      |  round(CAST(SUM(length(text)) AS DOUBLE) /
      |    CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) AS DOUBLE), 6) AS chars_per_unit
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)

  gate("q_langid_eval", (s, d) => {
    // Language-ID confusion vs the labeled lang column: per-cell counts
    // and shares (diagonal share = per-label recall).
    Relational.sort(col("label"), col("pred"))(
      graft.pipeline.TextAnalysis.langIdEval(Tables.documents(s, d),
        "text", "lang"))
  }, oracle =
    // Language-ID confusion: the q_text_langid scoring chain grouped.
    """WITH sc AS (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS p FROM documents),
      |s AS (SELECT doc_id, lang,
      |(CASE WHEN contains(p, ' the ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' a ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' of ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' and ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' is ') THEN 1 ELSE 0 END) AS s_en,
      |(CASE WHEN contains(p, ' der ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' und ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' die ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' das ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' ist ') THEN 1 ELSE 0 END) AS s_de,
      |(CASE WHEN contains(p, ' el ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' la ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' de ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' y ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' es ') THEN 1 ELSE 0 END) AS s_es,
      |(CASE WHEN contains(p, ' le ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' la ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' et ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' les ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' est ') THEN 1 ELSE 0 END) AS s_fr,
      |(CASE WHEN contains(p, ' 的 ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' 是 ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' 了 ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' 在 ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' 我 ') THEN 1 ELSE 0 END) AS s_zh
      |FROM sc),
      |pred AS (SELECT lang AS label,
      |CASE WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_en > 0 THEN 'en'
      |WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_de > 0 THEN 'de'
      |WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_es > 0 THEN 'es'
      |WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_fr > 0 THEN 'fr'
      |WHEN s_zh = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_zh > 0 THEN 'zh'
      |ELSE 'und' END AS pred FROM s),
      |cells AS (SELECT label, pred, count(*) AS n FROM pred GROUP BY 1, 2),
      |tot AS (SELECT label, CAST(SUM(n) AS BIGINT) AS label_total FROM cells GROUP BY label)
      |SELECT cells.label, cells.pred, cells.n, tot.label_total,
      |  round(CAST(cells.n AS DOUBLE) / CAST(tot.label_total AS DOUBLE), 6) AS share
      |FROM cells JOIN tot ON cells.label = tot.label
      |ORDER BY 1, 2""".stripMargin)

  gate("q_label_centroids", (s, d) => {
    // Per-label quantized centroids: exact integer sums, FLOOR-divided
    // means (Spark div truncates — the pmod correction is load-bearing).
    Relational.sort(col("label"), col("dim"))(
      graft.pipeline.Similarity.labelCentroids(Tables.embeddings(s, d),
        "vec_id", "embedding", "label"))
  }, oracle =
    // Label centroids: exact integer sums, FLOOR-divided (the kmeans
    // oracle's pmod form).
    """WITH q AS (SELECT label, CAST(i AS INTEGER) AS dim,
      |  CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000) AS BIGINT) AS x
      |  FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS i) gs),
      |g AS (SELECT label, dim, CAST(SUM(x) AS BIGINT) AS vec_sum, count(*) AS n
      |  FROM q GROUP BY 1, 2)
      |SELECT label, dim, vec_sum, n,
      |  CAST((vec_sum - (((vec_sum % n) + n) % n)) // n AS BIGINT) AS centroid
      |FROM g ORDER BY label, dim""".stripMargin)

  gate("q_embedding_drift", (s, d) => {
    // Per-label drift between corpus halves: cosine of the halves' sum
    // vectors (scale-invariant — no means, no per-row doubles).
    Relational.sort(col("label"))(
      graft.pipeline.Similarity.embeddingDrift(Tables.embeddings(s, d),
        "vec_id", "embedding", "label", pmod(col("vec_id"), lit(2L))))
  }, oracle =
    // Embedding drift: cosine of the halves' exact sum vectors.
    """WITH q AS (SELECT label, vec_id % 2 AS h, CAST(i AS INTEGER) AS dim,
      |  CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000) AS BIGINT) AS x
      |  FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS i) gs),
      |s AS (SELECT label, dim,
      |  CAST(SUM(CASE WHEN h = 0 THEN x ELSE 0 END) AS BIGINT) AS a,
      |  CAST(SUM(CASE WHEN h <> 0 THEN x ELSE 0 END) AS BIGINT) AS b,
      |  CAST(SUM(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |  CAST(SUM(CASE WHEN h <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb
      |  FROM q GROUP BY 1, 2),
      |f AS (SELECT label, MAX(na) AS n_a, MAX(nb) AS n_b,
      |  CAST(CAST(SUM(CAST(a AS DECIMAL(19,0)) * CAST(b AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS dt,
      |  CAST(CAST(SUM(CAST(a AS DECIMAL(19,0)) * CAST(a AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS aa,
      |  CAST(CAST(SUM(CAST(b AS DECIMAL(19,0)) * CAST(b AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS bb
      |  FROM s GROUP BY label)
      |SELECT label, n_a, n_b,
      |  round(dt / (sqrt(aa) * sqrt(bb)), 6) AS cosine_drift
      |FROM f ORDER BY label""".stripMargin)

  gate("q_kappa", (s, d) => {
    // Cohen's kappa between the langId heuristic and the labeled lang:
    // chance-corrected agreement, one cell aggregate + marginal windows.
    graft.pipeline.Profile.cohensKappa(Tables.documents(s, d),
      graft.pipeline.TextAnalysis.langId(col("text")), col("lang"))
  }, oracle =
    // Cohen's kappa: the langid prediction chain + the diagonal
    // row-times-column identity for pe.
    """WITH sc AS (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS p FROM documents),
      |s AS (SELECT doc_id, lang,
      |(CASE WHEN contains(p, ' the ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' a ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' of ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' and ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' is ') THEN 1 ELSE 0 END) AS s_en,
      |(CASE WHEN contains(p, ' der ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' und ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' die ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' das ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' ist ') THEN 1 ELSE 0 END) AS s_de,
      |(CASE WHEN contains(p, ' el ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' la ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' de ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' y ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' es ') THEN 1 ELSE 0 END) AS s_es,
      |(CASE WHEN contains(p, ' le ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' la ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' et ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' les ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' est ') THEN 1 ELSE 0 END) AS s_fr,
      |(CASE WHEN contains(p, ' 的 ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' 是 ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' 了 ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' 在 ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' 我 ') THEN 1 ELSE 0 END) AS s_zh
      |FROM sc),
      |pr AS (SELECT
      |CASE WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_en > 0 THEN 'en'
      |WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_de > 0 THEN 'de'
      |WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_es > 0 THEN 'es'
      |WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_fr > 0 THEN 'fr'
      |WHEN s_zh = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_zh > 0 THEN 'zh'
      |ELSE 'und' END AS a, lang AS b FROM s),
      |cells AS (SELECT a, b, count(*) AS c FROM pr GROUP BY 1, 2),
      |pa AS (SELECT a AS k, CAST(SUM(c) AS BIGINT) AS rw FROM cells GROUP BY 1),
      |pb AS (SELECT b AS k, CAST(SUM(c) AS BIGINT) AS cl FROM cells GROUP BY 1),
      |px AS (SELECT CAST(CAST(SUM(CAST(COALESCE(rw, 0) AS DECIMAL(19,0)) * CAST(COALESCE(cl, 0) AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS pexn
      |  FROM pa FULL OUTER JOIN pb USING (k)),
      |f AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS diag
      |  FROM cells),
      |g AS (SELECT n, CAST(diag AS DOUBLE) / CAST(n AS DOUBLE) AS po,
      |  pexn / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe FROM f, px)
      |SELECT n, po, pe, (po - pe) / (1.0 - pe) AS kappa FROM g""".stripMargin)

  gate("q_dup_matrix", (s, d) => {
    // Cross-source duplication matrix over the q_dedup_ngram pair
    // stream: mirror-site mass (cross cells) vs within-crawl
    // boilerplate (diagonal). An exact-fingerprint form would be empty
    // at sf0.01 (the planted copies are NEAR-dups), so the near-dup
    // pair stream is the meaningful input.
    val docs = Tables.documents(s, d)
    val pairs = Dedup.lengthBucketJaccardPairs(docs, "doc_id", "text",
      threshold = 0.5, bucketWidth = 8, shingleLen = 2)
    Relational.sort(col("source_a"), col("source_b"))(
      graft.pipeline.Dedup.crossSourceDupMatrix(pairs, "id1", "id2",
        docs, "doc_id", "source"))
  }, oracle =
    // Cross-source dup matrix over the ngram near-dup pair stream.
    s"""WITH $NgramPairsCte,
      |src AS (SELECT doc_id, source FROM documents),
      |m AS (SELECT least(a.source, b.source) AS source_a,
      |  greatest(a.source, b.source) AS source_b
      |  FROM jp JOIN src a ON jp.id1 = a.doc_id
      |  JOIN src b ON jp.id2 = b.doc_id)
      |SELECT source_a, source_b, count(*) AS dup_pairs
      |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  gate("q_wilson", (s, d) => {
    // Wilson CI of the purchase share per ISO weekday: exact counts,
    // one fixed dag, 6-dp bounds.
    Relational.sort(col("dow"))(
      graft.pipeline.Profile.wilsonInterval(
        Tables.events(s, d).select(
          dayofweek(col("ts")).as("dow"), col("event_type")),
        "dow", col("event_type") === "purchase"))
  }, oracle =
    // Wilson interval: exact counts, fixed dag (Spark dayofweek = DuckDB
    // dayofweek + 1, the seasonal-decompose convention).
    """WITH b AS (SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
      |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y FROM events),
      |m AS (SELECT dow, count(*) AS n, CAST(SUM(y) AS BIGINT) AS successes FROM b GROUP BY dow),
      |c AS (SELECT dow, n, successes,
      |  CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) AS p,
      |  3.8416 AS z2, 1.96 AS z FROM m),
      |w AS (SELECT dow, n, successes, p,
      |  (p + z2 / (2.0 * CAST(n AS DOUBLE))) / (1.0 + z2 / CAST(n AS DOUBLE)) AS center,
      |  (z * sqrt(p * (1.0 - p) / CAST(n AS DOUBLE) + z2 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))) / (1.0 + z2 / CAST(n AS DOUBLE)) AS half
      |  FROM c)
      |SELECT dow, n, successes, round(p, 6) AS rate,
      |  round(center - half, 6) AS wilson_lo,
      |  round(center + half, 6) AS wilson_hi
      |FROM w ORDER BY dow""".stripMargin)

  gate("q_topk_stability", (s, d) => {
    // Top-20 parts by revenue in each order-parity half: overlap +
    // Jaccard — the leaderboard-stability diagnostic.
    graft.pipeline.Profile.topkStability(Tables.lineitem(s, d),
      "l_partkey", "l_extendedprice", pmod(col("l_orderkey"), lit(2L)), k = 20)
  }, oracle =
    // Top-k stability: per-half TakeOrdered replayed as ROW_NUMBER.
    """WITH per AS (SELECT l_orderkey % 2 AS h, l_partkey AS k,
      |  SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS v
      |  FROM lineitem GROUP BY 1, 2),
      |r AS (SELECT h, k, ROW_NUMBER() OVER (PARTITION BY h ORDER BY v DESC, k ASC) AS rn FROM per),
      |t0 AS (SELECT k FROM r WHERE h = 0 AND rn <= 20),
      |t1 AS (SELECT k FROM r WHERE h = 1 AND rn <= 20),
      |c AS (SELECT count(*) AS n_common FROM t0 JOIN t1 USING (k))
      |SELECT CAST(20 AS BIGINT) AS k, n_common,
      |  round(CAST(n_common AS DOUBLE) / (40.0 - CAST(n_common AS DOUBLE)), 6) AS jaccard
      |FROM c""".stripMargin)

  gate("q_macro_f1", (s, d) => {
    // Macro P/R/F1 of the langId heuristic vs labels — the class-
    // imbalance-honest summary kappa doesn't give.
    graft.pipeline.Profile.macroF1(Tables.documents(s, d),
      graft.pipeline.TextAnalysis.langId(col("text")), col("lang"))
  }, oracle =
    // Macro P/R/F1: confusion marginals + 6-dp-rounded class terms.
    """WITH sc AS (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS p FROM documents),
      |s AS (SELECT doc_id, lang,
      |(CASE WHEN contains(p, ' the ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' a ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' of ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' and ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' is ') THEN 1 ELSE 0 END) AS s_en,
      |(CASE WHEN contains(p, ' der ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' und ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' die ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' das ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' ist ') THEN 1 ELSE 0 END) AS s_de,
      |(CASE WHEN contains(p, ' el ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' la ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' de ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' y ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' es ') THEN 1 ELSE 0 END) AS s_es,
      |(CASE WHEN contains(p, ' le ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' la ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' et ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' les ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' est ') THEN 1 ELSE 0 END) AS s_fr,
      |(CASE WHEN contains(p, ' 的 ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' 是 ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' 了 ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' 在 ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' 我 ') THEN 1 ELSE 0 END) AS s_zh
      |FROM sc),
      |pr AS (SELECT
      |CASE WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_en > 0 THEN 'en'
      |WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_de > 0 THEN 'de'
      |WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_es > 0 THEN 'es'
      |WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_fr > 0 THEN 'fr'
      |WHEN s_zh = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_zh > 0 THEN 'zh'
      |ELSE 'und' END AS pd, lang AS tr FROM s),
      |cells AS (SELECT pd, tr, count(*) AS c FROM pr GROUP BY 1, 2),
      |pt AS (SELECT tr AS cls, CAST(SUM(c) AS BIGINT) AS row_,
      |  CAST(SUM(CASE WHEN pd = tr THEN c ELSE 0 END) AS BIGINT) AS diag
      |  FROM cells GROUP BY tr),
      |pp AS (SELECT pd AS cls, CAST(SUM(c) AS BIGINT) AS col_ FROM cells GROUP BY pd),
      |k AS (SELECT pt.cls, row_, diag, pp.col_,
      |  CASE WHEN pp.col_ > 0 THEN CAST(diag AS DOUBLE) / CAST(pp.col_ AS DOUBLE) END AS prec,
      |  CAST(diag AS DOUBLE) / CAST(row_ AS DOUBLE) AS rec
      |  FROM pt LEFT JOIN pp ON pt.cls = pp.cls),
      |k2 AS (SELECT *, CASE WHEN prec IS NOT NULL AND prec + rec > 0
      |  THEN 2.0 * prec * rec / (prec + rec) ELSE 0.0 END AS f1 FROM k),
      |f AS (SELECT count(*) AS n_classes, CAST(SUM(row_) AS BIGINT) AS n,
      |  CAST(SUM(diag) AS BIGINT) AS ok,
      |  SUM(CAST(round(COALESCE(prec, 0.0), 6) AS DECIMAL(18,6))) AS sp,
      |  SUM(CAST(round(rec, 6) AS DECIMAL(18,6))) AS sr,
      |  SUM(CAST(round(f1, 6) AS DECIMAL(18,6))) AS sf FROM k2)
      |SELECT n_classes, CAST(ok AS DOUBLE) / CAST(n AS DOUBLE) AS accuracy,
      |  CAST(CAST(sp AS VARCHAR) AS DOUBLE) / CAST(n_classes AS DOUBLE) AS macro_p,
      |  CAST(CAST(sr AS VARCHAR) AS DOUBLE) / CAST(n_classes AS DOUBLE) AS macro_r,
      |  CAST(CAST(sf AS VARCHAR) AS DOUBLE) / CAST(n_classes AS DOUBLE) AS macro_f1
      |FROM f""".stripMargin)

  gate("q_srm", (s, d) => {
    // Sample-ratio-mismatch: chi-square GOF of user_id%3 arm counts
    // against equal shares, k*sum(o^2)/n - n closed form.
    graft.pipeline.Profile.sampleRatioCheck(Tables.events(s, d),
      pmod(col("user_id"), lit(3L)))
  }, oracle =
    // SRM: k*sum(o^2)/n - n closed form + critical-value lookup.
    """WITH a AS (SELECT user_id % 3 AS arm FROM events),
      |c AS (SELECT arm, count(*) AS c FROM a GROUP BY arm),
      |f AS (SELECT CAST(SUM(c) AS BIGINT) AS n, count(*) AS k,
      |  CAST(CAST(SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS ss FROM c)
      |SELECT n, k,
      |  round(CAST(k AS DOUBLE) * ss / CAST(n AS DOUBLE) - CAST(n AS DOUBLE), 6) AS chi2,
      |  round(CAST(k AS DOUBLE) * ss / CAST(n AS DOUBLE) - CAST(n AS DOUBLE), 6) >
      |    (CASE k - 1 WHEN 1 THEN 3.841 WHEN 2 THEN 5.991 WHEN 3 THEN 7.815
      |      WHEN 4 THEN 9.488 WHEN 5 THEN 11.070 END) AS srm_alarm
      |FROM f""".stripMargin)

  gate("q_lorenz", (s, d) => {
    // Lorenz decile coordinates of customer revenue — the curve behind
    // q_gini, via the distributed rank + equal-count bins.
    Relational.sort(col("bin"))(
      graft.pipeline.Profile.lorenzPoints(
        Tables.orders(s, d).select(col("o_custkey"), col("o_totalprice")),
        "o_custkey", "o_totalprice", points = 10))
  }, oracle =
    // Lorenz deciles: distributed ranks, exact decimal cumulative sums.
    """WITH per AS (SELECT o_custkey AS k,
      |  SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS v FROM orders GROUP BY 1),
      |pv AS (SELECT v, count(*) AS c FROM per GROUP BY v),
      |offs AS (SELECT v, CAST(COALESCE(SUM(c) OVER (ORDER BY v ASC
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off FROM pv),
      |tot AS (SELECT count(*) AS n, CAST(SUM(v) AS DECIMAL(28,2)) AS tv FROM per),
      |rk AS (SELECT per.k, per.v,
      |  offs.off + ROW_NUMBER() OVER (PARTITION BY per.v ORDER BY per.k) AS r
      |  FROM per JOIN offs ON per.v = offs.v),
      |b AS (SELECT ((r - 1) * 10) // tot.n AS bin, v FROM rk CROSS JOIN tot),
      |pb AS (SELECT bin, count(*) AS bc, CAST(SUM(v) AS DECIMAL(28,2)) AS bv
      |  FROM b GROUP BY bin),
      |cm AS (SELECT *, CAST(SUM(bc) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ce,
      |  CAST(SUM(bv) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS DECIMAL(28,2)) AS cv FROM pb)
      |SELECT CAST(bin AS BIGINT) AS bin, ce AS cum_entities,
      |  CAST(CAST(cv AS VARCHAR) AS DOUBLE) AS cum_value,
      |  CAST(ce AS DOUBLE) / CAST(tot.n AS DOUBLE) AS entity_share,
      |  CAST(CAST(cv AS VARCHAR) AS DOUBLE) / CAST(CAST(tot.tv AS VARCHAR) AS DOUBLE) AS value_share
      |FROM cm CROSS JOIN tot ORDER BY bin""".stripMargin)

  gate("q_cohort_ltv", (s, d) => {
    // Weekly cohort LTV curves: exact decimal period + cumulative
    // revenue, per-user division at the edge.
    Relational.sort(col("cohort"), col("offset"))(
      graft.pipeline.Events.cohortValueCurves(Tables.events(s, d),
        "user_id", "ts", "value", unit = "week"))
  }, oracle =
    // Cohort LTV: exact decimal period + cumulative revenue per cohort.
    """WITH ev AS (SELECT user_id AS u, date_trunc('week', ts) AS w,
      |  CAST(value AS DECIMAL(18,6)) AS v FROM events),
      |fs AS (SELECT u, MIN(w) AS c FROM ev GROUP BY u),
      |sz AS (SELECT c AS cohort, count(*) AS cohort_size FROM fs GROUP BY c),
      |cells AS (SELECT fs.c AS cohort,
      |  CAST(floor(datediff('day', fs.c, ev.w) / 7) AS BIGINT) AS "offset",
      |  CAST(count(DISTINCT ev.u) AS BIGINT) AS users,
      |  CAST(SUM(ev.v) AS DECIMAL(28,6)) AS pv
      |  FROM ev JOIN fs ON ev.u = fs.u GROUP BY 1, 2),
      |cum AS (SELECT cells.*, sz.cohort_size,
      |  CAST(SUM(pv) OVER (PARTITION BY cells.cohort ORDER BY "offset"
      |    ROWS UNBOUNDED PRECEDING) AS DECIMAL(28,6)) AS cv
      |  FROM cells JOIN sz ON cells.cohort = sz.cohort)
      |SELECT cohort, "offset", users, cohort_size,
      |  CAST(CAST(pv AS VARCHAR) AS DOUBLE) AS period_value,
      |  CAST(CAST(cv AS VARCHAR) AS DOUBLE) AS cum_value,
      |  CAST(CAST(cv AS VARCHAR) AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS cum_value_per_user
      |FROM cum ORDER BY cohort, "offset"""".stripMargin)

  gate("q_char_entropy", (s, d) => {
    // Character-entropy bits/char per language — the codec-free
    // compression proxy; 6-dp decimal-summed -p*log2(p) terms.
    Relational.sort(col("lang"))(
      graft.pipeline.TextAnalysis.charEntropyProfile(
        Tables.documents(s, d), "text", "lang"))
  }, oracle =
    // Char entropy: per-(lang, char) cells, 6-dp decimal entropy terms.
    """WITH ch AS (SELECT lang, unnest(string_split(text, '')) AS c FROM documents),
      |cells AS (SELECT lang, c, count(*) AS n FROM ch WHERE c <> '' GROUP BY 1, 2),
      |t AS (SELECT lang, n,
      |  CAST(round(-(CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE)) *
      |    log2(CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS term
      |  FROM cells)
      |SELECT lang, CAST(SUM(n) AS BIGINT) AS n_chars,
      |  count(*) AS n_distinct_chars,
      |  CAST(CAST(SUM(term) AS VARCHAR) AS DOUBLE) AS bits_per_char
      |FROM t GROUP BY lang ORDER BY lang""".stripMargin)
}
