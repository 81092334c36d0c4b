package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Aggregates, Relational}
import graft.pipeline.Checkpoints.DatasetCheckpointOps
import graft.operators.Aggregates._
import graft.pipeline.{Dedup, Dsir, Profile, Sampling, Scoring, Similarity}

import GateHelpers.{B1, B2, B3, BpeNumMerges, MinhashAllPairsOracle, asDouble, bpeTrainCtes,
  bpeTrainOracle, cleanupAtExit, dec, minLabelClustersSql}

/** Lookup, aggregate-alias, enum, policy and streaming-batch gates (the
  * SURVEY §2 tail), then the gates appended after that section:
  * statistics, graph, tokenizer-training and corpus gates. */
object LookupGates extends GateGroup {

  /** Shared pair CTEs of q_setsim_join / q_setsim_clusters: exact
    * distinct-token-set Jaccard ≥ 0.95 via the τ = 0.95 set-logic
    * identity (J ≥ 0.95 forces |A∆B| ≤ 1 at these set sizes): `ident`
    * are equal-set pairs, `sub1` single-deletion containments for sets
    * ≥ 20 tokens, `guard` poison rows if any doc exceeds 37 distinct
    * tokens (where the identity would need |A∆B| = 2 — a break fails the
    * compare loudly). Θ(docs × setSize + output), not Θ(docs²). */
  private val SetsimPairsCte: String =
    """t AS (SELECT doc_id, list_sort(list_distinct(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS tk
      |  FROM documents WHERE len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) > 0),
      |ident AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, 1.0 AS jac
      |  FROM t a JOIN t b ON a.tk = b.tk AND a.doc_id < b.doc_id),
      |del1 AS (
      |  SELECT b.doc_id AS bid, list_sort(list_filter(b.tk, x -> x <> d.x)) AS key, len(b.tk) AS blen
      |  FROM (SELECT doc_id, tk FROM t) b, unnest(b.tk) AS d(x)
      |  WHERE len(b.tk) >= 20),
      |sub1 AS (
      |  SELECT least(a.doc_id, d.bid) AS id1, greatest(a.doc_id, d.bid) AS id2,
      |    CAST(len(a.tk) AS DOUBLE) / d.blen AS jac
      |  FROM del1 d JOIN t a ON a.tk = d.key AND a.doc_id <> d.bid
      |  WHERE CAST(len(a.tk) AS DOUBLE) / d.blen >= 0.95),
      |guard AS (
      |  SELECT CAST(-1 AS BIGINT) AS id1, CAST(-2 AS BIGINT) AS id2, -CAST(count(*) AS DOUBLE) AS jac
      |  FROM t WHERE len(tk) > 37 HAVING count(*) > 0),
      |sp AS MATERIALIZED (SELECT * FROM ident UNION ALL SELECT * FROM sub1 UNION ALL SELECT * FROM guard)""".stripMargin

  /** q_unigram_train oracle: full unrolled replay of `rounds` Viterbi-EM
    * rounds. Per round, a recursive CTE ENUMERATES every segmentation of
    * every distinct word (pieces <= 4 chars; tractable because words are
    * short) and ranks by the exact integer objective —
    * (cost = pieces * 2^52 - score mass, then reversed piece-length list)
    * — which equals the engine's DP + backward-smallest-k walk. Usage
    * counts become the next round's scores; unused single chars persist
    * at score 0 (coverage). Multi-referenced CTEs are MATERIALIZED (the
    * DuckDB unrolled-round requirement). */
  private def unigramTrainOracleSql(rounds: Int): String = {
    val Big = graft.functions.UnigramViterbi.Big
    val head = """words AS MATERIALIZED (
      |  SELECT w AS word, count(*) AS cnt FROM (
      |    SELECT unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS w
      |    FROM documents) GROUP BY 1),
      |ml AS MATERIALIZED (SELECT CAST(max(length(word)) AS INT) AS m FROM words),
      |chars AS MATERIALIZED (
      |  SELECT DISTINCT substr(word, i, 1) AS piece FROM words,
      |    (SELECT unnest(generate_series(1, (SELECT m FROM ml))) AS i) t WHERE i <= length(word)),
      |occ AS MATERIALIZED (
      |  SELECT substr(word, j + 1, k) AS piece, cnt FROM words,
      |    (SELECT unnest(generate_series(0, (SELECT m FROM ml) - 1)) AS j) tj,
      |    (SELECT unnest(generate_series(1, 4)) AS k) tk
      |  WHERE j + k <= length(word)),
      |p0 AS MATERIALIZED (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS score FROM occ GROUP BY 1)""".stripMargin
    val roundCtes = (0 until rounds).map { r =>
      s"""seg$r AS (
         |  SELECT word, cnt, 0 AS pos, []::VARCHAR[] AS pcs, []::INTEGER[] AS lens, CAST(0 AS BIGINT) AS cost
         |  FROM words
         |  UNION ALL
         |  SELECT s.word, s.cnt, s.pos + kk.k, list_append(s.pcs, substr(s.word, s.pos + 1, kk.k)),
         |    list_append(s.lens, kk.k), s.cost + $Big - p.score
         |  FROM seg$r s, (SELECT unnest(generate_series(1, 4)) AS k) kk, p$r p
         |  WHERE s.pos + kk.k <= length(s.word) AND p.piece = substr(s.word, s.pos + 1, kk.k)
         |),
         |best$r AS MATERIALIZED (
         |  SELECT word, cnt, pcs FROM (
         |    SELECT *, row_number() OVER (PARTITION BY word ORDER BY cost, list_reverse(lens)) AS rn
         |    FROM seg$r WHERE pos = length(word)) WHERE rn = 1),
         |u${r + 1} AS MATERIALIZED (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS score FROM
         |  (SELECT unnest(pcs) AS piece, cnt FROM best$r) GROUP BY 1),
         |p${r + 1} AS MATERIALIZED (SELECT * FROM u${r + 1}
         |  UNION ALL SELECT c.piece, CAST(0 AS BIGINT) FROM chars c
         |  WHERE c.piece NOT IN (SELECT piece FROM u${r + 1}))""".stripMargin
    }
    (s"WITH RECURSIVE $head,\n" + roundCtes.mkString(",\n") +
      s"\nSELECT piece, score FROM p$rounds ORDER BY piece")
  }

  gate("q_lookup", (s, d) => {
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey").as("p_partkey"), dec(col("l_quantity")).as("qty"))
    val idx = Tables.part(s, d).select(col("p_partkey"), col("p_brand"))
    Relational.sort(col("p_brand"))(
      asDouble("sum_qty")(Aggregates.groupAggregate(Seq("p_brand"), Seq(
        Agg(COUNT, None, "n_items"),
        Agg(SUM, Some("qty"), "sum_qty")))(
        Relational.lookup(li, idx, Seq("p_partkey")))))
  }, oracle =
    """SELECT p_brand, COUNT(*) AS n_items,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin)

  gate("q_best_effort_agg", (s, d) => {
    val li = Tables.lineitem(s, d).withColumn("price_dec", dec(col("l_extendedprice")))
    Relational.sort(col("l_linestatus"))(
      asDouble("sum_price")(Aggregates.bestEffortGroupAggregate(Seq("l_linestatus"), Seq(
        Agg(SUM, Some("price_dec"), "sum_price"),
        Agg(COUNT, None, "n")))(li)))
  }, oracle =
    """SELECT l_linestatus,
      |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |COUNT(*) AS n FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)

  gate("q_agg_clusters", (s, d) => {
    // AggregateClusters contract: input clustered by the key (sorted).
    val li = Tables.lineitem(s, d).orderBy("l_returnflag")
    Relational.sort(col("l_returnflag"))(
      Aggregates.aggregateClusters(Seq("l_returnflag"), Seq(
        Agg(MIN, Some("l_quantity"), "mn"),
        Agg(MAX, Some("l_quantity"), "mx"),
        Agg(COUNT, None, "n")))(li))
  }, oracle =
    """SELECT l_returnflag, MIN(l_quantity) AS mn, MAX(l_quantity) AS mx, COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  gate("q_sessionize", (s, d) => {
    graft.streaming.Streams.sessionizeBatch(Tables.events(s, d), gapMs = 30 * 60 * 1000)
      .orderBy("user_id", "start_ms")
  }, oracle =
    """WITH t AS (SELECT user_id, event_id, ts,
      |CAST(round(value * 100, 0) AS BIGINT) AS v FROM events),
      |s AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
      |OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000 THEN 1 ELSE 0 END AS brk
      |FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM s)
      |SELECT user_id, MIN(epoch_ms(ts)) AS start_ms, MAX(epoch_ms(ts)) AS end_ms,
      |COUNT(*) AS n_events, CAST(SUM(v) AS BIGINT) AS value_cents
      |FROM g GROUP BY user_id, sess ORDER BY user_id, start_ms""".stripMargin)

  gate("q_stream_sessionize", (s, d) => {
    // TRUE streaming run of the STATEFUL path — flatMapGroupsWithState
    // with event-time timeouts — under the same oracle as the batch face:
    // the sentinel-advanced watermark times out every real session, which
    // is emitted exactly once into the checkpointed parquet sink (the
    // sentinel user's own open session can never time out and stays
    // absent). Complements q_stream_window, which gates the built-in
    // windowed-aggregation state; this gates CUSTOM state + timeouts.
    val work = cleanupAtExit(s"${System.getProperty("java.io.tmpdir")}/graft_stream_sess_${ProcessHandle.current().pid()}")
    graft.streaming.Streams.sessionizeStreamGate(s, d, work, gapMs = 30 * 60 * 1000)
      .orderBy("user_id", "start_ms")
  }, oracle =
    // The stateful streaming face must emit EXACTLY the batch sessions —
    // same oracle text as q_sessionize.
    """WITH t AS (SELECT user_id, event_id, ts,
      |CAST(round(value * 100, 0) AS BIGINT) AS v FROM events),
      |s AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
      |OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000 THEN 1 ELSE 0 END AS brk
      |FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM s)
      |SELECT user_id, MIN(epoch_ms(ts)) AS start_ms, MAX(epoch_ms(ts)) AS end_ms,
      |COUNT(*) AS n_events, CAST(SUM(v) AS BIGINT) AS value_cents
      |FROM g GROUP BY user_id, sess ORDER BY user_id, start_ms""".stripMargin)

  gate("q_stream_dedup", (s, d) => {
    // TRUE streaming run of the stateful dedup operator
    // (dropDuplicatesWithinWatermark) under the sentinel harness: emits
    // exactly one row per distinct key into the checkpointed sink, and
    // the checkpoint-resumed second run must NOT re-emit seen keys (a
    // re-emission becomes a duplicate row and hash-mismatches the
    // SELECT DISTINCT oracle). The sentinel row is the one arrival the
    // harness itself injects — filtered here by its -1 user_id.
    val work = cleanupAtExit(s"${System.getProperty("java.io.tmpdir")}/graft_stream_dedup_${ProcessHandle.current().pid()}")
    graft.streaming.Streams.dedupStreamGate(s, d, work)
      .where(col("user_id") =!= -1)
      .orderBy("user_id", "event_type")
  }, oracle =
    // Streaming stateful dedup: key-projected rows make every duplicate
    // identical and the un-evictable watermark horizon makes the emitted
    // set exactly the distinct keys — any checkpoint-resume re-emission
    // would duplicate a row and break the hash.
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin)

  gate("q_stream_neardedup", (s, d) => {
    // TRUE streaming MinHash near-dedup: documents arrive as a file
    // stream in TWO phases split by doc_id parity with a checkpoint
    // restart between them, per-bucket flatMapGroupsWithState emits
    // candidate pairs as later docs land on earlier ones' LSH buckets,
    // and the committed candidates are verified batch-side by exact
    // shingle Jaccard (the two-tier production shape — id-only streaming
    // state, heavy verify in batch). Banding is recall-complete at the
    // threshold (48/24 @ 0.7 — the q_dedup_minhash argument), so the
    // result set equals the all-pairs threshold join and the SAME DuckDB
    // oracle gates the streaming path; cross-half pairs hash green only
    // if bucket state survived the restart.
    val work = cleanupAtExit(s"${System.getProperty("java.io.tmpdir")}/graft_stream_neardedup_${ProcessHandle.current().pid()}")
    graft.streaming.Streams.nearDedupStreamGate(s, d, work,
      threshold = 0.7, numHashes = 48, bands = 24, shingleLen = 3)
      .orderBy("id1", "id2")
  }, oracle =
    // Streaming two-phase MinHash near-dedup commits the SAME verified
    // pair set (recall-complete banding makes LSH ≡ all-pairs at the
    // threshold), so the identical oracle gates the streaming path.
    MinhashAllPairsOracle)

  gate("q_stream_static_filter", (s, d) => {
    // TRUE streaming run of the stream-static anti-join — incremental
    // dedup against history / blocklist filtering, the shape a
    // training-data pipeline runs daily. Two-phase harness: the
    // blocklist is UPDATED between the first run and the
    // checkpoint-resumed second run, and the oracle's phase split only
    // hashes green if phase-2 rows were filtered by the REFRESHED static
    // side (and already-committed phase-1 rows were not retroactively
    // touched). The sentinel row is the harness's own arrival — filtered
    // here by its -1 user_id, like q_stream_dedup.
    val work = cleanupAtExit(s"${System.getProperty("java.io.tmpdir")}/graft_stream_static_${ProcessHandle.current().pid()}")
    graft.streaming.Streams.staticFilterStreamGate(s, d, work)
      .where(col("user_id") =!= -1)
      .orderBy("user_id", "event_id")
  }, oracle =
    // Stream-static anti-join with a mid-stream blocklist refresh: the
    // committed sink = phase-1 rows (even event_id) filtered by V1
    // (user_id%10=0) plus phase-2 rows (odd event_id) filtered by V2
    // (user_id%10 in 0,1) — a stale static side on resume would leak
    // user_id%10=1 phase-2 rows and break this predicate.
    """SELECT event_id, user_id, event_type FROM events
      |WHERE (event_id % 2 = 0 AND user_id % 10 <> 0)
      |   OR (event_id % 2 = 1 AND user_id % 10 NOT IN (0, 1))
      |ORDER BY user_id, event_id""".stripMargin)

  gate("q_stream_join", (s, d) => {
    // TRUE stream-stream interval self-join under the sentinel harness:
    // purchases correlated with same-user clicks in the prior 12 hours,
    // per-side watermarks bounding the join state. The oracle replays the
    // exact interval join — at MICROSECOND precision, because the events
    // table's raw nanosecond timestamps are not µs-aligned and Spark's
    // TimestampType truncates to µs; the DuckDB side mirrors that with
    // epoch_ns // 1000 arithmetic.
    val work = cleanupAtExit(s"${System.getProperty("java.io.tmpdir")}/graft_stream_join_${ProcessHandle.current().pid()}")
    graft.streaming.Streams.correlateStreamGate(s, d, work)
      .orderBy("user_id", "purchase_id", "click_id")
  }, oracle =
    // Stream-stream interval join, replayed at µs precision (Spark
    // TimestampType truncates the ns-precision raw values; 12 h =
    // 43_200_000_000 µs).
    """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
      |FROM events p JOIN events c ON p.user_id = c.user_id
      |  AND epoch_ns(c.ts) // 1000 >= epoch_ns(p.ts) // 1000 - 43200000000
      |  AND epoch_ns(c.ts) // 1000 <= epoch_ns(p.ts) // 1000
      |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      |ORDER BY p.user_id, purchase_id, click_id""".stripMargin)

  gate("q_stream_outer_join", (s, d) => {
    // TRUE stream-stream LEFT OUTER interval join: like q_stream_join
    // plus the null-padded purchases the watermark released — the
    // outer-specific machinery (min-of-both-watermarks eviction,
    // sentinel routed through BOTH sides) is what's under test.
    val work = cleanupAtExit(s"${System.getProperty("java.io.tmpdir")}/graft_stream_outer_${ProcessHandle.current().pid()}")
    graft.streaming.Streams.outerCorrelateStreamGate(s, d, work)
      .orderBy("user_id", "purchase_id", "click_id")
  }, oracle =
    // The LEFT OUTER face: same interval join plus null-padded purchases
    // with no qualifying click — the watermark-released rows.
    """WITH p AS (SELECT user_id, event_id AS purchase_id,
      |    epoch_ns(ts) // 1000 AS pus FROM events
      |  WHERE event_type = 'purchase'),
      |c AS (SELECT user_id AS cuid, event_id AS click_id,
      |    epoch_ns(ts) // 1000 AS cus FROM events
      |  WHERE event_type = 'click')
      |SELECT p.user_id, p.purchase_id, c.click_id
      |FROM p LEFT JOIN c ON p.user_id = c.cuid
      |  AND c.cus >= p.pus - 43200000000 AND c.cus <= p.pus
      |ORDER BY user_id, purchase_id, click_id""".stripMargin)

  gate("q_sliding_window", (s, d) => {
    graft.streaming.Streams.slidingStats(Tables.events(s, d), "1 hour", "15 minutes")
      .withColumn("window_start", date_format(graft.functions.Exprs.civilFromMicros(
        unix_micros(col("window_start"))), "yyyy-MM-dd HH:mm:ss"))
      .orderBy("window_start", "event_type")
  }, oracle =
    """SELECT strftime(time_bucket(INTERVAL '15 minutes', ts)
      |  - to_minutes(CAST(15 * i.i AS BIGINT)), '%Y-%m-%d %H:%M:%S') AS window_start,
      |event_type, COUNT(*) AS n_events
      |FROM events CROSS JOIN (SELECT unnest(range(4)) AS i) i
      |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)

  gate("q_stream_sliding", (s, d) => {
    // EIGHTH true streaming gate: OVERLAPPING windows — four live
    // window states per (type, event) that the sentinel-advanced
    // watermark must all release; checkpoint-resumed, committed files
    // read back, gated on the batch sliding oracle.
    val work = cleanupAtExit(s"${System.getProperty("java.io.tmpdir")}/graft_stream_sliding_${ProcessHandle.current().pid()}")
    graft.streaming.Streams.slidingStreamGate(s, d, work)
      .withColumn("window_start", date_format(graft.functions.Exprs.civilFromMicros(
        unix_micros(col("window_start"))), "yyyy-MM-dd HH:mm:ss"))
      .orderBy("window_start", "event_type")
  }, oracle =
    // TRUE streaming run of the sliding windows — same batch oracle.
    """SELECT strftime(time_bucket(INTERVAL '15 minutes', ts)
      |  - to_minutes(CAST(15 * i.i AS BIGINT)), '%Y-%m-%d %H:%M:%S') AS window_start,
      |event_type, COUNT(*) AS n_events
      |FROM events CROSS JOIN (SELECT unnest(range(4)) AS i) i
      |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)

  gate("q_enum", (s, d) => {
    val e = graft.types.GraftTypes.EnumDefinition(Seq(
      1 -> "1-URGENT", 2 -> "2-HIGH", 3 -> "3-MEDIUM",
      4 -> "4-NOT SPECIFIED", 5 -> "5-LOW"))
    Tables.orders(s, d).select(col("o_orderkey"),
      e.encode(col("o_orderpriority")).as("prio_code"),
      e.decode(e.encode(col("o_orderpriority"))).as("prio_name"),
      e.decode(lit(99)).as("undefined_code")
    ).orderBy("o_orderkey")
  }, oracle =
    """SELECT o_orderkey,
      |CASE o_orderpriority WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
      |WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 4 WHEN '5-LOW' THEN 5 END AS prio_code,
      |o_orderpriority AS prio_name,
      |CAST(NULL AS VARCHAR) AS undefined_code
      |FROM orders ORDER BY o_orderkey""".stripMargin)

  gate("q_enum_storage", (s, d) => {
    // The storage-side win the reference's ENUM columns exist for
    // (tuple_schema.h:42-74 — int32 codes on disk + a dictionary in the
    // schema): the priority column is written as int codes next to a
    // 5-row dictionary parquet, read BACK, and decoded by a broadcast
    // dictionary join — no in-memory EnumDefinition on the read path.
    // The footprint claim is MEASURED, not asserted: the int-code
    // column's total compressed column-chunk bytes (from the parquet
    // footers) must be strictly smaller than the string column's in an
    // otherwise-identical write. The oracle replays encode+decode from
    // the raw strings, so a lossy storage round trip hash-mismatches.
    val e = graft.types.GraftTypes.EnumDefinition(Seq(
      1 -> "1-URGENT", 2 -> "2-HIGH", 3 -> "3-MEDIUM",
      4 -> "4-NOT SPECIFIED", 5 -> "5-LOW"))
    val base = cleanupAtExit(s"${System.getProperty("java.io.tmpdir")}/graft_enum_${ProcessHandle.current().pid()}")
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
    val codedDf = o.select(col("o_orderkey"),
      e.encode(col("o_orderpriority")).as("prio_code"))
    Relational.fileOutput(codedDf, s"$base/coded")
    import s.implicits._
    Relational.fileOutput(e.entries.toDF("code", "name"), s"$base/dict")
    Relational.fileOutput(o, s"$base/strings")
    val codedBytes = Relational.parquetColumnBytes(s, s"$base/coded", "prio_code")
    val stringBytes = Relational.parquetColumnBytes(s, s"$base/strings", "o_orderpriority")
    require(codedBytes > 0 && codedBytes < stringBytes,
      s"enum int-code storage must beat strings on disk: $codedBytes vs $stringBytes bytes")
    // The other storage win: the int code is a natural PARTITION key (5
    // directories), so an enum predicate prunes 4/5 of the data before
    // any IO — written via the size-targeted partitioned writer and
    // require()d on the scan's PartitionFilters plus the pruned count.
    Relational.fileOutputPartitioned(codedDf, s"$base/coded_parts",
      Seq("prio_code"), targetRowsPerFile = 100000L)
    val pruned = Relational.scanParquet(s, s"$base/coded_parts")
      .where(col("prio_code") === 1)
    require(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters: [isnotnull(prio_code"),
      "enum-partitioned scan must prune on the code partition column")
    require(pruned.count() == codedDf.where(col("prio_code") === 1).count(),
      "partition-pruned read must return exactly the code-1 rows")
    val coded = Relational.scanParquet(s, s"$base/coded")
    val dict = Relational.scanParquet(s, s"$base/dict")
    coded.join(broadcast(dict), col("prio_code") === col("code"), "left")
      .select(col("o_orderkey"), col("prio_code"), col("name").as("prio_name"))
      .orderBy("o_orderkey")
  }, oracle =
    """SELECT o_orderkey,
      |CASE o_orderpriority WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
      |WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 4 WHEN '5-LOW' THEN 5 END AS prio_code,
      |o_orderpriority AS prio_name
      |FROM orders ORDER BY o_orderkey""".stripMargin)

  gate("q_expr_policy", (s, d) => {
    import graft.functions.{Exprs => EP}
    import org.apache.spark.sql.types.{IntegerType, LongType}
    Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
      EP.divideNulling(col("l_quantity"), col("l_linenumber") - col("l_linenumber")).as("p_nulling"),
      EP.divide(col("l_quantity"), lit(2)).as("p_quiet"),
      EP.divideSignaling(col("l_quantity"), lit(2)).as("p_signal"),
      EP.cppDivide(col("l_quantity"), lit(3)).as("p_cppdiv"),
      EP.cppDivideNulling(col("l_quantity"), col("l_linenumber") - col("l_linenumber")).as("p_cppdiv0"),
      round(EP.log10Nulling(col("l_quantity") - 30), 6).as("p_log10n"),
      round(EP.log2Signaling(col("l_quantity")), 6).as("p_log2s"),
      EP.powNulling(EP.negate(col("l_quantity")), lit(0.5)).as("p_pow_null"),
      EP.powSignaling(col("l_quantity"), lit(2.0)).as("p_pow_sig"),
      EP.formatSignaling(col("l_quantity"), lit(2)).as("p_fmt_sig"),
      EP.parseStringQuiet(IntegerType)(
        concat(col("l_orderkey").cast("string"), lit("pc"))).as("p_parse_q"),
      EP.castSignaling(LongType)(col("l_linenumber").cast("string")).as("p_cast_sig")
    ).orderBy("l_orderkey", "l_linenumber")
  }, oracle =
    """SELECT l_orderkey, l_linenumber,
      |CAST(NULL AS DOUBLE) AS p_nulling,
      |CAST(l_quantity AS DOUBLE) / 2 AS p_quiet,
      |CAST(l_quantity AS DOUBLE) / 2 AS p_signal,
      |CAST(trunc(l_quantity / 3.0) AS BIGINT) AS p_cppdiv,
      |CAST(NULL AS BIGINT) AS p_cppdiv0,
      |CASE WHEN l_quantity - 30 <= 0 THEN NULL
      |  ELSE round(log10(l_quantity - 30), 6) END AS p_log10n,
      |round(log2(l_quantity), 6) AS p_log2s,
      |CAST(NULL AS DOUBLE) AS p_pow_null,
      |pow(l_quantity, 2.0) AS p_pow_sig,
      |printf('%.2f', CAST(l_quantity AS DOUBLE)) AS p_fmt_sig,
      |CAST(l_orderkey AS INT) AS p_parse_q,
      |CAST(l_linenumber AS BIGINT) AS p_cast_sig
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)

  gate("q_asof_join", (s, d) => {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("value").as("sv"))
    Relational.asOfJoin(clicks, signups, Seq("user_id"), "ts", "ts", Seq("sv"))
      .select(col("user_id"), col("event_id"), col("sv"))
      .orderBy("user_id", "event_id")
  }, oracle =
    """SELECT c.user_id, c.event_id, s.sv
      |FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
      |      WHERE event_type = 'click') c
      |ASOF LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value AS sv
      |      FROM events WHERE event_type = 'signup') s
      |ON c.user_id = s.user_id AND c.ts >= s.ts
      |ORDER BY c.user_id, c.event_id""".stripMargin)

  gate("q_spec_roundtrip", (s, d) => {
    // §3.3 serialization gate (reference ships proto-serialized sample/
    // aggregation/sort specs across process boundaries,
    // serialization/build_expression_from_proto.h:31-33): every spec kind
    // QuerySpecs serializes is written to its JSON wire form, read BACK
    // from that JSON, structurally compared to the original (lossless
    // round-trip is a hard require, not just "runs"), and the pipeline the
    // driver gates is built ONLY from the deserialized copies — a field
    // dropped or re-typed anywhere in the wire format changes the output
    // and hash-mismatches the DuckDB oracle.
    import graft.plans.QuerySpecs
    import graft.plans.QuerySpecs._
    import graft.plans.QuerySpecs.ExprSpec._
    val sampleSpec = SampleSpec("bernoulli",
      List("l_orderkey", "l_linenumber"), rate = Some(0.01))
    // Expression-tree wire form (col/lit/comparison/and/or/not/isnull):
    // keep sampled rows with l_quantity >= 2 whose returnflag is neither
    // 'X' nor NULL — exercises every boolean connective in one predicate.
    val filterSpec = FilterSpec(
      and(ge(colRef("l_quantity"), literal("2", "INT")),
        not(or(ExprSpec.eq(colRef("l_returnflag"), literal("X", "STRING")),
          isNull(colRef("l_returnflag"))))))
    // Projection wire form: pass-throughs, a RENAME (qty_for_min feeds
    // MIN below — dropping the rename in the wire format breaks the
    // build), a COMPUTED column (ln2 = l_linenumber * 2 feeds the
    // DISTINCT sum — a mis-rebuilt arithmetic node changes the hash),
    // plus one field per remaining operator family of the reference's
    // expression enum (operators.proto:17-182): div (double division —
    // IEEE-exact, MIN'd so order cannot matter), mod, string
    // concat/substr/lower, and CASE over an IN — every one rebuilt from
    // the wire form and hash-gated through an aggregate.
    val projectSpec = ProjectSpec(List(
      ProjectField(colRef("l_returnflag")),
      ProjectField(colRef("l_quantity")),
      ProjectField(colRef("l_quantity"), as = Some("qty_for_min")),
      ProjectField(colRef("l_linestatus")),
      ProjectField(colRef("qty_dec")),
      ProjectField(colRef("ok_ln")),
      ProjectField(mul(colRef("l_linenumber"), literal("2", "INT")),
        as = Some("ln2")),
      ProjectField(ExprSpec.div(colRef("l_quantity"), literal("4.0", "DOUBLE")),
        as = Some("qty_div")),
      ProjectField(ExprSpec.mod(colRef("l_linenumber"), literal("3", "INT")),
        as = Some("ln_mod")),
      ProjectField(ExprSpec.concat(
        ExprSpec.lower(colRef("l_returnflag")), literal("_", "STRING"),
        ExprSpec.substr(colRef("l_linestatus"), literal("1", "INT"),
          literal("1", "INT"))), as = Some("tag")),
      ProjectField(caseWhen(
        Seq(ExprSpec.in(colRef("l_returnflag"),
          literal("A", "STRING"), literal("R", "STRING")) ->
          literal("ret", "STRING")),
        otherwise = Some(literal("keep", "STRING"))), as = Some("flag_class"))))
    val aggSpec = AggSpec(List("l_returnflag"), List(
      AggFieldSpec("COUNT", None, "n"),
      AggFieldSpec("SUM", Some("qty_dec"), "sum_qty"),
      AggFieldSpec("MIN", Some("qty_for_min"), "min_qty"),
      AggFieldSpec("SUM", Some("ln2"), "sum_ln", distinct = true,
        outType = Some("BIGINT")),
      AggFieldSpec("CONCAT", Some("l_linestatus"), "statuses",
        orderBy = Some(SortKeySpec("ok_ln"))),
      AggFieldSpec("MIN", Some("qty_div"), "min_qdiv"),
      AggFieldSpec("MAX", Some("ln_mod"), "max_lnmod"),
      AggFieldSpec("MIN", Some("tag"), "min_tag"),
      AggFieldSpec("MIN", Some("flag_class"), "flag_class")))
    val sortSpec = SortSpec(
      List(SortKeySpec("l_returnflag", caseInsensitive = true)), limit = Some(2))
    val sampleJson = QuerySpecs.writeSampleSpec(sampleSpec)
    val filterJson = QuerySpecs.writeFilterSpec(filterSpec)
    val projectJson = QuerySpecs.writeProjectSpec(projectSpec)
    val aggJson = QuerySpecs.writeAggSpec(aggSpec)
    val sortJson = QuerySpecs.writeSortSpec(sortSpec)
    val sample2 = QuerySpecs.readSampleSpec(sampleJson)
    val filter2 = QuerySpecs.readFilterSpec(filterJson)
    val project2 = QuerySpecs.readProjectSpec(projectJson)
    val agg2 = QuerySpecs.readAggSpec(aggJson)
    val sort2 = QuerySpecs.readSortSpec(sortJson)
    require(sample2 == sampleSpec && filter2 == filterSpec &&
      project2 == projectSpec && agg2 == aggSpec && sort2 == sortSpec,
      "spec JSON round-trip is lossy")
    // Second wire, same gate: the filter + projection stages ALSO round-trip
    // as protobuf ExpressionDescription bytes (ProtoWire — exact wire parity
    // with the reference's serialized expression trees,
    // serialization/build_expression_from_proto.h:31-33), and the pipeline
    // below is built from the PROTO-decoded trees, so a wire bug anywhere
    // (field number, varint, embedded-message length, alias list) changes
    // the output and hash-mismatches the DuckDB oracle.
    import graft.plans.ProtoWire
    val predProto = ProtoWire.fromExprSpec(filter2.predicate)
    val projProto = ProtoWire.fromProjectSpec(project2)
    val predDecoded = ProtoWire.decode(ProtoWire.encode(predProto))
    val projDecoded = ProtoWire.decode(ProtoWire.encode(projProto))
    require(predDecoded == predProto && projDecoded == projProto,
      "spec proto round-trip is lossy")
    val sampled = QuerySpecs.buildSample(sample2)(Tables.lineitem(s, d))
      .withColumn("qty_dec", dec(col("l_quantity")))
      // the testdata carries duplicate (orderkey, linenumber) rows, so the
      // concat order key folds the VALUE in as a tiebreak — remaining ties
      // are between identical contributions and cannot change the output
      .withColumn("ok_ln", (col("l_orderkey") * 10 + col("l_linenumber")) * 2 +
        when(col("l_linestatus") === "O", 1).otherwise(0))
    val staged = sampled.filter(ProtoWire.toColumn(predDecoded))
      .select(ProtoWire.toColumns(projDecoded): _*)
    asDouble("sum_qty")(QuerySpecs.buildSort(sort2)(QuerySpecs.buildAggregate(agg2)(staged)))
  }, oracle =
    // The sampling oracles replay the portable hash (Sampling.portableBucket)
    // in plain integer arithmetic: same keys -> same buckets -> the EXACT
    // same sample rows in both engines.
    // Spec-serialization round-trip: the Spark side builds its whole
    // pipeline from JSON-deserialized specs; the oracle replays the same
    // sample-hash + aggregate + case-insensitive top-k sort directly.
    """SELECT l_returnflag, COUNT(*) AS n,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |MIN(l_quantity) AS min_qty,
      |CAST(SUM(DISTINCT l_linenumber * 2) AS BIGINT) AS sum_ln,
      |string_agg(l_linestatus, ',' ORDER BY (l_orderkey * 10 + l_linenumber) * 2
      |  + CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS statuses,
      |MIN(l_quantity / 4.0) AS min_qdiv,
      |MAX(l_linenumber % 3) AS max_lnmod,
      |MIN(lower(l_returnflag) || '_' || substr(l_linestatus, 1, 1)) AS min_tag,
      |MIN(CASE WHEN l_returnflag IN ('A', 'R') THEN 'ret' ELSE 'keep' END)
      |  AS flag_class
      |FROM lineitem
      |WHERE ((((l_orderkey % 2147483648) * 2654435761) % 2147483648
      |      + ((l_linenumber % 2147483648) * 2246822519) % 2147483648)
      |      % 2147483648) % 1000000 < 10000
      |AND l_quantity >= 2
      |AND NOT (l_returnflag = 'X' OR l_returnflag IS NULL)
      |GROUP BY l_returnflag
      |ORDER BY lower(l_returnflag) LIMIT 2""".stripMargin)

  gate("q_histogram", (s, d) => {
    // Mass-conserving equi-width histogram: 20 bins over [900, 105000),
    // under/overflow kept in bins -1 / 20; identical floor arithmetic
    // replayed by the oracle.
    Relational.sort(col("bin"))(
      graft.pipeline.Profile.histogram(Tables.lineitem(s, d),
        "l_extendedprice", lo = 900.0, hi = 105000.0, nBins = 20))
  }, oracle =
    """SELECT CASE WHEN l_extendedprice IS NULL THEN NULL
      |  WHEN l_extendedprice < 900.0 THEN -1
      |  WHEN l_extendedprice >= 105000.0 THEN 20
      |  ELSE CAST(floor((l_extendedprice - 900.0) * 20 / (105000.0 - 900.0)) AS BIGINT)
      |END AS bin, COUNT(*) AS n
      |FROM lineitem GROUP BY 1 ORDER BY bin""".stripMargin)

  gate("q_resample", (s, d) => {
    // Daily grid per user with forward-filled decimal sums; leading gaps
    // NULL, gap days n=0. Bucket formatted to a date string so both
    // engines hash the same representation.
    val out = graft.pipeline.TimeSeries.resampleFill(
      Tables.events(s, d), "user_id", "ts", "value", unit = "day")
    Relational.sort(col("user_id"), col("day"))(
      out.select(col("user_id"),
        date_format(col("bucket"), "yyyy-MM-dd").as("day"),
        col("n"), col("filled")))
  }, oracle =
    """WITH a AS (SELECT user_id, date_trunc('day', ts) AS bucket,
      |  COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,6))) AS s
      |  FROM events GROUP BY 1, 2),
      |sp AS (SELECT user_id, min(bucket) AS mn, max(bucket) AS mx FROM a GROUP BY 1),
      |g AS (SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS bucket FROM sp),
      |j AS (SELECT g.user_id, g.bucket, a.n, a.s FROM g LEFT JOIN a USING (user_id, bucket))
      |SELECT user_id, strftime(bucket, '%Y-%m-%d') AS day, COALESCE(n, 0) AS n,
      |  CAST(last_value(s IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS filled
      |FROM j ORDER BY user_id, day""".stripMargin)

  gate("q_domain_cap", (s, d) => {
    // Per-domain cap (anti-overrepresentation): at most 30 docs per
    // language, chosen by the portable hash order so the survivor set is
    // a reproducible uniform subset the oracle re-derives exactly.
    val capped = graft.pipeline.Sampling.exactPerStratum(
      Tables.documents(s, d).select("doc_id", "lang"), "lang", n = 30,
      keyCols = Seq("doc_id"))
    Relational.sort(col("lang"), col("doc_id"))(capped)
  }, oracle =
    // portableBucket replay (same formula as the q_sample_* oracles) +
    // per-language rank cap
    """WITH k AS (SELECT doc_id, lang,
      |  ((doc_id % 2147483648) * 2654435761 % 2147483648) % 2147483648 % 1000000 AS b
      |  FROM documents),
      |r AS (SELECT doc_id, lang,
      |  row_number() OVER (PARTITION BY lang ORDER BY b, doc_id) AS rn FROM k)
      |SELECT doc_id, lang FROM r WHERE rn <= 30 ORDER BY lang, doc_id""".stripMargin)

  gate("q_validate", (s, d) => {
    // Constraint report over lineitem with three PLANTED violations (a
    // null key, an out-of-range discount + bad flag, an orphan fk + dup
    // key) so every check class exercises its counting path.
    import graft.pipeline.Checks._
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_discount", "l_returnflag")
    val bad = s.range(1).select(
      lit(null).cast("long").as("l_orderkey"), lit(1L).as("l_linenumber"),
      lit(0.5).as("l_discount"), lit("Z").as("l_returnflag"))
      .unionByName(s.range(1).select(
        lit(888888888L).as("l_orderkey"), lit(1L).as("l_linenumber"),
        lit(0.0).as("l_discount"), lit("N").as("l_returnflag")))
      .unionByName(s.range(1).select(
        lit(888888888L).as("l_orderkey"), lit(1L).as("l_linenumber"),
        lit(0.0).as("l_discount"), lit("N").as("l_returnflag")))
    val df = li.unionByName(bad)
    Relational.sort(col("check"))(graft.pipeline.Checks.validate(df, Seq(
      NotNull("l_orderkey"),
      InRange("l_discount", 0.0, 0.1),
      Accepted("l_returnflag", Seq("A", "N", "R")),
      Unique(Seq("l_orderkey", "l_linenumber")),
      RefIntegrity(Seq("l_orderkey"), Tables.orders(s, d), Seq("o_orderkey")))))
  }, oracle =
    // constraint report over lineitem + three planted bad rows
    """WITH li AS (SELECT l_orderkey, l_linenumber, l_discount, l_returnflag FROM lineitem
      |  UNION ALL SELECT NULL, 1, 0.5, 'Z'
      |  UNION ALL SELECT 888888888, 1, 0.0, 'N'
      |  UNION ALL SELECT 888888888, 1, 0.0, 'N'),
      |c AS (
      |  SELECT 'not_null(l_orderkey)' AS check, CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations FROM li
      |  UNION ALL SELECT 'in_range(l_discount, 0.0, 0.1)', CAST(SUM(CASE WHEN l_discount IS NOT NULL AND (l_discount < 0.0 OR l_discount > 0.1) THEN 1 ELSE 0 END) AS BIGINT) FROM li
      |  UNION ALL SELECT 'accepted(l_returnflag)', CAST(SUM(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) FROM li
      |  UNION ALL SELECT 'unique(l_orderkey,l_linenumber)',
      |    (SELECT CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) FROM li
      |     WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL)
      |  UNION ALL SELECT 'ref_integrity(l_orderkey)',
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM li
      |     WHERE l_orderkey IS NOT NULL
      |       AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)))
      |SELECT "check", violations, violations = 0 AS pass FROM c ORDER BY "check"""".stripMargin)

  gate("q_hierarchy", (s, d) => {
    // Parent-pointer forest: order keys plus ALL their div-10 ancestors
    // (so the forest is closed — every parent exists as a node; keys < 10
    // are roots), resolved by pointer doubling; the oracle walks the same
    // chains with a recursive CTE.
    val o = Tables.orders(s, d)
    val closure = (0 to 7).map(i =>
        o.select(expr(s"o_orderkey div ${BigInt(10).pow(i)}L").as("id")))
      .reduce(_ unionAll _).where(col("id") >= 1).distinct()
    val nodes = closure.select(col("id"),
      when(col("id") < 10, lit(null).cast("long"))
        .otherwise(expr("id div 10")).as("parent"))
    Relational.sort(col("id"))(
      graft.pipeline.Graph.treeRootDepth(nodes, "id", "parent"))
  }, oracle =
    // pointer-doubling root+depth over the div-10 ancestor closure
    """WITH RECURSIVE ids AS (
      |  SELECT DISTINCT id FROM (
      |    SELECT o_orderkey // 1 AS id FROM orders
      |    UNION ALL SELECT o_orderkey // 10 FROM orders
      |    UNION ALL SELECT o_orderkey // 100 FROM orders
      |    UNION ALL SELECT o_orderkey // 1000 FROM orders
      |    UNION ALL SELECT o_orderkey // 10000 FROM orders
      |    UNION ALL SELECT o_orderkey // 100000 FROM orders
      |    UNION ALL SELECT o_orderkey // 1000000 FROM orders
      |    UNION ALL SELECT o_orderkey // 10000000 FROM orders)
      |  WHERE id >= 1),
      |n AS (SELECT id, CASE WHEN id < 10 THEN NULL ELSE id // 10 END AS parent FROM ids),
      |r(id, root, depth) AS (
      |  SELECT id, id, 0 FROM n WHERE parent IS NULL
      |  UNION ALL
      |  SELECT n.id, r.root, r.depth + 1 FROM n JOIN r ON n.parent = r.id)
      |SELECT id, root, CAST(depth AS BIGINT) AS depth FROM r ORDER BY id""".stripMargin)

  gate("q_chisq", (s, d) => {
    // Chi-square independence of returnflag × linestatus: exact integer
    // contingency cells, per-cell contributions rounded 6 dp and summed
    // as DECIMAL (order-independent statistic).
    graft.pipeline.Profile.chiSquareIndependence(
      Tables.lineitem(s, d), "l_returnflag", "l_linestatus")
  }, oracle =
    // chi-square independence: integer cells, 6-dp-rounded decimal-summed contributions
    """WITH cells AS (SELECT l_returnflag AS a, l_linestatus AS b, count(*) AS c FROM lineitem GROUP BY 1, 2),
      |m AS (SELECT a, b, c,
      |  CAST(SUM(c) OVER (PARTITION BY a) AS DOUBLE) * CAST(SUM(c) OVER (PARTITION BY b) AS DOUBLE)
      |    / CAST(SUM(c) OVER () AS DOUBLE) AS e FROM cells),
      |t AS (SELECT a, b, c,
      |  CAST(round((CAST(c AS DOUBLE) - e) * (CAST(c AS DOUBLE) - e) / e, 6) AS DECIMAL(24,6)) AS contrib FROM m)
      |SELECT CAST(SUM(c) AS BIGINT) AS n, count(*) AS cells,
      |  (COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1) AS dof,
      |  CAST(CAST(SUM(contrib) AS VARCHAR) AS DOUBLE) AS chi2
      |FROM t""".stripMargin)

  gate("q_ttest", (s, d) => {
    // Welch t-test of order totalprice between open and fulfilled orders,
    // from exact decimal moments in ONE conditional-aggregation scan.
    graft.pipeline.Profile.welchTTest(
      Tables.orders(s, d), "o_orderstatus", "o_totalprice", "O", "F")
  }, oracle =
    // Welch t-test: exact decimal moments per arm, fixed double dag
    """WITH base AS (SELECT
      |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_a,
      |  CAST(CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS VARCHAR) AS DOUBLE) AS s_a,
      |  CAST(CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(12,2)) * CAST(o_totalprice AS DECIMAL(12,2)) END) AS VARCHAR) AS DOUBLE) AS ss_a,
      |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_b,
      |  CAST(CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS VARCHAR) AS DOUBLE) AS s_b,
      |  CAST(CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(12,2)) * CAST(o_totalprice AS DECIMAL(12,2)) END) AS VARCHAR) AS DOUBLE) AS ss_b
      |  FROM orders WHERE o_orderstatus IN ('O', 'F') AND o_totalprice IS NOT NULL),
      |mv AS (SELECT n_a, n_b,
      |  s_a / CAST(n_a AS DOUBLE) AS mean_a, s_b / CAST(n_b AS DOUBLE) AS mean_b,
      |  (ss_a - s_a * s_a / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0) AS v_a,
      |  (ss_b - s_b * s_b / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0) AS v_b FROM base),
      |se AS (SELECT n_a, n_b, mean_a, mean_b,
      |  v_a / CAST(n_a AS DOUBLE) AS se_a, v_b / CAST(n_b AS DOUBLE) AS se_b FROM mv)
      |SELECT n_a, n_b, mean_a, mean_b,
      |  (mean_a - mean_b) / sqrt(se_a + se_b) AS t_stat,
      |  ((se_a + se_b) * (se_a + se_b)) /
      |    (se_a * se_a / (CAST(n_a AS DOUBLE) - 1.0) + se_b * se_b / (CAST(n_b AS DOUBLE) - 1.0)) AS dof
      |FROM se""".stripMargin)

  gate("q_kanon", (s, d) => {
    // k-anonymity audit of customer quasi-identifiers (nation, segment)
    // at k=5: class-size fold over the equivalence-class aggregate.
    graft.pipeline.Checks.kAnonymity(
      Tables.customer(s, d), Seq("c_nationkey", "c_mktsegment"), 5L)
  }, oracle =
    // k-anonymity: class-size fold over the quasi-identifier aggregate
    """WITH c AS (SELECT c_nationkey, c_mktsegment, count(*) AS c FROM customer GROUP BY 1, 2)
      |SELECT CAST(5 AS BIGINT) AS k, CAST(SUM(c) AS BIGINT) AS n_rows, count(*) AS n_classes,
      |  CAST(SUM(CASE WHEN c < 5 THEN 1 ELSE 0 END) AS BIGINT) AS classes_below_k,
      |  CAST(SUM(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT) AS rows_below_k,
      |  MIN(c) AS min_class_size, MAX(c) AS max_class_size,
      |  SUM(CASE WHEN c < 5 THEN 1 ELSE 0 END) = 0 AS anonymous
      |FROM c""".stripMargin)

  gate("q_key_skew", (s, d) => {
    // Key-skew diagnostic over lineitem part keys: hottest-key share +
    // Shannon entropy of the key distribution (rounded-decimal sum).
    graft.pipeline.Profile.keySkewProfile(Tables.lineitem(s, d), "l_partkey")
  }, oracle =
    // key-skew profile: hottest-key share + rounded-decimal-summed entropy
    """WITH counts AS (SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
      |t AS (SELECT c,
      |  CAST(round(-(CAST(c AS DOUBLE) / CAST(SUM(c) OVER () AS DOUBLE)) *
      |    ln(CAST(c AS DOUBLE) / CAST(SUM(c) OVER () AS DOUBLE)), 6) AS DECIMAL(24,6)) AS h FROM counts)
      |SELECT CAST(SUM(c) AS BIGINT) AS n, count(*) AS n_keys, MAX(c) AS max_key_count,
      |  round(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS top_share,
      |  CAST(CAST(SUM(h) AS VARCHAR) AS DOUBLE) AS entropy
      |FROM t""".stripMargin)

  gate("q_snapshot_diff", (s, d) => {
    // Release-over-release table diff: v2 is v1 with deterministic
    // deletes (key%97=0), price edits (+1.0 at key%13=1) and inserts
    // (key%101=5 shifted past the key space); one full-outer key join,
    // unchanged rows dropped in-plan.
    val v1 = Tables.orders(s, d)
    val v2 = v1.where(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 13 === 1, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")))
      .unionByName(v1.where(col("o_orderkey") % 101 === 5)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L)))
    Relational.sort(col("o_orderkey"))(
      Relational.snapshotDiff(v1, v2, Seq("o_orderkey"),
        Seq("o_totalprice", "o_orderstatus")))
  }, oracle =
    // snapshot diff: full-outer key join of v1 vs the mutated v2
    """WITH v1 AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
      |v2 AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 13 = 1 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
      |    o_orderstatus
      |  FROM orders WHERE o_orderkey % 97 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_totalprice, o_orderstatus FROM orders WHERE o_orderkey % 101 = 5),
      |j AS (SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
      |  CASE WHEN a.o_orderkey IS NULL THEN 'added'
      |       WHEN b.o_orderkey IS NULL THEN 'removed'
      |       WHEN (a.o_totalprice IS DISTINCT FROM b.o_totalprice)
      |         OR (a.o_orderstatus IS DISTINCT FROM b.o_orderstatus) THEN 'changed'
      |       ELSE 'unchanged' END AS status
      |  FROM v1 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey)
      |SELECT o_orderkey, status FROM j WHERE status <> 'unchanged' ORDER BY o_orderkey""".stripMargin)

  gate("q_golden", (s, d) => {
    // Golden-record survivorship over exact-duplicate document clusters
    // (md5 text fingerprint): most-frequent-non-null lang/source with the
    // (count desc, value asc) tie-break, canonical id = min member.
    val docs = Tables.documents(s, d)
      .withColumn("fp", md5(col("text").cast("binary")))
    Relational.sort(col("fp"))(
      graft.pipeline.Dedup.goldenRecord(docs, "fp", "doc_id",
        Seq("lang", "source")))
  }, oracle =
    // golden record: per-cluster most-frequent-non-null with (count desc, value asc) tie-break
    """WITH d AS (SELECT doc_id, md5(text) AS fp, lang, source FROM documents),
      |base AS (SELECT fp, min(doc_id) AS canonical_id, count(*) AS n_members FROM d GROUP BY 1),
      |lc AS (SELECT fp, lang, count(*) AS c FROM d WHERE lang IS NOT NULL GROUP BY 1, 2),
      |lm AS (SELECT fp, lang AS golden_lang FROM
      |  (SELECT fp, lang, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY c DESC, lang ASC) AS r FROM lc) WHERE r = 1),
      |sc AS (SELECT fp, source, count(*) AS c FROM d WHERE source IS NOT NULL GROUP BY 1, 2),
      |sm AS (SELECT fp, source AS golden_source FROM
      |  (SELECT fp, source, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY c DESC, source ASC) AS r FROM sc) WHERE r = 1)
      |SELECT b.fp, b.canonical_id, b.n_members, lm.golden_lang, sm.golden_source
      |FROM base b LEFT JOIN lm USING (fp) LEFT JOIN sm USING (fp) ORDER BY b.fp""".stripMargin)

  gate("q_join_size", (s, d) => {
    // Exact join-cardinality statistic from per-key counts — the
    // key-explosion guard; never materializes the join itself.
    Relational.joinCardinality(Tables.lineitem(s, d), Tables.orders(s, d),
      "l_orderkey", "o_orderkey")
  }, oracle =
    // join-size statistic from per-key counts (no join materialized)
    """WITH lc AS (SELECT l_orderkey AS k, count(*) AS c FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
      |rc AS (SELECT o_orderkey AS k, count(*) AS c FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1),
      |m AS (SELECT count(*) AS matched_keys,
      |  CAST(COALESCE(SUM(lc.c * rc.c), 0) AS BIGINT) AS join_rows FROM lc JOIN rc USING (k))
      |SELECT (SELECT count(*) FROM lineitem) AS n_left,
      |  (SELECT count(*) FROM orders) AS n_right, matched_keys, join_rows FROM m""".stripMargin)

  gate("q_basket", (s, d) => {
    // Item-pair association rules over order baskets (parts per order),
    // support >= 2 baskets; ratios are fixed double dags over exact counts.
    Relational.sort(col("i1"), col("i2"))(
      graft.pipeline.Association.itemPairRules(Tables.lineitem(s, d),
        "l_orderkey", "l_partkey", minSupportCount = 2L))
  }, oracle =
    // item-pair association rules: exact counts, fixed double dags
    """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
      |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      |nb AS (SELECT count(DISTINCT b) AS n_baskets FROM items),
      |ic AS (SELECT i, count(*) AS c FROM items GROUP BY 1),
      |p AS (SELECT a.i AS i1, b.i AS i2, count(*) AS c12 FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
      |  GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT p.i1, p.i2, p.c12, c1.c AS c1, c2.c AS c2, nb.n_baskets,
      |  CAST(p.c12 AS DOUBLE) / CAST(nb.n_baskets AS DOUBLE) AS support,
      |  CAST(p.c12 AS DOUBLE) / CAST(c1.c AS DOUBLE) AS confidence,
      |  (CAST(nb.n_baskets AS DOUBLE) * CAST(p.c12 AS DOUBLE)) /
      |    (CAST(c1.c AS DOUBLE) * CAST(c2.c AS DOUBLE)) AS lift
      |FROM p JOIN ic c1 ON p.i1 = c1.i JOIN ic c2 ON p.i2 = c2.i CROSS JOIN nb
      |ORDER BY p.i1, p.i2""".stripMargin)

  gate("q_spatial_join", (s, d) => {
    // Grid-blocked radius join over synthetic integer points (portable
    // hash coords in a 4000x4000 plane, radius 64): recall-exact vs the
    // all-pairs oracle — equality PROVES the 3x3 cell blocking lost
    // nothing (q_fuzzy_join standard).
    val m = 2147483648L
    val pts = Tables.documents(s, d).select(col("doc_id").as("id"),
      (pmod(col("doc_id"), lit(m)) * lit(2654435761L) % lit(m) % lit(4000L)).as("x"),
      (pmod(col("doc_id"), lit(m)) * lit(2246822519L) % lit(m) % lit(4000L)).as("y"))
    Relational.sort(col("id_a"), col("id_b"))(
      graft.pipeline.Spatial.radiusJoinGrid(pts, "id", "x", "y", radius = 64L))
  }, oracle =
    // spatial radius join: ALL-PAIRS oracle — equality proves grid recall
    """WITH p AS (SELECT doc_id AS id,
      |  ((doc_id % 2147483648) * 2654435761 % 2147483648) % 4000 AS x,
      |  ((doc_id % 2147483648) * 2246822519 % 2147483648) % 4000 AS y FROM documents)
      |SELECT a.id AS id_a, b.id AS id_b,
      |  (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
      |FROM p a JOIN p b ON a.id < b.id
      |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 4096
      |ORDER BY 1, 2""".stripMargin)

  gate("q_kmeans", (s, d) => {
    // Deterministic Lloyd k-means over floor-quantized embeddings (k=8,
    // 3 iterations): exact integer assignment + floor-div updates; the
    // oracle unrolls all three iterations as CTE chains.
    Relational.sort(col("cid"), col("dim"))(
      graft.pipeline.Similarity.kmeansQuantized(Tables.embeddings(s, d),
        "vec_id", "embedding", k = 8, iters = 3))
  }, oracle =
    // deterministic k-means: 3 Lloyd iterations unrolled (q_pagerank standard);
    // assignment = exact integer d2 argmin (tie -> smaller cid), update =
    // floor-divided dimension sums, empty cluster keeps its centroid
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
      |  FROM c2 LEFT JOIN s3 ON c2.cid = s3.cid AND c2.dim = s3.dim)
      |SELECT cid, dim, v FROM c3 ORDER BY cid, dim""".stripMargin)

  gate("q_rproj", (s, d) => {
    // Portable-sign JL projection 64 -> 16 dims: each output coord is one
    // codegen'd vec_dot against a literal parity-sign vector.
    Relational.sort(col("vec_id"), col("rp_dim"))(
      graft.pipeline.Similarity.randomProjection(Tables.embeddings(s, d),
        "vec_id", "embedding", dim = 64, outDims = 16))
  }, oracle =
    // JL random projection: portable parity signs, exact integer sums
    """WITH pts AS (SELECT vec_id, CAST(i AS BIGINT) AS i,
      |  CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000) AS BIGINT) AS q
      |  FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS i) gs)
      |SELECT vec_id, CAST(j AS INTEGER) AS rp_dim,
      |  CAST(SUM(q * (CASE WHEN ((i + 1) * 2654435761 + (j + 1) * 2246822519) % 2147483648 % 2 = 0
      |    THEN 1 ELSE -1 END)) AS BIGINT) AS rp_value
      |FROM pts, (SELECT unnest(generate_series(0, 15)) AS j) js
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  gate("q_anova", (s, d) => {
    // One-way ANOVA of extendedprice across return flags: exact decimal
    // moments per group, grand totals as window sums over the k-row
    // group table, terms 6-dp-rounded and decimal-summed.
    graft.pipeline.Profile.anovaF(Tables.lineitem(s, d),
      "l_returnflag", "l_extendedprice")
  }, oracle =
    // one-way ANOVA: decimal moments, SS terms normalized by N before the
    // 6-dp rounding (scale-invariant magnitude), decimal-summed
    """WITH g AS (SELECT l_returnflag AS grp, count(*) AS n,
      |  SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sdec,
      |  SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS ssdec
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
      |t AS (SELECT n,
      |  CAST(round((CAST(CAST(ssdec AS VARCHAR) AS DOUBLE)
      |    - CAST(CAST(sdec AS VARCHAR) AS DOUBLE) * CAST(CAST(sdec AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
      |    / CAST(SUM(n) OVER () AS DOUBLE), 6) AS DECIMAL(24,6)) AS ssw,
      |  CAST(round(CAST(n AS DOUBLE) *
      |    (CAST(CAST(sdec AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
      |      - CAST(CAST(SUM(sdec) OVER () AS VARCHAR) AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE)) *
      |    (CAST(CAST(sdec AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
      |      - CAST(CAST(SUM(sdec) OVER () AS VARCHAR) AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE))
      |    / CAST(SUM(n) OVER () AS DOUBLE), 6) AS DECIMAL(24,6)) AS ssb
      |  FROM g),
      |a AS (SELECT count(*) AS k, CAST(SUM(n) AS BIGINT) AS n,
      |  CAST(CAST(SUM(ssb) AS VARCHAR) AS DOUBLE) AS ssb_over_n,
      |  CAST(CAST(SUM(ssw) AS VARCHAR) AS DOUBLE) AS ssw_over_n FROM t)
      |SELECT k, n, k - 1 AS dof_between, n - k AS dof_within, ssb_over_n, ssw_over_n,
      |  (ssb_over_n / CAST(k - 1 AS DOUBLE)) / (ssw_over_n / CAST(n - k AS DOUBLE)) AS f_stat
      |FROM a""".stripMargin)

  gate("q_attribution", (s, d) => {
    // Last-touch credit for every purchase: one user-sharded window over
    // the whole stream; times surface as epoch micros (both engines hash
    // the same integers).
    val out = graft.pipeline.Events.attribution(Tables.events(s, d),
      "user_id", "ts", "event_id", "event_type", "purchase",
      Seq("view", "click"), model = "last")
    Relational.sort(col("conversion_id"))(
      out.select(col("conversion_id"), col("user_id"),
        graft.functions.Exprs.epochMicrosCivil(col("conv_ts")).as("conv_ts"), col("touch_type"),
        graft.functions.Exprs.epochMicrosCivil(col("touch_ts")).as("touch_ts")))
  }, oracle =
    // last-touch attribution: one IGNORE NULLS window, strictly-before frame
    """WITH t AS (SELECT event_id, user_id, ts, event_type,
      |  LAST_VALUE(CASE WHEN event_type IN ('view', 'click') THEN event_type END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_type,
      |  LAST_VALUE(CASE WHEN event_type IN ('view', 'click') THEN epoch_ns(ts) // 1000 END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_ts
      |  FROM events)
      |SELECT event_id AS conversion_id, user_id, epoch_ns(ts) // 1000 AS conv_ts,
      |  touch_type, touch_ts
      |FROM t WHERE event_type = 'purchase' ORDER BY conversion_id""".stripMargin)

  gate("q_dp_counts", (s, d) => {
    // Seeded geometric-mechanism noisy customer counts per nation
    // (alpha = 0.5 <=> epsilon = ln 2); the oracle replays hash, inverse
    // CDF, and noise arithmetic.
    Relational.sort(col("c_nationkey"))(
      graft.pipeline.Checks.noisyCounts(Tables.customer(s, d),
        "c_nationkey", alpha = 0.5, seed = 7L))
  }, oracle =
    // seeded geometric mechanism: portable hash -> uniform -> inverse CDF
    """WITH c AS (SELECT c_nationkey, count(*) AS n FROM customer GROUP BY 1),
      |k AS (SELECT c_nationkey, n,
      |  (((c_nationkey % 2147483648) * ((15 * 2654435761) % 2147483648)) % 2147483648
      |    + (7 * 2246822519) % 2147483648) % 2147483648 AS k1,
      |  (((c_nationkey % 2147483648) * ((17 * 2654435761) % 2147483648)) % 2147483648
      |    + (8 * 2246822519) % 2147483648) % 2147483648 AS k2
      |  FROM c)
      |SELECT c_nationkey, n
      |  + CAST(floor(round(ln(1.0 - (CAST(k1 AS DOUBLE) + 0.5) / 2147483648.0) / ln(0.5), 9)) AS BIGINT)
      |  - CAST(floor(round(ln(1.0 - (CAST(k2 AS DOUBLE) + 0.5) / 2147483648.0) / ln(0.5), 9)) AS BIGINT)
      |  AS noisy_count
      |FROM k ORDER BY c_nationkey""".stripMargin)

  gate("q_text_normalize", (s, d) => {
    // Aggressive canonicalization + exact-dup grouping on the normalized
    // form: reformatted copies collapse to one canonical id; shuffles
    // carry the md5, not the text.
    val n = Tables.documents(s, d).select(col("doc_id"),
      graft.pipeline.TextAnalysis.normalizeAggressive(col("text")).as("__nt"))
    val w = Window.partitionBy(col("__nt"))
    Relational.sort(col("doc_id"))(
      n.select(col("doc_id"), md5(col("__nt")).as("fp"),
        length(col("__nt")).cast("long").as("norm_chars"),
        min(col("doc_id")).over(w).as("canonical")))
  }, oracle =
    // aggressive normalization + exact-dup grouping on the canonical form
    """WITH n AS (SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS nt
      |  FROM documents)
      |SELECT doc_id, md5(nt) AS fp, CAST(length(nt) AS BIGINT) AS norm_chars,
      |  MIN(doc_id) OVER (PARTITION BY nt) AS canonical
      |FROM n ORDER BY doc_id""".stripMargin)

  gate("q_incremental_agg", (s, d) => {
    // Materialized (flag, sum, count) aggregate maintained from a change
    // log — the oracle RECOMPUTES from scratch over the effective row
    // set, so equality proves incremental == full recompute.
    val li = Tables.lineitem(s, d)
    val base = li.where(col("l_linenumber") <= 4)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sum_v"),
        count(lit(1)).as("cnt"))
    val inserts = li.where(col("l_linenumber") > 4)
      .select(col("l_returnflag"), col("l_quantity"), lit("I").as("op"))
    val deletes = li.where(col("l_linenumber") === 1 && col("l_orderkey") % 10 === 0)
      .select(col("l_returnflag"), col("l_quantity"), lit("D").as("op"))
    val out = Aggregates.incrementalSumCount(base, inserts.unionByName(deletes),
      Seq("l_returnflag"), "l_quantity", "op")
    Relational.sort(col("l_returnflag"))(
      out.select(col("l_returnflag"),
        col("sum_v").cast("string").cast("double").as("sum_v"), col("cnt")))
  }, oracle =
    // incremental maintenance vs FULL RECOMPUTE over the effective set
    """WITH eff AS (
      |  SELECT l_returnflag, l_quantity FROM lineitem
      |  WHERE l_linenumber <= 4 AND NOT (l_linenumber = 1 AND l_orderkey % 10 = 0)
      |  UNION ALL
      |  SELECT l_returnflag, l_quantity FROM lineitem WHERE l_linenumber > 4)
      |SELECT l_returnflag,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_v,
      |  count(*) AS cnt
      |FROM eff GROUP BY 1 ORDER BY 1""".stripMargin)

  gate("q_profile_drift", (s, d) => {
    // Release-gate drift check between a table and its next snapshot
    // (same mutation recipe as q_snapshot_diff): two one-scan profiles
    // joined on column name.
    val v1 = Tables.orders(s, d)
    val v2 = v1.where(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 13 === 1, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")))
      .unionByName(v1.where(col("o_orderkey") % 101 === 5)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L)))
    val out = graft.pipeline.Profile.compareProfiles(v1, v2,
      Seq("o_orderkey", "o_totalprice", "o_orderstatus"))
    Relational.sort(col("col_name"))(
      out.withColumn("avg_len_a", round(col("avg_len_a"), 6))
        .withColumn("avg_len_b", round(col("avg_len_b"), 6)))
  }, oracle =
    // profile drift: two one-scan profiles joined on column name
    """WITH v2 AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 13 = 1 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
      |    o_orderstatus
      |  FROM orders WHERE o_orderkey % 97 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_totalprice, o_orderstatus FROM orders WHERE o_orderkey % 101 = 5),
      |pa AS (
      |  SELECT 'o_orderkey' AS col_name, COUNT(o_orderkey) AS n_nonnull_a,
      |    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_a,
      |    COUNT(DISTINCT o_orderkey) AS n_distinct_a,
      |    CAST(MIN(o_orderkey) AS DOUBLE) AS min_num_a, CAST(MAX(o_orderkey) AS DOUBLE) AS max_num_a,
      |    CAST(NULL AS DOUBLE) AS avg_len_a FROM orders
      |  UNION ALL
      |  SELECT 'o_totalprice', COUNT(o_totalprice),
      |    CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |    COUNT(DISTINCT o_totalprice), MIN(o_totalprice), MAX(o_totalprice),
      |    CAST(NULL AS DOUBLE) FROM orders
      |  UNION ALL
      |  SELECT 'o_orderstatus', COUNT(o_orderstatus),
      |    CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |    COUNT(DISTINCT o_orderstatus), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
      |    round(AVG(length(o_orderstatus)), 6) FROM orders),
      |pb AS (
      |  SELECT 'o_orderkey' AS col_name, COUNT(o_orderkey) AS n_nonnull_b,
      |    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_b,
      |    COUNT(DISTINCT o_orderkey) AS n_distinct_b,
      |    CAST(MIN(o_orderkey) AS DOUBLE) AS min_num_b, CAST(MAX(o_orderkey) AS DOUBLE) AS max_num_b,
      |    CAST(NULL AS DOUBLE) AS avg_len_b FROM v2
      |  UNION ALL
      |  SELECT 'o_totalprice', COUNT(o_totalprice),
      |    CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |    COUNT(DISTINCT o_totalprice), MIN(o_totalprice), MAX(o_totalprice),
      |    CAST(NULL AS DOUBLE) FROM v2
      |  UNION ALL
      |  SELECT 'o_orderstatus', COUNT(o_orderstatus),
      |    CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |    COUNT(DISTINCT o_orderstatus), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
      |    round(AVG(length(o_orderstatus)), 6) FROM v2)
      |SELECT pa.col_name, n_nonnull_a, n_null_a, n_distinct_a, min_num_a, max_num_a, avg_len_a,
      |  n_nonnull_b, n_null_b, n_distinct_b, min_num_b, max_num_b, avg_len_b,
      |  ((n_nonnull_a IS DISTINCT FROM n_nonnull_b)
      |    OR (n_null_a IS DISTINCT FROM n_null_b)
      |    OR (n_distinct_a IS DISTINCT FROM n_distinct_b)) AS drifted
      |FROM pa JOIN pb ON pa.col_name = pb.col_name ORDER BY pa.col_name""".stripMargin)

  gate("q_skew_join", (s, d) => {
    // Hybrid hot/cold join on a corpus with PLANTED hot suppliers (every
    // 50th key replicated 4x): hot keys broadcast, cold keys shuffle; the
    // oracle is the PLAIN join — equality proves the split lost nothing.
    val li = Tables.lineitem(s, d)
    val planted = li.where(col("l_suppkey") % 50 === 0)
    val skewed = li.unionByName(planted).unionByName(planted).unionByName(planted)
    val avg = skewed.agg((count(lit(1)) /
      count_distinct(col("l_suppkey"))).cast("long")).collect()(0).getLong(0)
    val joined = Relational.skewHybridJoin(skewed, Tables.supplier(s, d),
      "l_suppkey", "s_suppkey", hotThreshold = 2L * avg)
    Relational.sort(col("s_nationkey"))(
      joined.groupBy(col("s_nationkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)"))
          .cast("string").cast("double").as("sum_qty"),
          count(lit(1)).as("cnt")))
  }, oracle =
    // hybrid skew join: oracle is the PLAIN join over the same skewed corpus
    """WITH planted AS (SELECT * FROM lineitem WHERE l_suppkey % 50 = 0),
      |sk AS (SELECT * FROM lineitem UNION ALL SELECT * FROM planted
      |  UNION ALL SELECT * FROM planted UNION ALL SELECT * FROM planted)
      |SELECT s_nationkey,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      |  count(*) AS cnt
      |FROM sk JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  gate("q_rate_anomaly", (s, d) => {
    // Hourly event-rate z-scores vs the trailing 24 observed hours;
    // window runs over the bucket table, never raw events.
    val out = graft.pipeline.Events.rateAnomaly(Tables.events(s, d),
      "ts", bucket = "hour", window = 24, zThreshold = 2.0)
    Relational.sort(col("bucket"))(
      out.select(date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("c"), col("z"), col("anomaly")))
  }, oracle =
    // trailing-24h z-score anomaly over hourly buckets
    """WITH b AS (SELECT date_trunc('hour', ts) AS bucket, count(*) AS c FROM events GROUP BY 1),
      |t AS (SELECT bucket, c,
      |  COUNT(c) OVER w AS n, SUM(c) OVER w AS s, SUM(c * c) OVER w AS ss
      |  FROM b WINDOW w AS (ORDER BY bucket ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
      |z AS (SELECT bucket, c,
      |  CASE WHEN n = 24 AND (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) > 0
      |    THEN round((CAST(c AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) /
      |      sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)), 6)
      |    END AS z
      |  FROM t)
      |SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket, c, z,
      |  (z IS NOT NULL AND abs(z) > 2.0) AS anomaly
      |FROM z ORDER BY bucket""".stripMargin)

  gate("q_top_values", (s, d) => {
    // Value-frequency profile: top-3 values per column from one stacked
    // scan, (count desc, value asc) tie-break.
    Relational.sort(col("col_name"), col("rank"))(
      graft.pipeline.Profile.topValues(Tables.customer(s, d),
        Seq("c_mktsegment", "c_nationkey"), k = 3))
  }, oracle =
    // top-k value frequencies per column, (count desc, value asc) tie-break
    """WITH s AS (
      |  SELECT 'c_mktsegment' AS col_name, CAST(c_mktsegment AS VARCHAR) AS value FROM customer WHERE c_mktsegment IS NOT NULL
      |  UNION ALL
      |  SELECT 'c_nationkey', CAST(c_nationkey AS VARCHAR) FROM customer WHERE c_nationkey IS NOT NULL),
      |c AS (SELECT col_name, value, count(*) AS cnt FROM s GROUP BY 1, 2),
      |r AS (SELECT col_name, value, cnt,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY col_name ORDER BY cnt DESC, value ASC) AS INTEGER) AS rank FROM c)
      |SELECT col_name, value, cnt, rank FROM r WHERE rank <= 3
      |ORDER BY col_name, rank""".stripMargin)

  gate("q_stream_incremental", (s, d) => {
    // TRUE streaming materialized-aggregate maintenance: phase 1 streams
    // inserts, phase 2 stages deletes and RESUMES from the checkpoint;
    // the final aggregate must equal a full recompute — gated against
    // the SAME oracle as q_incremental_agg.
    val work = cleanupAtExit(s"${System.getProperty("java.io.tmpdir")}/graft_incr_${ProcessHandle.current().pid()}")
    val li = Tables.lineitem(s, d)
    val base = li.where(col("l_linenumber") <= 4)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)"))
        .cast("decimal(28,2)").as("sum_v"), count(lit(1)).as("cnt"))
    val inserts = li.where(col("l_linenumber") > 4)
      .select(col("l_returnflag"), col("l_quantity"), lit("I").as("op"))
    val deletes = li.where(col("l_linenumber") === 1 && col("l_orderkey") % 10 === 0)
      .select(col("l_returnflag"), col("l_quantity"), lit("D").as("op"))
    val out = graft.streaming.Streams.incrementalAggStreamGate(s, work,
      base, Seq("l_returnflag"), "l_quantity", "op", inserts, deletes)
    Relational.sort(col("l_returnflag"))(
      out.select(col("l_returnflag"),
        col("sum_v").cast("string").cast("double").as("sum_v"), col("cnt")))
  }, oracle =
    // streaming incremental-agg maintenance == full recompute (same
    // effective set as q_incremental_agg)
    """WITH eff AS (
      |  SELECT l_returnflag, l_quantity FROM lineitem
      |  WHERE l_linenumber <= 4 AND NOT (l_linenumber = 1 AND l_orderkey % 10 = 0)
      |  UNION ALL
      |  SELECT l_returnflag, l_quantity FROM lineitem WHERE l_linenumber > 4)
      |SELECT l_returnflag,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_v,
      |  count(*) AS cnt
      |FROM eff GROUP BY 1 ORDER BY 1""".stripMargin)

  gate("q_percentiles", (s, d) => {
    // Exact nearest-rank p50/p90/p99 per return flag from the
    // distinct-value rank table — no per-row window.
    Relational.sort(col("l_returnflag"), col("p"))(
      graft.pipeline.Profile.percentilesExact(Tables.lineitem(s, d),
        "l_returnflag", "l_extendedprice", Seq(0.5, 0.9, 0.99)))
  }, oracle =
    // exact nearest-rank percentiles from the distinct-value rank table
    """WITH dv AS (SELECT l_returnflag AS g, l_extendedprice AS v, count(*) AS c
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2),
      |cm AS (SELECT g, v, SUM(c) OVER (PARTITION BY g ORDER BY v) AS cum,
      |  SUM(c) OVER (PARTITION BY g) AS n FROM dv),
      |t AS (SELECT cm.*, p.p FROM cm CROSS JOIN (SELECT unnest([0.5, 0.9, 0.99]) AS p) p
      |  WHERE cum >= ceil(p * CAST(n AS DOUBLE)))
      |SELECT g AS l_returnflag, p, CAST(MAX(n) AS BIGINT) AS n, MIN(v) AS value
      |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  gate("q_temporal_split", (s, d) => {
    // Leakage-safe time split with a 1-day embargo after each boundary;
    // pure pushed-down comparisons, zero shuffles.
    val out = graft.pipeline.Sampling.temporalSplit(Tables.events(s, d),
      "ts", "2024-01-15 00:00:00", "2024-01-25 00:00:00",
      embargoSeconds = 86400L)
    Relational.sort(col("split"))(
      out.groupBy(col("split")).agg(count(lit(1)).as("n"),
        count_distinct(col("user_id")).as("users")))
  }, oracle =
    // temporal split with embargo: label counts per split
    """WITH s AS (SELECT user_id,
      |  CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 'train'
      |       WHEN ts < TIMESTAMP '2024-01-15 00:00:00' + INTERVAL 86400 SECOND THEN 'embargo'
      |       WHEN ts < TIMESTAMP '2024-01-25 00:00:00' THEN 'val'
      |       WHEN ts < TIMESTAMP '2024-01-25 00:00:00' + INTERVAL 86400 SECOND THEN 'embargo'
      |       ELSE 'test' END AS split
      |  FROM events)
      |SELECT split, count(*) AS n, count(DISTINCT user_id) AS users
      |FROM s GROUP BY 1 ORDER BY 1""".stripMargin)

  gate("q_anchor_chunks", (s, d) => {
    // Content-defined chunking by portable anchor tokens (divisor 64 →
    // ~64-token chunks): boundaries survive edits in other chunks; the
    // oracle replays key, anchors, chunk cumsum, and fingerprints.
    Relational.sort(col("doc_id"), col("chunk"))(
      graft.pipeline.Packing.anchorChunks(Tables.documents(s, d),
        "doc_id", "text", divisor = 64L))
  }, oracle =
    // content-defined anchor chunking: portable key, cumsum chunks,
    // position-weighted fingerprints
    """WITH w AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS ws FROM documents),
      |tok AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS pos, unnest(ws) AS t FROM w),
      |k AS (SELECT doc_id, pos,
      |  (length(t) * 31 + ascii(t[1:1]) * 7 + ascii(t[-1:])) * 2654435761 % 2147483648 AS kt FROM tok),
      |a AS (SELECT doc_id, pos, kt, CASE WHEN kt % 64 = 0 THEN 1 ELSE 0 END AS anchor FROM k),
      |c AS (SELECT doc_id, pos, kt,
      |  SUM(anchor) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk FROM a),
      |r AS (SELECT doc_id, chunk, kt,
      |  ROW_NUMBER() OVER (PARTITION BY doc_id, chunk ORDER BY pos) AS rn FROM c)
      |SELECT doc_id, CAST(chunk AS BIGINT) AS chunk, count(*) AS n_tokens,
      |  CAST(SUM(kt * rn) % 2147483648 AS BIGINT) AS chunk_fp
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  gate("q_negatives", (s, d) => {
    // Deterministic contrastive negatives: modular affine candidates over
    // the dense id domain, existence-joined, same-label and self pairs
    // dropped.
    Relational.sort(col("anchor"), col("j"))(
      graft.pipeline.Sampling.negativePairs(Tables.embeddings(s, d),
        "vec_id", "label", k = 3, seed = 5L))
  }, oracle =
    // deterministic contrastive negatives over the dense id domain
    """WITH ids AS (SELECT vec_id, label FROM embeddings),
      |nn AS (SELECT count(*) AS n FROM ids),
      |c AS (SELECT a.vec_id AS anchor, a.label AS al, CAST(j.j AS INTEGER) AS j,
      |  ((a.vec_id % nn.n) * (2654435761 % nn.n) + j.j * (2246822519 % nn.n) + 5 % nn.n) % nn.n AS nid
      |  FROM ids a CROSS JOIN nn CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS j) j)
      |SELECT anchor, c.j, nid AS negative
      |FROM c JOIN ids b ON c.nid = b.vec_id
      |WHERE b.label <> c.al AND c.nid <> c.anchor
      |ORDER BY anchor, j""".stripMargin)

  gate("q_recipe", (s, d) => {
    // END-TO-END corpus recipe — the five-stage pipeline an LLM data run
    // actually executes, each stage an already-gated operator, composed:
    // quality filter → canonicalization dedup → per-source cap →
    // deterministic shuffle → sequence packing. The oracle replays the
    // WHOLE chain. (Gate-scale form: the global order/pack windows here
    // are the single-partition faces; at 100 TB the same chain runs
    // through deterministicShuffle's range exchange and layoutOffsets'
    // bucketed packing — both separately gated.)
    val docs = Tables.documents(s, d)
    val kept = docs.where(col("n_chars").between(100, 2000))
    val fp = kept.withColumn("__f",
      md5(graft.pipeline.TextAnalysis.normalizeAggressive(col("text"))))
    val ded = fp.withColumn("__canon",
        min(col("doc_id")).over(Window.partitionBy("__f")))
      .where(col("doc_id") === col("__canon"))
      .select(col("doc_id"), col("source"), col("text"))
    val cap = graft.pipeline.Sampling.exactPerStratum(ded, "source", 100, Seq("doc_id"))
    val keyed = cap.withColumn("__sk",
      graft.pipeline.Sampling.shuffleKey(Seq(col("doc_id")), 42L))
    // global windows below run over the CAPPED sample (<= 100 per
    // source — bounded by construction, sweep-audited r8)
    val ord = keyed.withColumn("pos",
      row_number().over(Window.orderBy(col("__sk"), col("doc_id"))) - 1)
    val toks = ord.withColumn("n_tokens",
      size(filter(split(col("text"), "\\s+"), t => t =!= "")).cast("long"))
    val packed = toks.withColumn("__cum",
        coalesce(sum(col("n_tokens")).over(
          Window.orderBy("pos").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("seq", floor(col("__cum").cast("double") / lit(2048)).cast("long"))
    Relational.sort(col("pos"))(
      packed.select(col("doc_id"), col("source"), col("pos"),
        col("n_tokens"), col("seq")))
  }, oracle =
    // end-to-end recipe: filter -> normalize-dedup -> cap -> shuffle -> pack,
    // the whole chain replayed
    """WITH kept AS (SELECT doc_id, source, text FROM documents WHERE n_chars BETWEEN 100 AND 2000),
      |fp AS (SELECT doc_id, source, text,
      |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS f FROM kept),
      |ded AS (SELECT doc_id, source, text FROM
      |  (SELECT fp.*, MIN(doc_id) OVER (PARTITION BY f) AS canon FROM fp) WHERE doc_id = canon),
      |cap AS (SELECT doc_id, source, text FROM (
      |  SELECT ded.*, ROW_NUMBER() OVER (PARTITION BY source ORDER BY
      |    ((doc_id % 2147483648) * 2654435761 % 2147483648) % 2147483648 % 1000000, doc_id) AS rn
      |  FROM ded) WHERE rn <= 100),
      |sh AS (SELECT doc_id, source, text,
      |  (((doc_id % 2147483648) * ((85 * 2654435761) % 2147483648)) % 2147483648
      |    + (42 * 2246822519) % 2147483648) % 2147483648 AS sk FROM cap),
      |ord AS (SELECT doc_id, source, text,
      |  CAST(ROW_NUMBER() OVER (ORDER BY sk, doc_id) - 1 AS INTEGER) AS pos FROM sh),
      |tok AS (SELECT doc_id, source, pos,
      |  CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS BIGINT) AS n_tokens FROM ord),
      |pk AS (SELECT doc_id, source, pos, n_tokens,
      |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum FROM tok)
      |SELECT doc_id, source, pos, n_tokens,
      |  CAST(FLOOR(CAST(cum AS DOUBLE) / 2048) AS BIGINT) AS seq
      |FROM pk ORDER BY pos""".stripMargin)

  gate("q_embed_quantize", (s, d) => {
    // Serving-prep int8 quantization: one codegen'd norm per vector,
    // 9-dp-rounded ratio so a norm ulp can't flip a floor.
    Relational.sort(col("vec_id"), col("dim"))(
      graft.pipeline.Similarity.l2QuantizeInt8(Tables.embeddings(s, d),
        "vec_id", "embedding"))
  }, oracle =
    // int8 L2 quantization: norm via inner product, 9-dp-rounded ratio floor
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM c),
      |e AS (SELECT vec_id, unnest(generate_series(0, 63)) AS dim, unnest(v) AS x, nrm FROM n)
      |SELECT vec_id, CAST(dim AS INTEGER) AS dim,
      |  CAST(CASE WHEN nrm > 0 THEN floor(round(127.0 * x / nrm, 9)) ELSE 0 END AS INTEGER) AS q,
      |  round(nrm, 6) AS norm
      |FROM e ORDER BY vec_id, dim""".stripMargin)

  gate("q_csv_quarantine", (s, d) => {
    // Dead-letter ingestion: a CSV feed with three planted corrupt lines;
    // good rows aggregate exactly to the parquet truth, bad rows land in
    // quarantine instead of aborting or silently nulling.
    val dir = cleanupAtExit(s"${System.getProperty("java.io.tmpdir")}/graft_quar_${ProcessHandle.current().pid()}")
    val good = Tables.customer(s, d).where(col("c_custkey") <= 200)
      .select(col("c_custkey"), col("c_acctbal"))
    good.write.mode("overwrite").csv(dir)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "bad.csv"),
      java.util.Arrays.asList("abc,def", "999999,notanumber", "x,"),
      java.nio.charset.StandardCharsets.UTF_8)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("c_custkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("c_acctbal",
        org.apache.spark.sql.types.DoubleType)))
    val (g, b) = Relational.readCsvQuarantine(s, dir, schema)
    g.agg(count(lit(1)).as("n_good"),
        sum(col("c_acctbal").cast("decimal(18,2)"))
          .cast("string").cast("double").as("sum_bal"))
      .crossJoin(broadcast(b.agg(count(lit(1)).as("n_bad"))))
      .select(col("n_good"), col("n_bad"), col("sum_bal"))
  }, oracle =
    // quarantine ingestion: good rows equal the parquet truth, 3 planted bad
    """SELECT (SELECT count(*) FROM customer WHERE c_custkey <= 200) AS n_good,
      |  CAST(3 AS BIGINT) AS n_bad,
      |  (SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
      |   FROM customer WHERE c_custkey <= 200) AS sum_bal""".stripMargin)

  gate("q_html_strip", (s, d) => {
    // Web-corpus ingest: every document wrapped in deterministic HTML
    // (script/style/comment blocks, planted entities), then recovered to
    // visible text — the crawl → prose step before quality filtering.
    // Codegen regexp chain, zero shuffle; oracle replays the chain.
    import graft.pipeline.TextAnalysis
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit(" &amp; co</title><style>p{margin:0}</style><script>var id="),
      col("doc_id").cast("string"), lit(";</script></head><body><!-- src="),
      col("source"), lit(" --><h1 class=\"hd\">"), col("source"),
      lit("</h1><p>"), col("text"), lit("</p>"),
      when(col("doc_id") % 3 === 0,
        lit("<div>&quot;quoted&quot;&nbsp;&lt;tail&gt;</div>")).otherwise(lit("")),
      lit("</body></html>"))
    val h = Tables.documents(s, d).select(col("doc_id"), html.as("html"))
    val vis = TextAnalysis.stripMarkup(col("html"))
    Relational.sort(col("doc_id"))(h.select(
      col("doc_id"),
      TextAnalysis.htmlTitle(col("html")).as("title"),
      md5(vis).as("text_fp"),
      length(vis).cast("long").as("visible_chars"),
      round(TextAnalysis.markupRatio(col("html")), 6).as("markup_ratio")))
  }, oracle =
    // markup stripping: the exact regexp chain replayed (Java∩RE2 dialect)
    """WITH h AS (SELECT doc_id,
      |  '<html><head><title>Doc ' || doc_id || ' &amp; co</title><style>p{margin:0}</style><script>var id='
      |  || doc_id || ';</script></head><body><!-- src=' || source || ' --><h1 class="hd">' || source
      |  || '</h1><p>' || text || '</p>'
      |  || CASE WHEN doc_id % 3 = 0 THEN '<div>&quot;quoted&quot;&nbsp;&lt;tail&gt;</div>' ELSE '' END
      |  || '</body></html>' AS html FROM documents),
      |v AS (SELECT doc_id, html,
      |  trim(regexp_replace(
      |    replace(replace(replace(replace(replace(replace(
      |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
      |        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      |        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
      |        '(?s)<!--.*?-->', ' ', 'g'),
      |        '<[^>]+>', ' ', 'g'),
      |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
      |    '\s+', ' ', 'g')) AS vis FROM h)
      |SELECT doc_id, regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1) AS title,
      |  md5(vis) AS text_fp, CAST(length(vis) AS BIGINT) AS visible_chars,
      |  round(CAST(length(html) - length(vis) AS DOUBLE) / greatest(length(html), 1), 6) AS markup_ratio
      |FROM v ORDER BY doc_id""".stripMargin)

  gate("q_url_dedup", (s, d) => {
    // URL-level dedup: fetch records whose URLs differ only in scheme/host
    // case, default port, fragment, tracking params, param order, or a
    // trailing slash collapse to one canonical page id (min doc_id).
    import graft.pipeline.TextAnalysis
    val id = col("doc_id")
    val scheme = when(id % 3 === 0, lit("https")).when(id % 3 === 1, lit("HTTPS"))
      .otherwise(lit("Https"))
    val hostBase = concat(lit("www."), col("source"), lit(".example.com"))
    val host = when(id % 2 === 0, upper(hostBase)).otherwise(hostBase)
    val port = when(id % 3 === 1, lit(":443")).otherwise(lit(""))
    val slash = when(id % 2 === 0, lit("/")).otherwise(lit(""))
    val qstr = when(id % 4 === 0, lit("?v=1&b=2"))
      .when(id % 4 === 1, lit("?b=2&v=1&utm_source=tw"))
      .when(id % 4 === 2, lit("?utm_campaign=x&v=1&b=2&gclid=99"))
      .otherwise(lit("?v=1&ref=home&b=2"))
    val frag = when(id % 5 === 0, lit("#sec2")).otherwise(lit(""))
    val url = concat(scheme, lit("://"), host, port, lit("/docs/"),
      (id % 400).cast("string"), slash, qstr, frag)
    val withUrl = Tables.documents(s, d).select(id, url.as("url"))
    val canon = withUrl.select(id, col("url"),
      TextAnalysis.canonicalizeUrl(col("url")).as("canon_url"))
    val w = Window.partitionBy(col("canon_url"))
    Relational.sort(col("doc_id"))(canon.select(id, col("canon_url"),
      min(id).over(w).as("canonical"),
      (id =!= min(id).over(w)).as("is_dup")))
  }, oracle =
    // URL canonicalization: the whole normalize chain replayed
    """WITH u AS (SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'https' WHEN doc_id % 3 = 1 THEN 'HTTPS' ELSE 'Https' END
      |  || '://'
      |  || CASE WHEN doc_id % 2 = 0 THEN upper('www.' || source || '.example.com') ELSE 'www.' || source || '.example.com' END
      |  || CASE WHEN doc_id % 3 = 1 THEN ':443' ELSE '' END
      |  || '/docs/' || (doc_id % 400)
      |  || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
      |  || CASE WHEN doc_id % 4 = 0 THEN '?v=1&b=2'
      |       WHEN doc_id % 4 = 1 THEN '?b=2&v=1&utm_source=tw'
      |       WHEN doc_id % 4 = 2 THEN '?utm_campaign=x&v=1&b=2&gclid=99'
      |       ELSE '?v=1&ref=home&b=2' END
      |  || CASE WHEN doc_id % 5 = 0 THEN '#sec2' ELSE '' END AS url
      |  FROM documents),
      |parts AS (SELECT doc_id, url,
      |  lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)(.*)$', 1)) AS scheme,
      |  lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)(.*)$', 2)) AS host0,
      |  regexp_replace(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)(.*)$', 3), '#.*$', '') AS nofrag
      |  FROM u),
      |norm AS (SELECT doc_id, url, scheme,
      |  CASE WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
      |       WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
      |       ELSE host0 END AS host,
      |  regexp_extract(nofrag, '^([^?]*)', 1) AS path0,
      |  regexp_replace(regexp_replace(regexp_extract(nofrag, '\?(.*)$', 1),
      |    '(?:utm_[a-z0-9]+|ref|fbclid|gclid|mc_eid)=[^&]*(?:&|$)', '', 'g'), '&+$', '') AS q2
      |  FROM parts),
      |canon AS (SELECT doc_id,
      |  scheme || '://' || host
      |  || CASE WHEN length(CASE WHEN path0 <> '/' AND path0 LIKE '%/' THEN substr(path0, 1, length(path0) - 1) ELSE path0 END) = 0
      |       THEN '/' ELSE CASE WHEN path0 <> '/' AND path0 LIKE '%/' THEN substr(path0, 1, length(path0) - 1) ELSE path0 END END
      |  || CASE WHEN length(q2) > 0 THEN '?' || array_to_string(list_sort(string_split(q2, '&')), '&') ELSE '' END
      |  AS canon_url FROM norm)
      |SELECT doc_id, canon_url,
      |  MIN(doc_id) OVER (PARTITION BY canon_url) AS canonical,
      |  doc_id <> MIN(doc_id) OVER (PARTITION BY canon_url) AS is_dup
      |FROM canon ORDER BY doc_id""".stripMargin)

  gate("q_line_dedup", (s, d) => {
    // Corpus-level boilerplate line removal (MassiveText/RefinedWeb):
    // planted nav/footer lines recur across documents and are dropped;
    // unique lines survive in order. Counts shuffle 8-byte hashes; the
    // drop is a broadcast anti-join on the small heavy-line dictionary.
    val id = col("doc_id")
    val b1 = when(id % 4 === 0, lit("Subscribe to our newsletter"))
      .when(id % 4 === 1, lit("All rights reserved."))
      .when(id % 4 === 2, lit("Cookie policy: accept"))
      .otherwise(lit("Share this page"))
    val b2 = when(id % 3 === 0, lit("Follow us on social media"))
      .when(id % 3 === 1, lit("Back to top"))
      .otherwise(lit("Contact support"))
    val t = concat(b1, lit("\n"), col("text"), lit("\nDoc "),
      id.cast("string"), lit(" footer\n"), b2)
    val docs = Tables.documents(s, d).select(id, t.as("t"))
    val out = graft.pipeline.TextAnalysis.dedupCorpusLines(
      docs, "doc_id", "t", maxOccurrences = 10L)
    Relational.sort(col("doc_id"))(out.select(id, col("n_lines"),
      col("n_removed"), md5(col("clean_text")).as("clean_fp")))
  }, oracle =
    // corpus-level line dedup: heavy lines (count > 10) dropped everywhere
    """WITH d AS (SELECT doc_id,
      |  CASE WHEN doc_id % 4 = 0 THEN 'Subscribe to our newsletter'
      |       WHEN doc_id % 4 = 1 THEN 'All rights reserved.'
      |       WHEN doc_id % 4 = 2 THEN 'Cookie policy: accept'
      |       ELSE 'Share this page' END
      |  || chr(10) || text || chr(10) || 'Doc ' || doc_id || ' footer' || chr(10)
      |  || CASE WHEN doc_id % 3 = 0 THEN 'Follow us on social media'
      |       WHEN doc_id % 3 = 1 THEN 'Back to top'
      |       ELSE 'Contact support' END AS t FROM documents),
      |p AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM d),
      |l AS (SELECT doc_id, unnest(ls) AS line, unnest(range(1, len(ls) + 1)) AS pos FROM p),
      |heavy AS (SELECT line FROM l GROUP BY line HAVING count(*) > 10),
      |kept AS (SELECT * FROM l WHERE line NOT IN (SELECT line FROM heavy)),
      |ka AS (SELECT doc_id, count(*) AS n_kept,
      |  md5(string_agg(line, chr(10) ORDER BY pos)) AS clean_fp FROM kept GROUP BY doc_id),
      |tot AS (SELECT doc_id, CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines FROM d)
      |SELECT tot.doc_id, tot.n_lines,
      |  tot.n_lines - COALESCE(ka.n_kept, 0) AS n_removed,
      |  COALESCE(ka.clean_fp, md5('')) AS clean_fp
      |FROM tot LEFT JOIN ka ON tot.doc_id = ka.doc_id ORDER BY tot.doc_id""".stripMargin)

  gate("q_lexical_diversity", (s, d) => {
    // Vocabulary-richness quality signal: TTR + unigram entropy, 9-dp
    // contributions decimal-summed (order-independent), per-doc window.
    Relational.sort(col("doc_id"))(
      graft.pipeline.Scoring.lexicalDiversity(Tables.documents(s, d),
        "doc_id", "text"))
  }, oracle =
    // lexical diversity: 9-dp p·ln p contributions, decimal-summed
    """WITH tok AS (SELECT doc_id,
      |  unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS w
      |  FROM documents),
      |pt AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
      |wn AS (SELECT doc_id, c, CAST(SUM(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n FROM pt),
      |h AS (SELECT doc_id, MAX(n) AS n_tokens, count(*) AS n_types,
      |  round(CAST(-SUM(CAST(round((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n), 9) AS DECIMAL(20,9))) AS DOUBLE), 6) AS entropy
      |  FROM wn GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(h.n_tokens, 0) AS n_tokens, COALESCE(h.n_types, 0) AS n_types,
      |  COALESCE(round(CAST(h.n_types AS DOUBLE) / h.n_tokens, 6), 0.0) AS ttr,
      |  COALESCE(h.entropy, 0.0) AS entropy
      |FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id ORDER BY d.doc_id""".stripMargin)

  gate("q_length_buckets", (s, d) => {
    // Pad-efficiency batching: power-of-two length buckets, sharded rank
    // (8 shards here; the default 64 at cluster scale), seeded portable
    // order — the whole assignment replayed in SQL.
    Relational.sort(col("doc_id"))(
      graft.pipeline.Packing.lengthBuckets(Tables.documents(s, d),
        "doc_id", "text", shards = 8, seed = 7L))
  }, oracle =
    // length bucketing: CASE-chain buckets, sharded seeded rank, floor-div batches
    """WITH t AS (SELECT doc_id,
      |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |b AS (SELECT doc_id, n_tokens,
      |  CAST(CASE WHEN n_tokens <= 16 THEN 16 WHEN n_tokens <= 32 THEN 32
      |    WHEN n_tokens <= 64 THEN 64 WHEN n_tokens <= 128 THEN 128
      |    WHEN n_tokens <= 256 THEN 256 WHEN n_tokens <= 512 THEN 512
      |    WHEN n_tokens <= 1024 THEN 1024 ELSE 2048 END AS BIGINT) AS bucket,
      |  (((doc_id % 2147483648) * (((15 * 2654435761) % 2147483648))) % 2147483648
      |    + (7 * 2246822519) % 2147483648) % 2147483648 AS sk
      |  FROM t),
      |r AS (SELECT doc_id, n_tokens, bucket, sk % 8 AS shard,
      |  ROW_NUMBER() OVER (PARTITION BY bucket, sk % 8 ORDER BY sk, doc_id) AS rn
      |  FROM b)
      |SELECT doc_id, n_tokens, bucket, shard,
      |  CAST(FLOOR(CAST(rn - 1 AS DOUBLE) / FLOOR(8192.0 / bucket)) AS BIGINT) AS batch_id,
      |  bucket - least(n_tokens, bucket) AS pad
      |FROM r ORDER BY doc_id""".stripMargin)

  gate("q_novelty", (s, d) => {
    // Trigram novelty vs an in-corpus reference slice (doc_id % 10 = 0):
    // reference docs must score 0 by construction; the dictionary join
    // moves md5 digests, never gram text.
    val docs = Tables.documents(s, d)
    Relational.sort(col("doc_id"))(
      graft.pipeline.Scoring.ngramNovelty(docs,
        docs.where(col("doc_id") % 10 === 0), "doc_id", "text", n = 3))
  }, oracle =
    // trigram novelty vs the doc_id % 10 = 0 reference slice
    """WITH ls AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
      |  FROM documents),
      |tok AS (SELECT doc_id, unnest(ts) AS w, unnest(range(1, len(ts) + 1)) AS pos FROM ls),
      |g0 AS (SELECT doc_id, w,
      |  lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
      |  lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM tok),
      |g AS (SELECT doc_id, w || ' ' || w1 || ' ' || w2 AS gram FROM g0 WHERE w2 IS NOT NULL),
      |dict AS (SELECT DISTINCT md5(gram) AS gh FROM g WHERE doc_id % 10 = 0),
      |dg AS (SELECT DISTINCT doc_id, md5(gram) AS gh FROM g),
      |sc AS (SELECT dg.doc_id, count(*) AS n_ngrams,
      |  CAST(SUM(CASE WHEN dict.gh IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
      |  FROM dg LEFT JOIN dict ON dg.gh = dict.gh GROUP BY dg.doc_id)
      |SELECT d.doc_id, COALESCE(sc.n_ngrams, 0) AS n_ngrams,
      |  COALESCE(sc.n_novel, 0) AS n_novel,
      |  COALESCE(round(CAST(sc.n_novel AS DOUBLE) / sc.n_ngrams, 6), 0.0) AS novelty
      |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id ORDER BY d.doc_id""".stripMargin)

  gate("q_json_extract", (s, d) => {
    // Semi-structured props + a synthesized nested document: both
    // extraction modes exercised — flatten (one from_json parse) for the
    // real column, JSONPath get_json_object for nested object and array
    // index — folded into per-type aggregates the oracle replays with
    // DuckDB's json_extract.
    import graft.pipeline.Json
    val nested = concat(lit("{\"id\":"), col("event_id").cast("string"),
      lit(",\"nest\":{\"u\":"), col("user_id").cast("string"),
      lit("},\"arr\":[1,"), (col("event_id") % 5).cast("string"), lit("]}"))
    val ev = Json.flatten(
      Tables.events(s, d).select(col("event_type"), col("props"), nested.as("nj")),
      "props", "k BIGINT", Seq("k" -> "k_typed"))
    Relational.sort(col("event_type"))(ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("k_typed")).as("sum_k"),
      sum(Json.extractTyped(col("nj"), "$.nest.u", "long")).as("sum_u"),
      sum(Json.extractTyped(col("nj"), "$.arr[1]", "long")).as("sum_arr"),
      max(Json.extractTyped(col("props"), "$.k", "long")).as("max_k")))
  }, oracle =
    // JSON extraction: flatten-once (from_json) and per-path JSONPath
    // (get_json_object) both replayed via DuckDB's json_extract_string.
    """WITH t AS (SELECT event_type, props,
      |  '{"id":' || CAST(event_id AS VARCHAR) ||
      |  ',"nest":{"u":' || CAST(user_id AS VARCHAR) ||
      |  '},"arr":[1,' || CAST(event_id % 5 AS VARCHAR) || ']}' AS nj
      |  FROM events)
      |SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  CAST(SUM(CAST(json_extract_string(nj, '$.nest.u') AS BIGINT)) AS BIGINT) AS sum_u,
      |  CAST(SUM(CAST(json_extract_string(nj, '$.arr[1]') AS BIGINT)) AS BIGINT) AS sum_arr,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin)

  gate("q_unpivot", (s, d) => {
    // Wide measures to long form via ONE Expand (the oracle is the
    // four-way UNION ALL that would scan the table four times).
    val li = Tables.lineitem(s, d).select(col("l_returnflag"),
      dec(col("l_quantity")).as("quantity"),
      dec(col("l_extendedprice")).as("extendedprice"),
      dec(col("l_discount")).as("discount"),
      dec(col("l_tax")).as("tax"))
    val long = Aggregates.unpivot(li, Seq("l_returnflag"),
      Seq("quantity", "extendedprice", "discount", "tax"), "metric", "value")
    Relational.sort(col("l_returnflag"), col("metric"))(
      long.groupBy(col("l_returnflag"), col("metric"))
        .agg(sum(col("value")).cast("string").cast("double").as("sum_value")))
  }, oracle =
    // UNPIVOT: the relational equivalent is this 4-way UNION ALL (4 table
    // scans); the Spark side plans ONE Expand over one scan.
    """WITH long AS (
      |  SELECT l_returnflag, 'quantity' AS metric,
      |    CAST(l_quantity AS DECIMAL(18,2)) AS value FROM lineitem
      |  UNION ALL SELECT l_returnflag, 'extendedprice',
      |    CAST(l_extendedprice AS DECIMAL(18,2)) FROM lineitem
      |  UNION ALL SELECT l_returnflag, 'discount',
      |    CAST(l_discount AS DECIMAL(18,2)) FROM lineitem
      |  UNION ALL SELECT l_returnflag, 'tax',
      |    CAST(l_tax AS DECIMAL(18,2)) FROM lineitem)
      |SELECT l_returnflag, metric,
      |  CAST(CAST(SUM(value) AS VARCHAR) AS DOUBLE) AS sum_value
      |FROM long GROUP BY l_returnflag, metric
      |ORDER BY l_returnflag, metric""".stripMargin)

  gate("q_debounce", (s, d) => {
    // Burst-collapse dedup per (user, type): only burst leaders survive
    // (gap > 1 h from the previous event); micros surface so both
    // engines compare the same integers.
    val out = graft.pipeline.Events.burstLeaders(Tables.events(s, d),
      Seq("user_id", "event_type"), "ts", gapSeconds = 3600L, tieCol = "event_id")
    Relational.sort(col("event_id"))(out.select(col("event_id"),
      col("user_id"), col("event_type"), graft.functions.Exprs.epochMicrosCivil(col("ts")).as("ts_us")))
  }, oracle =
    // Burst-collapse debounce: gaps-and-islands leaders, gap measured
    // from the previous event (one lag window), 1 h threshold.
    """WITH w AS (SELECT event_id, user_id, event_type, ts,
      |  lag(ts) OVER (PARTITION BY user_id, event_type
      |    ORDER BY ts ASC, event_id ASC) AS prev
      |  FROM events)
      |SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
      |FROM w WHERE prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 3600000000
      |ORDER BY event_id""".stripMargin)

  gate("q_argmax", (s, d) => {
    // ARG_MAX/ARG_MIN through the JSON WIRE FORM (the DSL's newest fns
    // must survive serialization like the rest): per return flag, the
    // orderkey at the extreme extendedprice, ties broken by the value
    // itself — deterministic under any partitioning, which bare max_by
    // is not.
    import graft.plans.QuerySpecs
    import graft.plans.QuerySpecs.{AggFieldSpec, AggSpec, SortKeySpec}
    val spec = AggSpec(List("l_returnflag"), List(
      AggFieldSpec("ARG_MAX", Some("l_orderkey"), "top_key",
        orderBy = Some(SortKeySpec("l_extendedprice"))),
      AggFieldSpec("ARG_MIN", Some("l_orderkey"), "bottom_key",
        orderBy = Some(SortKeySpec("l_extendedprice"))),
      AggFieldSpec("COUNT", None, "n")))
    val wire = QuerySpecs.readAggSpec(QuerySpecs.writeAggSpec(spec))
    require(wire == spec, "ARG_MAX/ARG_MIN spec JSON round-trip is lossy")
    Relational.sort(col("l_returnflag"))(
      QuerySpecs.buildAggregate(wire)(Tables.lineitem(s, d)))
  }, oracle =
    // ARG_MAX/ARG_MIN tie-break is the (order, value) lexicographic
    // extreme — replayed as rank-1 rows under the matching total order.
    """WITH r AS (SELECT l_returnflag, l_orderkey,
      |  ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |    ORDER BY l_extendedprice DESC, l_orderkey DESC) AS rmax,
      |  ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |    ORDER BY l_extendedprice ASC, l_orderkey ASC) AS rmin
      |  FROM lineitem)
      |SELECT l_returnflag,
      |  MAX(CASE WHEN rmax = 1 THEN l_orderkey END) AS top_key,
      |  MAX(CASE WHEN rmin = 1 THEN l_orderkey END) AS bottom_key,
      |  COUNT(*) AS n
      |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  gate("q_interval_merge", (s, d) => {
    // Overlap-merge of per-user time intervals (event start + a
    // deterministic duration): maximal disjoint spans via the
    // gaps-and-islands reduction — two key-sharded exchanges.
    val iv = Tables.events(s, d).select(col("user_id"),
      graft.functions.Exprs.epochMicrosCivil(col("ts")).as("s"),
      (graft.functions.Exprs.epochMicrosCivil(col("ts")) +
        ((col("event_id") % 7) + 1) * 600000000L).as("e"))
    Relational.sort(col("user_id"), col("s"))(
      graft.pipeline.Events.mergeIntervals(iv, Seq("user_id"), "s", "e"))
  }, oracle =
    // Gaps-and-islands overlap merge: island breaks where start strictly
    // exceeds the running max end of everything before it.
    """WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
      |  epoch_us(ts) + ((event_id % 7) + 1) * 600000000 AS e FROM events),
      |m AS (SELECT user_id, s, e, MAX(e) OVER (PARTITION BY user_id
      |  ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      |  FROM iv),
      |g AS (SELECT *, SUM(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
      |  OVER (PARTITION BY user_id ORDER BY s, e
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM m)
      |SELECT user_id, MIN(s) AS s, MAX(e) AS e, COUNT(*) AS n_merged
      |FROM g GROUP BY user_id, island ORDER BY user_id, s""".stripMargin)

  gate("q_transitions", (s, d) => {
    // First-order event-type transition counts (the Markov face): one
    // user-sharded lead window, one pair aggregate.
    Relational.sort(col("from_type"), col("to_type"))(
      graft.pipeline.Events.transitions(Tables.events(s, d),
        Seq("user_id"), "ts", "event_type", "event_id"))
  }, oracle =
    """WITH t AS (SELECT event_type, lead(event_type) OVER (
      |  PARTITION BY user_id ORDER BY ts, event_id) AS nxt FROM events)
      |SELECT event_type AS from_type, nxt AS to_type, COUNT(*) AS n
      |FROM t WHERE nxt IS NOT NULL
      |GROUP BY from_type, nxt ORDER BY from_type, to_type""".stripMargin)

  gate("q_ntile", (s, d) => {
    // Per-group equi-depth bin assignment (ntile k=5, total order via the
    // (orderkey, linenumber) unique tie); membership pinned per bucket by
    // exact integer sums, not 60k raw rows.
    val li = Tables.lineitem(s, d)
    val binned = graft.pipeline.Profile.quantileBins(li, "l_returnflag",
      "l_extendedprice", 5, Seq("l_orderkey", "l_linenumber"))
    Relational.sort(col("l_returnflag"), col("bucket"))(
      binned.groupBy(col("l_returnflag"), col("bucket")).agg(
        count(lit(1)).as("n"),
        min(col("l_extendedprice")).as("lo"),
        max(col("l_extendedprice")).as("hi"),
        sum(col("l_orderkey")).as("sum_key")))
  }, oracle =
    // ntile under the same TOTAL order (value, orderkey, linenumber);
    // bucket membership pinned by the exact integer key sum.
    """WITH b AS (SELECT l_returnflag, l_orderkey, l_extendedprice,
      |  ntile(5) OVER (PARTITION BY l_returnflag
      |    ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket
      |  FROM lineitem)
      |SELECT l_returnflag, CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n,
      |  MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_key
      |FROM b GROUP BY l_returnflag, bucket
      |ORDER BY l_returnflag, bucket""".stripMargin)

  gate("q_fd_check", (s, d) => {
    // Functional-dependency audit suite: a true key (o_orderkey →
    // o_custkey), a violated within-order dependency (l_orderkey →
    // l_returnflag), and a violated demographic one (c_nationkey →
    // c_mktsegment) — one report row each.
    import graft.pipeline.Checks
    val f1 = Checks.functionalDependency(Tables.orders(s, d),
      Seq("o_orderkey"), "o_custkey", "orders_key")
    val f2 = Checks.functionalDependency(Tables.lineitem(s, d),
      Seq("l_orderkey"), "l_returnflag", "order_returnflag")
    val f3 = Checks.functionalDependency(Tables.customer(s, d),
      Seq("c_nationkey"), "c_mktsegment", "nation_segment")
    Relational.sort(col("check_name"))(f1.unionByName(f2).unionByName(f3))
  }, oracle =
    // FD audit over DISTINCT (lhs, rhs) pairs — NULL rhs is a value.
    """WITH f1 AS (SELECT 'orders_key' AS check_name, lhs, COUNT(*) AS nr
      |  FROM (SELECT DISTINCT o_orderkey AS lhs, o_custkey AS r FROM orders)
      |  GROUP BY lhs),
      |f2 AS (SELECT 'order_returnflag' AS check_name, lhs, COUNT(*) AS nr
      |  FROM (SELECT DISTINCT l_orderkey AS lhs, l_returnflag AS r FROM lineitem)
      |  GROUP BY lhs),
      |f3 AS (SELECT 'nation_segment' AS check_name, lhs, COUNT(*) AS nr
      |  FROM (SELECT DISTINCT c_nationkey AS lhs, c_mktsegment AS r FROM customer)
      |  GROUP BY lhs),
      |u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2 UNION ALL
      |  SELECT * FROM f3)
      |SELECT check_name, COUNT(*) AS lhs_groups,
      |  CAST(SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_groups,
      |  CAST(MAX(nr) AS BIGINT) AS max_rhs_per_lhs,
      |  SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) = 0 AS holds
      |FROM u GROUP BY check_name ORDER BY check_name""".stripMargin)

  gate("q_rfm", (s, d) => {
    // RFM customer segmentation over orders: integer recency days (µs
    // arithmetic), exact count/decimal-sum metrics, global ntile scores
    // with the customer key as tie-break — windows run on the aggregated
    // customer table, never the fact scan.
    Relational.sort(col("o_custkey"))(asDouble("monetary")(
      graft.pipeline.Retail.rfm(Tables.orders(s, d), "o_custkey",
        "o_orderdate", "o_totalprice", k = 5)))
  }, oracle =
    // RFM: integer recency days via µs floor-division, global ntile with
    // the customer key tie-break — DuckDB ntile is BIGINT, Spark's INT;
    // both kind-match under the driver's compare.
    """WITH c AS (SELECT o_custkey, max(o_orderdate) AS last_ts,
      |    count(*) AS frequency,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS mon
      |  FROM orders GROUP BY 1),
      |d AS (SELECT o_custkey, frequency, mon,
      |    (epoch_ns((SELECT max(o_orderdate) FROM orders)) // 1000
      |     - epoch_ns(last_ts) // 1000) // 86400000000 AS r_days
      |  FROM c),
      |s AS (SELECT o_custkey, r_days, frequency,
      |    CAST(mon AS DOUBLE) AS monetary,
      |    ntile(5) OVER (ORDER BY r_days, o_custkey) AS r_score,
      |    ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
      |    ntile(5) OVER (ORDER BY mon DESC, o_custkey) AS m_score
      |  FROM d)
      |SELECT o_custkey, r_days, frequency, monetary, r_score, f_score,
      |  m_score, r_score * 100 + f_score * 10 + m_score AS segment
      |FROM s ORDER BY o_custkey""".stripMargin)

  gate("q_abc", (s, d) => {
    // ABC/Pareto revenue classification per part: cumulative DECIMAL
    // share against scaled-integer cut lines (cum·100 ≤ total·80/95), so
    // the class boundary is engine-exact.
    Relational.sort(col("l_partkey"))(asDouble("revenue", "cum_revenue")(
      graft.pipeline.Retail.abcClassify(Tables.lineitem(s, d),
        "l_partkey", "l_extendedprice")))
  }, oracle =
    // ABC: cumulative decimal revenue against scaled-integer cut lines —
    // no float share division anywhere near the class boundary.
    """WITH r AS (SELECT l_partkey,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      |  FROM lineitem GROUP BY 1),
      |w AS (SELECT l_partkey, rev,
      |    sum(rev) OVER (ORDER BY rev DESC, l_partkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    (SELECT sum(rev) FROM r) AS total
      |  FROM r)
      |SELECT l_partkey, CAST(rev AS DOUBLE) AS revenue,
      |  CAST(cum AS DOUBLE) AS cum_revenue,
      |  CASE WHEN cum * 100 <= total * 80 THEN 'A'
      |       WHEN cum * 100 <= total * 95 THEN 'B'
      |       ELSE 'C' END AS abc_class
      |FROM w ORDER BY l_partkey""".stripMargin)

  gate("q_mannwhitney", (s, d) => {
    // Rank-sum test, returnflag A vs R over quantity: tie-aware 2·U kept
    // integral (two_u), rank-biserial + tie-corrected z as fixed double
    // dags rounded 6 dp. One distinct-value exchange, no per-row ranks.
    graft.pipeline.Profile.mannWhitneyU(Tables.lineitem(s, d),
      "l_returnflag", "l_quantity", "A", "R")
  }, oracle =
    // Mann-Whitney: 2·R1 = Σ c1·(2·bef + c + 1) over distinct values
    // keeps tie-averaged ranks integral; z mirrors the engine's exact
    // expression shape (no continuity correction).
    """WITH f AS (SELECT CAST(l_quantity AS DOUBLE) AS v,
      |    CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS a1,
      |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS a2
      |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
      |g AS (SELECT v, CAST(SUM(a1) AS BIGINT) AS c1,
      |    CAST(SUM(a2) AS BIGINT) AS c2 FROM f GROUP BY v),
      |w AS (SELECT v, c1, c2,
      |    COALESCE(SUM(c1 + c2) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
      |  FROM g),
      |s AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
      |    CAST(SUM(c2) AS BIGINT) AS n2,
      |    CAST(SUM(c1 * (2 * bef + c1 + c2 + 1)) AS BIGINT) AS two_r1,
      |    CAST(SUM((c1 + c2) * (c1 + c2) * (c1 + c2) - (c1 + c2)) AS BIGINT) AS ties
      |  FROM w),
      |u AS (SELECT n1, n2, two_r1 - n1 * (n1 + 1) AS two_u, ties FROM s)
      |SELECT n1, n2, two_u,
      |  round(1.0 - CAST(two_u AS DOUBLE) /
      |    (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS rank_biserial,
      |  round((CAST(two_u AS DOUBLE) / 2.0
      |      - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0) /
      |    sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 *
      |      ((CAST(n1 + n2 AS DOUBLE) + 1.0) - CAST(ties AS DOUBLE) /
      |        (CAST(n1 + n2 AS DOUBLE) * (CAST(n1 + n2 AS DOUBLE) - 1.0)))), 6)
      |    AS z
      |FROM u""".stripMargin)

  gate("q_ks_test", (s, d) => {
    // Two-sample KS distance over extendedprice: integer numerator
    // max|n2·cum1 − n1·cum2| exact under any partitioning; one rounded
    // double at the edge.
    graft.pipeline.Profile.ksTest2(Tables.lineitem(s, d),
      "l_returnflag", "l_extendedprice", "A", "R")
  }, oracle =
    // KS: integer ECDF numerator over the union of observed values.
    """WITH f AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v,
      |    CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS a1,
      |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS a2
      |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
      |g AS (SELECT v, CAST(SUM(a1) AS BIGINT) AS c1,
      |    CAST(SUM(a2) AS BIGINT) AS c2 FROM f GROUP BY v),
      |w AS (SELECT
      |    SUM(c1) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
      |    SUM(c2) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
      |    (SELECT CAST(SUM(c1) AS BIGINT) FROM g) AS n1,
      |    (SELECT CAST(SUM(c2) AS BIGINT) FROM g) AS n2
      |  FROM g)
      |SELECT MAX(n1) AS n1, MAX(n2) AS n2,
      |  CAST(MAX(ABS(n2 * cum1 - n1 * cum2)) AS BIGINT) AS d_num,
      |  round(CAST(MAX(ABS(n2 * cum1 - n1 * cum2)) AS DOUBLE) /
      |    (CAST(MAX(n1) AS DOUBLE) * CAST(MAX(n2) AS DOUBLE)), 6) AS d
      |FROM w""".stripMargin)

  gate("q_item_sim", (s, d) => {
    // Item-item cosine top-5 over order baskets — the recommender table;
    // rank order uses the raw double cosine (identical bits from exact
    // integers in both engines), rounded only at the edge.
    Relational.sort(col("i1"), col("rank"))(
      graft.pipeline.Association.itemPairCosine(Tables.lineitem(s, d),
        "l_orderkey", "l_partkey", minPairCount = 2L, topK = 5))
  }, oracle =
    // Item-item cosine: both directions of each qualifying pair ranked
    // per item; ORDER BY the raw double cosine (identical bits both
    // engines), ties on (c12 desc, i2).
    """WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
      |  FROM lineitem),
      |cnt AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS c FROM it GROUP BY 1),
      |und AS (SELECT a.i AS i1, b.i AS i2, CAST(COUNT(*) AS BIGINT) AS c12
      |  FROM it a JOIN it b ON a.b = b.b AND a.i < b.i
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |dir AS (SELECT i1, i2, c12 FROM und
      |  UNION ALL SELECT i2, i1, c12 FROM und),
      |sc AS (SELECT d.i1, d.i2, d.c12, c1.c AS c1, c2.c AS c2,
      |    CAST(d.c12 AS DOUBLE) / sqrt(CAST(c1.c * c2.c AS DOUBLE)) AS cos
      |  FROM dir d JOIN cnt c1 ON d.i1 = c1.i JOIN cnt c2 ON d.i2 = c2.i),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY i1
      |    ORDER BY cos DESC, c12 DESC, i2) AS rank FROM sc)
      |SELECT i1, i2, c12, c1, c2, round(cos, 6) AS cosine,
      |  CAST(rank AS INTEGER) AS rank
      |FROM rk WHERE rank <= 5 ORDER BY i1, rank""".stripMargin)

  gate("q_kfold", (s, d) => {
    // Stratified 5-fold assignment over documents by language; the gate
    // pins per-(stratum, fold) sizes AND membership (sum of ids) — exact
    // balance is the property a hash-mod split can't give.
    val folds = graft.pipeline.Sampling.stratifiedKFold(
      Tables.documents(s, d), Seq("lang"), k = 5, seed = 42L, Seq("doc_id"))
    Relational.sort(col("lang"), col("fold"))(
      folds.groupBy(col("lang"), col("fold"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id")))
  }, oracle =
    // Stratified k-fold: replay the seeded shuffle key (seed 42 ⇒ odd
    // multiplier (2·42+1)·P0 mod 2^31 + offset 42·P1), deal round-robin
    // within each language stratum.
    """WITH k AS (SELECT lang, doc_id,
      |  (((doc_id % 2147483648) * ((85 * 2654435761) % 2147483648))
      |     % 2147483648
      |   + (42 * 2246822519) % 2147483648) % 2147483648 AS skey
      |  FROM documents),
      |r AS (SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang ORDER BY skey, doc_id) AS rn
      |  FROM k)
      |SELECT lang, CAST((rn - 1) % 5 AS INTEGER) AS fold,
      |  COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS sum_id
      |FROM r GROUP BY lang, fold ORDER BY lang, fold""".stripMargin)

  gate("q_time_travel", (s, d) => {
    // Commit-log time travel end to end: three commits (base load, an
    // append, a rewrite that REMOVES the base file), then every version
    // read back AS OF and aggregated — a stale or leaky snapshot
    // resolution (reading a removed directory, missing an added one)
    // hash-mismatches against the oracle's per-version filters.
    val base = cleanupAtExit(s"${System.getProperty("java.io.tmpdir")}/graft_tt_${ProcessHandle.current().pid()}")
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    Relational.fileOutput(o.where(col("o_orderkey") % 3 === 0), s"$base/f0")
    Relational.commitVersion(base, 0, adds = Seq(s"$base/f0"), removes = Nil)
    Relational.fileOutput(o.where(col("o_orderkey") % 3 === 1), s"$base/f1")
    Relational.commitVersion(base, 1, adds = Seq(s"$base/f1"), removes = Nil)
    Relational.fileOutput(
      o.where(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2), s"$base/f2")
    Relational.commitVersion(base, 2,
      adds = Seq(s"$base/f2"), removes = Seq(s"$base/f0"))
    val perVersion = (0 to 2).map { v =>
      Relational.readSnapshot(s, base, Some(v))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).as("sum_price"))
        .select(lit(v).as("version"), col("n"), col("sum_price"))
    }
    Relational.sort(col("version"))(asDouble("sum_price")(
      perVersion.reduce(_ unionByName _)))
  }, oracle =
    // Time travel: v0 = keys ≡0 (mod 3), v1 adds ≡1, v2 swaps the ≡0
    // file for a price-doubled rewrite.
    """SELECT 0 AS version, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_orderkey % 3 = 0
      |UNION ALL
      |SELECT 1, COUNT(*),
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |FROM orders WHERE o_orderkey % 3 IN (0, 1)
      |UNION ALL
      |SELECT 2, COUNT(*),
      |  CAST(SUM(CAST(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
      |    ELSE o_totalprice END AS DECIMAL(18,2))) AS DOUBLE)
      |FROM orders WHERE o_orderkey % 3 IN (0, 1)
      |ORDER BY version""".stripMargin)

  gate("q_paths", (s, d) => {
    // First-3-events user journeys: ordered per-user prefix, path counts
    // across users.
    Relational.sort(col("path"), col("depth"))(
      graft.pipeline.Events.topPaths(Tables.events(s, d),
        "user_id", "ts", "event_type", "event_id", depth = 3))
  }, oracle =
    // First-3 user journeys: ordered prefix per user, path counts.
    """WITH r AS (SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS rn
      |  FROM events),
      |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path,
      |    CAST(COUNT(*) AS INTEGER) AS depth
      |  FROM r WHERE rn <= 3 GROUP BY user_id)
      |SELECT path, depth, COUNT(*) AS n_users
      |FROM p GROUP BY path, depth ORDER BY path, depth""".stripMargin)

  gate("q_moving_avg", (s, d) => {
    // Trailing-5 rolling stats per user over event values: decimal
    // window sums, exact short heads; micros surface for the ts column.
    val out = graft.pipeline.TimeSeries.movingStats(Tables.events(s, d),
      "user_id", "ts", "value", "event_id", lookback = 5)
    Relational.sort(col("user_id"), col("event_id"))(
      out.select(col("user_id"), col("event_id"),
        graft.functions.Exprs.epochMicrosCivil(col("ts")).as("ts_us"), round(col("win_mean"), 6).as("win_mean"),
        col("win_n"), col("win_min"), col("win_max")))
  }, oracle =
    // Trailing-5 rolling stats: decimal window sums, exact short heads.
    """WITH w AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
      |    COUNT(CAST(value AS DECIMAL(18,6))) OVER win AS win_n,
      |    SUM(CAST(value AS DECIMAL(18,6))) OVER win AS win_sum,
      |    MIN(CAST(value AS DECIMAL(18,6))) OVER win AS win_min_d,
      |    MAX(CAST(value AS DECIMAL(18,6))) OVER win AS win_max_d
      |  FROM events
      |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
      |SELECT user_id, event_id, ts_us,
      |  round(CAST(win_sum AS DOUBLE) / CAST(win_n AS DOUBLE), 6) AS win_mean,
      |  CAST(win_n AS BIGINT) AS win_n,
      |  CAST(win_min_d AS DOUBLE) AS win_min,
      |  CAST(win_max_d AS DOUBLE) AS win_max
      |FROM w ORDER BY user_id, event_id""".stripMargin)

  gate("q_ohlc", (s, d) => {
    // Daily OHLC/VWAP bars per event type: open/close are struct
    // ARG_MIN/ARG_MAX by (µs, price) in ONE aggregation pass.
    val out = graft.pipeline.TimeSeries.ohlcBars(Tables.events(s, d),
      "event_type", "ts", "value", "event_id", unit = "day")
    Relational.sort(col("event_type"), col("bucket"))(
      out.withColumn("bucket", date_format(col("bucket"), "yyyy-MM-dd"))
        .withColumn("vwap", round(col("vwap"), 6)))
  }, oracle =
    // Daily OHLC/VWAP bars: open/close replayed as rank-1 rows under
    // the engine's exact (µs, price) struct order. Volume is cast
    // DECIMAL(19,6) — deliberately ONE integer digit wider than the
    // engine's (18,6) (TimeSeries.ohlcBars) for two reasons: DuckDB only
    // switches decimal arithmetic to int128 at width ≥19 (an int64-backed
    // (18,6) product would overflow silently), and oracle-wider means an
    // engine-side decimal overflow surfaces as a gate mismatch instead of
    // matching nulls on both sides.
    """WITH e AS (SELECT event_type,
      |    strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
      |    epoch_ns(ts) // 1000 AS us, CAST(value AS DOUBLE) AS p,
      |    CAST(value AS DECIMAL(12,6)) AS pd,
      |    CAST(event_id AS DECIMAL(19,6)) AS vd
      |  FROM events),
      |r AS (SELECT *,
      |    row_number() OVER (PARTITION BY event_type, bucket
      |      ORDER BY us, p) AS ro,
      |    row_number() OVER (PARTITION BY event_type, bucket
      |      ORDER BY us DESC, p DESC) AS rc
      |  FROM e)
      |SELECT event_type, bucket, COUNT(*) AS n,
      |  MAX(CASE WHEN ro = 1 THEN p END) AS open,
      |  CAST(MAX(pd) AS DOUBLE) AS high,
      |  CAST(MIN(pd) AS DOUBLE) AS low,
      |  MAX(CASE WHEN rc = 1 THEN p END) AS close,
      |  round(CAST(CAST(SUM(pd * vd) AS VARCHAR) AS DOUBLE) /
      |    CAST(CAST(SUM(vd) AS VARCHAR) AS DOUBLE), 6) AS vwap,
      |  CAST(CAST(SUM(vd) AS VARCHAR) AS DOUBLE) AS volume
      |FROM r GROUP BY event_type, bucket
      |ORDER BY event_type, bucket""".stripMargin)

  gate("q_top_n_other", (s, d) => {
    // Cardinality-capped reporting dimension: top-10 parts by revenue,
    // tail folded into OTHER; the kept set is broadcast, facts summed
    // exactly once.
    Relational.sort(col("category"))(asDouble("measure_sum")(
      graft.operators.Aggregates.topNOther(Tables.lineitem(s, d),
        "l_partkey", "l_extendedprice", n = 10)))
  }, oracle =
    // Top-N + OTHER: rank over the category aggregate, exact decimal
    // re-fold of the tail.
    """WITH agg AS (SELECT COALESCE(CAST(l_partkey AS VARCHAR), 'NULL')
      |      AS category,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS m,
      |    COUNT(*) AS nr
      |  FROM lineitem GROUP BY 1),
      |k AS (SELECT category,
      |    row_number() OVER (ORDER BY m DESC, category) AS r FROM agg)
      |SELECT CASE WHEN k.r <= 10 THEN agg.category ELSE 'OTHER' END
      |    AS category,
      |  CAST(SUM(m) AS DOUBLE) AS measure_sum,
      |  CAST(SUM(nr) AS BIGINT) AS n_rows
      |FROM agg JOIN k USING (category)
      |GROUP BY 1 ORDER BY category""".stripMargin)

  gate("q_prop_test", (s, d) => {
    // Two-proportion z: flag A vs R, "success" = quantity above 25.
    graft.pipeline.Profile.propTest2(Tables.lineitem(s, d),
      "l_returnflag", col("l_quantity") > 25, "A", "R")
  }, oracle =
    // Two-proportion z (pooled), success = quantity > 25.
    """WITH f AS (SELECT
      |    CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN l_returnflag = 'A' AND l_quantity > 25
      |      THEN 1 ELSE 0 END) AS BIGINT) AS x1,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' AND l_quantity > 25
      |      THEN 1 ELSE 0 END) AS BIGINT) AS x2
      |  FROM lineitem WHERE l_returnflag IN ('A', 'R'))
      |SELECT n1, x1, n2, x2,
      |  round(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS p1,
      |  round(CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE), 6) AS p2,
      |  round((CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |      - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE)) /
      |    sqrt(CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) *
      |      (1.0 - CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) *
      |      (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))), 6) AS z
      |FROM f""".stripMargin)

  gate("q_schema_evolution", (s, d) => {
    // Schema evolution across commits: v1 adds a column; the merged
    // time-travel scan reads it as NULL from the v0 file — grouped so a
    // wrong NULL-fill or a dropped file hash-mismatches.
    val base = cleanupAtExit(s"${System.getProperty("java.io.tmpdir")}/graft_se_${ProcessHandle.current().pid()}")
    val o = Tables.orders(s, d)
    Relational.fileOutput(o.where(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice")), s"$base/f0")
    Relational.commitVersion(base, 0, adds = Seq(s"$base/f0"), removes = Nil)
    Relational.fileOutput(o.where(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority")),
      s"$base/f1")
    Relational.commitVersion(base, 1, adds = Seq(s"$base/f1"), removes = Nil)
    val snap = Relational.readSnapshot(s, base, mergeSchema = true)
    Relational.sort(col("prio"))(asDouble("sum_price")(
      snap.groupBy(coalesce(col("o_orderpriority"), lit("<v0>")).as("prio"))
        .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).as("sum_price"))))
  }, oracle =
    // Schema evolution: the v1-added column reads NULL from the v0 file.
    """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<v0>'
      |    ELSE o_orderpriority END AS prio,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin)

  gate("q_pmi", (s, d) => {
    // Adjacent-bigram PMI collocations (minCount 5); ln rounds to 6 dp at
    // the output edge per the q_tfidf convention.
    Relational.sort(col("w1"), col("w2"))(
      graft.pipeline.Scoring.bigramPmi(Tables.documents(s, d),
        "doc_id", "text", minCount = 5))
  }, oracle =
    // bigram PMI: joint over unigram-product probabilities, ALL-bigram
    // denominator, minCount >= 5 output cut, 6 dp round. MATERIALIZED:
    // DuckDB re-inlines the twice-referenced tokenization CTE (the r7
    // DBSCAN finding) — at sf1 the un-hinted form timed out.
    """WITH t AS MATERIALIZED (SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ws FROM documents),
      |uni AS (SELECT unnest(ws) AS w FROM t),
      |u AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
      |ut AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM u),
      |biall AS (SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
      |  i -> struct_pack(w1 := ws[i], w2 := ws[i+1]))) AS b FROM t),
      |ba AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS c12 FROM biall GROUP BY 1, 2),
      |bt AS (SELECT CAST(SUM(c12) AS BIGINT) AS bt FROM ba),
      |q AS (SELECT w1, w2, c12 FROM ba WHERE c12 >= 5)
      |SELECT q.w1, q.w2, q.c12, u1.c AS c1, u2.c AS c2,
      |  round(ln((CAST(q.c12 AS DOUBLE) / CAST(bt.bt AS DOUBLE)) /
      |    ((CAST(u1.c AS DOUBLE) / CAST(ut.t AS DOUBLE)) *
      |     (CAST(u2.c AS DOUBLE) / CAST(ut.t AS DOUBLE)))), 6) AS pmi
      |FROM q JOIN u u1 ON q.w1 = u1.w JOIN u u2 ON q.w2 = u2.w
      |CROSS JOIN ut CROSS JOIN bt ORDER BY w1, w2""".stripMargin)

  gate("q_scd2", (s, d) => {
    // Four-phase log: initial load, price update, delete wave, re-insert
    // after delete — versions with open/closed validity, one lead window.
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    val log = o.withColumn("seq", lit(1L)).withColumn("op", lit("I"))
      .unionByName(o.where(col("o_orderkey") % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("seq", lit(2L)).withColumn("op", lit("U")))
      .unionByName(o.where(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", lit(null).cast("double"))
        .withColumn("seq", lit(3L)).withColumn("op", lit("D")))
      .unionByName(o.where(col("o_orderkey") % 35 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1)
        .withColumn("seq", lit(4L)).withColumn("op", lit("I")))
    Relational.sort(col("o_orderkey"), col("valid_from"))(
      Relational.scd2History(log, Seq("o_orderkey"), "seq", "op"))
  }, oracle =
    // SCD2 history: I/U open versions, the NEXT event (any op) closes them
    """WITH log AS (
      |  SELECT o_orderkey, o_totalprice, 1 AS seq, 'I' AS op FROM orders
      |  UNION ALL SELECT o_orderkey, o_totalprice * 2, 2, 'U' FROM orders WHERE o_orderkey % 5 = 0
      |  UNION ALL SELECT o_orderkey, NULL, 3, 'D' FROM orders WHERE o_orderkey % 7 = 0
      |  UNION ALL SELECT o_orderkey, o_totalprice + 1, 4, 'I' FROM orders WHERE o_orderkey % 35 = 0),
      |v AS (SELECT *, lead(seq) OVER (PARTITION BY o_orderkey ORDER BY seq) AS valid_to FROM log)
      |SELECT o_orderkey, o_totalprice, CAST(seq AS BIGINT) AS valid_from,
      |  CAST(valid_to AS BIGINT) AS valid_to, valid_to IS NULL AS is_current
      |FROM v WHERE op IN ('I', 'U') ORDER BY o_orderkey, valid_from""".stripMargin)

  gate("q_pit_join", (s, d) => {
    // Point-in-time lookup against the same four-phase SCD2 history as
    // q_scd2: each synthetic fact (seq = 1 + key % 4) picks up the
    // version valid at its sequence point; facts inside a deleted
    // window survive with NULL payload — the left-join semantics a
    // warehouse PIT read needs.
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    val log = o.withColumn("seq", lit(1L)).withColumn("op", lit("I"))
      .unionByName(o.where(col("o_orderkey") % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("seq", lit(2L)).withColumn("op", lit("U")))
      .unionByName(o.where(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", lit(null).cast("double"))
        .withColumn("seq", lit(3L)).withColumn("op", lit("D")))
      .unionByName(o.where(col("o_orderkey") % 35 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1)
        .withColumn("seq", lit(4L)).withColumn("op", lit("I")))
    val hist = Relational.scd2History(log, Seq("o_orderkey"), "seq", "op")
      .withColumnRenamed("o_totalprice", "dim_price")
    val facts = Tables.orders(s, d).select(col("o_orderkey"),
      (lit(1L) + col("o_orderkey") % 4).as("fact_seq"))
    Relational.sort(col("o_orderkey"))(
      Relational.pointInTimeJoin(facts, hist, Seq("o_orderkey"), "fact_seq")
        .select(col("o_orderkey"), col("fact_seq"), col("dim_price"),
          col("valid_from"), col("dim_price").isNotNull.as("matched")))
  }, oracle =
    // PIT join: the q_scd2 history replayed, then a LEFT validity join;
    // facts in a deleted window keep NULL payload.
    """WITH log AS (
      |  SELECT o_orderkey, o_totalprice, 1 AS seq, 'I' AS op FROM orders
      |  UNION ALL SELECT o_orderkey, o_totalprice * 2, 2, 'U' FROM orders WHERE o_orderkey % 5 = 0
      |  UNION ALL SELECT o_orderkey, NULL, 3, 'D' FROM orders WHERE o_orderkey % 7 = 0
      |  UNION ALL SELECT o_orderkey, o_totalprice + 1, 4, 'I' FROM orders WHERE o_orderkey % 35 = 0),
      |v AS (SELECT *, lead(seq) OVER (PARTITION BY o_orderkey ORDER BY seq) AS valid_to FROM log),
      |h AS (SELECT o_orderkey, o_totalprice AS dim_price,
      |    CAST(seq AS BIGINT) AS valid_from, CAST(valid_to AS BIGINT) AS valid_to
      |  FROM v WHERE op IN ('I', 'U')),
      |f AS (SELECT o_orderkey, 1 + o_orderkey % 4 AS fact_seq FROM orders),
      |mt AS (SELECT f.o_orderkey, f.fact_seq, h.dim_price, h.valid_from
      |  FROM f JOIN h ON f.o_orderkey = h.o_orderkey
      |  WHERE f.fact_seq >= h.valid_from
      |    AND (h.valid_to IS NULL OR f.fact_seq < h.valid_to))
      |SELECT o_orderkey, fact_seq, dim_price, valid_from, TRUE AS matched
      |FROM mt
      |UNION ALL
      |SELECT f.o_orderkey, f.fact_seq, CAST(NULL AS DOUBLE),
      |  CAST(NULL AS BIGINT), FALSE
      |FROM f ANTI JOIN mt ON f.o_orderkey = mt.o_orderkey
      |ORDER BY o_orderkey""".stripMargin)

  gate("q_linkage", (s, d) => {
    // Fellegi-Sunter linkage of customers against a deterministically
    // dirtied copy; constant log-weights rounded 6 dp and decimal-
    // summed. Blocking key = the case-NORMALIZED name: robust to the
    // case perturbation (true matches always share a block) and
    // near-linear in candidates — the first cut blocked on nation
    // alone (25 values), whose block sizes grow with the data and make
    // candidate pairs QUADRATIC (measured 63x wall at 10x data); the
    // normalized-name key keeps per-block sides bounded by the
    // duplication factor, the posture every dedup operator here takes.
    val c = Tables.customer(s, d)
    val dirty = c.select(lower(col("c_name")).as("block"),
      col("c_custkey").as("r_id"),
      when(col("c_custkey") % 4 === 0, upper(col("c_name")))
        .otherwise(col("c_name")).as("c_name"),
      when(col("c_custkey") % 3 === 0, col("c_acctbal") + 1000)
        .otherwise(col("c_acctbal")).as("c_acctbal"),
      col("c_mktsegment"))
    val leftT = c.select(lower(col("c_name")).as("block"), col("c_custkey"),
      col("c_name"), col("c_acctbal"), col("c_mktsegment"))
    val scored = graft.pipeline.Dedup.linkageScores(leftT, dirty,
      "block", "c_custkey", "r_id", Seq(
        ("c_name", 0.95, 0.001), ("c_acctbal", 0.9, 0.001),
        ("c_mktsegment", 0.95, 0.2)))
    Relational.sort(col("lid"), col("rid"))(
      scored.where(col("score") > 0)
        .select(col("lid"), col("rid"), col("ag_c_name"), col("ag_c_acctbal"),
          col("ag_c_mktsegment"), round(col("score"), 6).as("score")))
  }, oracle =
    // Fellegi-Sunter: constant 6-dp log weights, decimal-summed; the
    // blocking join and null-safe agreement replayed verbatim.
    """WITH dirty AS (SELECT lower(c_name) AS block, c_custkey AS r_id,
      |    CASE WHEN c_custkey % 4 = 0 THEN upper(c_name) ELSE c_name END AS c_name,
      |    CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 1000 ELSE c_acctbal END AS c_acctbal,
      |    c_mktsegment
      |  FROM customer),
      |p AS (SELECT l.c_custkey AS lid, r.r_id AS rid,
      |    l.c_name IS NOT DISTINCT FROM r.c_name AS ag_c_name,
      |    l.c_acctbal IS NOT DISTINCT FROM r.c_acctbal AS ag_c_acctbal,
      |    l.c_mktsegment IS NOT DISTINCT FROM r.c_mktsegment AS ag_c_mktsegment
      |  FROM customer l JOIN dirty r ON lower(l.c_name) = r.block),
      |sc AS (SELECT lid, rid, ag_c_name, ag_c_acctbal, ag_c_mktsegment,
      |    CAST(CASE WHEN ag_c_name THEN round(ln(0.95 / 0.001), 6)
      |      ELSE round(ln(0.05 / 0.999), 6) END AS DECIMAL(18,6))
      |  + CAST(CASE WHEN ag_c_acctbal THEN round(ln(0.9 / 0.001), 6)
      |      ELSE round(ln(0.1 / 0.999), 6) END AS DECIMAL(18,6))
      |  + CAST(CASE WHEN ag_c_mktsegment THEN round(ln(0.95 / 0.2), 6)
      |      ELSE round(ln(0.05 / 0.8), 6) END AS DECIMAL(18,6)) AS sd
      |  FROM p)
      |SELECT lid, rid, ag_c_name, ag_c_acctbal, ag_c_mktsegment,
      |  round(CAST(sd AS DOUBLE), 6) AS score
      |FROM sc WHERE CAST(sd AS DOUBLE) > 0 ORDER BY lid, rid""".stripMargin)

  gate("q_benford", (s, d) => {
    // First-significant-digit audit of order totals: digits from the
    // exact decimal digit string, never log10/power.
    Relational.sort(col("digit"))(
      graft.pipeline.Checks.benfordAudit(Tables.orders(s, d), "o_totalprice"))
  }, oracle =
    // Benford: first significant digit from the exact decimal string.
    """WITH dg AS (SELECT substr(regexp_replace(
      |    CAST(abs(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR),
      |    '^0\.0*', ''), 1, 1) AS digit
      |  FROM orders),
      |c AS (SELECT digit, COUNT(*) AS n FROM dg
      |  WHERE digit IN ('1','2','3','4','5','6','7','8','9')
      |  GROUP BY digit),
      |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM c)
      |SELECT digit, n,
      |  round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS observed_frac,
      |  round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 6) AS benford_frac,
      |  round((CAST(n AS DOUBLE) - CAST(tot AS DOUBLE) *
      |      round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 6)) *
      |    (CAST(n AS DOUBLE) - CAST(tot AS DOUBLE) *
      |      round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 6)) /
      |    (CAST(tot AS DOUBLE) *
      |      round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 6)), 6)
      |    AS chi2_term
      |FROM c CROSS JOIN t ORDER BY digit""".stripMargin)

  gate("q_date_dim", (s, d) => {
    // Calendar spine 1995-1998 (the data's date domain): ISO dow,
    // weekend/month-boundary flags — replayed from generate_series.
    Relational.sort(col("date"))(
      Relational.dateDimension(s, "1995-01-01", "1998-12-31"))
  }, oracle =
    // Calendar spine: ISO dow (1 = Monday) in both engines.
    """SELECT strftime(d, '%Y-%m-%d') AS date,
      |  year(d) AS year, quarter(d) AS quarter, month(d) AS month,
      |  day(d) AS day, isodow(d) AS isodow,
      |  isodow(d) >= 6 AS is_weekend, day(d) = 1 AS is_month_start,
      |  d = last_day(d) AS is_month_end
      |FROM generate_series(DATE '1995-01-01', DATE '1998-12-31',
      |  INTERVAL 1 DAY) t(d)
      |ORDER BY date""".stripMargin)

  gate("q_skyline", (s, d) => {
    // Pareto frontier of parts on (revenue, quantity): distinct-x
    // prefix-max reduction, no all-pairs; ties at a frontier point all
    // survive.
    val perPart = Tables.lineitem(s, d)
      .groupBy(col("l_partkey"))
      .agg(sum(dec(col("l_extendedprice"))).as("revenue"),
        sum(dec(col("l_quantity"))).as("qty"))
    Relational.sort(col("l_partkey"))(asDouble("revenue", "qty")(
      graft.pipeline.Profile.skyline2d(perPart, "revenue", "qty")))
  }, oracle =
    // Skyline: the distinct-x prefix-max formulation replayed.
    """WITH p AS (SELECT l_partkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS revenue,
      |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
      |  FROM lineitem GROUP BY 1),
      |x AS (SELECT revenue AS xv, MAX(qty) AS my FROM p GROUP BY 1),
      |k AS (SELECT xv, my, MAX(my) OVER (ORDER BY xv DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM x)
      |SELECT p.l_partkey, CAST(p.revenue AS DOUBLE) AS revenue,
      |  CAST(p.qty AS DOUBLE) AS qty
      |FROM p JOIN k ON p.revenue = k.xv AND p.qty = k.my
      |WHERE k.pm IS NULL OR k.my > k.pm
      |ORDER BY l_partkey""".stripMargin)

  gate("q_fingerprint", (s, d) => {
    // Replication audit: the base table, a reordered/repartitioned
    // replica (MUST fingerprint equal — order independence is the whole
    // point), and a one-cent-perturbed replica (MUST differ).
    import graft.pipeline.Checks
    val base = Tables.lineitem(s, d).select(col("l_orderkey"),
      col("l_linenumber"), col("l_returnflag"),
      dec(col("l_extendedprice")).as("price"))
    val shuffled = base.orderBy(col("l_returnflag")).repartition(7)
    val perturbed = base.withColumn("price",
      when(col("l_orderkey") % 1000 === 0,
        col("price") + lit(BigDecimal("0.01"))).otherwise(col("price")))
    val cols = Seq("l_orderkey", "l_linenumber", "l_returnflag", "price")
    def tag(name: String, df: DataFrame) =
      Checks.tableFingerprint(df, cols).select(lit(name).as("replica"),
        col("n_rows"), col("fingerprint"))
    val out = tag("base", base)
      .unionByName(tag("reordered", shuffled))
      .unionByName(tag("perturbed", perturbed))
    val fps = out.collect().map(r => (r.getString(0), r.getString(2))).toMap
    require(fps("base") == fps("reordered"),
      "fingerprint must be order/partitioning independent")
    require(fps("base") != fps("perturbed"),
      "fingerprint must detect a one-cent perturbation")
    Relational.sort(col("replica"))(out)
  }, oracle =
    // Fingerprint: 48-bit md5 row hashes summed as DECIMAL(38,0); the
    // reordered replica is BY CONSTRUCTION the same sum as base, the
    // perturbed one re-derives with the price bump.
    """WITH b AS (SELECT l_orderkey, l_linenumber, l_returnflag,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) AS price FROM lineitem),
      |fb AS (SELECT COUNT(*) AS n_rows,
      |    CAST(SUM(('0x' || substr(md5(concat_ws('|',
      |      CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
      |      l_returnflag, CAST(price AS VARCHAR))), 1, 12))::BIGINT)
      |      AS DECIMAL(38,0)) AS f
      |  FROM b),
      |pb AS (SELECT l_orderkey, l_linenumber, l_returnflag,
      |    CASE WHEN l_orderkey % 1000 = 0 THEN price + 0.01
      |      ELSE price END AS price FROM b),
      |fp AS (SELECT COUNT(*) AS n_rows,
      |    CAST(SUM(('0x' || substr(md5(concat_ws('|',
      |      CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
      |      l_returnflag, CAST(price AS VARCHAR))), 1, 12))::BIGINT)
      |      AS DECIMAL(38,0)) AS f
      |  FROM pb)
      |SELECT 'base' AS replica, n_rows, CAST(f AS VARCHAR) AS fingerprint FROM fb
      |UNION ALL
      |SELECT 'perturbed', n_rows, CAST(f AS VARCHAR) FROM fp
      |UNION ALL
      |SELECT 'reordered', n_rows, CAST(f AS VARCHAR) FROM fb
      |ORDER BY replica""".stripMargin)

  gate("q_linreg", (s, d) => {
    // Group-wise OLS from exact decimal moments — slope/intercept/r²
    // bit-identical to the oracle's replay of the same expression shape.
    Relational.sort(col("l_returnflag"))(
      graft.pipeline.Profile.linearFit(Tables.lineitem(s, d),
        "l_returnflag", "l_quantity", "l_extendedprice"))
  }, oracle =
    // group-wise OLS from the exact decimal moments; slope materialized
    // so the shared subterm is evaluated once on both engines
    """WITH m AS (SELECT l_returnflag, count(*) AS n,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sx,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sy,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxy,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxx,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS syy
      |  FROM lineitem GROUP BY 1),
      |sl AS (SELECT *, (CAST(n AS DOUBLE) * sxy - sx * sy) /
      |  (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope FROM m)
      |SELECT l_returnflag, n, slope,
      |  (sy - slope * sx) / CAST(n AS DOUBLE) AS intercept,
      |  ((CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy)) /
      |    ((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)) AS r2
      |FROM sl ORDER BY l_returnflag""".stripMargin)

  gate("q_period_over_period", (s, d) => {
    // Daily per-type value sums with previous-observed-period deltas.
    val out = graft.pipeline.Events.periodOverPeriod(
      Tables.events(s, d), "event_type", "ts", "value", unit = "day")
    Relational.sort(col("event_type"), col("day"))(
      out.select(col("event_type"),
        date_format(col("bucket"), "yyyy-MM-dd").as("day"),
        col("cur"), col("prev"), col("change"), col("pct_change")))
  }, oracle =
    // previous-observed-period deltas over daily decimal sums
    """WITH a AS (SELECT event_type, date_trunc('day', ts) AS bucket,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS cur
      |  FROM events GROUP BY 1, 2),
      |l AS (SELECT *, lag(cur) OVER (PARTITION BY event_type ORDER BY bucket) AS prev FROM a)
      |SELECT event_type, strftime(bucket, '%Y-%m-%d') AS day, cur, prev,
      |  cur - prev AS change,
      |  CASE WHEN prev IS NULL OR prev = 0.0 THEN NULL
      |       ELSE cur / prev - 1.0 END AS pct_change
      |FROM l ORDER BY event_type, day""".stripMargin)

  gate("q_funnel_windowed", (s, d) => {
    // Time-bounded funnel: each conversion must land within 24 h of the
    // previous frontier — the abandonment-cutoff variant.
    Relational.sort(col("stage"))(
      graft.pipeline.Events.funnel(Tables.events(s, d),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
        maxGapSeconds = Some(86400L)))
  }, oracle =
    // 24 h-bounded funnel: conversion within (reach, reach + 86400 s]
    """WITH s1 AS (SELECT user_id, min(epoch_ns(ts) // 1000) AS r
      |  FROM events WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(epoch_ns(e.ts) // 1000) AS r
      |  FROM events e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) // 1000 > s1.r
      |    AND epoch_ns(e.ts) // 1000 <= s1.r + 86400000000 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(epoch_ns(e.ts) // 1000) AS r
      |  FROM events e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) // 1000 > s2.r
      |    AND epoch_ns(e.ts) // 1000 <= s2.r + 86400000000 GROUP BY 1),
      |c AS (SELECT 1 AS stage, 'view' AS stage_name, count(*) AS users FROM s1
      |  UNION ALL SELECT 2, 'click', count(*) FROM s2
      |  UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
      |SELECT stage, stage_name, users,
      |  CAST(users AS DOUBLE) / CAST(first_value(users) OVER (ORDER BY stage) AS DOUBLE) AS conv
      |FROM c ORDER BY stage""".stripMargin)

  gate("q_inverted_index", (s, d) => {
    // Posting-list build + conjunctive AND-query: docs containing all
    // three terms; the probe aggregates only the query terms' postings.
    val idx = graft.pipeline.Index.invertedIndex(
      Tables.documents(s, d), "doc_id", "text")
    Relational.sort(col("doc"))(
      graft.pipeline.Index.conjunctiveQuery(idx, Seq("spark", "window", "merge")))
  }, oracle =
    // conjunctive posting-list probe: docs containing ALL three terms
    """WITH p AS (SELECT DISTINCT doc, term FROM (SELECT doc_id AS doc,
      |  unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term
      |  FROM documents))
      |SELECT doc FROM p WHERE term IN ('spark', 'window', 'merge')
      |GROUP BY doc HAVING count(DISTINCT term) = 3 ORDER BY doc""".stripMargin)

  gate("q_quantile_norm", (s, d) => {
    // Empirical-CDF normalization (cume_dist semantics, ties share a
    // value) via the distributed distinct-value rank — no per-row window.
    Relational.sort(col("o_orderkey"))(
      graft.pipeline.Profile.quantileNormalize(Tables.orders(s, d),
        "o_totalprice", Seq("o_orderkey")))
  }, oracle =
    // empirical-CDF normalization, cume_dist tie semantics
    """WITH v AS (SELECT o_orderkey, o_totalprice AS v FROM orders),
      |c AS (SELECT v, count(*) AS c FROM v WHERE v IS NOT NULL GROUP BY 1),
      |cc AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM c),
      |n AS (SELECT count(*) AS n FROM v WHERE v IS NOT NULL)
      |SELECT o_orderkey, v.v AS o_totalprice,
      |  CAST(cum AS DOUBLE) / CAST(n.n AS DOUBLE) AS cume
      |FROM v LEFT JOIN cc ON v.v = cc.v CROSS JOIN n ORDER BY o_orderkey""".stripMargin)

  gate("q_weighted_sample", (s, d) => {
    // Importance sampling: keep probability ∝ document length (capped at
    // 1.0); the oracle replays bucket and weight arithmetic verbatim.
    val docs = Tables.documents(s, d)
      .withColumn("w", least(col("n_chars").cast("double") / lit(400.0), lit(1.0)))
    Relational.sort(col("doc_id"))(
      graft.pipeline.Sampling.weightedBernoulli(docs, Seq("doc_id"), "w")
        .select("doc_id", "lang", "n_chars"))
  }, oracle =
    // weighted bernoulli: portable bucket under weight·Buckets
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE CAST(((doc_id % 2147483648) * 2654435761 % 2147483648) % 2147483648 % 1000000 AS DOUBLE)
      |  < least(CAST(n_chars AS DOUBLE) / 400.0, 1.0) * 1000000.0
      |ORDER BY doc_id""".stripMargin)

  gate("q_mad_outliers", (s, d) => {
    // Robust per-group outlier summary; lower-median convention keeps
    // every statistic an actual data value (bit-portable, no
    // interpolation).
    Relational.sort(col("l_returnflag"))(
      graft.pipeline.Profile.madOutliers(Tables.lineitem(s, d),
        "l_returnflag", "l_extendedprice", k = 3.0))
  }, oracle =
    // robust outliers: lower medians via distributed-rank selection
    """WITH v AS (SELECT l_returnflag AS g, l_extendedprice AS v FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |c1 AS (SELECT g, v, count(*) AS c FROM v GROUP BY 1, 2),
      |m1 AS (SELECT g, min(v) AS med FROM (
      |  SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
      |         sum(c) OVER (PARTITION BY g) AS n FROM c1)
      |  WHERE cum >= (n + 1) // 2 GROUP BY g),
      |d AS (SELECT v.g, v.v AS x, m1.med, abs(v.v - m1.med) AS dv FROM v JOIN m1 USING (g)),
      |c2 AS (SELECT g, dv, count(*) AS c FROM d GROUP BY 1, 2),
      |m2 AS (SELECT g, min(dv) AS mad FROM (
      |  SELECT g, dv, sum(c) OVER (PARTITION BY g ORDER BY dv) AS cum,
      |         sum(c) OVER (PARTITION BY g) AS n FROM c2)
      |  WHERE cum >= (n + 1) // 2 GROUP BY g)
      |SELECT d.g AS l_returnflag, count(*) AS n, any_value(d.med) AS med,
      |  any_value(m2.mad) AS mad,
      |  CAST(SUM(CASE WHEN d.dv > 3.0 * m2.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM d JOIN m2 USING (g) GROUP BY 1 ORDER BY l_returnflag""".stripMargin)

  gate("q_setsim_join", (s, d) => {
    // Prefix-filtered exact token-set Jaccard ≥ 0.95; the oracle is the
    // ALL-PAIRS join, so equality proves the prefix filter lost nothing.
    Relational.sort(col("id1"), col("id2"))(
      graft.pipeline.Dedup.prefixFilterJaccardPairs(Tables.documents(s, d),
        "doc_id", "text", threshold = 0.95))
  }, oracle =
    // Exact token-set Jaccard >= 0.95 via DELETE-ONE signatures — an
    // EQUAL but tractable rewrite of the naive all-pairs join (round 9,
    // replacing the quadratic form that made the sf1 replay infeasible:
    // ~2.5e9 list_intersects / ~1e11 shared-token rows, r8 record).
    // Validity: jac >= 0.95 with symmetric difference d needs union
    // u >= 19d, and u <= maxSetSize + d, so d <= maxSetSize/19 — with
    // max distinct tokens per doc <= 37 every qualifying pair differs by
    // AT MOST ONE token (measured: 31 at sf0.1, 32 at sf1). Qualifying
    // pairs are then exactly (a) identical token sets (jac=1) plus
    // (b) A = B minus one token with |B| >= 20 (jac=|A|/|B|), found by
    // joining each doc's full sorted set to every delete-one set — cost
    // Theta(docs x setSize + output), not Theta(docs^2). The `guard`
    // branch emits poison rows if any doc ever exceeds 37 distinct
    // tokens, so an assumption break fails the compare loudly instead of
    // silently dropping pairs. Verified equal to the all-pairs form at
    // sf0.01 (1,887 rows) and sf0.1 (190,925 rows); replays sf1 (867,302
    // rows) in ~6 s where the all-pairs form needed hours.
    s"WITH $SetsimPairsCte\nSELECT id1, id2, jac FROM sp ORDER BY id1, id2")

  gate("q_setsim_clusters", (s, d) => {
    // Output-linear mode of the same τ=0.95 set-similarity join: member
    // pairs are never materialized — connectivity is decided on the
    // exact-set-collapsed representative graph, output is (id, cluster)
    // per clustered doc. The oracle is the pair CTEs + min-label
    // components, so equality proves the rep-graph shortcut loses
    // nothing vs pairs-then-cluster.
    Relational.sort(col("id"))(
      graft.pipeline.Dedup.prefixFilterJaccardClusters(Tables.documents(s, d),
        "doc_id", "text", threshold = 0.95))
  }, oracle =
    // Output-linear face of the same join: pairs → components → (id,
    // min-member cluster), computed by the engine WITHOUT materializing
    // member pairs (exact-set-collapsed representative graph).
    s"WITH $SetsimPairsCte,\n${minLabelClustersSql("sp")}")

  gate("q_triangles", (s, d) => {
    // Single-space co-occurrence graph from orders (custkey and orderkey
    // folded into one 97-id space) — per-node triangle participation.
    val o = Tables.orders(s, d)
    val edges = o.select(pmod(col("o_custkey"), lit(97L)).as("x"),
      pmod(col("o_orderkey"), lit(97L)).as("y"))
    Relational.sort(col("node"))(
      graft.pipeline.Graph.triangleCount(edges, "x", "y"))
  }, oracle =
    // oriented wedge-close triangle enumeration, credited to all corners
    """WITH raw AS (SELECT o_custkey % 97 AS x, o_orderkey % 97 AS y FROM orders),
      |e AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM raw WHERE x <> y),
      |tr AS (SELECT e1.a, e1.b, e2.b AS c FROM e e1
      |  JOIN e e2 ON e2.a = e1.b
      |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |n AS (SELECT unnest([a, b, c]) AS node FROM tr)
      |SELECT node, count(*) AS n_triangles FROM n GROUP BY 1 ORDER BY node""".stripMargin)

  gate("q_dup_spans", (s, d) => {
    // 5-token duplicated-span stats per document (exact-substring-dedup
    // family); spans are hash-keyed, the oracle replays them as raw text.
    Relational.sort(col("doc_id"))(
      graft.pipeline.Dedup.duplicatedSpans(Tables.documents(s, d),
        "doc_id", "text", n = 5))
  }, oracle =
    // duplicated 5-token spans: span text occurring >1 time corpus-wide
    """WITH w AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS ws FROM documents),
      |sh AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 4),
      |  i -> array_to_string(ws[i:i+4], ' '))) AS s FROM w),
      |c AS (SELECT s, count(*) AS cnt FROM sh GROUP BY 1),
      |p AS (SELECT sh.doc_id, count(*) AS n_shingles,
      |  CAST(SUM(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_shingles
      |  FROM sh JOIN c USING (s) GROUP BY 1)
      |SELECT d.doc_id, COALESCE(p.n_shingles, 0) AS n_shingles,
      |  COALESCE(p.dup_shingles, 0) AS dup_shingles,
      |  CAST(COALESCE(p.dup_shingles, 0) AS DOUBLE) / greatest(COALESCE(p.n_shingles, 0), 1) AS dup_frac
      |FROM documents d LEFT JOIN p USING (doc_id) ORDER BY doc_id""".stripMargin)

  /** q_unigram_train — unigram-LM (SentencePiece-style) tokenizer
    * training, Bpe's sibling: 3 Viterbi-EM rounds over the distinct-word
    * table at maxPieceLen=4. The integer-cost objective (fewest pieces *
    * 2^52 - frequency mass, reversed-length tie-break) has no
    * log-probability doubles, so the DuckDB oracle replays ALL THREE
    * rounds exactly — enumerating every segmentation per word with a
    * recursive CTE and ranking by (cost, list_reverse(lens)). */
  gate("q_unigram_train", (s, d) => {
    Relational.sort(col("piece"))(
      graft.pipeline.Unigram.train(Tables.documents(s, d), "text",
        maxPieceLen = 4, rounds = 3))
  }, oracle = unigramTrainOracleSql(3))

  /** Shared input for the full-substring-dedup gates: documents plus
    * PLANTED LONG DUPLICATES — docs 0-4 replanted verbatim under
    * doc_id+10000000, so whole documents (up to ~100 tokens) repeat
    * corpus-wide and arbitrary-length spans must surface. */
  private def dupSpansCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs.unionByName(docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"), col("text")))
  }

  /** q_dup_spans_full — FULL Lee et al. exact substring dedup: MAXIMAL
    * duplicated token spans (k=8) per document over documents + planted
    * whole-doc duplicates. The DuckDB oracle replays the entire chain:
    * duplicated 8-grams -> per-doc gaps-and-islands merge -> maximal
    * intervals. Raw-text windows here (exact string replay); the 8-byte
    * fingerprint mode is spec-asserted identical (DupSpansFullSpec). */
  gate("q_dup_spans_full", (s, d) => {
    Relational.sort(col("doc_id"), col("span_start"))(
      graft.pipeline.Dedup.duplicatedSpansMaximal(
        dupSpansCorpus(s, d), "doc_id", "text", k = 8))
  }, oracle =
    """WITH all_docs AS (SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 10000000, text FROM documents WHERE doc_id < 5),
      |w AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS ws FROM all_docs),
      |sh0 AS (SELECT doc_id, unnest(generate_series(1, len(ws) - 7)) AS s_start, ws FROM w WHERE len(ws) >= 8),
      |sh AS (SELECT doc_id, s_start, array_to_string(ws[s_start:s_start+7], ' ') AS s FROM sh0),
      |c AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 1),
      |d AS (SELECT doc_id, s_start FROM sh JOIN c USING (s)),
      |i AS (SELECT doc_id, s_start,
      |  CASE WHEN lag(s_start) OVER (PARTITION BY doc_id ORDER BY s_start) IS NULL
      |       OR s_start > lag(s_start) OVER (PARTITION BY doc_id ORDER BY s_start) + 8
      |       THEN 1 ELSE 0 END AS nw FROM d),
      |j AS (SELECT doc_id, s_start,
      |  SUM(nw) OVER (PARTITION BY doc_id ORDER BY s_start ROWS UNBOUNDED PRECEDING) AS island FROM i)
      |SELECT doc_id, CAST(MIN(s_start) AS BIGINT) AS span_start,
      |  CAST(MAX(s_start) + 7 AS BIGINT) AS span_end,
      |  CAST(MAX(s_start) + 7 - MIN(s_start) + 1 AS BIGINT) AS span_len
      |FROM j GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin)

  /** q_dup_longest — the escalation ladder: longest exact repeated token
    * window (>= 8) corpus-wide, found with O(log maxLen) fingerprint-hash
    * probe jobs; the oracle computes the true maximum by enumerating
    * every >= 8-token substring (tractable at oracle scale, and exact —
    * a ladder/oracle mismatch would expose either a probe bug or a hash
    * collision). */
  gate("q_dup_longest", (s, d) => {
    val len = graft.pipeline.Dedup.longestRepeatedSpanLength(
      dupSpansCorpus(s, d), "doc_id", "text", k = 8)
    s.range(1).select(lit(len).as("max_dup_len"))
  }, oracle =
    """WITH all_docs AS (SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 10000000, text FROM documents WHERE doc_id < 5),
      |w AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS ws FROM all_docs),
      |st AS (SELECT doc_id, unnest(generate_series(1, len(ws) - 7)) AS i, ws FROM w WHERE len(ws) >= 8),
      |sub AS (SELECT array_to_string(ws[i:i+l-1], ' ') AS s, l
      |  FROM (SELECT doc_id, i, ws, unnest(generate_series(8, len(ws) - i + 1)) AS l FROM st))
      |SELECT COALESCE(CAST(MAX(l) AS BIGINT), 0) AS max_dup_len
      |FROM (SELECT s, l FROM sub GROUP BY s, l HAVING count(*) > 1)""".stripMargin)

  gate("q_dsir", (s, d) => {
    // DSIR importance resampling: hashed-bigram log-likelihood ratio of a
    // target domain (sources src0-2) vs the whole pool, top-quarter kept.
    // Fully replayable: portable token keys, integer bucket scatter,
    // Laplace-smoothed exact counts, ln-at-9dp DECIMAL sums, and the
    // keep rule is the exact integer comparison rank·4 < n — the oracle
    // re-derives every stage in SQL.
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"), col("source"))
    val target = docs.where(col("source").isin("src0", "src1", "src2"))
    val scored = Dsir.importanceScores(docs, target, "doc_id", "text", buckets = 512)
    Dsir.selectTopFraction(scored, "doc_id", num = 1, den = 4)
      .select(col("doc_id"), col("n_feats"),
        col("score").cast("double").as("score"), col("rank"), col("keep"))
      .orderBy("doc_id")
  }, oracle =
    // DSIR importance resampling: hashed-bigram buckets (portable token
    // keys + integer scatter), Laplace-smoothed target/pool ratio tables
    // over the FULL bucket domain, per-doc ln-at-9dp DECIMAL-summed
    // scores, exact-integer top-fraction rank rule — every stage
    // re-derived in SQL.
    s"""WITH w AS MATERIALIZED (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS ws FROM documents),
       |f AS MATERIALIZED (SELECT doc_id,
       |  ((((length(a) * 31 + ascii(a[1:1]) * 7 + ascii(a[-1:])) * 1000003
       |      + (length(b) * 31 + ascii(b[1:1]) * 7 + ascii(b[-1:]))) % 2147483648)
       |     * 2654435761 % 2147483648) % 512 AS bucket
       |  FROM (SELECT doc_id, ws[i] AS a, ws[i + 1] AS b
       |        FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w))),
       |tf AS (SELECT bucket, count(*) AS tc FROM f
       |  JOIN documents d USING (doc_id)
       |  WHERE d.source IN ('src0','src1','src2') GROUP BY 1),
       |pf AS (SELECT bucket, count(*) AS pc FROM f GROUP BY 1),
       |tt AS (SELECT COALESCE(sum(tc), 0) AS t_tot FROM tf),
       |pt AS (SELECT COALESCE(sum(pc), 0) AS p_tot FROM pf),
       |r AS MATERIALIZED (SELECT g.bucket,
       |  CAST(round(ln(
       |    (CAST(COALESCE(tf.tc, 0) + 1 AS DOUBLE) / CAST(tt.t_tot + 512 AS DOUBLE)) /
       |    (CAST(COALESCE(pf.pc, 0) + 1 AS DOUBLE) / CAST(pt.p_tot + 512 AS DOUBLE))), 9)
       |    AS DECIMAL(20,9)) AS lr
       |  FROM (SELECT unnest(range(0, 512)) AS bucket) g
       |  LEFT JOIN tf USING (bucket) LEFT JOIN pf USING (bucket)
       |  CROSS JOIN tt CROSS JOIN pt),
       |s AS (SELECT f.doc_id, count(*) AS n_feats,
       |  CAST(sum(r.lr) AS DECIMAL(28,9)) AS score
       |  FROM f JOIN r USING (bucket) GROUP BY 1),
       |sc AS (SELECT d0.doc_id, COALESCE(s.n_feats, 0) AS n_feats,
       |  COALESCE(s.score, 0) AS score
       |  FROM (SELECT doc_id FROM documents) d0 LEFT JOIN s USING (doc_id)),
       |n AS (SELECT count(*) AS n FROM sc),
       |rk AS (SELECT doc_id, n_feats, score,
       |  row_number() OVER (ORDER BY score DESC, doc_id) - 1 AS rank FROM sc)
       |SELECT doc_id, n_feats, CAST(score AS DOUBLE) AS score, rank,
       |  rank * 4 < n.n AS keep
       |FROM rk CROSS JOIN n ORDER BY doc_id""".stripMargin)

  gate("q_quality_classifier", (s, d) => {
    // Hashed-linear classifier inference: one codegen'd projection, zero
    // shuffles; integer mills accumulation makes the fold order-exact.
    Relational.sort(col("doc_id"))(
      graft.pipeline.Scoring.hashedLinearScore(Tables.documents(s, d),
        "doc_id", "text", dims = 64, threshold = -0.2))
  }, oracle =
    // hashed-linear classifier: integer-mills fold over the portable
    // (length, first, last) token key — exact on any engine
    """WITH w AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS ws FROM documents),
      |m AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
      |  CAST(COALESCE(list_sum(list_transform(ws, t ->
      |    ((((length(t) * 31 + ascii(t[1:1]) * 7 + ascii(t[-1:]))
      |       % 64) * 2654435761) % 2147483648) % 2001 - 1000)), 0) AS BIGINT) AS mills
      |  FROM w)
      |SELECT doc_id, n_tokens,
      |  CAST(mills AS DOUBLE) / (1000.0 * CAST(greatest(n_tokens, 1) AS DOUBLE)) AS score,
      |  CAST(mills AS DOUBLE) / (1000.0 * CAST(greatest(n_tokens, 1) AS DOUBLE)) > -0.2 AS keep
      |FROM m ORDER BY doc_id""".stripMargin)

  gate("q_histogram_eqdepth", (s, d) => {
    // Exact equi-depth (quantile-binned) histogram, 8 buckets; bucket of
    // the rank-r row is (r−1)·8 div n — ANSI integer arithmetic the
    // oracle replays with one row_number window.
    Relational.sort(col("bucket"))(
      graft.pipeline.Profile.histogramEquiDepth(Tables.lineitem(s, d),
        "l_extendedprice", Seq("l_orderkey", "l_linenumber"), k = 8))
  }, oracle =
    // exact equi-depth histogram: bucket = (rank−1)·k div n over the
    // (value, tie-break keys) order
    """WITH v AS (SELECT l_extendedprice AS v, l_orderkey AS k1, l_linenumber AS k2
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |r AS (SELECT v, row_number() OVER (ORDER BY v, k1, k2) AS rk,
      |  count(*) OVER () AS nt FROM v)
      |SELECT (rk - 1) * 8 // nt AS bucket, count(*) AS n, min(v) AS lo, max(v) AS hi
      |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin)

  gate("q_corr", (s, d) => {
    // Exact Pearson r + sample covariance from decimal moment sums —
    // order-independent, so bit-identical under any partitioning and
    // exactly replayed from the same six moments.
    Relational.sort(col("l_returnflag"))(
      graft.pipeline.Profile.corrExact(Tables.lineitem(s, d),
        "l_returnflag", "l_quantity", "l_extendedprice"))
  }, oracle =
    // exact bivariate stats from decimal moment sums; decimal→double hops
    // through the exact digit string (correctly rounded on every engine,
    // unlike native decimal→double casts past 2^53) and the final doubles
    // share the expression shape, so both engines produce identical bits
    """WITH m AS (SELECT l_returnflag, count(*) AS n,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sx,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sy,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxy,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxx,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS syy
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, n,
      |  (CAST(n AS DOUBLE) * sxy - sx * sy) /
      |    (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS corr,
      |  (CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS cov_samp
      |FROM m ORDER BY l_returnflag""".stripMargin)

  gate("q_funnel", (s, d) => {
    // Three-stage min-time-frontier funnel over the event log; strict-after
    // conversion at µs precision (events.ts is truncated to micros on
    // read), replayed by the oracle as a CTE chain at epoch_ns//1000.
    Relational.sort(col("stage"))(
      graft.pipeline.Events.funnel(Tables.events(s, d),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase")))
  }, oracle =
    // min-time-frontier funnel: stage i+1 = earliest event of its type
    // STRICTLY after the stage-i frontier, compared at µs precision.
    """WITH s1 AS (SELECT user_id, min(epoch_ns(ts) // 1000) AS r
      |  FROM events WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(epoch_ns(e.ts) // 1000) AS r
      |  FROM events e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) // 1000 > s1.r GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(epoch_ns(e.ts) // 1000) AS r
      |  FROM events e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) // 1000 > s2.r GROUP BY 1),
      |c AS (SELECT 1 AS stage, 'view' AS stage_name, count(*) AS users FROM s1
      |  UNION ALL SELECT 2, 'click', count(*) FROM s2
      |  UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
      |SELECT stage, stage_name, users,
      |  CAST(users AS DOUBLE) / CAST(first_value(users) OVER (ORDER BY stage) AS DOUBLE) AS conv
      |FROM c ORDER BY stage""".stripMargin)

  gate("q_cohort", (s, d) => {
    // Weekly cohort retention; cohort formatted to a date string so both
    // engines hash the same representation (q_resample convention).
    val out = graft.pipeline.Events.cohortRetention(
      Tables.events(s, d), "user_id", "ts", unit = "week")
    Relational.sort(col("cohort"), col("offset"))(
      out.select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
        col("offset"), col("users")))
  }, oracle =
    // weekly cohort retention: Monday-truncated weeks in both engines, so
    // the day difference is an exact multiple of 7.
    """WITH e AS (SELECT user_id, date_trunc('week', ts) AS w FROM events),
      |f AS (SELECT user_id, min(w) AS c FROM e GROUP BY 1)
      |SELECT strftime(c, '%Y-%m-%d') AS cohort, date_diff('day', c, w) // 7 AS offset,
      |  count(DISTINCT e.user_id) AS users
      |FROM e JOIN f USING (user_id) GROUP BY 1, 2 ORDER BY cohort, "offset"""".stripMargin)

  /** The final CDC image both cdc gates converge to — replayed with plain
    * CASE/WHERE arithmetic over the raw table. */
  private val CdcFinalImageOracle: String =
    """SELECT o_orderkey, o_orderstatus,
      |CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
      |     ELSE o_totalprice END AS o_totalprice
      |FROM orders WHERE o_orderkey % 7 <> 0
      |UNION ALL
      |SELECT CAST(1000000000 AS BIGINT), 'N', CAST(9.5 AS DOUBLE)
      |ORDER BY o_orderkey""".stripMargin

  /** Shared CDC fixture: base image + the two halves of the change log.
    * Every 5th key gets an Update (doubled price — exact in FP) at seq 1;
    * every 7th a Delete at seq 2 (keys divisible by 35 see U then D — the
    * D must win); one Insert of a brand-new key. Used by q_cdc_apply
    * (one-shot log application) and q_stream_cdc (incremental streaming
    * application) so the two faces provably process one log. */
  private def cdcFixture(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice"))
    val updates = o.where(col("o_orderkey") % 5 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .withColumn("seq", lit(1L)).withColumn("op", lit("U"))
    val deletes = o.where(col("o_orderkey") % 7 === 0)
      .withColumn("seq", lit(2L)).withColumn("op", lit("D"))
    val insert = s.range(1).select(lit(1000000000L).as("o_orderkey"),
      lit("N").as("o_orderstatus"), lit(9.5).as("o_totalprice"),
      lit(1L).as("seq"), lit("I").as("op"))
    (o, updates, deletes.unionByName(insert))
  }

  gate("q_cdc_apply", (s, d) => {
    val (o, updates, rest) = cdcFixture(s, d)
    val merged = Relational.applyChangeLog(o, updates.unionByName(rest),
      Seq("o_orderkey"), "seq", "op")
    merged.orderBy("o_orderkey")
  }, oracle = CdcFinalImageOracle)

  gate("q_stream_cdc", (s, d) => {
    // TRUE streaming CDC materialization: phase 1 streams the updates,
    // phase 2 stages deletes+insert and resumes from the checkpoint; the
    // final image must equal the one-shot applyChangeLog — gated against
    // the SAME oracle as q_cdc_apply.
    val work = cleanupAtExit(s"${System.getProperty("java.io.tmpdir")}/graft_cdc_${ProcessHandle.current().pid()}")
    val (o, updates, rest) = cdcFixture(s, d)
    graft.streaming.Streams.cdcStreamGate(s, work, o, Seq("o_orderkey"),
      updates, rest).orderBy("o_orderkey")
  }, oracle =
    // identical oracle BY CONSTRUCTION: incremental streaming application
    // of the same log must land on the same final image
    CdcFinalImageOracle)

  gate("q_fuzzy_join", (s, d) => {
    // Length-band-blocked Levenshtein pairs over distinct part names —
    // recall-exact blocking (dist >= |len diff|), so the all-pairs
    // oracle is the same set.
    val p = Tables.part(s, d)
    Relational.sort(col("s1"), col("s2"))(
      graft.pipeline.Dedup.editDistancePairs(p, "p_name", maxDist = 2))
  }, oracle =
    """WITH t AS (SELECT DISTINCT p_name AS v FROM part)
      |SELECT a.v AS s1, b.v AS s2, levenshtein(a.v, b.v) AS dist
      |FROM t a JOIN t b ON a.v < b.v
      |WHERE levenshtein(a.v, b.v) <= 2
      |ORDER BY s1, s2""".stripMargin)

  gate("q_pagerank", (s, d) => {
    // Two-layer link graph derived from lineitem (supplier → part-bucket →
    // order-bucket) so rank propagates multiple hops; 3 integer-arithmetic
    // iterations, every one re-derived exactly by the oracle.
    val li = Tables.lineitem(s, d)
    val e1 = li.select(col("l_suppkey").as("src"),
      (pmod(col("l_partkey"), lit(50L)) + 100000L).as("dst"))
    val e2 = li.select((pmod(col("l_partkey"), lit(50L)) + 100000L).as("src"),
      (pmod(col("l_orderkey"), lit(20L)) + 200000L).as("dst"))
    val edges = e1.unionAll(e2).distinct()
    Relational.sort(col("id"))(
      graft.pipeline.Graph.pageRank(edges, "src", "dst", PagerankIters))
  }, oracle = pagerankOracle(PagerankIters))

  private val PagerankIters = 3

  /** Unrolled integer-PageRank oracle: r0..rN as MATERIALIZED CTEs (the
    * chain references each r$i twice; materialization keeps DuckDB's
    * evaluation linear, as with the BPE chain). */
  private def pagerankOracle(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (SELECT n.id,
         |  CAST(150000000000 + (85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS pr
         |  FROM n LEFT JOIN (SELECT e.dst AS id, SUM(r.pr // od.od) AS c
         |    FROM e JOIN od USING (src) JOIN r${i - 1} r ON r.id = e.src
         |    GROUP BY 1) s ON n.id = s.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT l_suppkey AS src, 100000 + l_partkey % 50 AS dst FROM lineitem
       |  UNION ALL
       |  SELECT 100000 + l_partkey % 50, 200000 + l_orderkey % 20 FROM lineitem)),
       |od AS MATERIALIZED (SELECT src, COUNT(*) AS od FROM e GROUP BY 1),
       |n AS MATERIALIZED (SELECT DISTINCT id FROM (
       |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
       |r0 AS MATERIALIZED (SELECT id, CAST(1000000000000 AS BIGINT) AS pr FROM n),
       |$rounds
       |SELECT id, pr FROM r$iters ORDER BY id""".stripMargin
  }

  /** Learned-merge memo per sfDir: q_bpe_train and q_bpe_encode share one
    * training run inside a JVM (the merge list is 8 tiny tuples). */
  private val bpeMergesCache =
    scala.collection.mutable.Map.empty[String, Seq[(String, String, Long)]]

  private def bpeMerges(s: SparkSession, d: String): Seq[(String, String, Long)] =
    synchronized {
      bpeMergesCache.getOrElseUpdate(d,
        graft.pipeline.Bpe.trainMerges(Tables.documents(s, d), "text", BpeNumMerges))
    }

  gate("q_bpe_train", (s, d) => {
    // trains FRESH on every call (no memo read): this gate's bench row
    // times the training loop itself, not a cache dump — the memo is for
    // q_bpe_encode, whose one-time tokenizer build is a prerequisite,
    // not the thing measured
    import s.implicits._
    val ms = graft.pipeline.Bpe.trainMerges(
      Tables.documents(s, d), "text", BpeNumMerges)
    synchronized { bpeMergesCache(d) = ms }
    ms.zipWithIndex
      .map { case ((a, b, c), i) => (i, a, b, c) }
      .toDF("merge_rank", "a", "b", "cnt").orderBy("merge_rank")
  }, oracle = bpeTrainOracle(BpeNumMerges))

  /** Learned-merge memo per sfDir: q_wordpiece_train and
    * q_wordpiece_fertility share one training run inside a JVM. */
  private val wpMergesCache =
    scala.collection.mutable.Map.empty[String, Seq[(String, String, Long, Long, Long, Double)]]

  private def wpMerges(s: SparkSession, d: String): Seq[(String, String, Long, Long, Long, Double)] =
    synchronized {
      wpMergesCache.getOrElseUpdate(d,
        graft.pipeline.WordPiece.trainMerges(Tables.documents(s, d), "text", WpNumMerges))
    }

  private val WpNumMerges = 8

  gate("q_wordpiece_train", (s, d) => {
    // trains FRESH on every call — the bench row times the likelihood-
    // scored training loop itself (the memo is for q_wordpiece_fertility)
    import s.implicits._
    val ms = graft.pipeline.WordPiece.trainMerges(
      Tables.documents(s, d), "text", WpNumMerges)
    synchronized { wpMergesCache(d) = ms }
    ms.zipWithIndex
      .map { case ((a, b, c, ca, cb, sc), i) =>
        (i, a, b, a + b.stripPrefix("##"), c, ca, cb, sc) }
      .toDF("merge_rank", "a", "b", "merged", "cnt", "ca", "cb", "score")
      .orderBy("merge_rank")
  }, oracle =
    // WordPiece: likelihood-gain merges, all rounds unrolled; the
    // fertility gate re-derives BOTH tokenizers at equal budget on the
    // same #-stripped corpus.
    wpTrainOracle(WpNumMerges))

  gate("q_wordpiece_fertility", (s, d) => {
    // equal-budget, equal-corpus fertility: WordPiece vs BPE at 8 merges
    // on the same #-stripped corpus; fertility = pieces/word as the one
    // double division over exact long counts (replays bit-identically)
    import s.implicits._
    val docs = Tables.documents(s, d)
    val wp = wpMerges(s, d).map(m => (m._1, m._2))
    val bp = graft.pipeline.WordPiece
      .bpeMergesOnCleanCorpus(docs, "text", WpNumMerges).map(m => (m._1, m._2))
    val (w1, p1) = graft.pipeline.WordPiece.fertility(docs, "text", wp)
    val (w2, p2) = graft.pipeline.WordPiece.bpeFertility(docs, "text", bp)
    Seq(("bpe", w2, p2, p2.toDouble / w2.toDouble),
        ("wordpiece", w1, p1, p1.toDouble / w1.toDouble))
      .toDF("tokenizer", "n_words", "n_pieces", "fertility")
      .orderBy("tokenizer")
  }, oracle = wpFertilityOracle(WpNumMerges))

  gate("q_bpe_encode", (s, d) => {
    val ms = bpeMerges(s, d).map(m => (m._1, m._2))
    Relational.sort(col("doc_id"))(
      graft.pipeline.Bpe.encode(Tables.documents(s, d), "doc_id", "text", ms))
  }, oracle = bpeEncodeOracle(BpeNumMerges))

  /** q_wordpiece_train oracle CTEs: the [[bpeTrainCtes]] bracket-string
    * machinery with (a) `#` stripped alongside the bracket alphabet, (b)
    * word-internal tokens `##`-prefixed at init, (c) per-round selection
    * by the likelihood-gain score cnt/(ca*cb) — one double division over
    * exact BIGINT counts, the same dag the Spark side computes — and (d)
    * the merged token `a || strip_##(b)`. Final round table: ws$m. */
  private def wpTrainCtes(m: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""wtx AS (SELECT doc_id, regexp_replace(text, '[#$B1$B2]', '', 'g') AS text FROM documents),
         |wwd AS (SELECT unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS word FROM wtx),
         |ws0 AS MATERIALIZED (SELECT '$B1' || array_to_string(
         |    list_transform(regexp_extract_all(word, '.'),
         |      (c, j) -> CASE WHEN j = 1 THEN c ELSE '##' || c END), '$B2$B1') || '$B2' AS w,
         |  COUNT(*) AS cnt FROM wwd GROUP BY 1)""".stripMargin)
    (0 until m).foreach { i =>
      sb.append(",\n")
      sb.append(
        s"""wu$i AS MATERIALIZED (SELECT t, CAST(SUM(cnt) AS BIGINT) AS u FROM (
           |  SELECT unnest(string_split(trim(w, '$B1$B2'), '$B2$B1')) AS t, cnt FROM ws$i)
           |  GROUP BY 1),
           |wp$i AS (SELECT p.a AS a, p.b AS b, CAST(SUM(cnt) AS BIGINT) AS c FROM (
           |  SELECT unnest(list_transform(range(1, len(l)), j -> struct_pack(a := l[j], b := l[j+1]))) AS p, cnt
           |  FROM (SELECT string_split(trim(w, '$B1$B2'), '$B2$B1') AS l, cnt FROM ws$i)) GROUP BY 1, 2),
           |wb$i AS MATERIALIZED (SELECT p.a, p.b, p.c, ua.u AS ca, ub.u AS cb,
           |  CAST(p.c AS DOUBLE) / (CAST(ua.u AS DOUBLE) * CAST(ub.u AS DOUBLE)) AS score
           |  FROM wp$i p JOIN wu$i ua ON ua.t = p.a JOIN wu$i ub ON ub.t = p.b
           |  ORDER BY score DESC, p.a, p.b LIMIT 1),
           |ws${i + 1} AS MATERIALIZED (SELECT replace(w,
           |  '$B1' || (SELECT a FROM wb$i) || '$B2$B1' || (SELECT b FROM wb$i) || '$B2',
           |  '$B1' || (SELECT a FROM wb$i) || regexp_replace((SELECT b FROM wb$i), '^##', '') || '$B2') AS w, cnt FROM ws$i)""".stripMargin)
    }
    sb.toString
  }

  private def wpTrainOracle(m: Int): String =
    s"""WITH ${wpTrainCtes(m)}
       |SELECT * FROM (
       |${(0 until m).map(i =>
           s"SELECT $i AS merge_rank, a, b, a || regexp_replace(b, '^##', '') AS merged, " +
           s"c AS cnt, ca, cb, score FROM wb$i")
         .mkString("\nUNION ALL ")}
       |) ORDER BY merge_rank""".stripMargin

  /** q_wordpiece_fertility oracle: both tokenizers' final round tables at
    * the same budget on the same #-stripped corpus; fertility = the one
    * double division pieces/words over exact longs. */
  private def wpFertilityOracle(m: Int): String =
    s"""WITH ${wpTrainCtes(m)},
       |${bpeTrainCtes(m, strip = "#", prefix = "f")},
       |wfin AS (SELECT CAST(SUM(cnt) AS BIGINT) AS nw,
       |  CAST(SUM(cnt * len(string_split(trim(w, '$B1$B2'), '$B2$B1'))) AS BIGINT) AS np
       |  FROM ws$m),
       |bfin AS (SELECT CAST(SUM(cnt) AS BIGINT) AS nw,
       |  CAST(SUM(cnt * len(string_split(trim(w, '$B1$B2'), '$B2$B1'))) AS BIGINT) AS np
       |  FROM fs$m)
       |SELECT * FROM (
       |SELECT 'bpe' AS tokenizer, nw AS n_words, np AS n_pieces,
       |  CAST(np AS DOUBLE) / CAST(nw AS DOUBLE) AS fertility FROM bfin
       |UNION ALL
       |SELECT 'wordpiece', nw, np, CAST(np AS DOUBLE) / CAST(nw AS DOUBLE) FROM wfin
       |) ORDER BY tokenizer""".stripMargin

  /** q_semdedup oracle generator: level-0 nearest-centroid assignment,
    * then `rounds` unrolled recursive cell-size splits (over-cap cells
    * re-quantized to their ≤splitK lowest-min-id distinct member vectors,
    * cosine-nearest, tie → higher sub-index, cell key extended as a path
    * string), then within-cell pairs at τ=0.25 → connected components →
    * min-id canonicals. Constants are shared with the gate so the SQL
    * replay and the Spark run can never drift. */
  private def semdedupOracle(cap: Int, splitK: Int, rounds: Int): String = {
    val head =
      s"""WITH RECURSIVE
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |ct AS (SELECT vec_id AS ci, v AS cv FROM c WHERE vec_id < 8),
         |asg AS (SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id
         |  ORDER BY cos DESC, ci DESC) AS rn FROM (
         |  SELECT c.vec_id, ct.ci,
         |    list_inner_product(c.v, ct.cv) /
         |    (sqrt(list_inner_product(c.v, c.v)) * sqrt(list_inner_product(ct.cv, ct.cv))) AS cos
         |  FROM c CROSS JOIN ct)),
         |k0 AS MATERIALIZED (SELECT c.vec_id, c.v, CAST(a.ci AS VARCHAR) AS cell
         |  FROM c JOIN (SELECT vec_id, ci FROM asg WHERE rn = 1) a USING (vec_id))""".stripMargin
    val splits = (1 to rounds).map { i =>
      val p = s"k${i - 1}"
      s""",
         |s$i AS MATERIALIZED (SELECT cell FROM $p GROUP BY cell HAVING count(*) > $cap),
         |c$i AS MATERIALIZED (SELECT cell, v AS sv, row_number() OVER (PARTITION BY cell ORDER BY mid) - 1 AS si
         |  FROM (SELECT cell, v, min(vec_id) AS mid FROM $p
         |        WHERE cell IN (SELECT cell FROM s$i) GROUP BY cell, v)
         |  QUALIFY si < $splitK),
         |a$i AS MATERIALIZED (SELECT vec_id, v, cell, row_number() OVER (PARTITION BY vec_id
         |  ORDER BY cos DESC, si DESC) AS rn FROM (
         |  SELECT r.vec_id, r.v, r.cell || '-' || CAST(sc.si AS VARCHAR) AS cell, sc.si,
         |    list_inner_product(r.v, sc.sv) /
         |    (sqrt(list_inner_product(r.v, r.v)) * sqrt(list_inner_product(sc.sv, sc.sv))) AS cos
         |  FROM $p r JOIN c$i sc ON r.cell = sc.cell)),
         |k$i AS MATERIALIZED (SELECT vec_id, v, cell FROM a$i WHERE rn = 1
         |  UNION ALL SELECT vec_id, v, cell FROM $p WHERE cell NOT IN (SELECT cell FROM s$i))""".stripMargin
    }.mkString
    val kf = s"k$rounds"
    val tail =
      s""",
         |pr AS (SELECT a.vec_id AS id1, b.vec_id AS id2
         |  FROM $kf a JOIN $kf b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE list_inner_product(a.v, b.v) /
         |    (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) >= 0.25),
         |edges AS (SELECT id1 AS a, id2 AS b FROM pr
         |  UNION SELECT id2, id1 FROM pr),
         |reach(id, lbl) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.id = e.b),
         |canon AS (SELECT id, MIN(lbl) AS canonical FROM reach GROUP BY id)
         |SELECT c.vec_id, COALESCE(canon.canonical, c.vec_id) AS canonical,
         |COALESCE(canon.canonical, c.vec_id) = c.vec_id AS kept
         |FROM c LEFT JOIN canon ON c.vec_id = canon.id
         |ORDER BY c.vec_id""".stripMargin
    head + splits + tail
  }

  private def bpeEncodeOracle(m: Int): String = {
    val docChain = (0 until m).map { i =>
      s"""d${i + 1} AS MATERIALIZED (SELECT doc_id, replace(w,
         |  '$B1' || (SELECT a FROM b$i) || '$B2$B1' || (SELECT b FROM b$i) || '$B2',
         |  '$B1' || (SELECT a FROM b$i) || (SELECT b FROM b$i) || '$B2') AS w FROM d$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bpeTrainCtes(m)},
       |d0 AS MATERIALIZED (SELECT doc_id, array_to_string(list_transform(
       |  list_filter(string_split_regex(regexp_replace(text, '[$B1$B2]', '', 'g'), '\\s+'), x -> x <> ''),
       |  w -> '$B1' || array_to_string(regexp_extract_all(w, '.'), '$B2$B1') || '$B2'), '$B3') AS w
       |  FROM documents),
       |$docChain
       |SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
       |  md5(array_to_string(toks, '$B1')) AS fp FROM (
       |  SELECT doc_id, regexp_extract_all(w, '$B1([^$B2]*)$B2', 1) AS toks FROM d$m)
       |ORDER BY doc_id""".stripMargin
  }

  gate("q_manifest_prune", (s, d) => {
    // Manifest-based data skipping end to end: land orders range-
    // partitioned on o_orderdate (files carry disjoint date ranges),
    // build the per-file min/max manifest, then answer a one-year range
    // query reading ONLY the overlapping files — require()d to actually
    // skip — and re-apply the exact predicate. The oracle runs the same
    // range query on the raw table: any pruning mistake (a skipped file
    // that held matching rows) hash-mismatches.
    val out = cleanupAtExit(s"${System.getProperty("java.io.tmpdir")}/graft_skip_${ProcessHandle.current().pid()}")
    Tables.orders(s, d).select("o_orderkey", "o_orderdate", "o_totalprice")
      .repartitionByRange(8, col("o_orderdate"))
      .write.mode("overwrite").parquet(out)
    val mf = Relational.fileStatsManifest(s, out, "o_orderdate").stagePersist(false)
    val lo = lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    val hi = lit("1997-12-31 23:59:59").cast("timestamp_ntz")
    val total = mf.count() // fills mf
    val picked = mf.where(col("max_v") >= lo && col("min_v") <= hi).count()
    require(picked < total,
      s"manifest pruning skipped nothing ($picked of $total files) — the range layout is broken")
    val scanned = Relational.manifestPrunedScan(s, mf, "o_orderdate", lo, hi)
    mf.release()
    Relational.sort(col("m"))(asDouble("sum_price")(
      Aggregates.groupAggregate(Seq("m"), Seq(
        Agg(COUNT, None, "n"),
        Agg(SUM, Some("price_dec"), "sum_price")))(
        scanned.withColumn("m", month(col("o_orderdate")))
          .withColumn("price_dec", dec(col("o_totalprice"))))))
  }, oracle =
    """SELECT month(o_orderdate) AS m, COUNT(*) AS n,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate <= TIMESTAMP '1997-12-31 23:59:59'
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  gate("q_compact", (s, d) => {
    // Compaction planner over a synthetic-but-derived manifest (40 pseudo
    // files keyed by l_partkey % 40, sized by row count) so DuckDB can
    // replay the cumulative bin assignment exactly. The REAL file rewrite
    // (list → plan → per-bin coalesced rewrite) is spec-tested on disk in
    // RelationalSpec; this gate pins the planning arithmetic.
    val mf = Tables.lineitem(s, d)
      .groupBy(pmod(col("l_partkey"), lit(40)).as("file"))
      .agg((count(lit(1)) * 50).as("bytes"))
    Relational.sort(col("file"))(
      Relational.compactionPlan(mf, "file", "bytes", targetBytes = 400000L))
  }, oracle =
    """WITH m AS (SELECT l_partkey % 40 AS file, COUNT(*) * 50 AS bytes
      |  FROM lineitem GROUP BY 1),
      |c AS (SELECT file, CAST(bytes AS BIGINT) AS bytes,
      |  CAST(COALESCE(SUM(bytes) OVER (ORDER BY file
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
      |  FROM m)
      |SELECT file, bytes, cum // 400000 AS bin FROM c ORDER BY file""".stripMargin)

  gate("q_semdedup", (s, d) => {
    // Replayable centroid set: the first 8 embedding vectors (bounded
    // driver metadata — 8×64 doubles), so the oracle re-derives the cell
    // assignment, within-cell pairs, components and canonicals in SQL.
    // Cell-size contract exercised (round 9): cap 40 forces recursive
    // cell splitting even at sf0.01 (~62 vectors/cell at k=8); the
    // oracle unrolls the same 4 split rounds with the same constants.
    val emb = Tables.embeddings(s, d)
    val cents = emb.where(col("vec_id") < 8).orderBy("vec_id")
      .select(graft.pipeline.Similarity.asDoubleVec(col("embedding")).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    Relational.sort(col("vec_id"))(
      graft.pipeline.Similarity.semanticDedup(emb, "vec_id", "embedding", cents, 0.25,
        maxCellSize = SemdedupCap, splitK = SemdedupSplitK,
        maxSplitRounds = SemdedupRounds))
  }, oracle =
    // Full SemDeDup replay: nearest-centroid cell assignment (tie → higher
    // centroid index, matching greatest() over (score, index) structs),
    // then the recursive cell-size splits unrolled with the gate's own
    // constants, within-cell cosine pairs at tau, connected components
    // via recursive CTE, min-id canonical; unpaired rows are their own
    // canonical.
    semdedupOracle(SemdedupCap, SemdedupSplitK, SemdedupRounds))

  // q_semdedup split contract constants — shared by the gate and the
  // oracle generator so they can never drift apart.
  private val SemdedupCap = 40

  private val SemdedupSplitK = 8

  private val SemdedupRounds = 4

  gate("q_bloom_join", (s, d) => {
    // Selective build side (1-URGENT ≈ 20% of orders): the bloom prunes
    // ~80% of lineitem BEFORE its shuffle; the exact join then removes
    // the bloom's false positives, so the result equals the plain join —
    // which is exactly what the oracle runs.
    val li = Tables.lineitem(s, d)
    val urgent = Tables.orders(s, d).where(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    val j = Relational.bloomJoin(li, urgent, "l_orderkey", "o_orderkey",
      expectedItems = 1L << 18)
    val agg = Aggregates.groupAggregate(Seq("l_returnflag"), Seq(
      Agg(COUNT, None, "n"),
      Agg(SUM, Some("qty"), "sum_qty")))(j.withColumn("qty", dec(col("l_quantity"))))
    Relational.sort(col("l_returnflag"))(asDouble("sum_qty")(agg))
  }, oracle =
    """SELECT l_returnflag, COUNT(*) AS n,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
}
