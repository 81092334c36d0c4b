package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Aggregates, Relational, Sketches}
import graft.operators.Aggregates._

import GateHelpers.{asDouble, cleanupAtExit, dec, exitCleanupDirs, exitCleanupHook}

/** Relational core gates (SURVEY §2.1–2.6): filter/compute/aggregate/sort,
  * joins, skew strategies, file sources and sinks. */
object RelationalGates extends GateGroup {

  /** Shared by q_skew_agg_plain and q_skew_agg_salted — the same skewed
    * hot-key aggregate, so the two strategies are provably one query. */
  private val SkewAggOracle: String =
    """SELECT CASE WHEN l_orderkey % 10 < 3 THEN 0 ELSE l_partkey END AS k1,
      |CASE WHEN l_orderkey % 10 < 3 THEN 0 ELSE l_suppkey END AS k2,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |COUNT(*) AS n, MAX(l_quantity) AS mx
      |FROM lineitem GROUP BY 1, 2 ORDER BY k1, k2""".stripMargin

  /** Shared by q_skew_collect_plain and q_skew_collect_salted: sorted
    * per-key value lists, pinned by size + md5 of the joined values. */
  private val SkewCollectOracle: String =
    """WITH b AS (SELECT
      |  CASE WHEN l_orderkey % 10 < 3 THEN 0 ELSE l_partkey END AS k1,
      |  CASE WHEN l_orderkey % 10 < 3 THEN 0 ELSE l_suppkey END AS k2,
      |  CAST(round(l_quantity, 0) AS INTEGER) AS q FROM lineitem),
      |g AS (SELECT k1, k2, list(q ORDER BY q) AS l FROM b GROUP BY 1, 2)
      |SELECT k1, k2, CAST(len(l) AS INTEGER) AS n,
      |md5(array_to_string(l, ',')) AS fp
      |FROM g ORDER BY k1, k2""".stripMargin

  gate("q1_agg", (s, d) => {
    // TPC-H Q1 shape: Filter → Compute → GroupAggregate → Sort.
    val li = Tables.lineitem(s, d)
    val prepped = Relational.compute(
      col("l_returnflag"), col("l_linestatus"),
      dec(col("l_quantity")).as("qty"),
      dec(col("l_extendedprice")).as("price"),
      (dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount")))).as("disc_price")
    )(Relational.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))(li))
    val agg = Aggregates.groupAggregate(Seq("l_returnflag", "l_linestatus"), Seq(
      Agg(SUM, Some("qty"), "sum_qty"),
      Agg(SUM, Some("price"), "sum_base_price"),
      Agg(SUM, Some("disc_price"), "sum_disc_price"),
      Agg(COUNT, None, "count_order")))(prepped)
    Relational.sort(col("l_returnflag"), col("l_linestatus"))(
      asDouble("sum_qty", "sum_base_price", "sum_disc_price")(agg))
  }, oracle =
    """SELECT l_returnflag, l_linestatus,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |COUNT(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin)

  gate("q_composite_q3", (s, d) => {
    // TPC-H Q3 shape composed through the operator API (reference join
    // tree: test/guide/join.cc): selective dim filter → broadcast
    // hashJoin → shuffle hashJoin against the filtered fact →
    // groupAggregate → extendedSort top-k. Pins operator COMPOSITION —
    // joins feeding aggregates feeding top-k — not just each operator
    // alone. Filters sit on each scan (pushdown), the one-column
    // customer side broadcasts, the lineitem side is projected to
    // (key, decimal revenue) before its exchange.
    val cust = Relational.filter(col("c_mktsegment") === "BUILDING",
      proj = Seq(col("c_custkey")))(Tables.customer(s, d))
    val ord = Relational.filter(
      col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"),
      proj = Seq(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority")))(Tables.orders(s, d))
    val li = Relational.filter(
      col("l_shipdate") > lit("1998-01-01").cast("timestamp_ntz"),
      proj = Seq(col("l_orderkey"),
        (dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)")
          - dec(col("l_discount")))).as("disc_price")))(Tables.lineitem(s, d))
    val co = Relational.hashJoin(ord, cust,
      col("o_custkey") === col("c_custkey"), broadcastRight = true)
    val j = Relational.hashJoin(li, co, col("l_orderkey") === col("o_orderkey"))
    val agg = Aggregates.groupAggregate(
      Seq("l_orderkey", "o_orderdate", "o_orderpriority"),
      Seq(Agg(SUM, Some("disc_price"), "revenue")))(j)
    // top-k on the EXACT decimal (ties broken by date, then key — fully
    // deterministic), double cast only on the 10 surviving rows
    asDouble("revenue")(Relational.extendedSort(
      Seq(col("revenue").desc, col("o_orderdate"), col("l_orderkey")),
      limit = Some(10))(agg))
      .select("l_orderkey", "o_orderdate", "o_orderpriority", "revenue")
  }, oracle =
    // TPC-H-shaped composites: multi-operator join trees feeding
    // aggregates feeding top-k, exact decimal revenue throughout, ties
    // broken deterministically so LIMIT is well-defined.
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      |AND l_orderkey = o_orderkey
      |AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) DESC, o_orderdate, l_orderkey
      |LIMIT 10""".stripMargin)

  gate("q_composite_q10", (s, d) => {
    // TPC-H Q10 shape: 4-table join (fact → time-windowed orders →
    // customer → broadcast nation) → groupAggregate → top-20.
    val ord = Relational.filter(
      col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz")
        && col("o_orderdate") < lit("1996-07-01").cast("timestamp_ntz"),
      proj = Seq(col("o_orderkey"), col("o_custkey")))(Tables.orders(s, d))
    val li = Relational.filter(col("l_returnflag") === "R",
      proj = Seq(col("l_orderkey"),
        (dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)")
          - dec(col("l_discount")))).as("disc_price")))(Tables.lineitem(s, d))
    val lo = Relational.hashJoin(li, ord, col("l_orderkey") === col("o_orderkey"))
    val loc = Relational.hashJoin(lo, Tables.customer(s, d),
      col("o_custkey") === col("c_custkey"))
    val locn = Relational.hashJoin(loc, Tables.nation(s, d),
      col("c_nationkey") === col("n_nationkey"), broadcastRight = true)
    val agg = Aggregates.groupAggregate(
      Seq("c_custkey", "c_name", "c_acctbal", "n_name"),
      Seq(Agg(SUM, Some("disc_price"), "revenue")))(locn)
    asDouble("revenue")(Relational.extendedSort(
      Seq(col("revenue").desc, col("c_custkey")), limit = Some(20))(agg))
      .select("c_custkey", "c_name", "c_acctbal", "n_name", "revenue")
  }, oracle =
    """SELECT c_custkey, c_name, c_acctbal, n_name,
      |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, nation
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      |AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) DESC, c_custkey
      |LIMIT 20""".stripMargin)

  gate("q_composite_q5", (s, d) => {
    // TPC-H Q5 shape: 6-table join with the region→nation→supplier dim
    // chain pre-reduced and broadcast, the two-key (suppkey, nationkey)
    // final join enforcing the customer-nation = supplier-nation
    // correlation, then a per-nation revenue aggregate. The dim chain
    // collapses to a tiny broadcast BEFORE touching fact data.
    val asia = Relational.filter(col("r_name") === "ASIA",
      proj = Seq(col("r_regionkey")))(Tables.region(s, d))
    val nat = Relational.hashJoin(Tables.nation(s, d), asia,
      col("n_regionkey") === col("r_regionkey"), broadcastRight = true,
      proj = Seq(col("n_nationkey"), col("n_name")))
    val sup = Relational.hashJoin(Tables.supplier(s, d), nat,
      col("s_nationkey") === col("n_nationkey"), broadcastRight = true,
      proj = Seq(col("s_suppkey"), col("s_nationkey"), col("n_name")))
    val ord = Relational.filter(
      col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz")
        && col("o_orderdate") < lit("1997-01-01").cast("timestamp_ntz"),
      proj = Seq(col("o_orderkey"), col("o_custkey")))(Tables.orders(s, d))
    val li = Relational.project(col("l_orderkey"), col("l_suppkey"),
      (dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)")
        - dec(col("l_discount")))).as("disc_price"))(Tables.lineitem(s, d))
    val lo = Relational.hashJoin(li, ord, col("l_orderkey") === col("o_orderkey"))
    val loc = Relational.hashJoin(lo,
      Relational.project(col("c_custkey"), col("c_nationkey"))(Tables.customer(s, d)),
      col("o_custkey") === col("c_custkey"))
    val j = Relational.hashJoin(loc, sup,
      col("l_suppkey") === col("s_suppkey")
        && col("c_nationkey") === col("s_nationkey"), broadcastRight = true)
    val agg = Aggregates.groupAggregate(Seq("n_name"),
      Seq(Agg(SUM, Some("disc_price"), "revenue")))(j)
    Relational.sort(col("n_name"))(asDouble("revenue")(agg))
  }, oracle =
    """SELECT n_name,
      |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |AND r_name = 'ASIA'
      |AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name ORDER BY n_name""".stripMargin)

  gate("q_filter_project", (s, d) => {
    val li = Tables.lineitem(s, d)
    val f = Relational.filter(col("l_quantity") >= 45 && col("l_returnflag") === "A")(li)
    Relational.sort(col("l_orderkey"), col("l_linenumber"))(
      Relational.project(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        (dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
          .cast("double").as("revenue"))(f))
  }, oracle =
    """SELECT l_orderkey, l_linenumber, l_quantity,
      |CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem WHERE l_quantity >= 45 AND l_returnflag = 'A'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin)

  gate("q_limit_offset", (s, d) => {
    val li = Tables.lineitem(s, d)
    Relational.limitOffset(20, 50)(
      Relational.sort(col("l_orderkey"), col("l_linenumber"))(
        Relational.project(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))(li)))
  }, oracle =
    """SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
      |ORDER BY l_orderkey, l_linenumber LIMIT 50 OFFSET 20""".stripMargin)

  gate("q_sort_topk", (s, d) => {
    // ExtendedSort: case-insensitive key + top-k.
    val p = Tables.part(s, d)
    Relational.extendedSort(
      Seq(Relational.caseInsensitive(col("p_type")), col("p_retailprice").desc, col("p_partkey")),
      limit = Some(10))(p)
      .select(col("p_partkey"), col("p_type"), col("p_retailprice"))
  }, oracle =
    """SELECT p_partkey, p_type, p_retailprice FROM part
      |ORDER BY lower(p_type), p_retailprice DESC, p_partkey LIMIT 10""".stripMargin)

  gate("q_hash_join_inner", (s, d) => {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val j = Relational.hashJoin(o, c, col("o_custkey") === col("c_custkey"),
      broadcastRight = true)
    val agg = Aggregates.groupAggregate(Seq("c_mktsegment"), Seq(
      Agg(COUNT, None, "n_orders"),
      Agg(MIN, Some("o_totalprice"), "min_price"),
      Agg(MAX, Some("o_totalprice"), "max_price")))(j)
    Relational.sort(col("c_mktsegment"))(agg)
  }, oracle =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)

  gate("q_hash_join_left", (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    val j = Relational.hashJoin(c, o, col("c_custkey") === col("o_custkey"), "left_outer")
    val agg = Aggregates.groupAggregate(Seq("c_custkey"), Seq(
      Agg(COUNT, Some("o_orderkey"), "n_orders"),
      Agg(SUM, Some("o_totalprice_dec"), "sum_price")))(
      j.withColumn("o_totalprice_dec", dec(col("o_totalprice"))))
    Relational.sort(col("c_custkey"))(asDouble("sum_price")(agg))
  }, oracle =
    """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)

  gate("q_hash_join_right", (s, d) => {
    // RIGHT_OUTER superset (reference declares it in the JoinType enum,
    // supersonic.proto:108-113, without implementing it). rhs = customer,
    // whose key is unique — exercises the KeyUniqueness=UNIQUE contract.
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val j = Relational.hashJoin(o, c, col("o_custkey") === col("c_custkey"),
      "right_outer", rhsUniqueness = Relational.UniqueKey, rhsKeyCols = Seq("c_custkey"))
    val agg = Aggregates.groupAggregate(Seq("c_custkey"), Seq(
      Agg(COUNT, Some("o_orderkey"), "n_orders"),
      Agg(SUM, Some("o_totalprice_dec"), "sum_price")))(
      j.withColumn("o_totalprice_dec", dec(col("o_totalprice"))))
    Relational.sort(col("c_custkey"))(asDouble("sum_price")(agg))
  }, oracle =
    """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)

  gate("q_hash_join_full", (s, d) => {
    // FULL_OUTER superset: restrict customers so both sides contribute
    // unmatched rows (orders with c_custkey > 750 have no customer row).
    val c = Tables.customer(s, d).where(col("c_custkey") <= 750)
      .select(col("c_custkey"), col("c_mktsegment"))
    val o = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"))
    val j = Relational.hashJoin(c, o, col("c_custkey") === col("o_custkey"), "full_outer")
      .withColumn("custkey", coalesce(col("c_custkey"), col("o_custkey")))
    val agg = Aggregates.groupAggregate(Seq("custkey"), Seq(
      Agg(COUNT, Some("o_orderkey"), "n_orders"),
      Agg(MAX, Some("c_mktsegment"), "seg")))(j)
    Relational.sort(col("custkey"))(agg)
  }, oracle =
    """SELECT COALESCE(c_custkey, o_custkey) AS custkey,
      |COUNT(o_orderkey) AS n_orders, MAX(c_mktsegment) AS seg
      |FROM (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey <= 750) c
      |FULL JOIN (SELECT o_custkey, o_orderkey FROM orders) o ON c_custkey = o_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  // Sketch gates: the sketch estimate itself is implementation-defined, so
  // the gate outputs the EXACT value + a tolerance boolean on the estimate
  // and the oracle recomputes the exact value and asserts the boolean —
  // verifying the accuracy contract without cross-engine sketch parity.
  gate("q_sketch_distinct", (s, d) => {
    Relational.sort(col("l_returnflag"))(
      Sketches.approxDistinctWithCheck(Tables.lineitem(s, d),
        Seq("l_returnflag"), "l_suppkey")
        .select("l_returnflag", "nd_exact", "nd_ok"))
  }, oracle =
    """SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS nd_exact, TRUE AS nd_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  gate("q_sketch_quantiles", (s, d) => {
    Relational.sort(col("l_returnflag"))(
      Sketches.approxQuantilesWithCheck(Tables.lineitem(s, d),
        Seq("l_returnflag"), "l_quantity", Seq(0.25, 0.5, 0.75))
        .select(col("l_returnflag"),
          round(element_at(col("q_exact"), 1), 6).as("q25"),
          round(element_at(col("q_exact"), 2), 6).as("q50"),
          round(element_at(col("q_exact"), 3), 6).as("q75"),
          col("q_ok")))
  }, oracle =
    """SELECT l_returnflag,
      |round(quantile_cont(l_quantity, 0.25), 6) AS q25,
      |round(quantile_cont(l_quantity, 0.50), 6) AS q50,
      |round(quantile_cont(l_quantity, 0.75), 6) AS q75,
      |TRUE AS q_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  gate("q_sketch_freq", (s, d) => {
    Relational.sort(col("l_suppkey"))(
      Sketches.topKFrequencyWithCheck(Tables.lineitem(s, d), "l_suppkey", k = 10)
        .select("l_suppkey", "n_exact", "freq_ok"))
  }, oracle =
    """SELECT l_suppkey, n_exact, TRUE AS freq_ok FROM (
      |SELECT l_suppkey, COUNT(*) AS n_exact FROM lineitem
      |GROUP BY l_suppkey ORDER BY n_exact DESC, l_suppkey LIMIT 10)
      |ORDER BY l_suppkey""".stripMargin)

  gate("q_file_roundtrip", (s, d) => {
    // FileOutput → FileInput round-trip (reference file_io.h:64): write a
    // directory-partitioned projection with size-targeted files, scan it
    // back, aggregate — gates that the storage round-trip preserves
    // values exactly (and exercises the 100 TB writer shape: partition
    // pruning + bounded file sizes).
    // per-process path: concurrent Verify/Bench runs on one machine must
    // not interleave overwrites of a shared directory
    val out = cleanupAtExit(s"${System.getProperty("java.io.tmpdir")}/graft_roundtrip_${ProcessHandle.current().pid()}")
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice"))
    Relational.fileOutputPartitioned(o, out, Seq("o_orderstatus"),
      targetRowsPerFile = 5000L)
    val back = Relational.scanParquet(s, out)
    Relational.sort(col("o_orderstatus"))(asDouble("sum_price")(
      Aggregates.groupAggregate(Seq("o_orderstatus"), Seq(
        Agg(COUNT, None, "n"),
        Agg(SUM, Some("price_dec"), "sum_price")))(
        back.withColumn("price_dec", dec(col("o_totalprice"))))))
  }, oracle =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)

  /** q_fileio_parity — the reference's binary block-file format
    * (cursor/infrastructure/file_io.cc, FileOutput/FileInput): write a
    * customer projection as supersonic block files (chunked, LE,
    * byte-per-row nullability, varlen length prefixes), read the BYTES
    * back with the schema-supplied reader, emit every row. The oracle
    * reads the source table directly, so a pass proves the byte round
    * trip is lossless. Golden wire-layout pinning (hand-assembled bytes)
    * lives in SupersonicFileSpec. */
  gate("q_fileio_parity", (s, d) => {
    val out = cleanupAtExit(s"${System.getProperty("java.io.tmpdir")}/graft_ssonic_${ProcessHandle.current().pid()}")
    val src = Tables.customer(s, d).select(col("c_custkey"), col("c_name"),
      col("c_nationkey").cast("int").as("nk"),
      col("c_acctbal").cast("double").as("bal"))
    graft.sources.SupersonicFile.write(src, out)
    graft.sources.SupersonicFile.read(s, out, src.schema).orderBy("c_custkey")
  }, oracle =
    """SELECT c_custkey, c_name, CAST(c_nationkey AS INT) AS nk,
      |CAST(c_acctbal AS DOUBLE) AS bal FROM customer ORDER BY c_custkey""".stripMargin)

  /** Bucketed-table ingest memo: table name -> the sfDir its data came
    * from. The 100 TB rationale is pay-the-shuffle-once-AT-INGEST, so the
    * writes must not recur inside Bench's timed best-of-K attempts —
    * repeat calls in one session (same sfDir) find the tables in the
    * catalog and skip straight to the join. */
  private val bucketedIngestDir = scala.collection.mutable.Map.empty[String, String]

  /** Default warehouse layout for a database-less table: <warehouse>/<name>. */
  private def warehousePath(s: SparkSession, table: String): java.nio.file.Path = {
    val wh = s.conf.get("spark.sql.warehouse.dir")
    val base = if (wh.contains(":/")) java.nio.file.Paths.get(new java.net.URI(wh))
               else java.nio.file.Paths.get(wh)
    base.resolve(table.toLowerCase(java.util.Locale.ROOT))
  }

  private def ensureBucketedIngest(s: SparkSession, d: String): (String, String) =
    synchronized {
      // pid-suffixed table names: concurrent Verify/Bench sessions share
      // one warehouse directory.
      val pid = ProcessHandle.current().pid()
      val liT = s"graft_li_bkt_$pid"
      val oT = s"graft_o_bkt_$pid"
      if (!bucketedIngestDir.get(liT).contains(d) || !s.catalog.tableExists(liT)) {
        Relational.bucketedWrite(
          Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity")),
          liT, Seq("l_orderkey"), numBuckets = 8)
        bucketedIngestDir(liT) = d
      }
      if (!bucketedIngestDir.get(oT).contains(d) || !s.catalog.tableExists(oT)) {
        Relational.bucketedWrite(
          Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice")),
          oT, Seq("o_orderkey"), numBuckets = 8)
        bucketedIngestDir(oT) = d
      }
      exitCleanupDirs.add(warehousePath(s, liT))
      exitCleanupDirs.add(warehousePath(s, oT))
      exitCleanupHook
      (liT, oT)
    }

  gate("q_upsert", (s, d) => {
    // Keyed upsert (MERGE latest-wins): every 7th order arrives
    // re-priced (doubled — exact in FP) plus one brand-new key; the
    // merged corpus must show updated rows replacing, untouched rows
    // surviving, and the new key appended. The oracle replays the CASE
    // + the synthetic new row directly from the raw table.
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice"))
    val maxKey = 1000000000L // above any generated o_orderkey at every SF
    val repriced = o.where(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val newRow = s.range(1).select(lit(maxKey).as("o_orderkey"),
      lit("N").as("o_orderstatus"), lit(1.5).as("o_totalprice"))
    val merged = Relational.upsert(o, repriced.unionByName(newRow), Seq("o_orderkey"))
    merged.orderBy("o_orderkey")
  }, oracle =
    """SELECT o_orderkey, o_orderstatus,
      |CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
      |     ELSE o_totalprice END AS o_totalprice
      |FROM orders
      |UNION ALL
      |SELECT CAST(1000000000 AS BIGINT), 'N', CAST(1.5 AS DOUBLE)
      |ORDER BY o_orderkey""".stripMargin)

  gate("q_orc_roundtrip", (s, d) => {
    // ORC storage face (FileOutput/FileInput over Spark's second
    // built-in columnar format): write a projection, read it back
    // FILTERED — the predicate reaches the ORC reader as a pushed
    // filter, require()d on the scan plan — and aggregate. The oracle
    // replays the filter+aggregate from the raw table, so a lossy ORC
    // round trip (values OR the filter contract) hash-mismatches.
    val out = cleanupAtExit(s"${System.getProperty("java.io.tmpdir")}/graft_orc_${ProcessHandle.current().pid()}")
    Relational.orcOutput(Tables.orders(s, d).select(
      col("o_orderkey"), col("o_orderpriority"), col("o_totalprice")), out)
    val back = Relational.orcInput(s, out).where(col("o_totalprice") > 100000.0)
    val plan = back.queryExecution.executedPlan.toString
    require(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"),
      s"ORC scan must push the price filter down:\n$plan")
    Relational.sort(col("o_orderpriority"))(asDouble("sum_price")(
      Aggregates.groupAggregate(Seq("o_orderpriority"), Seq(
        Agg(COUNT, None, "n"),
        Agg(SUM, Some("price_dec"), "sum_price")))(
        back.withColumn("price_dec", dec(col("o_totalprice"))))))
  }, oracle =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_totalprice > 100000.0
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  gate("q_bucketed_join", (s, d) => {
    // Co-located join via bucketed tables (the pay-once 100 TB ingest
    // strategy, Relational.bucketedWrite): both sides are written
    // bucketBy(join key) + sortBy at ingest (memoized — not re-paid per
    // timed attempt), so the repeated equi-join runs with ZERO shuffle
    // exchange on the join key. The MERGE hint rules out a broadcast plan
    // for any threshold and TRAVELS WITH the logical plan, so the
    // require() below holds for the exact plan Bench/Verify re-plan and
    // execute — not a throwaway planning under temporarily-altered
    // session conf. The oracle replays the plain join: values prove the
    // bucketed storage round-trip is lossless.
    val (liT, oT) = ensureBucketedIngest(s, d)
    val joined = s.table(liT).hint("merge")
      .join(s.table(oT), col("l_orderkey") === col("o_orderkey"))
    val out = Relational.sort(col("bucket"))(asDouble("sum_qty", "sum_price")(
      Aggregates.groupAggregate(Seq("bucket"), Seq(
        Agg(COUNT, None, "n"),
        Agg(SUM, Some("qty_dec"), "sum_qty"),
        Agg(SUM, Some("price_dec"), "sum_price")))(
        joined.select(
          pmod(col("l_orderkey"), lit(10)).cast("long").as("bucket"),
          dec(col("l_quantity")).as("qty_dec"),
          dec(col("o_totalprice")).as("price_dec")))))
    // Assert on the FULL final plan: a sort-merge join over the bucketed
    // scans with no exchange keyed on either join key (the groupBy's
    // exchange on `bucket` is expected and allowed).
    val plan = out.queryExecution.executedPlan.toString
    require(plan.contains("SortMergeJoin"),
      s"bucketed join must plan as SortMergeJoin over bucketed scans:\n$plan")
    require(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
      !plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join must not shuffle on the join key:\n$plan")
    out
  },
  // Untimed setup: BASELINE.md times the co-located JOIN, which only holds
  // if the two bucketed-table writes it probes happen before the timer
  // starts. The ingest is memoized per (JVM, sfDir), so in a fresh JVM the
  // first timed attempt would otherwise pay the ~3 s two-table write (the
  // round-6 verdict's one non-reproducible bench row).
  setup = Some((s, d) => { ensureBucketedIngest(s, d); () }), oracle =
    """SELECT CAST(l_orderkey % 10 AS BIGINT) AS bucket, COUNT(*) AS n,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  gate("q_spy", (s, d) => {
    // SpyOperation passthrough (reference spy.h): observed metrics attach
    // to the plan without changing the data — the gate asserts identity.
    Relational.sort(col("n_nationkey"))(
      Relational.spy(Tables.nation(s, d), "spy_nation")
        .select(col("n_nationkey"), col("n_name")))
  }, oracle =
    "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey")

  gate("q_salted_agg", (s, d) => {
    // Skew-salted two-phase aggregation must be value-identical to the
    // plain GROUP BY the oracle runs: exactness holds because the partial
    // sums run over DECIMAL, so merge order cannot perturb the result.
    val li = Tables.lineitem(s, d).withColumn("qty_dec", dec(col("l_quantity")))
    val agg = Aggregates.saltedGroupAggregate(Seq("l_suppkey"), Seq(
      Agg(SUM, Some("qty_dec"), "sum_qty"),
      Agg(COUNT, None, "n"),
      Agg(MIN, Some("l_quantity"), "mn"),
      Agg(MAX, Some("l_quantity"), "mx")), saltBuckets = 8)(li)
    Relational.sort(col("l_suppkey"))(asDouble("sum_qty")(agg))
  }, oracle =
    """SELECT l_suppkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |COUNT(*) AS n, MIN(l_quantity) AS mn, MAX(l_quantity) AS mx
      |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin)

  /** Hot-key projection for the skew A/B gates: ~30% of lineitem rows
    * (l_orderkey % 10 < 3) fold onto the single compound key (0, 0); the
    * tail stays high-cardinality (l_partkey, l_suppkey — ~1 group per 3
    * rows), which keeps map-side partial aggregation from collapsing the
    * hot key early. This is the regime where one reducer receives ~30%
    * of the shuffle while the rest share the tail — the skew that kills
    * a 1000-executor job. */
  private def skewedKeys(s: SparkSession, d: String): DataFrame = {
    val hot = pmod(col("l_orderkey"), lit(10)) < 3
    Tables.lineitem(s, d).select(
      when(hot, lit(0L)).otherwise(col("l_partkey")).as("k1"),
      when(hot, lit(0L)).otherwise(col("l_suppkey")).as("k2"),
      dec(col("l_quantity")).as("qty_dec"), col("l_quantity"))
  }

  private val skewAggs = Seq(
    Agg(SUM, Some("qty_dec"), "sum_qty"),
    Agg(COUNT, None, "n"),
    Agg(MAX, Some("l_quantity"), "mx"))

  // Plain vs salted on the SAME skewed input + the SAME oracle: the
  // correctness rows prove value-identity, the bench rows record the
  // skew cost and the salting win at sf0.1 (see BASELINE.md).
  gate("q_skew_agg_plain", (s, d) => {
    Relational.sort(col("k1"), col("k2"))(asDouble("sum_qty")(
      Aggregates.groupAggregate(Seq("k1", "k2"), skewAggs)(skewedKeys(s, d))))
  }, oracle =
    // One oracle, two physical strategies: the salted variant must be
    // value-identical to the plain GROUP BY (DECIMAL partials make merge
    // order irrelevant).
    SkewAggOracle)

  gate("q_skew_agg_salted", (s, d) => {
    Relational.sort(col("k1"), col("k2"))(asDouble("sum_qty")(
      Aggregates.saltedGroupAggregate(Seq("k1", "k2"), skewAggs,
        saltBuckets = 16)(skewedKeys(s, d))))
  }, oracle = SkewAggOracle)

  // Collect-per-key is the aggregation class where salting genuinely
  // matters (no map-side combine — see saltedCollectSorted). Same skewed
  // fixture, same oracle; the array content is pinned via size + md5 of
  // the sorted joined values (the array itself stays in-engine so the
  // compare layer never handles multi-MB cells).
  private def skewedQty(s: SparkSession, d: String): DataFrame =
    skewedKeys(s, d).withColumn("q", round(col("l_quantity")).cast("int"))

  private def collectFingerprint(arr: Column): Column =
    md5(concat_ws(",", transform(arr, v => v.cast("string"))))

  gate("q_skew_collect_plain", (s, d) => {
    skewedQty(s, d).groupBy("k1", "k2")
      .agg(sort_array(collect_list(col("q"))).as("vals"))
      .select(col("k1"), col("k2"), size(col("vals")).as("n"),
        collectFingerprint(col("vals")).as("fp"))
      .orderBy("k1", "k2")
  }, oracle = SkewCollectOracle)

  gate("q_skew_collect_salted", (s, d) => {
    Aggregates.saltedCollectSorted(Seq("k1", "k2"), "q", "vals")(skewedQty(s, d))
      .select(col("k1"), col("k2"), size(col("vals")).as("n"),
        collectFingerprint(col("vals")).as("fp"))
      .orderBy("k1", "k2")
  }, oracle = SkewCollectOracle)

  gate("q_scan_selection", (s, d) => {
    // Selection vector semantics (reference scan_view.h:42-47): rows may
    // repeat and drop. Selection = every 7th customer, with keys < 70
    // selected twice (duplicate rowids). c_custkey is 0-based contiguous,
    // so rowid-over-key-order == c_custkey and the oracle can reproduce
    // the selection in SQL.
    val c = Tables.customer(s, d).orderBy("c_custkey")
    val base = Tables.customer(s, d).where(col("c_custkey") % 7 === 0)
      .select(col("c_custkey").as("rowid"))
    val sel = base.unionAll(base.where(col("rowid") < 70))
      .withColumn("pos", -col("rowid"))
    Relational.scanWithSelection(c, sel)
      .select("c_custkey", "c_name", "c_mktsegment")
  }, oracle =
    """WITH sel AS (SELECT c_custkey AS rid FROM customer WHERE c_custkey % 7 = 0
      |UNION ALL SELECT c_custkey FROM customer WHERE c_custkey % 7 = 0 AND c_custkey < 70)
      |SELECT c.c_custkey, c.c_name, c.c_mktsegment
      |FROM sel JOIN customer c ON c.c_custkey = sel.rid
      |ORDER BY c.c_custkey""".stripMargin)

  gate("q_range_join", (s, d) => {
    // Keyless interval join (the hard case — with an equi key Catalyst
    // already hash-joins): lineitems shipped within 30 days of any
    // high-value order's date, aggregated per interval. Exercises the
    // bucketized plan, not BroadcastNestedLoop (asserted in spec).
    val day = 86400000L
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_shipdate"))
    val big = Tables.orders(s, d).where(col("o_totalprice") > 495000.0)
      .select(col("o_orderkey"), col("o_orderdate"))
    // parquet timestamps read as TIMESTAMP_NTZ; UTC session makes the
    // cast to instant-typed TIMESTAMP an identity. The bucket width is
    // CHOSEN from the interval-length distribution (here every interval
    // is exactly 30 days, so the p90 chooser lands on ~30 days) — the
    // driver gate exercises the auto-width path end-to-end; width cannot
    // change the result set, only the explode/probe balance.
    val start = graft.functions.Exprs.epochMillisCivil(col("o_orderdate").cast("timestamp_ntz"))
    val end = graft.functions.Exprs.epochMillisCivil(col("o_orderdate").cast("timestamp_ntz")) + 30L * day
    val width = Relational.chooseRangeBucketWidth(big, start, end)
    val j = Relational.rangeJoin(li, big, Nil,
      graft.functions.Exprs.epochMillisCivil(col("l_shipdate").cast("timestamp_ntz")),
      start, end, bucketWidth = width)
    j.groupBy("o_orderkey")
      .agg(count(lit(1)).as("n_shipped"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
      .orderBy("o_orderkey")
  }, oracle =
    """SELECT o_orderkey, COUNT(*) AS n_shipped,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN
      |(SELECT o_orderkey, o_orderdate FROM orders WHERE o_totalprice > 495000.0) o
      |ON epoch_ms(l_shipdate) >= epoch_ms(o_orderdate)
      |AND epoch_ms(l_shipdate) <= epoch_ms(o_orderdate) + 2592000000
      |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin)

  gate("q_foreign_filter", (s, d) => {
    val li = Tables.lineitem(s, d)
    val big = Relational.filter(col("o_totalprice") > 150000.0)(Tables.orders(s, d))
    Relational.sort(col("l_orderkey"), col("l_linenumber"))(
      Relational.foreignFilter(li, "l_orderkey", big, "o_orderkey")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")))
  }, oracle =
    """WITH f AS (SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) - 1 AS new_id
      |FROM orders WHERE o_totalprice > 150000.0)
      |SELECT f.new_id AS l_orderkey, l.l_linenumber, l.l_quantity
      |FROM lineitem l JOIN f ON l.l_orderkey = f.o_orderkey
      |ORDER BY 1, 2""".stripMargin)

  gate("q_rowid_merge_join", (s, d) => {
    val n = Tables.nation(s, d).withColumn("n_regionkey64", col("n_regionkey").cast("long"))
    val r = Tables.region(s, d)
    Relational.sort(col("n_nationkey"))(
      Relational.rowidMergeJoin(n, "n_regionkey64", r, Seq(col("r_regionkey")))
        .select(col("n_nationkey"), col("n_name"), col("r_name")))
  }, oracle =
    """WITH r AS (SELECT r_name, row_number() OVER (ORDER BY r_regionkey) - 1 AS rid FROM region)
      |SELECT n.n_nationkey, n.n_name, r.r_name
      |FROM nation n JOIN r ON n.n_regionkey = r.rid ORDER BY n_nationkey""".stripMargin)

  gate("q_coalesce", (s, d) => {
    val c = Tables.customer(s, d)
    val left = c.select(col("c_custkey"), col("c_name"))
    val right = c.select(col("c_acctbal"), col("c_mktsegment"))
    Relational.sort(col("c_custkey"))(Relational.coalesceColumns(Seq(left, right)))
  }, oracle =
    "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer ORDER BY c_custkey")

  gate("q_merge_union", (s, d) => {
    val li = Tables.lineitem(s, d)
    def side(flag: String) =
      li.filter(col("l_returnflag") === flag)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
    Relational.mergeUnionAll(Seq(side("A"), side("R")),
      Seq(col("l_orderkey"), col("l_linenumber")))
  }, oracle =
    """SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem WHERE l_returnflag = 'A'
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem WHERE l_returnflag = 'R'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin)

  gate("q_generate", (s, d) => {
    Relational.compute(col("seq"), lit(42).as("c_int"), lit("x").as("c_str"))(
      Relational.generate(s, 10)).orderBy("seq")
  }, oracle =
    "SELECT range AS seq, 42 AS c_int, 'x' AS c_str FROM range(10) ORDER BY seq")

  gate("q_scalar_agg", (s, d) => {
    val li = Tables.lineitem(s, d).withColumn("qty_dec", dec(col("l_quantity")))
    asDouble("s")(Aggregates.scalarAggregate(Seq(
      Agg(COUNT, None, "cnt"),
      Agg(SUM, Some("qty_dec"), "s"),
      Agg(MIN, Some("l_quantity"), "mn"),
      Agg(MAX, Some("l_quantity"), "mx")))(li))
  }, oracle =
    """SELECT COUNT(*) AS cnt, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s,
      |MIN(l_quantity) AS mn, MAX(l_quantity) AS mx FROM lineitem""".stripMargin)

  gate("q_scalar_agg_empty", (s, d) => {
    // ScalarAggregate returns exactly one row on empty input
    // (reference: aggregate_scalar.cc); COUNT→0, others→NULL.
    val li = Tables.lineitem(s, d).filter(col("l_quantity") < 0)
      .withColumn("qty_dec", dec(col("l_quantity")))
    asDouble("s")(Aggregates.scalarAggregate(Seq(
      Agg(COUNT, None, "cnt"),
      Agg(SUM, Some("qty_dec"), "s"),
      Agg(MIN, Some("l_quantity"), "mn")))(li))
  }, oracle =
    """SELECT COUNT(*) AS cnt, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s,
      |MIN(l_quantity) AS mn FROM lineitem WHERE l_quantity < 0""".stripMargin)

  gate("q_group_distinct", (s, d) => {
    val li = Tables.lineitem(s, d)
    Relational.sort(col("l_returnflag"))(
      Aggregates.hybridGroupAggregate(Seq("l_returnflag"), Seq(
        Agg(COUNT, Some("l_suppkey"), "nd_supp", distinct = true),
        Agg(SUM, Some("l_linenumber"), "sd_ln", distinct = true),
        Agg(COUNT, Some("l_orderkey"), "nd_ord", distinct = true)))(li))
  }, oracle =
    """SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS nd_supp,
      |CAST(SUM(DISTINCT l_linenumber) AS BIGINT) AS sd_ln, COUNT(DISTINCT l_orderkey) AS nd_ord
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  gate("q_agg_concat", (s, d) => {
    val c = Tables.customer(s, d).filter(col("c_custkey") <= 50)
    Relational.sort(col("c_nationkey"))(
      Aggregates.groupAggregate(Seq("c_nationkey"), Seq(
        Agg(CONCAT, Some("c_name"), "names", order = Some(col("c_custkey"))),
        Agg(COUNT, None, "cnt")))(c))
  }, oracle =
    """SELECT c_nationkey, string_agg(c_name, ',' ORDER BY c_custkey) AS names, COUNT(*) AS cnt
      |FROM customer WHERE c_custkey <= 50
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)

  gate("q_first_last", (s, d) => {
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so the
    // order key folds the quantity in as a deterministic tie-break — rows
    // tying on (ord, qty) are interchangeable for FIRST/LAST-of-qty.
    val li = Tables.lineitem(s, d)
      .withColumn("ord", (col("l_orderkey") * 10 + col("l_linenumber")) * 100 + col("l_quantity"))
    Relational.sort(col("l_returnflag"))(
      Aggregates.groupAggregate(Seq("l_returnflag"), Seq(
        Agg(FIRST, Some("l_quantity"), "first_qty", order = Some(col("ord"))),
        Agg(LAST, Some("l_quantity"), "last_qty", order = Some(col("ord")))))(li))
  }, oracle =
    """SELECT l_returnflag,
      |min_by(l_quantity, (l_orderkey * 10 + l_linenumber) * 100 + l_quantity) AS first_qty,
      |max_by(l_quantity, (l_orderkey * 10 + l_linenumber) * 100 + l_quantity) AS last_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  gate("q_agg_limit", (s, d) => {
    val li = Tables.lineitem(s, d).withColumn("qty_dec", dec(col("l_quantity")))
    asDouble("sum_qty")(
      Aggregates.groupAggregateWithLimit("l_suppkey", Seq(
        Agg(SUM, Some("qty_dec"), "sum_qty"),
        Agg(COUNT, None, "cnt")), limit = 5)(li))
      .orderBy(col("l_suppkey").asc_nulls_last, col("overflow"))
  }, oracle =
    """WITH rk AS (SELECT l_suppkey AS k, dense_rank() OVER (ORDER BY l_suppkey) AS r
      |FROM (SELECT DISTINCT l_suppkey FROM lineitem)),
      |t AS (SELECT CASE WHEN rk.r <= 5 THEN l.l_suppkey END AS l_suppkey,
      |rk.r > 5 AS overflow, l.l_quantity
      |FROM lineitem l JOIN rk ON l.l_suppkey = rk.k)
      |SELECT l_suppkey, overflow, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |COUNT(*) AS cnt FROM t GROUP BY l_suppkey, overflow
      |ORDER BY l_suppkey NULLS LAST, overflow""".stripMargin)

  gate("q_set_intersect", (s, d) => {
    Relational.sort(col("nk"))(Relational.intersect(
      Tables.customer(s, d).select(col("c_nationkey").as("nk")),
      Tables.supplier(s, d).select(col("s_nationkey").as("nk"))))
  }, oracle =
    """SELECT nk FROM (SELECT c_nationkey AS nk FROM customer INTERSECT
      |SELECT s_nationkey AS nk FROM supplier) ORDER BY nk""".stripMargin)

  /** Right side is restricted to a fixed supplier-key range so the
    * difference is NON-empty at every SF (round 10: the unrestricted form
    * was the suite's only zero-row gate — it hash-matched trivially and
    * could not catch duplicate-semantics drift in except; the empty case
    * stays asserted in RelationalSpec). */
  gate("q_set_except", (s, d) => {
    Relational.sort(col("nk"))(Relational.except(
      Tables.customer(s, d).select(col("c_nationkey").as("nk")),
      Tables.supplier(s, d).filter(col("s_suppkey") < 20)
        .select(col("s_nationkey").as("nk"))))
  }, oracle =
    """SELECT nk FROM (SELECT c_nationkey AS nk FROM customer EXCEPT
      |SELECT s_nationkey AS nk FROM supplier WHERE s_suppkey < 20) ORDER BY nk""".stripMargin)

  gate("q_join5", (s, d) => {
    // TPC-H Q5 shape: 5-way join with two broadcast dims, revenue per nation.
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .withColumn("rev",
        dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
    Relational.sort(col("r_name"), col("n_name"))(
      asDouble("revenue")(Aggregates.groupAggregate(Seq("r_name", "n_name"), Seq(
        Agg(SUM, Some("rev"), "revenue"),
        Agg(COUNT, None, "n_items")))(j)))
  }, oracle =
    """SELECT r_name, n_name,
      |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |COUNT(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)
}
