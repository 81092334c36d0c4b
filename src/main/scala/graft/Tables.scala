package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided deterministic parquet tables
  * (see TESTDATA.md). All engine queries take the scale-factor
  * directory as a parameter so the same plan runs at any SF.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Driver parquet vintages differ in how they store timestamps: some
    * rounds write TIMESTAMP(NANOS) (read as Long under
    * spark.sql.legacy.parquet.nanosAsLong), newer ones TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) which Spark 4 infers as TIMESTAMP_NTZ.
    *
    * NTZ columns are kept NTZ — the engine's time semantics are CIVIL
    * (wall clock read as UTC, exactly what the reference's int64-UTC
    * DATETIME means). Round 9's session-timezone sweep proved the earlier
    * `.cast("timestamp")` normalization was a portability bug: that cast
    * re-interprets the wall clock through spark.sql.session.timeZone, so
    * 15 gates returned different rows on any non-UTC session. Epoch
    * extraction on these columns must use Exprs.epochMicrosCivil (civil
    * timestamp_diff), never unix_micros. */
  /** Session-scoped table-HANDLE memo (r17, guide §6 file listing):
    * `spark.read.parquet` builds a fresh InMemoryFileIndex and runs a
    * footer-reading schema-inference job on EVERY call, so each query
    * construction re-paid listing + inference for every table it touches
    * — pure per-query fixed floor at gate scale, and at 100 TB exactly
    * the repeated-listing cost the guide tells you to cache (a catalog
    * table caches its resolved relation the same way; file-source tables
    * get `filesourcePartitionFileCacheSize` for the same reason). The
    * memo holds the LAZY DataFrame (logical plan + resolved schema +
    * file index) per (session, path) — METADATA only: every execution
    * still scans the parquet bytes, so nothing about query results or
    * the computed-from-inputs contract changes; new sessions (tests,
    * cluster jobs) build their own entries, and a replaced input
    * directory is a new path key. */
  private val handles =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** The memoized handle of table `name` under `sfDir` for `spark`.
    *
    * Assumes its input is static: the file listing and inferred schema
    * are taken on the first call per (session, path), so a directory
    * rewritten or appended in place is served stale. Every call first
    * drops the entries of stopped sessions, so the memo never pins a
    * dead session (a cheap pass over a handful of entries). */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    handles.keySet.removeIf(_._1.sparkContext.isStopped)
    handles.computeIfAbsent((spark, s"$sfDir/$name.parquet"),
      k => k._1.read.parquet(k._2))
  }

  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  /** events.ts is parquet TIMESTAMP(NANOS): read as nanos-long (session sets
    * spark.sql.legacy.parquet.nanosAsLong) and convert to a microsecond
    * CIVIL timestamp here (stored count read as UTC wall clock — identical
    * to how DuckDB reads the same column), matching engines that truncate
    * ns to us. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", graft.functions.Exprs.civilFromMicros(
        org.apache.spark.sql.functions.expr("ts div 1000")))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
