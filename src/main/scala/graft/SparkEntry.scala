package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gates.Gates

/** Driver contract: the gate registry ([[graft.gates.Gates]]) as the maps
  * the mains, the tests and the benchmark read.
  *
  * Every gate exercises a declared operator from SURVEY.md §2 through the
  * graft.operators / graft.functions API and has a DuckDB oracle with
  * identical output column names and ORDER BY. Gates are declared in the
  * domain files of `graft.gates`, each once, builder beside oracle.
  *
  * Exactness convention: raw parquet values pass through both engines
  * bit-identically; computed monetary aggregates are done in DECIMAL(18,2)
  * (exact) and cast to DOUBLE at the end, so Spark and DuckDB hashes match
  * without tolerance.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Every gate's builder: `(session, sfDir) => frame`. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Gates.byName.map { case (n, g) => n -> g.build }

  /** The gates with a declared untimed setup ([[graft.gates.Gate]]). */
  val benchSetup: Map[String, (SparkSession, String) => Unit] =
    Gates.all.flatMap(g => g.setup.map(g.name -> _)).toMap

  /** Every gate's oracle: ANSI SQL that DuckDB runs on the same parquet
    * tables. Rendered on first read. */
  lazy val oracleSql: Map[String, String] =
    Gates.all.map(g => g.name -> g.oracle()).toMap
}
