package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate: a query built through graft's operators over the tables in
  * an sf directory, and DuckDB SQL over the same parquet tables that must
  * return the same rows, with identical output column names and ORDER BY.
  *
  * @param oracle renders the SQL; only Verify and the tests read it.
  * @param setup  untimed one-time ingest that a production deployment pays
  *               at load time, not per query. Bench and the benchmark run
  *               it before the timed window; Verify lets the query run it
  *               inline, where wall time is not the measurement.
  */
final case class Gate(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: () => String,
    setup: Option[(SparkSession, String) => Unit])

/** A domain file of gates. Each gate is declared once, with [[gate]]: its
  * name, its builder, and beside the builder its oracle. */
abstract class GateGroup {
  private val declared = scala.collection.mutable.ArrayBuffer.empty[Gate]

  /** This file's gates, in declaration order. */
  final def gates: Seq[Gate] = declared.toSeq

  protected final def gate(name: String,
                           build: (SparkSession, String) => DataFrame,
                           oracle: => String,
                           setup: Option[(SparkSession, String) => Unit] = None): Unit =
    declared += Gate(name, build, () => oracle, setup)
}

/** The gate registry: every gate of every domain file. `SparkEntry`'s
  * maps are views of it. Adding a gate is one [[GateGroup.gate]]
  * declaration plus its row in BASELINE_ROWS.json. */
object Gates {
  val all: Seq[Gate] = Seq(RelationalGates, ExpressionGates, StatefulGates,
    PipelineGates, LookupGates, MultiDimGates).flatMap(_.gates)

  val byName: Map[String, Gate] = index(all)

  /** `gates` by name. A name declared twice fails here, naming it, where a
    * map literal would keep the last declaration and drop the first. */
  def index(gates: Seq[Gate]): Map[String, Gate] = {
    val dup = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dup.isEmpty, s"gate declared more than once: ${dup.toSeq.sorted.mkString(", ")}")
    gates.map(g => g.name -> g).toMap
  }

  /** The gates a main was asked to run: every gate when `names` is empty,
    * else the named ones in the order given. An unknown name fails, with
    * the list of every unknown name, instead of running fewer gates. */
  def select(names: Seq[String]): Seq[Gate] = {
    val unknown = names.filterNot(byName.contains).distinct
    require(unknown.isEmpty, s"unknown gate name(s): ${unknown.mkString(", ")}")
    if (names.isEmpty) all else names.distinct.map(byName)
  }
}
