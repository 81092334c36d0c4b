package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.gates.{Gate, Gates}

/** Driver-contract invariants on the gate registry. A gate is one
  * declaration (name, builder, oracle), so a gate without an oracle, or an
  * oracle without a gate, cannot be written; what can still drift is a
  * duplicate name, the bench ledger, and the gate lists kept outside the
  * registry — this spec makes that drift fail loudly. */
class EntryContractSpec extends AnyFunSuite {

  private def textOf(path: String): String = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.mkString finally src.close()
  }

  test("gate names are unique") {
    val names = Gates.all.map(_.name)
    assert(names.distinct.size == names.size,
      s"declared twice: ${names.diff(names.distinct).distinct}")
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
    // building the registry rejects a duplicate, where a map literal would
    // keep the last declaration and silently drop the first
    val build: (SparkSession, String) => DataFrame = (_, _) => null
    def g(n: String) = Gate(n, build, () => "SELECT 1", None)
    assert(Gates.index(Seq(g("q_a"), g("q_b"))).keySet == Set("q_a", "q_b"))
    val ex = intercept[IllegalArgumentException](
      Gates.index(Seq(g("q_a"), g("q_b"), g("q_a"))))
    assert(ex.getMessage.contains("gate declared more than once: q_a"), ex.getMessage)
  }

  test("no scratch/AB queries leak into the driver contract") {
    assert(!SparkEntry.queries.keySet.exists(_.contains("_ab_")),
      "temporary A/B queries must be removed before shipping")
  }

  test("bench ledger is TOTAL: BASELINE_ROWS.json keys == queries keys, " +
    "every entry carries an sf0.1 row") {
    // The 2x perf gate is only evaluable for queries with a recorded
    // baseline row; round 7 found 31 gates silently unrowed because rows
    // lived in prose. The canonical ledger is machine-readable now and
    // this guard makes a new query without a recorded row fail loudly
    // (add one via tools/baseline_rows.py --fill <bench jsonl>).
    val txt = textOf("BASELINE_ROWS.json")
    val keys = "\"(q\\w+)\":\\s*\\{".r.findAllMatchIn(txt)
      .map(_.group(1)).toSet
    val missing = SparkEntry.queries.keySet -- keys
    val stale = keys -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"queries with no baseline row: $missing")
    assert(stale.isEmpty, s"baseline rows for dropped queries: $stale")
    val unrowed = "\"(q\\w+)\":\\s*\\{\\s*\"sf0\\.1_s\":\\s*null".r
      .findAllMatchIn(txt).map(_.group(1)).toSet
    assert(unrowed.isEmpty, s"ledger entries without an sf0.1 row: $unrowed")
  }

  test("every gate named outside the registry is a registered gate") {
    def quoted(text: String): Seq[String] =
      "\"(q\\w+)\"".r.findAllMatchIn(text).map(_.group(1)).toSeq
    def between(text: String, from: String, to: String): String = {
      val i = text.indexOf(from)
      assert(i >= 0, s"'$from' not found")
      text.substring(i, text.indexOf(to, i + from.length))
    }
    val faultInject = between(textOf("tools/faultinject.sh"), "GATES=(q", ")")
    val workloads = textOf("perfbench/workloads.py")
    val lists = Seq(
      "PlanLint.allowlist" -> PlanLint.allowlist.keys.toSeq,
      "CrossMaster.DefaultQueries" -> CrossMaster.DefaultQueries,
      "Explain.DefaultQueries" -> Explain.DefaultQueries,
      "tools/faultinject.sh GATES" -> "q\\w+".r.findAllIn(faultInject).toSeq,
      "perfbench LOOPS" -> quoted(between(workloads, "LOOPS = (", ")")),
      "perfbench STREAMING" -> quoted(between(workloads, "STREAMING = (", ")")))
    for ((where, names) <- lists) {
      assert(names.nonEmpty, s"$where: no gate names read")
      val unknown = names.filterNot(Gates.byName.contains)
      assert(unknown.isEmpty, s"$where names unregistered gates: $unknown")
    }
  }

  test("select resolves requested names once, failing with every unknown name") {
    assert(Gates.select(Nil) == Gates.all)
    assert(Gates.select(Seq("q_lookup", "q1_agg", "q_lookup")).map(_.name) ==
      Seq("q_lookup", "q1_agg"))
    val ex = intercept[IllegalArgumentException](
      Gates.select(Seq("q1_agg", "q_typo", "q_also_missing", "q_typo")))
    assert(ex.getMessage.contains("unknown gate name(s): q_typo, q_also_missing"),
      ex.getMessage)
  }
}
