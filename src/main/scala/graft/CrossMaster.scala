package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.gates.Gates

/** Serialization-boundary probe (round-10 VERDICT item: the whole
  * correctness record was single-JVM `local[*]`, where broadcasts, task
  * closures, and the 12 native codegen Expressions never cross a real
  * wire).
  *
  * Runs a set of native-expression-heavy gates twice — on `local[4]` and
  * on `local-cluster[2,2,3072]` (two separate executor JVMs) — and
  * compares a canonical digest of each result. A non-serializable
  * closure capture, a broadcast that only works in-process, or a
  * GraftExtensions function that fails to materialize on a remote
  * executor shows up as a crash or a digest mismatch here.
  *
  * Usage: CrossMaster [sfDir] [queryName ...]; prints one line per query
  * (`MATCH name digest` / `MISMATCH name a b`) and exits non-zero on any
  * mismatch. CrossMasterSpec forks this main (two sequential
  * SparkContexts cannot share the test JVM with the suite's session).
  */
object CrossMaster {

  /** Gates chosen to drag every custom-serialization surface across the
    * wire: SupersonicHash64 codegen (fingerprint/hash), Re2Dialect-guarded
    * regexp, the minhash/shingle native expressions, stateful
    * partition-iterator exprs, and a broadcast lookup join. */
  val DefaultQueries: Seq[String] = Seq(
    "q_expr_fingerprint", "q_expr_hash", "q_expr_regexp",
    "q_dedup_minhash", "q_stateful_running", "q_lookup")

  def canonicalDigest(rows: Array[Row]): String = {
    def fmt(v: Any): String = v match {
      case null => "\u0000null"
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case s: Seq[_] => s.map(fmt).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(fmt).mkString("(", ",", ")")
      case other => String.valueOf(other)
    }
    val lines = rows.map(_.toSeq.map(fmt).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update(10.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  def digests(master: String, sfDir: String, names: Seq[String]): Map[String, String] = {
    val spark = Sessions.start("graft-crossmaster", Sessions.Settings(master, 4))
    spark.sparkContext.setLogLevel("ERROR")
    try names.map { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      // columns sorted by name — the check.py comparison convention
      val cols = df.columns.sorted.map(col)
      n -> canonicalDigest(df.select(cols.toIndexedSeq: _*).collect())
    }.toMap
    finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // an unknown name fails here, before either session starts
    val names = Gates.select(if (args.length > 1) args.drop(1).toSeq else DefaultQueries)
      .map(_.name)
    val clusterMaster =
      sys.env.getOrElse("SPARK_GRAFT_CLUSTER_MASTER", "local-cluster[2,2,3072]")
    val localH = digests("local[4]", sfDir, names)
    val clusterH = digests(clusterMaster, sfDir, names)
    var bad = 0
    names.foreach { n =>
      if (localH(n) == clusterH(n)) println(s"MATCH $n ${localH(n)}")
      else { bad += 1; println(s"MISMATCH $n ${localH(n)} ${clusterH(n)}") }
    }
    println(s"CROSSMASTER ${names.size - bad}/${names.size} identical across " +
      s"local[4] and $clusterMaster")
    if (bad > 0) sys.exit(1)
  }
}
