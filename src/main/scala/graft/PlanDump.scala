package graft

import org.apache.spark.sql.execution.ExplainMode
import graft.gates.Gates

/** Dump `.explain("formatted")` for named queries to files — the
  * before/after plan artifacts an optimization round commits
  * (plans/r16/<query>_before.txt pattern), captured under the SAME
  * session conf as graft.Bench so the committed plan is the plan the
  * bench actually timed (AQE on, shuffle.partitions = cpus).
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <query> [query ...]
  *   writes <outDir>/<query>_<suffix>.txt per query.
  * SPARK_GRAFT_SF_DIR as in Bench; session settings: the README table
  * "Session settings". Building a frame runs any effectful gate setup
  * (streaming gates execute their micro-batches), same caveat as PlanLint.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query> [query ...]")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val picked = Gates.select(args.drop(2).toSeq)
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.start("graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    picked.foreach { g =>
      val n = g.name
      try {
        val df = g.build(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        val p = outDir.resolve(s"${n}_$suffix.txt")
        java.nio.file.Files.write(p, txt.getBytes("UTF-8"))
        println(s"[plandump] wrote $p")
      } catch {
        case e: Throwable => System.err.println(s"[plandump] $n: $e")
      }
    }
    spark.stop()
  }
}
