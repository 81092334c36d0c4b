package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for named queries to files — the
  * before/after plan artifacts an optimization round commits
  * (plans/r16/<query>_before.txt pattern), captured under the SAME
  * session conf as graft.Bench so the committed plan is the plan the
  * bench actually timed (AQE on, shuffle.partitions = cpus).
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <query> [query ...]
  *   writes <outDir>/<query>_<suffix>.txt per query.
  * SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench. Building a frame
  * runs any effectful gate setup (streaming gates execute their
  * micro-batches), same caveat as PlanLint.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query> [query ...]")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2).toSeq
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cpus
    val spark = Sessions.build(s"local[$cpus]", cpus, appName = "graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
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
