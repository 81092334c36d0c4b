package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Usage: Verify <sfDir> <outDir> [queryName ...] — names filter which
    // queries are dumped (fast local iteration); oracle_sql.json is always
    // written in full.
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    val cpus = Sessions.cpus
    // Exec-config knobs for invariance sweeps: every gate's output must
    // be identical under any AQE setting / shuffle-partition count —
    // results depend on the data, never on the execution layout.
    val aqe = Sessions.env("SPARK_GRAFT_AQE", Sessions.flag).getOrElse(true).toString
    val shufflePartitions = Sessions.env("SPARK_GRAFT_SHUFFLE_PARTITIONS", Sessions.positiveLong).fold(cpus)(_.toString)
    // Semantic-config knobs: gates must also hold under the session
    // semantics a USER brings — stock Spark 4 runs ANSI on, and cluster
    // sessions need not be UTC. Sweeps replay the full oracle under
    // ansi=true and a non-UTC zone to prove no gate leans on the pins.
    val tz = Sessions.env("SPARK_GRAFT_TZ", Sessions.zoneId).getOrElse("UTC")
    val ansi = Sessions.env("SPARK_GRAFT_ANSI", Sessions.flag).getOrElse(false).toString
    // Speculation sweep (round 10): SPARK_GRAFT_SPECULATION=1 enables
    // spark.speculation with aggressive thresholds. On a single host the
    // scheduler never actually LAUNCHES a duplicate (TaskSetManager skips
    // hosts that already run an attempt — probed empirically, 0
    // speculative task starts even under local-cluster), so this sweep
    // pins the bookkeeping/AQE interplay; the double-execution hazard
    // itself is pinned at the commit layer by SpeculationSpec and
    // TaskRetrySpec (attempt-temp + rename, parquet committer).
    val speculation = (sys.env.get("SPARK_GRAFT_SPECULATION") match {
      case Some("1") | Some("true") => true
      case _ => false
    }).toString
    // Serialization-boundary sweep (round 11): SPARK_GRAFT_MASTER=
    // local-cluster[2,2,4096] runs executors as SEPARATE JVMs — every
    // broadcast, task closure, and custom-Expression capture crosses a
    // real serialization wire, the one failure class plain local[*]
    // structurally cannot catch. Executors are forked fresh by the
    // worker, so they need the driver's classpath and the JDK-17
    // add-opens flags explicitly (spark-submit would inject them).
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = Sessions.build(master, shufflePartitions, tz, ansi, aqe,
      speculation = speculation == "true",
      executorMem = sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "3g"),
      appName = "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    // Durability-mode sweeps: with a checkpoint dir set, stageCheckpoint
    // writes reliable files (the cluster posture), not local executor blocks.
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")
      .foreach(spark.sparkContext.setCheckpointDir)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
