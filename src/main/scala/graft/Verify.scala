package graft
import java.nio.file.{Files, Paths}
import graft.gates.Gates
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Session
  * settings: the README table "Session settings" ([[Sessions.Settings]]
  * says what each one sweeps). */
object Verify {
  def main(args: Array[String]): Unit = {
    // Usage: Verify <sfDir> <outDir> [queryName ...] — names filter which
    // queries are dumped (fast local iteration; an unknown name fails
    // before the session starts); oracle_sql.json is always written in full.
    val (sfDir, outDir) = (args(0), args(1))
    val picked = Gates.select(args.drop(2).toSeq)
    val spark = Sessions.start("graft-verify")
    new java.io.File(outDir).mkdirs()
    picked.foreach { g =>
      try g.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${g.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${g.name} failed: ${e.getMessage}")
      }
    }
    // every control char escaped: a tab or CR in builder-authored SQL
    // would otherwise make the driver's json.load fail and silently zero
    // the round's correctness
    def q(s: String): String = "\"" + Instrument.jstr(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
