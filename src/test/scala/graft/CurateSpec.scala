package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.launcher.JavaModuleOptions
import org.apache.spark.sql.types.{DataType, StructType}

/** Smoke-runs the end-to-end curation chain (graft.Curate) in a child JVM
  * (its own SparkSession cannot share this suite's) and pins the stage
  * contract: every stage emits a JSONL line, counts only shrink through
  * the filter/dedup stages, packing preserves the mixed row count, and
  * the manifest is bounded by its shard count. It also pins the chain's
  * Spark job count and the schema each stage reads its artifact back with.
  */
class CurateSpec extends SparkSpec {

  private val order = Seq("ingest", "quality_filter", "dedup_exact",
    "dedup_near", "decontaminate", "dsir_select", "mix_epochs", "pack",
    "manifest")

  /** (exit code, stdout, output dir) of one chain over sf0.001. */
  private lazy val chain: (Int, String, String) = {
    val outDir = java.nio.file.Files.createTempDirectory("curate-spec").toString
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val cmd: Seq[String] =
      Seq(javaBin) ++ JavaModuleOptions.defaultModuleOptionArray() ++ Seq(
        "-Xmx3g", "-Dspark.ui.enabled=false",
        "-cp", sys.props("java.class.path"),
        "graft.Curate", "/root/testdata/sf0.001", outDir)
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_CPUS", "4")
    val proc = pb.start()
    val drain = new Thread(() => {
      val err = proc.getErrorStream
      val buf = new Array[Byte](8192)
      while (err.read(buf) >= 0) {} // discard Spark INFO chatter
    })
    drain.setDaemon(true); drain.start()
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    val out = new StringBuilder
    var line = reader.readLine()
    while (line != null) { out.append(line).append('\n'); line = reader.readLine() }
    (proc.waitFor(), out.toString, outDir)
  }

  private def records(text: String) = {
    val om = new ObjectMapper()
    text.linesIterator.filter(_.startsWith("{")).map(om.readTree).toSeq
  }

  test("curation pipeline runs end to end; stage row counts are coherent") {
    val (rc, text, outDir) = chain
    withClue(text) {
      assert(rc == 0, s"Curate exited $rc")
      val stageRe = """\{"stage":"(\w+)","rows":(\d+),"sec":""".r
      val rows = stageRe.findAllMatchIn(text)
        .map(m => m.group(1) -> m.group(2).toLong).toMap
      assert(order.forall(rows.contains), s"missing stages: got $rows")
      assert(order.forall(rows(_) > 0), s"empty stage: $rows")
      // monotone through the gates; pack keeps the mixed rows; bounded manifest
      assert(rows("quality_filter") <= rows("ingest"))
      assert(rows("dedup_exact") <= rows("quality_filter"))
      assert(rows("dedup_near") <= rows("dedup_exact"))
      // decontamination drops the eval-benchmark sample and its leaks,
      // never everything: a strict shrink that keeps most of the corpus
      assert(rows("decontaminate") < rows("dedup_near"))
      assert(rows("decontaminate") > rows("dedup_near") / 2)
      assert(rows("dsir_select") <= rows("decontaminate"))
      assert(rows("pack") == rows("mix_epochs"))
      assert(rows("manifest") <= 16)
      assert(text.contains("\"metric\":\"curate_total\""))
      // the stage artifacts are real parquet the next stage consumed
      order.foreach { s =>
        assert(new java.io.File(s"$outDir/$s").isDirectory, s"no artifact for $s")
      }
    }
  }

  test("the chain runs at most 50 Spark jobs; artifacts read back as inferred") {
    val (rc, text, outDir) = chain
    withClue(text) {
      assert(rc == 0, s"Curate exited $rc")
      val recs = records(text)
      // 92 jobs before the stage rows came from the write, DSIR scored in
      // one pass and the mix counted its sources at once; 41 after
      val jobs = recs.find(r => r.has("metric")).get.get("jobs").asLong
      assert(jobs > 0 && jobs <= 50, s"jobs: $jobs")
      val stages = recs.filter(_.has("stage"))
      assert(stages.map(_.get("stage").asText) == order)
      stages.foreach { r =>
        val name = r.get("stage").asText
        val readWith = DataType.fromJson(r.get("schema").toString).asInstanceOf[StructType]
        val inferred = spark.read.parquet(s"$outDir/$name")
        assert(inferred.schema == readWith, s"stage $name")
        assert(inferred.count() == r.get("rows").asLong, s"stage $name")
      }
    }
  }
}
