package graft

import org.apache.spark.launcher.JavaModuleOptions
import org.scalatest.funsuite.AnyFunSuite

/** Pins native-expression query results bit-identical across `local[4]`
  * and `local-cluster[2,2,3072]` (separate executor JVMs — the real
  * serialization boundary). Forks graft.CrossMaster as a child JVM: two
  * sequential SparkContexts cannot coexist with the suite's shared
  * session in this JVM.
  */
class CrossMasterSpec extends AnyFunSuite {

  test("native-expression gates are bit-identical across a real executor wire") {
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val cmd: Seq[String] =
      Seq(javaBin) ++ JavaModuleOptions.defaultModuleOptionArray() ++ Seq(
        "-Xmx3g", "-Dspark.ui.enabled=false",
        "-cp", sys.props("java.class.path"),
        "graft.CrossMaster", "/root/testdata/sf0.001")
    val out = new StringBuilder
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(false)
    // local-cluster workers launch executors through the Spark launcher,
    // which needs a Spark home and (absent one with a dev build layout)
    // an explicit scala version to stop probing build directories
    pb.environment().put("SPARK_HOME",
      sys.env.getOrElse("SPARK_HOME", "/opt/spark"))
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    val proc = pb.start()
    val drain = new Thread(() => {
      val err = proc.getErrorStream
      val buf = new Array[Byte](8192)
      while (err.read(buf) >= 0) {} // discard Spark INFO chatter
    })
    drain.setDaemon(true); drain.start()
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    var line = reader.readLine()
    while (line != null) { out.append(line).append('\n'); line = reader.readLine() }
    val rc = proc.waitFor()
    val text = out.toString
    withClue(text) {
      assert(rc == 0, s"CrossMaster exited $rc")
      assert(text.contains("CROSSMASTER"), "no summary line")
      assert(!text.contains("MISMATCH"))
      CrossMaster.DefaultQueries.foreach { q =>
        assert(text.contains(s"MATCH $q "), s"missing MATCH for $q")
      }
    }
  }
}
