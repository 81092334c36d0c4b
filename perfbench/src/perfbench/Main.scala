package perfbench

import java.io.{ByteArrayOutputStream, File, OutputStream, PrintStream}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side: stands up one session, runs one workload's
  * timed passes closed-loop from this one thread, and prints one result
  * line `PERFBENCH_RESULT {...}` with raw samples; `perfbench/run.py`
  * turns them into metrics. It calls only the engine's public surface:
  * `SparkEntry.queries`, `SparkEntry.benchSetup`, `Tables.load`,
  * `graft.Curate` and `Instrument.fromPlan`.
  *
  * Modes (first argument):
  *  - `run --workload W --data DIR --work DIR --seconds S --trace 0|1
  *     --passes q1,q2;q3,q4` — one benchmark run, cycling through the
  *     given query passes (`curate` takes none: its pass is one chain).
  *  - `fingerprint DIR...` — row count and fingerprint of parquet outputs
  *     (records expected values from `graft.Verify` output).
  */
object Main {

  final case class UnitResult(name: String, pass: Int, sec: Double,
                              rows: Long, fp: String, error: String)

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run") => run(options(args.tail))
    case Some("fingerprint") => fingerprintDirs(args.tail.toSeq)
    case _ =>
      System.err.println("usage: perfbench.Main run|fingerprint ...")
      sys.exit(2)
  }

  private def options(a: Array[String]): Map[String, String] =
    a.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad option ${other.mkString(" ")}")
    }.toMap

  private val cpus = Runtime.getRuntime.availableProcessors
  private val CurateWarmupDocs = 20

  /** Verify's semantic pins (UTC, ansi off, nanosAsLong, AQE on), with
    * every file the session writes kept under `work`. */
  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val sinkFormat = classOf[FingerprintSink].getName

  /** Run `df` to the fingerprint sink and return what it saw. */
  def fingerprint(df: DataFrame, key: String): Fingerprint = {
    df.write.format(sinkFormat).option("key", key).mode("overwrite").save()
    FingerprintSink.take(key).getOrElse(sys.error(s"no fingerprint committed for $key"))
  }

  private def fingerprintDirs(dirs: Seq[String]): Unit = {
    val work = sys.props.getOrElse("java.io.tmpdir", ".")
    val spark = session(work)
    val out = dirs.map { d =>
      val name = new File(d).getName
      val f = fingerprint(spark.read.parquet(d), name)
      s""""${Json.esc(name)}":{"rows":${f.rows},"fp":"${f.hex}"}"""
    }
    println("PERFBENCH_RESULT " + out.mkString("{", ",", "}"))
    spark.stop()
  }

  private def run(o: Map[String, String]): Unit = {
    val workload = o("workload")
    val data = o("data")
    val work = o("work")
    val seconds = o("seconds").toDouble
    val trace = o.get("trace").contains("1")
    val passes = o.get("passes").toSeq.flatMap(_.split(';').toSeq)
      .map(_.split(',').toSeq.filter(_.nonEmpty)).filter(_.nonEmpty)
    require(workload == "curate" || passes.nonEmpty, s"$workload needs --passes")
    val unknown = passes.flatten.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    val mainStart = System.nanoTime()
    val tracer = if (trace) Some(new Tracer) else None
    var spark = session(work)
    tracer.foreach(_.attach(spark))

    // ---- set-up: cold table opens, declared ingest hooks, one warm-up
    val t0 = System.nanoTime()
    graft.Tables.names.foreach(graft.Tables.load(spark, data, _))
    val t1 = System.nanoTime()
    // declared one-time ingest of the gates about to run (later passes run
    // theirs untimed before they start)
    val hooked = mutable.Set.empty[String]
    def ingest(pass: Seq[String]): Unit = pass.filter(hooked.add).foreach { q =>
      graft.SparkEntry.benchSetup.get(q).foreach(_(spark, data))
    }
    passes.headOption.foreach(ingest)
    val t2 = System.nanoTime()
    if (workload != "curate") fingerprint(graft.SparkEntry.queries("q1_agg")(spark, data), "warmup")
    else {
      // a chain over the first CurateWarmupDocs documents: every stage's
      // plans and kernels, at a fraction of a full chain's cost
      val warm = s"$work/curate_warmup"
      graft.Tables.load(spark, data, "documents").limit(CurateWarmupDocs)
        .write.parquet(s"$warm/in/documents.parquet")
      runCurate(s"$warm/in", s"$warm/out", None)
      spark = session(work)
      tracer.foreach(_.attach(spark))
    }
    val t3 = System.nanoTime()
    val tablesOpen = (t1 - t0) / 1e9
    emit("setup_done", s"""{"cpu_s":${processCpuNs / 1e9},""" +
      s""""session_s":${(t0 - mainStart) / 1e9},"tables_open_s":$tablesOpen,""" +
      s""""hooks_s":${(t2 - t1) / 1e9},"warmup_s":${(t3 - t2) / 1e9}}""")

    // ---- timed part: whole passes until `seconds` have passed
    val units = mutable.ArrayBuffer.empty[UnitResult]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val chains = mutable.ArrayBuffer.empty[String]
    tracer.foreach(_.start())
    val timedStart = System.nanoTime()
    def elapsed = (System.nanoTime() - timedStart) / 1e9
    var p = 0
    while (p == 0 || elapsed < seconds) {
      if (passes.nonEmpty) ingest(passes(p % passes.size))
      val ps = System.nanoTime()
      val cpu0 = processCpuNs
      val wall =
        if (workload == "curate") {
          val out = s"$work/curate_out"
          val (stages, chainWall) = runCurate(data, out, tracer.map(tr => (tr, units.size)))
          passCpu += (processCpuNs - cpu0) / 1e9
          stages.foreach { case (name, rows, sec) => units += UnitResult(name, p, sec, rows, "", "") }
          spark = session(work)
          val m = fingerprint(spark.read.parquet(s"$out/manifest"), "manifest")
          chains += s"""{"bytes_written":${CurateOutput.bytesUnder(new File(out))},""" +
            s""""manifest_rows":${m.rows},"manifest_fp":"${m.hex}"}"""
          tracer.foreach(_.attach(spark))
          chainWall
        } else {
          passes(p % passes.size).foreach(q => units += runQuery(spark, data, q, p, units.size, tracer))
          passCpu += (processCpuNs - cpu0) / 1e9
          (System.nanoTime() - ps) / 1e9
        }
      passWalls += wall
      tracer.foreach(tr => tr.add(-1, -1, "pass", s"pass $p", tr.ms(ps), tr.ms(ps) + wall * 1e3))
      p += 1
    }
    val timedEnd = System.nanoTime()
    tracer.foreach(_.stop())
    val timedWall = (timedEnd - timedStart) / 1e9

    // ---- what a traced run leaves behind: a full GC, a pause for the
    // ContextCleaner to drop the blocks of collected broadcasts and
    // shuffles, and a second full GC
    val heapMb = if (!trace) 0.0 else {
      System.gc()
      Thread.sleep(1000)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }

    val layers = tracer.map { tr =>
      tr.add(-1, -1, "workload", workload, tr.ms(timedStart), tr.ms(timedEnd))
      val spansPath = s"$work/spans.json"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(spansPath), tr.spansJson)
      tr.layers(units.size, tr.ms(timedStart), tr.ms(timedEnd))
        .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")
    }.getOrElse("null")

    val unitsJson = units.zipWithIndex.map { case (u, i) =>
      val counts = tracer.map(_.unitCounts(i))
        .map { case (c, j) => s""","compiles":$c,"jobs":$j""" }.getOrElse("")
      s"""{"name":"${u.name}","pass":${u.pass},"sec":${u.sec},"rows":${u.rows},""" +
        s""""fp":"${u.fp}","error":"${Json.esc(u.error)}"$counts}"""
    }.mkString("[", ",", "]")
    emit("result",
      s"""{"workload":"$workload","cpus":$cpus,"tables_open_s":$tablesOpen,""" +
        s""""timed_wall_s":$timedWall,"pass_walls":${passWalls.mkString("[", ",", "]")},""" +
        s""""pass_cpu_s":${passCpu.mkString("[", ",", "]")},""" +
        s""""heap_mb":$heapMb,"units":$unitsJson,"curate":${chains.mkString("[", ",", "]")},""" +
        s""""layers":$layers}""")
    if (!spark.sparkContext.isStopped) spark.stop()
  }

  /** CPU time of every thread of this JVM: tasks, driver, JIT and GC.
    * Unlike wall time it does not count time the host withholds the CPU. */
  private def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def emit(kind: String, json: String): Unit = {
    println(if (kind == "result") s"PERFBENCH_RESULT $json" else s"PERFBENCH_EVENT $kind $json")
    System.out.flush()
  }

  /** One query: build the DataFrame, run it to the fingerprint sink. */
  private def runQuery(spark: SparkSession, data: String, name: String, pass: Int,
                       unit: Int, tracer: Option[Tracer]): UnitResult = {
    tracer.foreach(_.beginUnit(unit))
    val t0 = System.nanoTime()
    var t1 = t0
    val res =
      try {
        val df = graft.SparkEntry.queries(name)(spark, data)
        t1 = System.nanoTime()
        tracer.foreach(_.planPhases(df.queryExecution, unit))
        val f = fingerprint(df, s"$name#$pass")
        (f.rows, f.hex, "")
      } catch { case e: Throwable => (-1L, "", s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val t2 = System.nanoTime()
    if (t1 == t0) t1 = t2
    tracer.foreach { tr =>
      val u = tr.add(-1, unit, "unit", name, tr.ms(t0), tr.ms(t2))
      tr.add(u, unit, "build", name, tr.ms(t0), tr.ms(t1))
      tr.add(u, unit, "execute", name, tr.ms(t1), tr.ms(t2))
      tr.endUnit(spark)
    }
    spark.catalog.clearCache()
    System.err.println(f"[perfbench] $name ${(t2 - t0) / 1e9}%.3f s rows=${res._1} ${res._3}")
    UnitResult(name, pass, (t2 - t0) / 1e9, res._1, res._2, res._3)
  }

  /** The nine-stage `graft.Curate` chain as shipped, into `out`. Curate
    * prints one `{"stage":..,"rows":..,"sec":..}` line per stage and stops
    * the session when it ends. Returns (stage, rows, seconds) per stage and
    * the chain's wall. When traced, each stage is one unit (numbered from
    * the given first unit id); a stage's span ends when its line is printed. */
  private def runCurate(data: String, out: String,
                        traced: Option[(Tracer, Int)]): (Seq[(String, Long, Double)], Double) = {
    CurateOutput.clean(new File(out))
    val stages = mutable.ArrayBuffer.empty[(String, Long, Double)]
    var unit = traced.map(_._2).getOrElse(0)
    val chainStart = System.nanoTime()
    var stageStart = chainStart
    traced.foreach(_._1.beginUnit(unit))
    val lines = new LineSink({ line =>
      CurateOutput.stageLine(line).foreach { case (name, rows) =>
        val now = System.nanoTime()
        stages += ((name, rows, (now - stageStart) / 1e9))
        traced.foreach { case (tr, _) =>
          tr.add(-1, unit, "unit", name, tr.ms(stageStart), tr.ms(now))
          tr.endUnit(SparkSession.active)
          unit += 1
          tr.beginUnit(unit)
        }
        stageStart = System.nanoTime()
      }
    })
    Console.withOut(new PrintStream(lines, true)) {
      graft.Curate.main(Array(data, out))
    }
    (stages.toSeq, (stageStart - chainStart) / 1e9)
  }
}

/** Helpers for the Curate workload. */
object CurateOutput {
  private val Line = """\{"stage":"([a-z_]+)","rows":(\d+),.*""".r

  def stageLine(line: String): Option[(String, Long)] = line.trim match {
    case Line(name, rows) => Some((name, rows.toLong))
    case _ => None
  }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(bytesUnder).sum).getOrElse(0L)
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L // checksums, markers
    else f.length

  def clean(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(clean))
    f.delete()
  }
}

/** An OutputStream that hands each complete line to `onLine` as it is
  * written (and passes nothing through). */
final class LineSink(onLine: String => Unit) extends OutputStream {
  private val buf = new ByteArrayOutputStream()
  override def write(b: Int): Unit =
    if (b == '\n') { onLine(buf.toString("UTF-8")); buf.reset() } else buf.write(b)
}

object Json {
  def esc(s: String): String = {
    val b = new StringBuilder
    Option(s).getOrElse("").foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.result()
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}
