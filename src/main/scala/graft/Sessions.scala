package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Session construction shared by every graft main and the cross-master
  * probe, plus the one partition-scoping helper
  * ([[Sessions.withDerivedPartitions]]). [[Sessions.build]] is one place that
  * knows how to stand up a session on plain
  * `local[*]` AND on `local-cluster[...]`, where executors are forked as
  * SEPARATE JVMs — every broadcast, task closure, and custom-Expression
  * capture then crosses a real serialization wire, the one failure class
  * single-JVM local mode structurally cannot catch. Forked executors need
  * the driver's classpath (absolutized — they run in the worker's own
  * work dir, where relative entries silently vanish and Janino fails
  * codegen with "Unknown variable or type" on the first custom
  * Expression) and the JDK-17 --add-opens flags (spark-submit would
  * inject them; a bare main must do it itself — the list matches
  * org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions()).
  */
object Sessions {

  /** Parse a positive-integer setting such as an env override. A
    * malformed or non-positive value fails here, naming the setting,
    * instead of surfacing later as a wrong plan or a query-start error. */
  def positiveLong(name: String, raw: String): Long = {
    val n = try raw.toLong catch { case _: NumberFormatException => 0L }
    require(n > 0, s"$name must be a positive integer, got '$raw'")
    n
  }

  /** Parse a boolean setting: exactly `true` or `false`. */
  def flag(name: String, raw: String): Boolean = {
    require(raw == "true" || raw == "false", s"$name must be true or false, got '$raw'")
    raw == "true"
  }

  /** Parse a time-zone setting: an id `java.time.ZoneId.of` accepts. */
  def zoneId(name: String, raw: String): String = {
    require(scala.util.Try(java.time.ZoneId.of(raw)).isSuccess,
      s"$name must be a java.time.ZoneId, got '$raw'")
    raw
  }

  /** The environment variable `name` through a parser above, if set. */
  def env[A](name: String, parse: (String, String) => A): Option[A] =
    sys.env.get(name).map(parse(name, _))

  /** Local core count (SPARK_GRAFT_CPUS, default 32) — the mains' master
    * width and default shuffle parallelism. */
  def cpus: String = env("SPARK_GRAFT_CPUS", positiveLong).getOrElse(32L).toString

  /** Run `body` on a session whose `spark.sql.shuffle.partitions` is
    * derived from the work's measured size, `clamp(size / perPartition +
    * 1, 1, caller's setting)`, instead of the caller's core-count
    * constant. Loops pass their state rows, stateful stream harnesses
    * their input bytes.
    *
    * Why: at gate scale a round's or micro-batch's cost is per partition
    * (job scheduling, AQE stage materialization, a state-store load +
    * commit per partition per store), so a KB-sized round on 32
    * partitions pays 32x the fixed cost of one task (measured on 32
    * cores: q_topo_layers 6.8 s → 3 s). The cap means only small work
    * narrows: at the caller's setting `body` runs on the caller
    * unchanged. AQE is turned off only at ≤ 2 partitions, where it has
    * nothing to coalesce or split and its per-stage materialization is
    * the cost.
    *
    * The derived settings live on a child session
    * ([[ColumnBridge.cloneSession]]); the caller's conf is never
    * written, so concurrent queries on a shared session keep their plans.
    * `body` rebinds its input frames to the session it is given
    * ([[rebind]]) and a frame it returns to the caller, so later plans on
    * it use the caller's settings. A streaming query started on the child
    * keeps the derived count across restarts: the checkpoint's offset log
    * pins it. `body` must not open tables with [[Tables.load]] on the
    * child: that memo is swept only when a session's SparkContext stops,
    * and a child's never does. */
  def withDerivedPartitions[A](spark: SparkSession, size: Long, perPartition: Long)
                              (body: SparkSession => A): A = {
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toLong
    val n = math.max(1L, math.min(cap, size / perPartition + 1))
    if (n >= cap) body(spark)
    else {
      val child = ColumnBridge.cloneSession(spark)
      child.conf.set("spark.sql.shuffle.partitions", n.toString)
      if (n <= 2) child.conf.set("spark.sql.adaptive.enabled", "false")
      body(child)
    }
  }

  /** `df` as a frame of session `s` (the same analyzed plan, planned
    * under `s`'s conf); `df` itself when it already belongs to `s`. */
  def rebind(df: DataFrame, s: SparkSession): DataFrame =
    if (df.sparkSession eq s) df
    else ColumnBridge.ofRows(s, df.queryExecution.analyzed)

  val Jdk17AddOpensPackages: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")

  /** `--add-opens a=ALL-UNNAMED --add-opens b=ALL-UNNAMED ...` as one
    * string (executor extraJavaOptions) */
  def addOpensFlags: String =
    Jdk17AddOpensPackages.map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")

  /** The same flags as an argv fragment (forking a driver JVM). */
  def addOpensArgv: Seq[String] =
    Jdk17AddOpensPackages.flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** This JVM's classpath with every entry absolutized — what forked
    * executor JVMs must see. */
  def absoluteClassPath: String =
    sys.props("java.class.path")
      .split(java.io.File.pathSeparator)
      .map(e => new java.io.File(e).getAbsolutePath)
      .mkString(java.io.File.pathSeparator)

  /** Build a session on `master` with the graft semantic pins; wires the
    * executor classpath/add-opens/memory when `master` is local-cluster. */
  def build(master: String,
            shufflePartitions: String,
            tz: String = "UTC",
            ansi: String = "false",
            aqe: String = "true",
            speculation: Boolean = false,
            executorMem: String = "3g",
            appName: String = "graft"): SparkSession = {
    val b0 = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", tz)
      .config("spark.sql.ansi.enabled", ansi)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", aqe)
      .config("spark.speculation", speculation.toString)
      .config("spark.speculation.interval", "100ms")
      .config("spark.speculation.multiplier", "1.5")
      .config("spark.speculation.quantile", "0.5")
      .config("spark.ui.enabled", "false")
    val b =
      if (master.startsWith("local-cluster"))
        b0.config("spark.executor.extraClassPath", absoluteClassPath)
          .config("spark.executor.extraJavaOptions", addOpensFlags)
          .config("spark.executor.memory", executorMem)
      else b0
    b.getOrCreate()
  }
}
