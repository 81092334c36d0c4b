package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Session construction shared by every graft main and the test fixture
  * ([[Sessions.start]] under one [[Sessions.Settings]]), plus the one
  * partition-scoping helper ([[Sessions.withDerivedPartitions]]). */
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

  /** The variable `name` of `vars` through a parser above, if set. */
  def env[A](name: String, parse: (String, String) => A,
             vars: Map[String, String] = sys.env): Option[A] =
    vars.get(name).map(parse(name, _))

  /** How a graft session runs: every main but PlanLint and CrossMaster
    * reads it from the `SPARK_GRAFT_*` variables ([[Settings.fromEnv]],
    * README "Session settings"); the rest pin theirs.
    *
    * Invariance knobs (`aqe`, `shufflePartitions`): every gate's output
    * must be identical under any AQE setting / shuffle-partition count —
    * results depend on the data, never on the execution layout.
    * Semantic knobs (`timeZone`, `ansi`): gates must also hold under the
    * session semantics a USER brings — stock Spark 4 runs ANSI on, and
    * cluster sessions need not be UTC. Sweeps replay the full oracle under
    * ansi=true and a non-UTC zone to prove no gate leans on the pins.
    * Speculation sweep (round 10, `speculation`): enables spark.speculation
    * with aggressive thresholds. On a single host the scheduler never
    * actually LAUNCHES a duplicate (TaskSetManager skips hosts that already
    * run an attempt — probed empirically, 0 speculative task starts even
    * under local-cluster), so this sweep pins the bookkeeping/AQE
    * interplay; the double-execution hazard itself is pinned at the commit
    * layer by SpeculationSpec and TaskRetrySpec (attempt-temp + rename,
    * parquet committer).
    * Serialization-boundary sweep (round 11, `master` =
    * local-cluster[2,2,4096]): executors run as SEPARATE JVMs — every
    * broadcast, task closure, and custom-Expression capture crosses a
    * real serialization wire, the one failure class plain local[*]
    * structurally cannot catch. Executors are forked fresh by the worker,
    * so they get the driver's classpath ([[absoluteClassPath]]) and
    * `executorMemory` explicitly; Spark adds their JDK-17 module flags
    * itself (`SparkContext` prepends `JavaModuleOptions` to
    * `spark.executor.extraJavaOptions`).
    * Durability-mode sweeps (`checkpointDir`): with a checkpoint dir set,
    * stageCheckpoint writes reliable files (the cluster posture), not
    * local executor blocks. */
  final case class Settings(master: String, shufflePartitions: Long,
                            timeZone: String = "UTC", ansi: Boolean = false,
                            aqe: Boolean = true, speculation: Boolean = false,
                            executorMemory: String = "3g",
                            checkpointDir: Option[String] = None)

  object Settings {
    /** Every session variable of `vars`, parsed once: a malformed value
      * fails here, naming its variable. The core count defaults to this
      * JVM's available processors and sets the default master width and
      * shuffle partitions. */
    def fromEnv(vars: Map[String, String] = sys.env): Settings = {
      def get[A](name: String, parse: (String, String) => A) = env(name, parse, vars)
      val cores = get("SPARK_GRAFT_CPUS", positiveLong)
        .getOrElse(Runtime.getRuntime.availableProcessors.toLong)
      val d = Settings(s"local[$cores]", cores)
      Settings(master = vars.getOrElse("SPARK_GRAFT_MASTER", d.master),
        shufflePartitions = get("SPARK_GRAFT_SHUFFLE_PARTITIONS", positiveLong).getOrElse(cores),
        timeZone = get("SPARK_GRAFT_TZ", zoneId).getOrElse(d.timeZone),
        ansi = get("SPARK_GRAFT_ANSI", flag).getOrElse(d.ansi),
        aqe = get("SPARK_GRAFT_AQE", flag).getOrElse(d.aqe),
        speculation = get("SPARK_GRAFT_SPECULATION", flag).getOrElse(d.speculation),
        executorMemory = vars.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", d.executorMemory),
        checkpointDir = vars.get("SPARK_GRAFT_CHECKPOINT_DIR"))
    }
  }

  /** The builder options of session `appName` under `s`: the graft
    * semantic pins, plus the executors' classpath and memory when the
    * master is local-cluster. */
  def options(appName: String, s: Settings): Map[String, String] = {
    val pins = Map(
      "spark.master" -> s.master,
      "spark.app.name" -> appName,
      "spark.sql.shuffle.partitions" -> s.shufflePartitions.toString,
      "spark.sql.session.timeZone" -> s.timeZone,
      "spark.sql.ansi.enabled" -> s.ansi.toString,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> s.aqe.toString,
      "spark.speculation" -> s.speculation.toString,
      "spark.speculation.interval" -> "100ms",
      "spark.speculation.multiplier" -> "1.5",
      "spark.speculation.quantile" -> "0.5",
      "spark.ui.enabled" -> "false")
    if (!s.master.startsWith("local-cluster")) pins
    else pins ++ Map("spark.executor.extraClassPath" -> absoluteClassPath,
      "spark.executor.memory" -> s.executorMemory)
  }

  /** Start (or join, through `getOrCreate`) session `appName` under
    * `settings` at log level WARN, with its checkpoint dir if one is set. */
  def start(appName: String, settings: Settings = Settings.fromEnv()): SparkSession = {
    val spark = options(appName, settings)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    settings.checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    spark
  }

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

  /** This JVM's classpath with every entry absolutized — what forked
    * executor JVMs must see: they run in the worker's own work dir, where
    * relative entries silently vanish and Janino fails codegen with
    * "Unknown variable or type" on the first custom Expression. */
  def absoluteClassPath: String =
    sys.props("java.class.path")
      .split(java.io.File.pathSeparator)
      .map(e => new java.io.File(e).getAbsolutePath)
      .mkString(java.io.File.pathSeparator)
}
