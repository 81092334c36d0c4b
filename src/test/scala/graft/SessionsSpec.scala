package graft

import scala.jdk.CollectionConverters._

/** The parsers behind the SPARK_GRAFT_* settings (positive integers for
  * cores, shuffle partitions and the blind-join candidate limit; flags
  * for AQE, ANSI and speculation; the session time zone), the one
  * `Sessions.Settings` every main reads them into, the builder options a
  * session starts with, and the partition derivation of the scoped
  * loop/stream sessions. */
class SessionsSpec extends SparkSpec {

  test("positiveLong accepts positive integers") {
    assert(Sessions.positiveLong("SPARK_GRAFT_BLIND_LIMIT", "16000000") == 16000000L)
    assert(Sessions.positiveLong("SPARK_GRAFT_BLIND_LIMIT", "1") == 1L)
  }

  test("positiveLong rejects malformed, zero and negative values, naming the setting") {
    for (raw <- Seq("", "abc", "1.5", "16e6", " 7", "9223372036854775808", "0", "-1", "-16000000")) {
      val ex = intercept[IllegalArgumentException] {
        Sessions.positiveLong("SPARK_GRAFT_BLIND_LIMIT", raw)
      }
      assert(ex.getMessage.contains("SPARK_GRAFT_BLIND_LIMIT must be a positive integer"),
        s"for '$raw': ${ex.getMessage}")
      assert(ex.getMessage.contains(s"'$raw'"))
    }
  }

  test("flag accepts exactly true and false, naming the setting otherwise") {
    assert(Sessions.flag("SPARK_GRAFT_AQE", "true"))
    assert(!Sessions.flag("SPARK_GRAFT_ANSI", "false"))
    for (raw <- Seq("", "TRUE", "False", "1", "0", "yes", " true", "true ")) {
      val ex = intercept[IllegalArgumentException](Sessions.flag("SPARK_GRAFT_AQE", raw))
      assert(ex.getMessage.contains(s"SPARK_GRAFT_AQE must be true or false, got '$raw'"),
        s"for '$raw': ${ex.getMessage}")
    }
  }

  test("zoneId accepts java.time zone ids and rejects malformed ones, naming the setting") {
    for (raw <- Seq("UTC", "America/Los_Angeles", "Asia/Kolkata", "+05:30", "GMT-3"))
      assert(Sessions.zoneId("SPARK_GRAFT_TZ", raw) == raw)
    for (raw <- Seq("", "Mars/Olympus", "utc+25", "+25:00", "PST ", "America/")) {
      val ex = intercept[IllegalArgumentException](Sessions.zoneId("SPARK_GRAFT_TZ", raw))
      assert(ex.getMessage.contains(s"SPARK_GRAFT_TZ must be a java.time.ZoneId, got '$raw'"),
        s"for '$raw': ${ex.getMessage}")
    }
  }

  test("Settings.fromEnv: defaults, each knob, and malformed values naming the variable") {
    import Sessions.Settings
    val cores = Runtime.getRuntime.availableProcessors.toLong
    val defaults = Settings(s"local[$cores]", cores, "UTC", ansi = false, aqe = true,
      speculation = false, executorMemory = "3g", checkpointDir = None)
    assert(Settings.fromEnv(Map.empty) == defaults)
    assert(Settings.fromEnv(Map("PATH" -> "/bin", "SPARK_GRAFT_SF_DIR" -> "x")) == defaults)
    val knobs = Seq(
      "SPARK_GRAFT_CPUS" -> "6" -> defaults.copy(master = "local[6]", shufflePartitions = 6),
      "SPARK_GRAFT_MASTER" -> "local-cluster[2,2,4096]" ->
        defaults.copy(master = "local-cluster[2,2,4096]"),
      "SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "13" -> defaults.copy(shufflePartitions = 13),
      "SPARK_GRAFT_TZ" -> "Asia/Kolkata" -> defaults.copy(timeZone = "Asia/Kolkata"),
      "SPARK_GRAFT_ANSI" -> "true" -> defaults.copy(ansi = true),
      "SPARK_GRAFT_AQE" -> "false" -> defaults.copy(aqe = false),
      "SPARK_GRAFT_SPECULATION" -> "true" -> defaults.copy(speculation = true),
      "SPARK_GRAFT_EXECUTOR_MEM" -> "6g" -> defaults.copy(executorMemory = "6g"),
      "SPARK_GRAFT_CHECKPOINT_DIR" -> "/tmp/ckpt" -> defaults.copy(checkpointDir = Some("/tmp/ckpt")))
    for (((name, raw), want) <- knobs)
      assert(Settings.fromEnv(Map(name -> raw)) == want, s"$name=$raw")
    // the core count sets the defaults only: explicit values win
    assert(Settings.fromEnv(Map("SPARK_GRAFT_CPUS" -> "6", "SPARK_GRAFT_MASTER" -> "local[2]",
      "SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "3")) == defaults.copy(master = "local[2]", shufflePartitions = 3))
    val malformed = Seq(
      ("SPARK_GRAFT_CPUS", "0", "must be a positive integer"),
      ("SPARK_GRAFT_CPUS", "four", "must be a positive integer"),
      ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "-2", "must be a positive integer"),
      ("SPARK_GRAFT_TZ", "Mars/Olympus", "must be a java.time.ZoneId"),
      ("SPARK_GRAFT_ANSI", "TRUE", "must be true or false"),
      ("SPARK_GRAFT_AQE", "off", "must be true or false"),
      ("SPARK_GRAFT_SPECULATION", "yes", "must be true or false"))
    for ((name, raw, what) <- malformed) {
      val ex = intercept[IllegalArgumentException](Settings.fromEnv(Map(name -> raw)))
      assert(ex.getMessage.contains(s"$name $what, got '$raw'"), s"$name=$raw: ${ex.getMessage}")
    }
  }

  test("with only SPARK_GRAFT_CPUS=N set, the builder options are the local[N] semantic pins, key for key") {
    for (n <- Seq(1, 4, 32)) {
      val pinned = Map(
        "spark.master" -> s"local[$n]",
        "spark.app.name" -> "graft-curate",
        "spark.sql.shuffle.partitions" -> n.toString,
        "spark.sql.session.timeZone" -> "UTC",
        "spark.sql.ansi.enabled" -> "false",
        "spark.sql.legacy.parquet.nanosAsLong" -> "true",
        "spark.sql.adaptive.enabled" -> "true",
        "spark.speculation" -> "false",
        "spark.speculation.interval" -> "100ms",
        "spark.speculation.multiplier" -> "1.5",
        "spark.speculation.quantile" -> "0.5",
        "spark.ui.enabled" -> "false")
      val settings = Sessions.Settings.fromEnv(Map("SPARK_GRAFT_CPUS" -> n.toString))
      assert(Sessions.options("graft-curate", settings) == pinned, s"N=$n")
    }
    // a local-cluster master adds the executors' classpath and memory
    val cluster = Sessions.options("graft-verify",
      Sessions.Settings.fromEnv(Map("SPARK_GRAFT_MASTER" -> "local-cluster[2,2,4096]",
        "SPARK_GRAFT_EXECUTOR_MEM" -> "5g")))
    assert(cluster("spark.executor.memory") == "5g")
    assert(cluster("spark.executor.extraClassPath") == Sessions.absoluteClassPath)
    assert(!cluster.contains("spark.executor.extraJavaOptions"))
  }

  test("only Sessions.scala calls SparkSession's builder, across src/main and src/test") {
    val builder = "SparkSession" + ".builder"
    val files = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.size > 100, s"scanned ${files.size} files")
    val users = files.filter(f => java.nio.file.Files.readString(f).contains(builder))
      .map(_.toString)
    assert(users == Seq("src/main/scala/graft/Sessions.scala"))
  }

  /** (exit code, stdout + stderr) of `main args` in a child JVM whose
    * working directory is `dir`, with `env` added. */
  private def child(main: String, args: Seq[String], dir: String,
                    env: (String, String)*): (Int, String) = {
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx256m",
      "-cp", Sessions.absoluteClassPath, main) ++ args
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .directory(new java.io.File(dir))
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val proc = pb.start()
    val log = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    (proc.waitFor(), log)
  }

  test("Verify and JobProfile reject a malformed SPARK_GRAFT_SHUFFLE_PARTITIONS, naming it") {
    // the mains parse their settings before they start a session, so a
    // child JVM given a bad value exits at once; Verify's speculation flag
    // goes through the same parser, and Curate reads the same settings
    val out = java.nio.file.Files.createTempDirectory("graft-shuffle-env").toString
    val verify = "graft.Verify" -> Seq(sf(), out, "q1_agg")
    val shuffle = "SPARK_GRAFT_SHUFFLE_PARTITIONS"
    val mains = Seq(verify, "graft.JobProfile" -> Seq("q1_agg"),
      "graft.Curate" -> Seq(sf(), s"$out/curate"))
    val cases = mains.flatMap { m =>
      Seq("abc", "0").map(raw => (m, shuffle, raw, s"$shuffle must be a positive integer, got '$raw'"))
    } :+ ((verify, "SPARK_GRAFT_SPECULATION", "yes",
      "SPARK_GRAFT_SPECULATION must be true or false, got 'yes'"))
    for (((main, args), name, raw, message) <- cases) {
      val (rc, log) = child(main, args, out, name -> raw)
      assert(rc != 0, s"$main accepted $name='$raw':\n$log")
      assert(log.contains(message), s"$main with $name='$raw':\n$log")
    }
  }

  test("JobProfile, PlanDump, Explain and CrossMaster reject an unknown gate name before a session starts") {
    val out = java.nio.file.Files.createTempDirectory("graft-gate-names").toString
    val cases = Seq(
      "graft.JobProfile" -> Seq("q1_agg", "q_typo"),
      "graft.PlanDump" -> Seq(out, "x", "q_typo"),
      "graft.Explain" -> Seq(sf(), "q_typo"),
      "graft.CrossMaster" -> Seq(sf(), "q_typo"))
    for ((main, args) <- cases) {
      val (rc, log) = child(main, args, out)
      assert(rc != 0, s"$main accepted q_typo:\n$log")
      assert(log.contains("unknown gate name(s): q_typo"), s"$main:\n$log")
      assert(!log.contains("Running Spark version"), s"$main started a session:\n$log")
    }
  }

  test("withDerivedPartitions: clamp(size / perPartition + 1, 1, cap) on a child, AQE off at <= 2") {
    val (p, a) = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    // (size, perPartition, caller's cap) -> (partitions, AQE, on a child?)
    val table = Seq(
      (0L, 64L, 8L) -> ((1L, false, true)),          // floor of 1
      (63L, 64L, 8L) -> ((1L, false, true)),
      (64L, 64L, 8L) -> ((2L, false, true)),         // AQE-off threshold
      (128L, 64L, 8L) -> ((3L, true, true)),         // AQE stays on above 2
      (6L * 64, 64L, 8L) -> ((7L, true, true)),
      (7L * 64, 64L, 8L) -> ((8L, true, false)),     // reaches the cap: caller as is
      (Long.MaxValue, 64L, 8L) -> ((8L, true, false)), // capped
      (0L, 64L, 2L) -> ((1L, false, true)),
      (0L, 64L, 1L) -> ((1L, true, false)))
    for (((size, per, cap), (parts, aqe, child)) <- table) {
      val caller = spark.newSession()
      caller.conf.set(p, cap.toString)
      caller.conf.set(a, "true")
      val (seen, onChild) = Sessions.withDerivedPartitions(caller, size, per) { s =>
        ((s.conf.get(p).toLong, s.conf.get(a).toBoolean), s ne caller)
      }
      val row = s"size=$size per=$per cap=$cap"
      assert(seen == ((parts, aqe)), row)
      assert(onChild == child, row)
      assert(caller.conf.get(p) == cap.toString && caller.conf.get(a) == "true", row)
    }
  }
}
