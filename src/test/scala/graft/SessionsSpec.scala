package graft

/** The parsers behind the SPARK_GRAFT_* settings (positive integers for
  * cores, shuffle partitions, bench reps and the blind-join candidate
  * limit; flags for AQE and ANSI; the session time zone), and the
  * partition derivation of the scoped loop/stream sessions. */
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

  test("Verify and JobProfile reject a malformed SPARK_GRAFT_SHUFFLE_PARTITIONS, naming it") {
    // both mains parse their settings before they start a session, so a
    // child JVM given a bad value exits at once
    val out = java.nio.file.Files.createTempDirectory("graft-shuffle-env").toString
    val mains = Seq("graft.Verify" -> Seq(sf(), out, "q1_agg"), "graft.JobProfile" -> Seq("q1_agg"))
    for ((main, args) <- mains; raw <- Seq("abc", "0")) {
      val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx256m",
        "-cp", sys.props("java.class.path"), main) ++ args
      val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      pb.environment().put("SPARK_GRAFT_SHUFFLE_PARTITIONS", raw)
      val proc = pb.start()
      val log = new String(proc.getInputStream.readAllBytes(), "UTF-8")
      assert(proc.waitFor() != 0, s"$main accepted '$raw':\n$log")
      assert(log.contains(s"SPARK_GRAFT_SHUFFLE_PARTITIONS must be a positive integer, got '$raw'"),
        s"$main with '$raw':\n$log")
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
