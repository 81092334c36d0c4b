package graft.sources

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** Speculative-execution invariance (round-10 VERDICT item 5).
  *
  * `spark.speculation=true` duplicates RUNNING tasks — a double-execution
  * hazard distinct from retry-after-failure (TaskRetrySpec): both attempts
  * are alive CONCURRENTLY, so a side-effecting task that writes its final
  * output path directly can interleave two writers.
  *
  * Empirical scheduler fact (probed on this machine, Spark 4.1): on a
  * single host the TaskSetManager never launches a speculative duplicate —
  * dequeueSpeculativeTask skips hosts that already run an attempt — even
  * under local-cluster with separate executor JVMs; 0 speculative task
  * starts with interval=50ms, multiplier=1.05, quantile=0.3 and an 8 s
  * straggler. So a local test cannot make the SCHEDULER race two attempts;
  * what it can and must pin is the COMMIT discipline that makes the race
  * harmless on a real cluster. Spark's own sinks use attempt-scoped temp
  * dirs + commit-rename (the parquet committer, retry-audited in
  * TaskRetrySpec); this spec pins the same discipline for graft's one
  * direct-filesystem writer, SupersonicFile.writePartitionFile.
  *
  * The Verify knob SPARK_GRAFT_SPECULATION=true sweeps the full oracle suite
  * with speculation enabled (aggressive thresholds), proving the
  * bookkeeping itself perturbs nothing.
  */
class SpeculationSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("s", StringType, nullable = true)))

  private def rowsFor(n: Int): IndexedSeq[InternalRow] =
    (0 until n).map { i =>
      new GenericInternalRow(Array[Any](
        i.toLong, if (i % 3 == 0) null else UTF8String.fromString(s"v$i")))
    }

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"spec_$tag").toString
    sys.addShutdownHook {
      val dir = new java.io.File(d)
      Option(dir.listFiles()).foreach(_.foreach(_.delete())); dir.delete()
    }
    d
  }

  test("two concurrent attempts of one partition commit exactly one valid file") {
    val dir = tmpDir("dup")
    val hconf = spark.sparkContext.hadoopConfiguration
    val data = rowsFor(500)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    // a speculative duplicate = the same partition, same rows, different
    // attempt id, racing the original
    val futures = Seq("attempt-0", "attempt-1-speculative").map { uid =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        override def call(): Long = {
          start.await()
          SupersonicFile.writePartitionFile(
            hconf, dir, pid = 0, attemptUid = uid, schema,
            data.iterator.map(_.copy()), maxChunkRowCount = 64)
        }
      })
    }
    start.countDown()
    val counts = futures.map(_.get(60, TimeUnit.SECONDS))
    pool.shutdown()
    assert(counts == Seq(500L, 500L))

    // exactly one FINAL file, no attempt temps surviving (checksum
    // sidecars the local Hadoop FS writes are not part of the format)
    val files = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.endsWith(".crc")).sorted.toSeq
    assert(files == Seq("part-00000.ssonic"), s"unexpected files: $files")

    // and the committed bytes are a valid, complete chunk stream
    val back = SupersonicFile.read(spark, dir, schema)
      .orderBy("id").collect().toSeq
    assert(back.size == 500)
    assert(back.map(_.getLong(0)) == (0L until 500L))
    assert(back(3).getString(1) == null && back(4).getString(1) == "v4")
  }

  test("attempt temps are hidden from the reader (dot-prefix, Hadoop hidden-file filter)") {
    val dir = tmpDir("hidden")
    val hconf = spark.sparkContext.hadoopConfiguration
    // a committed file plus a stranded temp from a killed attempt
    SupersonicFile.writePartitionFile(hconf, dir, 0, "winner", schema,
      rowsFor(10).iterator, MaxChunk)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, ".part-00001-killed.ssonic.tmp"),
      Array.fill[Byte](37)(0x7f)) // garbage a dying attempt might strand
    val back = SupersonicFile.read(spark, dir, schema).collect()
    assert(back.length == 10) // the garbage temp was never opened
  }

  private val MaxChunk = SupersonicFile.MaxChunkRowCount

  test("straggler partition does not perturb results (determinism under skewed task times)") {
    import spark.implicits._
    val df = spark.range(0, 2000, 1, 8).mapPartitions { it =>
      val rows = it.toVector
      // one partition is 100x slower — the shape speculation targets
      if (rows.nonEmpty && rows.head == 0L) Thread.sleep(300)
      rows.iterator
    }.toDF("v")
    val a = df.groupBy(($"v" % 7).as("k")).count().orderBy("k").collect().toSeq
    val b = df.groupBy(($"v" % 7).as("k")).count().orderBy("k").collect().toSeq
    assert(a == b && a.map(_.getLong(1)).sum == 2000L)
  }
}
