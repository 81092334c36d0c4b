package graft.tools

/** Manual scale runner for BPE training (not a test): measures the
  * batched trainer at a realistic merge count and, optionally, the
  * serial trainer for the per-round comparison.
  *
  *   sbt "Test/runMain graft.tools.BpeScale <sfDir> <merges> [serialMerges]"
  *
  * Prints one JSON line: wall seconds, rounds, merges/round. */
object BpeScale {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val merges = if (args.length > 1) args(1).toInt else 256
    val serialM = if (args.length > 2) args(2).toInt else 0
    // documents' synthetic vocabulary is only 31 distinct words (merges
    // exhaust at ~89); customer names carry digit-rich 15k-word entropy
    val table = if (args.length > 3) args(3) else "customer"
    val column = if (args.length > 4) args(4) else "c_name"
    val spark = graft.Sessions.start("graft-bpescale", graft.Sessions.Settings("local[32]", 32))
    val docs = spark.read.parquet(s"$sfDir/$table.parquet")
    val t0 = System.nanoTime()
    val ms = graft.pipeline.Bpe.trainMergesBatched(docs, column, merges)
    val batchedSec = (System.nanoTime() - t0) / 1e9
    val rounds = graft.pipeline.Bpe.lastBatchedRounds
    val serialSec = if (serialM > 0) {
      val t1 = System.nanoTime()
      graft.pipeline.Bpe.trainMerges(docs, column, serialM)
      (System.nanoTime() - t1) / 1e9
    } else -1.0
    println(f"""{"merges":$merges,"batched_sec":$batchedSec%.2f,"rounds":$rounds,"merges_per_round":${merges.toDouble / rounds}%.2f,"serial_merges":$serialM,"serial_sec":$serialSec%.2f,"last_merge":"${ms.last._1}+${ms.last._2}","sf":"$sfDir"}""")
    spark.stop()
  }
}
