package graft.examples

import graft.operators.{Aggregates, Relational}
import graft.operators.Aggregates.{Agg, SUM}
import graft.pipeline.Dedup
import graft.testing.Builders

/** The README quickstart, runnable end-to-end:
  * `sbt "runMain graft.examples.Primer [documentsParquet]"`.
  *
  * Part 1 mirrors the reference's first tutorial query
  * (test/guide/primer.cc:241-292): build a two-column view, describe
  * AggregationSpecification(SUM, "data" → "data_sums"), run
  * GroupAggregate over ScanView. Part 2 runs the MinHash+LSH dedup
  * pipeline over the documents table.
  */
object Primer {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.start("graft-primer", graft.Sessions.Settings("local[4]", 4))

    // ---- Part 1: the primer GroupAggregate ----
    val view = Builders.block(spark,
      "key"  -> Seq(Some(1), Some(2), Some(1), Some(2), Some(3), Some(1)),
      "data" -> Seq(Some(1.0), Some(2.0), Some(4.0), Some(8.0), Some(16.0), Some(32.0)))
    val sums = Aggregates.groupAggregate(Seq("key"),
      Seq(Agg(SUM, Some("data"), "data_sums")))(view)
    sums.orderBy("key").show()

    // ---- Part 2: MinHash + LSH near-dup pipeline ----
    val docsPath = args.headOption
      .getOrElse("/root/testdata/sf0.01/documents.parquet")
    val docs = Relational.scanParquet(spark, docsPath)
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      threshold = 0.7, numHashes = 32, bands = 8)
    val deduped = Dedup.dropNearDuplicates(docs, pairs, "doc_id")
    println(s"${docs.count()} docs -> ${deduped.count()} after near-dup removal")
    spark.stop()
  }
}
