package graft.examples

import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.pipeline.{Dedup, Packing, Sampling, TextAnalysis}

/** End-to-end training-data curation pipeline — the chain a 100 TB corpus
  * actually runs, compiled and runnable on the synthetic `documents`
  * table:
  *
  *   ingest → language-ID + quality filter → exact dedup →
  *   MinHash near-dup removal → packing layout →
  *   deterministic shuffle → sharded parquet corpus
  *
  * Every stage is one of the library's gated operators (each has its own
  * DuckDB-oracle query in `SparkEntry.queries`); this example shows how
  * they COMPOSE. Run:
  *
  *   sbt "runMain graft.examples.CurationPipeline"
  *   sbt "runMain graft.examples.CurationPipeline /root/testdata/sf0.01 /tmp/curated"
  *
  * Scale posture: no stage collects rows to the driver; dedup is
  * LSH-bucketed (never all-pairs), packing is bucketed (no global
  * window), and the final shuffle is the hash-keyed deterministic sort —
  * rerunning with the same seed replays the identical shard contents.
  */
object CurationPipeline {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.start("graft-curation", graft.Sessions.Settings("local[8]", 8))

    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_curated").toString)

    // 1. Ingest. A real crawl arrives via textInput (WET lines) or
    //    ingestBinaryFiles; the synthetic corpus is already parquet.
    val raw = Relational.scanParquet(spark, s"$dir/documents.parquet")
    val nRaw = raw.count()

    // 2. Language ID + quality gate (length bounds, punctuation ratio).
    // cache() at reused stage boundaries: each stage below feeds both a
    // diagnostic count and the next stage — without it the lineage
    // recomputes from the scan per action. (A production run checkpoints
    // stage outputs to storage instead; counts then come from the files.)
    val kept = raw
      .withColumn("lang_id", TextAnalysis.langId(col("text")))
      .where(TextAnalysis.qualityOk(col("text"), minChars = 20,
        maxChars = 100000))
      .cache()
    val nKept = kept.count()

    // 3. Exact dedup: one (fingerprint, id) shuffle, smallest id survives.
    val unique = Dedup.exact(kept, "text", "doc_id").cache()
    val nUnique = unique.count()

    // 4. Near-dup removal: MinHash LSH candidates, exact-Jaccard verify,
    //    connected-component clusters, one canonical survivor each.
    val pairs = Dedup.minhashNearDups(unique, "doc_id", "text",
      threshold = 0.8)
    val corpus = Dedup.dropNearDuplicates(unique, pairs, "doc_id").cache()
    val nCorpus = corpus.count()

    // 5. Packing layout: per-bucket offsets into 512-token training
    //    sequences (metadata the token pipeline consumes).
    val layout = Packing.layoutOffsets(corpus, "doc_id", "text",
      budget = 512, buckets = 8)
    val nSeqs = layout.agg(count_distinct(col("bucket"), col("seq")))
      .head().getLong(0)

    // 6. Deterministic training-order shuffle (seeded, rand()-free:
    //    the same seed replays the identical order) + sharded write.
    val ordered = Sampling.deterministicShuffle(
      corpus.select("doc_id", "lang_id", "text"), Seq("doc_id"), seed = 7L)
    Relational.fileOutput(ordered, s"$out/corpus")
    Relational.fileOutput(layout, s"$out/layout")

    println(s"ingested=$nRaw quality_kept=$nKept exact_unique=$nUnique " +
      s"near_dedup=$nCorpus packed_sequences=$nSeqs out=$out")
    spark.stop()
  }
}
