package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing: lay documents out into fixed token-budget training
  * sequences — the step between a curated corpus and a token pipeline.
  * Beyond-reference surface.
  *
  * Scale design: packing is BUCKETED, not global — documents spread over
  * `buckets` independent lanes (deterministic `pmod` of the id) and each
  * lane packs in id order. A single global layout would funnel the
  * cumulative sum through one task; per-bucket windows parallelize, and
  * training shards don't need one global order — they need deterministic,
  * reproducible shard contents, which the bucketed layout gives. */
object Packing {

  /** Offset layout: each document gets its start offset in its bucket's
    * token stream and the sequence index that offset falls in
    * (documents may straddle a boundary — consumers chunk at token level
    * anyway; use [[packGreedy]] for whole-document atomicity). Output:
    * (idCol, bucket, n_tokens, offset, seq). One window aggregation per
    * bucket — expressible in plain SQL, which is what the q_pack oracle
    * replays. */
  def layoutOffsets(docs: DataFrame, idCol: String, textCol: String,
                    budget: Int, buckets: Int): DataFrame = {
    require(budget > 0 && buckets > 0, "layoutOffsets: budget and buckets must be positive")
    val w = Window.partitionBy(col("bucket")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(idCol),
      pmod(col(idCol).cast("long"), lit(buckets.toLong)).as("bucket"),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("offset", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("seq", floor(col("offset") / lit(budget)).cast("long"))
  }

  /** Fixed-window document CHUNKING with overlap — the context-window
    * splitter every training/RAG pipeline runs on long documents: the
    * token stream is cut into windows of `maxTokens` at stride
    * `maxTokens - overlap`, so consecutive chunks share `overlap`
    * tokens and no token is dropped (the last window may be shorter).
    * Chunk count = 1 + ceil(max(0, n - maxTokens) / stride); documents
    * that fit in one window (including empty ones) yield exactly one
    * chunk, preserving corpus membership through the transform.
    *
    * Pure codegen'd expressions — tokens / explode(sequence) / slice /
    * concat_ws — no UDF, no shuffle beyond the caller's; replayable in
    * any SQL engine with list slicing (the q_chunk oracle). Output:
    * (idCol, chunk_id, n_tokens, chunk_text). */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
                  maxTokens: Int, overlap: Int): DataFrame = {
    require(maxTokens > 0, "chunkTokens: maxTokens must be positive")
    require(overlap >= 0 && overlap < maxTokens,
      "chunkTokens: overlap must be in [0, maxTokens)")
    val stride = maxTokens - overlap
    val toks = TextAnalysis.tokens(col(textCol))
    // nChunks binds to the PROJECTED count column (the source text column
    // is gone after the select below)
    val nChunks = lit(1) + greatest(lit(0L),
      ceil((col("__n") - lit(maxTokens)).cast("double") / stride).cast("long"))
    val chunk = col("chunk_id") * stride
    docs.select(col(idCol), toks.as("__toks"), size(toks).as("__n"))
      .withColumn("chunk_id", explode(sequence(lit(0L), nChunks - 1, lit(1L))))
      .select(col(idCol), col("chunk_id"),
        size(slice(col("__toks"), chunk + 1, lit(maxTokens))).as("n_tokens"),
        concat_ws(" ", slice(col("__toks"), chunk + 1, lit(maxTokens))).as("chunk_text"))
  }

  final case class PackedDoc(id: Long, bucket: Long, n_tokens: Long, seq: Long)

  /** Greedy whole-document packing per bucket: a sequence takes documents
    * in id order until the next one would exceed `budget`, then a new
    * sequence starts (a document longer than the budget gets its own
    * sequence). The greedy fold is inherently sequential PER LANE — the
    * same per-key stateful shape as sessionization — so it runs as a
    * STREAMING fold: hash-repartition on the bucket, Tungsten
    * sort-within-partition on (bucket, id) — spill-safe external sort,
    * never an in-memory lane — then one mapPartitions pass holding three
    * longs of state that resets at each bucket boundary. Per-task memory
    * is CONSTANT regardless of lane size (the earlier flatMapGroups
    * formulation buffered a whole lane — corpus/buckets rows — per
    * group, which a small `buckets` on a huge corpus could OOM);
    * `buckets` now only controls parallelism. Long ids only (typed
    * Dataset path). */
  def packGreedy(docs: DataFrame, idCol: String, textCol: String,
                 budget: Int, buckets: Int): Dataset[PackedDoc] = {
    require(budget > 0 && buckets > 0, "packGreedy: budget and buckets must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id"),
      pmod(col(idCol).cast("long"), lit(buckets.toLong)).as("bucket"),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .repartition(col("bucket"))
      .sortWithinPartitions("bucket", "id")
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        // several buckets may share a partition; the fold state resets at
        // every bucket boundary (rows arrive sorted by bucket, then id)
        var curBucket = Long.MinValue
        var seq = 0L
        var used = 0L
        it.map { case (id, bucket, n) =>
          if (bucket != curBucket) { curBucket = bucket; seq = 0L; used = 0L }
          if (used > 0 && used + n > budget) { seq += 1; used = 0 }
          used += n
          PackedDoc(id, bucket, n, seq)
        }
      }
  }

  /** CONTENT-DEFINED chunking by anchor tokens — the dedup-friendly
    * alternative to fixed-size chunking (`chunkTokens`): a chunk boundary
    * opens at every token whose portable key ≡ 0 (mod `divisor`), so an
    * edit early in a document only re-chunks text up to the NEXT anchor —
    * downstream chunk-level dedup still matches everything after it (the
    * rsync/LBFS boundary idea, with a single-token anchor predicate so
    * the whole operator stays relational: no sequential rolling-hash
    * recurrence, every step is a key-sharded window).
    *
    * Token key = the portable (length, first-char, last-char) triple
    * (q_quality_classifier convention — any SQL engine replays it with
    * `length`/`ascii`). Expected chunk length = `divisor` tokens. Output
    * per (id, chunk): n_tokens and a position-weighted portable
    * fingerprint Σ key·pos_in_chunk mod 2^31 — chunk-content identity
    * that survives re-chunking of OTHER chunks. Shuffle moves (id, pos,
    * key) tuples; the `fingerprint` path for 100 TB is the same one
    * duplicatedSpans documents. */
  def anchorChunks(docs: DataFrame, idCol: String, textCol: String,
                   divisor: Long = 64L): DataFrame = {
    require(divisor >= 2, "anchorChunks: divisor must be >= 2")
    val m = 2147483648L
    val toks = docs
      .select(col(idCol).as("__id"),
        posexplode(TextAnalysis.tokens(col(textCol)))
          .as(Seq("__pos", "__t")))
    val kt = (length(col("__t")).cast("long") * 31L +
      ascii(substring(col("__t"), 1, 1)).cast("long") * 7L +
      ascii(substring(col("__t"), -1, 1)).cast("long")) * lit(2654435761L) % lit(m)
    val keyed = toks.select(col("__id"), col("__pos"), kt.as("__kt"),
      when(kt % lit(divisor) === 0, 1L).otherwise(0L).as("__anchor"))
    val wDoc = Window.partitionBy("__id").orderBy("__pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val chunked = keyed.withColumn("__chunk", sum(col("__anchor")).over(wDoc))
    val wChunk = Window.partitionBy("__id", "__chunk").orderBy("__pos")
    chunked
      .withColumn("__rn", row_number().over(wChunk))
      .groupBy(col("__id").as(idCol), col("__chunk").as("chunk"))
      .agg(count(lit(1)).as("n_tokens"),
        pmod(sum(col("__kt") * col("__rn")), lit(m)).as("chunk_fp"))
  }

  /** Sequence-length bucketing + deterministic batch assembly — the
    * pad-efficiency step of a training-data pipeline: sequences of
    * similar length batch together so padding-to-bucket wastes little
    * compute. Bucket = smallest of `boundaries` ≥ n_tokens (longer
    * sequences truncate to the top bucket) — a fixed CASE chain, exact in
    * any engine (no float log2 near power-of-two edges). Each batch holds
    * `batchTokenBudget / bucket` sequences; order within a batch is the
    * seeded portable shuffle key (reproducible across runs and engines).
    *
    * Scale shape: ranking PARTITIONS BY (bucket, shard) where shard =
    * shuffle-key mod `shards` — a plain per-bucket rank would put each
    * bucket's ENTIRE corpus slice through one reducer (|boundaries| tasks
    * total); sharding multiplies the parallelism by `shards` at the cost
    * of at most one partial batch per (bucket, shard). Batches never
    * cross shards, so assembly stays deterministic. Output: (id,
    * n_tokens, bucket, shard, batch_id, pad). */
  def lengthBuckets(docs: DataFrame, idCol: String, textCol: String,
                    boundaries: Seq[Int] = Seq(16, 32, 64, 128, 256, 512, 1024, 2048),
                    batchTokenBudget: Int = 8192, shards: Int = 64,
                    seed: Long = 42L): DataFrame = {
    require(boundaries.nonEmpty && boundaries == boundaries.sorted,
      "lengthBuckets: boundaries must be ascending")
    require(batchTokenBudget >= boundaries.last,
      "lengthBuckets: budget must fit one top-bucket sequence")
    require(shards >= 1, "lengthBuckets: shards must be >= 1")
    val n = TextAnalysis.tokenCount(col(textCol)).cast("long")
    val bucket = boundaries.init.foldRight(lit(boundaries.last.toLong): Column) {
      (b, acc) => when(col("n_tokens") <= b, lit(b.toLong)).otherwise(acc)
    }
    val capacity = (lit(batchTokenBudget.toLong) / col("bucket")).cast("long")
    val sk = Sampling.shuffleKey(Seq(col(idCol)), seed)
    val w = Window.partitionBy(col("bucket"), col("shard"))
      .orderBy(col("__sk"), col(idCol))
    docs.select(col(idCol), n.as("n_tokens"))
      .withColumn("bucket", bucket)
      .withColumn("__sk", sk)
      .withColumn("shard", pmod(col("__sk"), lit(shards.toLong)))
      .withColumn("batch_id",
        floor((row_number().over(w) - 1).cast("double") / capacity.cast("double"))
          .cast("long"))
      .withColumn("pad", col("bucket") - least(col("n_tokens"), col("bucket")))
      .drop("__sk")
  }
}
