package graft.pipeline

import graft.pipeline.Checkpoints.DatasetCheckpointOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING and ENCODING as distributed
  * dataflow — the tokenizer-construction step of an LLM data pipeline
  * (Sennrich et al. 2016 merge learning, GPT-2-style no end-of-word
  * marker: merges never cross word boundaries).
  *
  * Training runs on the DISTINCT-WORD frequency table, the classic
  * reduction: corpus size only affects the one (word → count) shuffle;
  * each of the M merge rounds is a partial/final aggregation over
  * distinct words (pairs are counted per POSITION — overlapping bigrams
  * — matching the reference algorithm), and only the single best pair
  * ever reaches the driver. Merging applies the greedy left-to-right
  * fold per word, expressed as a codegen-able `aggregate` HOF over the
  * token array — no UDF, no driver data path.
  *
  * Determinism: best pair = max count, tie → lexicographically smallest
  * (a, b). Both engines replay this exactly (the q_bpe_train oracle
  * re-derives every round in SQL via the bracketed-string `replace`
  * trick, whose left-to-right non-overlapping semantics equal the fold).
  *
  * Control characters U+0001/U+0002 are stripped from the text up front:
  * they are the oracle's token-bracket alphabet, and stripping on BOTH
  * sides keeps the two representations bijective.
  */
object Bpe {

  /** Greedy left-to-right merge of adjacent (a, b) token pairs into a+b —
    * one pass over the token array, standard BPE application order. */
  def mergePair(toks: Column, a: String, b: String): Column =
    aggregate(toks, array().cast("array<string>"),
      (acc, t) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(a) && t === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(t))))

  /** Strip the bracket alphabet and split to words (whitespace). */
  private def words(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextAnalysis.tokens(
      regexp_replace(col(textCol), "[\u0001\u0002]", ""))).as("word"))

  /** Distinct-word frequency table with single-character token arrays —
    * the training working set. */
  private def wordTable(docs: DataFrame, textCol: String): DataFrame =
    words(docs, textCol)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .withColumn("toks", split(col("word"), ""))
      .drop("word")

  /** Per-position adjacent pair counts over the word table. Words of one
    * token are filtered BEFORE sequence() — sequence(0, -1) is a
    * descending range in Spark, not empty. */
  private def pairCounts(wordsDf: DataFrame): DataFrame =
    wordsDf.where(size(col("toks")) >= 2)
      .select(col("cnt"), explode(transform(
        sequence(lit(0), size(col("toks")) - 2),
        i => struct(element_at(col("toks"), i + 1).as("a"),
          element_at(col("toks"), i + 2).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Learn `numMerges` BPE merges. Returns the ordered merge table:
    * (merge_rank, a, b, cnt) — cnt is the pair's corpus frequency at the
    * round it was chosen. Fails loudly if the corpus runs out of pairs
    * before `numMerges` (a degenerate corpus, not a silent short list). */
  def trainMerges(docs: DataFrame, textCol: String, numMerges: Int): Seq[(String, String, Long)] = {
    require(numMerges > 0, "trainMerges: numMerges must be positive")
    // LAZY stageCheckpoint instead of a plain persist (round 8): caching alone
    // keeps the full logical plan — one nested merge HOF per round — and
    // past a few dozen rounds plan analysis itself OOMs the driver.
    // Lazy checkpointing truncates lineage when the round's collect
    // materializes it, keeping ONE job per round. The previous round's
    // table is released through its handle ([[Checkpoints]]) right after
    // the collect that materialized its successor.
    var wt = wordTable(docs, textCol).stageCheckpoint(false)
    var prev: Option[DataFrame] = None
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    (0 until numMerges).foreach { i =>
      val best = pairCounts(wt)
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1).collect()
      prev.foreach(_.release())
      prev = Some(wt)
      require(best.nonEmpty,
        s"trainMerges: no adjacent pairs left after $i merges — corpus too small for $numMerges")
      val (a, b, c) = (best.head.getString(0), best.head.getString(1), best.head.getLong(2))
      merges += ((a, b, c))
      wt = wt.withColumn("toks", mergePair(col("toks"), a, b))
        .stageCheckpoint(false)
    }
    // the final wt is lazy and never materialized, but registered all
    // the same; nothing reads either table once the loop ends
    prev.foreach(_.release())
    wt.release()
    merges.toSeq
  }

  /** BATCHED merge learning — provably equal to [[trainMerges]], with one
    * recount round covering SEVERAL merges. The serial algorithm's cost
    * at a real 32k-merge vocabulary is 32k sequential Spark jobs; this
    * variant's round count is numMerges / (average batch size).
    *
    * Batch rule (each round, over the candidate pairs sorted by the
    * serial order cnt desc, a asc, b asc):
    *  1. tentatively select a maximal PREFIX of candidates with pairwise
    *     DISJOINT token sets, stopping at the first candidate that shares
    *     a token with the selection — its count is the CEILING;
    *  2. keep the selected pairs whose count is STRICTLY ABOVE the
    *     ceiling (the first pair is always kept — it is the round's
    *     serial choice by definition);
    *  3. a selected self-pair (a == b) ends the batch after itself.
    *
    * Why this equals serial, merge by merge: merging pair p only changes
    * counts of pairs sharing a token with p, and every pair it CREATES
    * has count bounded by an existing sharing pair's count (an occurrence
    * of (x, ab) needs an occurrence of (x, a); for a self-pair the
    * progenitor can be p itself, hence rule 3). All sharing pairs sort at
    * or below the ceiling — one at the ceiling position, the rest after
    * it — so at the k-th serial round every affected-or-new competitor
    * counts ≤ ceiling < count(p_k), and the unaffected candidates' max is
    * p_k itself. Ties (count == ceiling) stop the batch because the
    * serial tie-break could then prefer a newly-created pair (merged
    * tokens concatenate: "a"+"b" sorts between "a" and "ac" — the
    * counterexample is spec-pinned). When the scanned top-K list ends
    * before any sharing candidate, the last scanned count is the ceiling
    * (anything unscanned counts no more than it).
    *
    * Batch merges apply as one composed [[mergePair]] chain in a single
    * projection — ONE distributed job per ROUND. `maxBatch` caps the
    * chain depth (each link is an interpreted HOF over the distinct-word
    * table). */
  def trainMergesBatched(docs: DataFrame, textCol: String, numMerges: Int,
                         maxBatch: Int = 32): Seq[(String, String, Long)] = {
    require(numMerges > 0, "trainMergesBatched: numMerges must be positive")
    require(maxBatch >= 1, "trainMergesBatched: maxBatch must be >= 1")
    // lazy stageCheckpoint, the [[trainMerges]] pattern: truncates the
    // accumulated per-round HOF-chain lineage (which otherwise OOMs the
    // driver's analyzer past a few dozen rounds) while keeping ONE job
    // per round — the round's candidate collect materializes the table,
    // after which the previous round's table is released through its
    // handle.
    var wt = wordTable(docs, textCol).stageCheckpoint(false)
    var prev: Option[DataFrame] = None
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var rounds = 0
    while (merges.size < numMerges) {
      val want = numMerges - merges.size
      val top = pairCounts(wt)
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(math.max(4 * maxBatch, 16)).collect() // bounded: ≤ 4·maxBatch rows
      prev.foreach(_.release())
      prev = Some(wt)
      require(top.nonEmpty,
        s"trainMergesBatched: no adjacent pairs left after ${merges.size} " +
          s"merges — corpus too small for $numMerges")
      val limit = math.max(4 * maxBatch, 16)
      val tentative = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      val used = scala.collection.mutable.Set.empty[String]
      var ceiling = -1L // -1 = no bound needed (no competitor exists)
      var stop = false
      val it = top.iterator
      while (it.hasNext && !stop && tentative.size < maxBatch &&
        tentative.size < want) {
        val r = it.next()
        val (a, b, c) = (r.getString(0), r.getString(1), r.getLong(2))
        if (used.contains(a) || used.contains(b)) {
          ceiling = c // first sharing candidate bounds every competitor
          stop = true
        } else {
          tentative += ((a, b, c))
          used += a; used += b
          if (a == b) stop = true // rule 3: self-pair ends the batch
        }
      }
      if (ceiling < 0) {
        // scan ended without meeting a sharing candidate; any candidate
        // not scanned (later in the collected list, or beyond the top-K
        // cut) counts no more than the next/last scanned one
        if (it.hasNext) ceiling = it.next().getLong(2)
        else if (top.length == limit) ceiling = tentative.last._3
      }
      val batch = tentative.head +:
        tentative.tail.takeWhile(p => ceiling < 0 || p._3 > ceiling)
      merges ++= batch
      val mergedToks = batch.foldLeft(col("toks")) { case (c0, (a, b, _)) =>
        mergePair(c0, a, b)
      }
      wt = wt.withColumn("toks", mergedToks).stageCheckpoint(false)
      rounds += 1
    }
    prev.foreach(_.release())
    wt.release()
    lastBatchedRounds = rounds
    merges.toSeq
  }

  /** Round count of the most recent [[trainMergesBatched]] call (test /
    * bench introspection — how much the batching amortized). */
  @volatile var lastBatchedRounds: Int = 0

  /** Merge table as a DataFrame, (merge_rank, a, b, cnt): the same values
    * as [[trainMerges]] by the batch-rule proof; the q_bpe_train_batched
    * gate pins it to the SERIAL oracle replay. */
  def trainMergesBatchedDf(docs: DataFrame, textCol: String, numMerges: Int,
                           maxBatch: Int = 32): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainMergesBatched(docs, textCol, numMerges, maxBatch).zipWithIndex
      .map { case ((a, b, c), i) => (i, a, b, c) }
      .toDF("merge_rank", "a", "b", "cnt")
  }

  /** Encode documents with an ordered merge list: per word, apply every
    * merge in rank order (greedy fold each), then flatten back to the
    * document's token sequence. Output: (idCol, n_tokens, fp) where fp is
    * md5 over the U+0001-joined token stream — an engine-agnostic
    * fingerprint of the exact tokenization.
    *
    * The merge folds run over the DISTINCT-word table, not per word
    * occurrence: BPE is a pure function of the word, the folds are
    * interpreted HOF lambdas (the one non-codegen spot), and a natural
    * corpus repeats words heavily -- the distinct-word working set cuts
    * the interpreted work by the corpus repetition factor, growing with
    * corpus size. Occurrences then pick up their token arrays via one
    * equi-join on the word (AQE broadcasts a small vocabulary side). */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             merges: Seq[(String, String)]): DataFrame = {
    val words = docs.select(col(idCol),
      posexplode(split(regexp_replace(col(textCol), "[\u0001\u0002]", ""), "\\s+"))
        .as(Seq("widx", "word")))
      .where(col("word") =!= "")
    val uniq = words.select("word").distinct()
      .withColumn("toks", split(col("word"), ""))
    val encodedUniq = merges.foldLeft(uniq) { case (df, (a, b)) =>
      df.withColumn("toks", mergePair(col("toks"), a, b))
    }
    val merged = words.join(encodedUniq, "word")
    val perDoc = merged.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("widx"), col("toks")))).as("ws"))
      .select(col(idCol),
        flatten(transform(col("ws"), w => w.getField("toks"))).as("toks"))
      .select(col(idCol), size(col("toks")).as("n_tokens"),
        md5(concat_ws("\u0001", col("toks"))).as("fp"))
    // all-whitespace documents have zero words and would vanish in the
    // explode -- restore them as (0 tokens, md5 of the empty stream)
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0)).as("n_tokens"),
        coalesce(col("fp"), md5(lit(""))).as("fp"))
  }
}
