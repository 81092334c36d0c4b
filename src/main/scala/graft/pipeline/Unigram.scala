package graft.pipeline

import graft.functions.UnigramViterbiExpression.unigram_viterbi
import graft.Sessions
import graft.pipeline.Checkpoints.{DatasetCheckpointOps, LoopRowsPerPartition}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style, Kudo 2018) tokenizer TRAINING as
  * distributed dataflow — Bpe's sibling: where BPE grows a vocabulary
  * bottom-up by merge rules, unigram starts from all candidate substrings
  * and re-estimates by segmenting the corpus under the current vocabulary
  * (hard/Viterbi EM), pruning what the optimal segmentations stop using.
  *
  * Exactly like Bpe, training runs on the DISTINCT-WORD frequency table:
  * corpus size only affects the one (word -> count) shuffle; each EM
  * round is one join (word-substring candidates against the piece table —
  * shuffles (substring, j, k) pairs, broadcastable when the vocabulary is
  * small) + one per-word Viterbi (native codegen expression, JVM-local) +
  * one usage aggregation. No driver data path; the piece table is the
  * only cross-round state.
  *
  * DETERMINISM (the property that lets DuckDB replay training exactly):
  * scores are integer usage counts, the Viterbi objective is the packed
  * integer `pieces * 2^52 - sum(scores)` (fewest pieces, then highest
  * frequency mass), and ties break on the smallest reversed piece-length
  * sequence — no log-probability doubles anywhere, so there is no
  * transcendental-function drift between engines. The probabilistic view
  * (score / total) is derivable from the output but never drives a
  * comparison.
  */
object Unigram {

  /** Word frequency table (word, cnt) — occurrences, not distinct docs. */
  private def wordTable(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Candidate (piece, j, k) occurrences of every <= maxPieceLen substring
    * in every word, weighted by word count. */
  private def substrOccurrences(words: DataFrame, maxPieceLen: Int): DataFrame =
    words.select(col("word"), col("cnt"),
      explode(expr(
        s"""flatten(transform(sequence(0, length(word) - 1), j ->
           |  transform(sequence(1, least($maxPieceLen, length(word) - j)), k ->
           |    struct(j AS j, k AS k, substring(word, j + 1, k) AS piece))))""".stripMargin)).as("o"))
      .select(col("word"), col("cnt"), col("o.j").as("j"), col("o.k").as("k"),
        col("o.piece").as("piece"))

  /** One Viterbi-EM segmentation pass: each distinct word's optimal
    * segmentation under `pieces`, exploded to chosen-piece usage. */
  private def segmentUsage(words: DataFrame, pieces: DataFrame,
                           maxPieceLen: Int): DataFrame = {
    val cands = substrOccurrences(words, maxPieceLen)
      .join(pieces, Seq("piece")) // absent pieces are simply not candidates
      .groupBy("word", "cnt")
      .agg(collect_list(struct(col("j"), col("k"), col("score"))).as("cands"))
    cands.select(col("word"), col("cnt"),
      explode(unigram_viterbi(length(col("word")).cast("int"), col("cands"),
        maxPieceLen)).as("p"))
      .select(col("cnt"),
        expr("substring(word, p.j + 1, p.k)").as("piece"))
      .groupBy("piece").agg(sum(col("cnt")).as("score"))
  }

  /** Train `rounds` Viterbi-EM rounds. Returns the final vocabulary
    * (piece, score): score = usage mass in the last segmentation pass;
    * single-character pieces are retained at score 0 even when unused
    * (coverage — every word must stay segmentable). Pieces the optimal
    * segmentations stopped using are pruned between rounds. */
  def train(docs: DataFrame, textCol: String,
            maxPieceLen: Int = 4, rounds: Int = 3): DataFrame = {
    require(rounds >= 1, "unigram train: rounds must be >= 1")
    val spark = docs.sparkSession
    val words0 = wordTable(docs, textCol).stagePersist(false)
    try {
      // fill the persist and take the loop's sizing row count in one
      // action: EM-round exchanges key on the words' exploded substrings,
      // Σ_j min(m, L − j) = L·m − m(m−1)/2 of them per word of length
      // L ≥ m (L(L+1)/2 below m), capped at the session setting — see
      // Sessions.withDerivedPartitions
      val (len, m) = (length(col("word")).cast("long"), lit(maxPieceLen.toLong))
      val occRows = words0.agg(coalesce(sum(when(len < m, len * (len + 1))
        .otherwise(len * m * 2 - m * (m - 1))), lit(0L))).head().getLong(0) / 2
      Sessions.withDerivedPartitions(spark, occRows, LoopRowsPerPartition) { child =>
      val words = Sessions.rebind(words0, child)
      val chars = words.select(explode(split(col("word"), "")).as("piece"))
        .where(col("piece") =!= "").distinct()
      var pieces = substrOccurrences(words, maxPieceLen)
        .groupBy("piece").agg(sum(col("cnt")).as("score"))
      var r = 0
      while (r < rounds) {
        val usage = segmentUsage(words, pieces, maxPieceLen)
        // prune unused pieces; keep all single chars (score 0 if unused).
        // Materialize each round: `usage` is referenced twice here and
        // the rounds chain, so an unmaterialized round r re-runs every
        // earlier round 2^(depth) times inside the final job (the kCore
        // lineage lesson; measured ~2x on q_unigram_train at rounds=3).
        // Vocabulary-sized — tens of KB at any corpus scale. The final
        // round's frame is returned and owns its blocks (see Checkpoints);
        // the first round's input is lazy, so its release is a no-op.
        val next = usage.unionByName(
          chars.join(usage, Seq("piece"), "left_anti")
            .select(col("piece"), lit(0L).as("score")))
          .stagePersist(true)
        pieces.release()
        pieces = next
        r += 1
      }
      Sessions.rebind(pieces, spark)
      }
    } finally words0.release()
  }

  /** Fertility (pieces emitted per corpus word) of a vocabulary over a
    * corpus — the standard tokenizer-quality scalar used to compare
    * vocabularies (e.g. unigram vs BPE on the same text). */
  def fertility(docs: DataFrame, textCol: String, pieces: DataFrame,
                maxPieceLen: Int): Double = {
    val words = wordTable(docs, textCol)
    val segmented = substrOccurrences(words, maxPieceLen)
      .join(pieces, Seq("piece"))
      .groupBy("word", "cnt")
      .agg(collect_list(struct(col("j"), col("k"), col("score"))).as("cands"))
      .select(col("cnt"),
        size(unigram_viterbi(length(col("word")).cast("int"), col("cands"),
          maxPieceLen)).as("n_pieces"))
    val row = segmented.agg(
      sum(col("cnt") * col("n_pieces")).as("p"),
      sum(col("cnt")).as("w")).head()
    row.getLong(0).toDouble / row.getLong(1).toDouble
  }
}
