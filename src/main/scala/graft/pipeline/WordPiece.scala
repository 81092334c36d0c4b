package graft.pipeline

import graft.pipeline.Checkpoints.DatasetCheckpointOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** WordPiece tokenizer TRAINING as distributed dataflow — the
  * likelihood-scored sibling of [[Bpe]] (Schuster & Nakajima 2012; the
  * BERT tokenizer family): each round merges the adjacent token pair
  * maximizing the likelihood GAIN `count(ab) / (count(a) * count(b))`
  * rather than the raw pair count, and word-internal (non-initial)
  * pieces carry the `##` continuation prefix.
  *
  * Shares [[Bpe]]'s architecture end to end: training runs on the
  * DISTINCT-WORD frequency table (corpus size only affects the one
  * word-count shuffle), each round is one pair-count aggregation plus
  * one token-count aggregation over distinct words, and only the single
  * best pair reaches the driver. Merging is the same greedy
  * left-to-right fold; the merged token is `a + b.stripPrefix("##")`
  * (the continuation marker belongs to the piece's word position, which
  * the LEFT token already encodes).
  *
  * Determinism and oracle replay: the score is the one double
  * `cnt / (ca * cb)` where cnt/ca/cb are exact BIGINT counts cast to
  * double — two correctly-rounded IEEE ops on integer-exact operands,
  * so Spark and DuckDB produce bit-identical scores and the ordering
  * (score desc, a asc, b asc) replays exactly. Ties in score break
  * lexicographically, as in [[Bpe]].
  *
  * `#` is stripped from the text up front (alongside the oracle's
  * U+0001/U+0002 bracket alphabet): a literal `#` in the corpus could
  * otherwise mint an initial-position token string like `##`, making
  * the continuation prefix ambiguous in the OUTPUT vocabulary. Stripping
  * on both engine and oracle sides keeps the representations bijective.
  */
object WordPiece {

  /** First character plain, every later character `##`-prefixed:
    * "hello" -> [h, ##e, ##l, ##l, ##o]. */
  def initTokens(word: Column): Column =
    transform(split(word, ""),
      (c, i) => when(i === 0, c).otherwise(concat(lit("##"), c)))

  /** Greedy left-to-right merge of adjacent (a, b) into
    * `a + b.stripPrefix("##")` — the WordPiece analog of
    * [[Bpe.mergePair]]. */
  def mergePair(toks: Column, a: String, b: String): Column = {
    val merged = a + b.stripPrefix("##")
    aggregate(toks, array().cast("array<string>"),
      (acc, t) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(a) && t === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
          .otherwise(concat(acc, array(t))))
  }

  private[pipeline] def cleanText(c: Column): Column =
    regexp_replace(c, "[#\u0001\u0002]", "")

  private def wordTable(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextAnalysis.tokens(cleanText(col(textCol)))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .withColumn("toks", initTokens(col("word")))
      .drop("word")

  /** Per-position adjacent pair counts (overlapping bigrams), weighted by
    * word frequency — identical shape to [[Bpe]]'s. */
  private def pairCounts(wordsDf: DataFrame): DataFrame =
    wordsDf.where(size(col("toks")) >= 2)
      .select(col("cnt"), explode(transform(
        sequence(lit(0), size(col("toks")) - 2),
        i => struct(element_at(col("toks"), i + 1).as("a"),
          element_at(col("toks"), i + 2).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Per-position token occurrence counts, weighted by word frequency —
    * the denominators of the likelihood-gain score. */
  private def unitCounts(wordsDf: DataFrame): DataFrame =
    wordsDf.select(col("cnt"), explode(col("toks")).as("t"))
      .groupBy("t").agg(sum(col("cnt")).as("ucnt"))

  /** One selection round: the (a, b) maximizing
    * `cnt / (count(a) * count(b))`, ties to lexicographically smallest. */
  private def bestPair(wordsDf: DataFrame): DataFrame = {
    val units = unitCounts(wordsDf)
    pairCounts(wordsDf)
      .join(units.select(col("t").as("a"), col("ucnt").as("ca")), "a")
      .join(units.select(col("t").as("b"), col("ucnt").as("cb")), "b")
      .withColumn("score",
        col("cnt").cast("double") /
          (col("ca").cast("double") * col("cb").cast("double")))
      .orderBy(col("score").desc, col("a"), col("b")).limit(1)
      .select("a", "b", "cnt", "ca", "cb", "score")
  }

  /** Learn `numMerges` WordPiece merges. Returns the ordered merge table
    * (a, b, cnt, ca, cb, score) — counts are the round's exact corpus
    * frequencies, score the double selection key. Fails loudly if the
    * corpus runs out of pairs. Lazy-checkpoint lineage control and block
    * release follow [[Bpe.trainMerges]] (rounds 8-9 hazards). */
  def trainMerges(docs: DataFrame, textCol: String,
                  numMerges: Int): Seq[(String, String, Long, Long, Long, Double)] = {
    require(numMerges > 0, "trainMerges: numMerges must be positive")
    var wt = wordTable(docs, textCol).stageCheckpoint(false)
    var prev: Option[DataFrame] = None
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(String, String, Long, Long, Long, Double)]
    (0 until numMerges).foreach { i =>
      val best = bestPair(wt).collect()
      prev.foreach(_.release())
      prev = Some(wt)
      require(best.nonEmpty,
        s"trainMerges: no adjacent pairs left after $i merges — corpus too small for $numMerges")
      val r = best.head
      merges += ((r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
      wt = wt.withColumn("toks", mergePair(col("toks"), r.getString(0), r.getString(1)))
        .stageCheckpoint(false)
    }
    prev.foreach(_.release())
    wt.release()
    merges.toSeq
  }

  /** Corpus fertility (pieces per word) after applying `merges` — the
    * equal-budget comparison row against [[Bpe]]. Returns
    * (word occurrences, total pieces). */
  def fertility(docs: DataFrame, textCol: String,
                merges: Seq[(String, String)]): (Long, Long) = {
    val wt = wordTable(docs, textCol)
    val enc = merges.foldLeft(wt) { case (df, (a, b)) =>
      df.withColumn("toks", mergePair(col("toks"), a, b))
    }
    val row = enc.agg(
      sum(col("cnt")).as("w"),
      sum(col("cnt") * size(col("toks"))).as("p")).head()
    (row.getLong(0), row.getLong(1))
  }

  /** BPE fertility at the same merge budget, on the SAME `#`-stripped
    * corpus (so the q_wordpiece_fertility comparison is
    * corpus-identical): single-char init, [[Bpe.mergePair]] fold. */
  def bpeFertility(docs: DataFrame, textCol: String,
                   merges: Seq[(String, String)]): (Long, Long) = {
    val wt = docs
      .select(explode(TextAnalysis.tokens(cleanText(col(textCol)))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .withColumn("toks", split(col("word"), ""))
      .drop("word")
    val enc = merges.foldLeft(wt) { case (df, (a, b)) =>
      df.withColumn("toks", Bpe.mergePair(col("toks"), a, b))
    }
    val row = enc.agg(
      sum(col("cnt")).as("w"),
      sum(col("cnt") * size(col("toks"))).as("p")).head()
    (row.getLong(0), row.getLong(1))
  }

  /** BPE merge list retrained on the `#`-stripped corpus — the
    * equal-budget, equal-corpus counterpart for the fertility gate (the
    * q_bpe_train gate's corpus strips only the bracket alphabet). */
  def bpeMergesOnCleanCorpus(docs: DataFrame, textCol: String,
                             numMerges: Int): Seq[(String, String, Long)] =
    Bpe.trainMerges(
      docs.withColumn(textCol, cleanText(col(textCol))), textCol, numMerges)
}
