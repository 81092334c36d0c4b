package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
  * NeurIPS): score every pool document by how much more likely its hashed
  * n-gram features are under a TARGET domain's distribution than under
  * the pool's own, then keep the most target-like fraction — the standard
  * recipe for tilting a web-scale corpus toward a quality domain without
  * training a classifier.
  *
  * Engine-portable by construction, so a SQL oracle replays it end to
  * end: token key = the (length, first-char, last-char) integer triple
  * (the hashedLinearScore convention — `length`/`ascii` replay it in any
  * engine; production swaps in xxhash64, same plumbing), bigram bucket =
  * multiplicative scatter of the two keys mod `buckets`, distribution
  * estimates = Laplace-smoothed exact integer counts, and each feature's
  * log-ratio contribution is ln-rounded to 9 dp and DECIMAL-summed
  * (order-independent ⇒ bit-stable under any partitioning — the
  * q_text_perplexity convention). Selection is a global rank on
  * (score desc, id) through the distributed prefix-fold primitive, never
  * a single-reducer window.
  *
  * 100 TB shape: one (doc, bucket) explode + groupBy over both corpora
  * for the count tables (≤ 2 · `buckets` rows, collected), a
  * `buckets`-entry log-ratio table the optimizer folds, shipped as a
  * literal in the task binary, one per-document scoring projection with
  * a decimal-sum aggregation by id, and one range-exchange prefix fold
  * for the rank. Shuffles move bucket counts and (id, n, score) rows,
  * never per-bigram rows and never text. */
object Dsir {

  /** Portable per-token integer key (replay: length/ascii only). */
  def tokenKey(t: Column): Column =
    length(t).cast("long") * 31L +
      ascii(substring(t, 1, 1)).cast("long") * 7L +
      ascii(substring(t, -1, 1)).cast("long")

  /** Bigram feature bucket: multiplicative scatter of the pair of token
    * keys, mod `buckets` — pure integer arithmetic, SQL-replayable. */
  def bigramBucket(k1: Column, k2: Column, buckets: Int): Column =
    pmod(pmod(pmod(k1 * 1000003L + k2, lit(2147483648L)) * 2654435761L,
      lit(2147483648L)), lit(buckets.toLong))

  /** Non-empty whitespace tokens of `text`. */
  private def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** The bucket of each bigram of `toks`, in order; for 2 or more tokens
    * only (`sequence(1, 0)` counts down). */
  private def bigramBuckets(toks: Column, buckets: Int): Column =
    transform(sequence(lit(1), size(toks) - 1),
      i => bigramBucket(
        tokenKey(element_at(toks, i)),
        tokenKey(element_at(toks, i + 1)), buckets))

  /** One row per bigram occurrence: (id, bucket). Documents with fewer
    * than 2 tokens contribute no features (they score 0 downstream). */
  def bigramFeatures(docs: DataFrame, idCol: String, textCol: String,
                     buckets: Int): DataFrame =
    docs.select(col(idCol), tokens(col(textCol)).as("__t"))
      .where(size(col("__t")) >= 2)
      .select(col(idCol), explode(bigramBuckets(col("__t"), buckets)).as("bucket"))

  /** Per-pool-document importance score:
    * Σ_features round(ln(p̂_target(b) / p̂_pool(b)), 9) as DECIMAL —
    * p̂(b) = (count(b) + 1) / (total + buckets), Laplace-smoothed.
    * Every pool document appears in the output (feature-less docs score
    * 0 with n_feats 0; rows sharing an id sum; a null id scores 0, as a
    * left join on it would). Output: (id, n_feats, score: DECIMAL(28,9)).
    *
    * One query collects both corpora's bucket counts; the ratio of every
    * bucket (one unseen in either corpus included) is evaluated by the
    * optimizer over a local relation, with no job; and one projection
    * sums each document's ratios, looked up by bucket in that table held
    * as an array literal, before the sum by id. */
  def importanceScores(pool: DataFrame, target: DataFrame, idCol: String,
                       textCol: String, buckets: Int): DataFrame = {
    val (tCnt, pCnt) = (new Array[Long](buckets), new Array[Long](buckets))
    bigramFeatures(target, idCol, textCol, buckets).select(lit(0).as("side"), col("bucket"))
      .unionByName(bigramFeatures(pool, idCol, textCol, buckets).select(lit(1).as("side"), col("bucket")))
      .groupBy("side", "bucket").agg(count(lit(1)))
      .collect()
      .foreach(r => (if (r.getInt(0) == 0) tCnt else pCnt)(r.getLong(1).toInt) = r.getLong(2))
    val ratio = pool.sparkSession.createDataFrame(tCnt.toSeq.zip(pCnt.toSeq))
      .select(round(log(
        ((col("_1") + 1L).cast("double") / lit(tCnt.sum + buckets).cast("double")) /
          ((col("_2") + 1L).cast("double") / lit(pCnt.sum + buckets).cast("double"))), 9)
        .cast("decimal(20,9)"))
      .collect().map(_.getDecimal(0))
    val lr = typedLit(ratio).cast("array<decimal(20,9)>")
    pool.select(col(idCol), tokens(col(textCol)).as("__t"))
      .select(col(idCol), when(size(col("__t")) >= 2 && col(idCol).isNotNull,
        bigramBuckets(col("__t"), buckets)).otherwise(typedLit(Array.empty[Long])).as("__b"))
      .select(col(idCol), size(col("__b")).cast("long").as("__n"),
        aggregate(col("__b"), lit(0L).cast("decimal(28,9)"),
          (acc, b) => (acc + element_at(lr, b.cast("int") + 1)).cast("decimal(28,9)")).as("__s"))
      .groupBy(col(idCol))
      .agg(sum(col("__n")).as("n_feats"),
        sum(col("__s")).cast("decimal(28,9)").as("score"))
  }

  /** Keep the most target-like fraction: global 0-based rank on
    * (score desc, id asc) via the distributed prefix fold, kept iff
    * rank · den < n · num (i.e. the top num/den fraction, exact integer
    * comparison — no float threshold). Output adds (rank, keep). */
  def selectTopFraction(scored: DataFrame, idCol: String,
                        num: Int, den: Int): DataFrame = {
    require(num > 0 && den > 0 && num <= den,
      s"selectTopFraction: need 0 < num/den <= 1, got $num/$den")
    import graft.pipeline.Checkpoints.DatasetCheckpointOps
    // the rank and the count read one materialization of the scores
    val staged = scored.stagePersist(true)
    val n = staged.stagedCount
    Profile.rowPositions(staged, "rank", col("score").desc, col(idCol))
      .withColumn("keep", col("rank") * den < lit(n) * num)
  }
}
