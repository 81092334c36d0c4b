package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextKernels

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
  * `buckets`-entry log-ratio table the optimizer folds, held by the
  * scoring kernel in the task binary, one per-document scoring projection with
  * a decimal-sum aggregation by id, and one range-exchange prefix fold
  * for the rank. Shuffles move bucket counts and (id, n, score) rows,
  * never per-bigram rows and never text. */
object Dsir {

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
    * by the scoring kernel, before the sum by id. Both the bucket and the
    * scoring pass are one native walk of the document's UTF-8 bytes
    * ([[graft.functions.TextKernels]]): interpreted `transform` and
    * `aggregate` lambdas evaluated once per bigram cost a third of the
    * chain's CPU in graft.Curate. */
  def importanceScores(pool: DataFrame, target: DataFrame, idCol: String,
                       textCol: String, buckets: Int): DataFrame = {
    def features(docs: DataFrame, side: Int) = docs.select(lit(side).as("side"),
      explode(TextKernels.dsir_bigram_buckets(col(textCol), buckets)).as("bucket"))
    val (tCnt, pCnt) = (new Array[Long](buckets), new Array[Long](buckets))
    features(target, 0).unionByName(features(pool, 1))
      .groupBy("side", "bucket").agg(count(lit(1)))
      .collect()
      .foreach(r => (if (r.getInt(0) == 0) tCnt else pCnt)(r.getLong(1).toInt) = r.getLong(2))
    val ratio = pool.sparkSession.createDataFrame(tCnt.toSeq.zip(pCnt.toSeq))
      .select(round(log(
        ((col("_1") + 1L).cast("double") / lit(tCnt.sum + buckets).cast("double")) /
          ((col("_2") + 1L).cast("double") / lit(pCnt.sum + buckets).cast("double"))), 9)
        .cast("decimal(20,9)"))
      .collect().map(_.getDecimal(0).unscaledValue.longValueExact).toIndexedSeq
    pool.select(col(idCol), TextKernels.dsir_score(
        when(col(idCol).isNotNull, col(textCol)), ratio).as("__f"))
      .groupBy(col(idCol))
      .agg(sum(col("__f.n_feats")).as("n_feats"),
        sum(col("__f.score")).cast("decimal(28,9)").as("score"))
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
