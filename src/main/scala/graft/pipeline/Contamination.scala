package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Train/eval contamination check: for each test document, what fraction
  * of its word n-grams appears anywhere in the training corpus — the
  * benchmark-leakage audit every LLM training pipeline runs before
  * shipping an eval set. Beyond-reference surface.
  *
  * Scale shape: shingles are 64-bit hashes the moment they leave the
  * per-document projection (Dedup.withShingleHashSet — one native codegen
  * loop per document, no staging barrier), so the join shuffles
  * (id, 8-byte hash) pairs, never text. The train side dedupes to
  * DISTINCT hashes first — the heavy reduction happens map-side before
  * the join — and the final counts are a per-test-doc aggregation. No
  * driver collect anywhere.
  */
object Contamination {

  /** Per-test-document n-gram overlap with the training corpus.
    * Output: (idCol, n_shingles, n_hit, rate) — one row per test doc.
    * Docs shorter than `n` tokens (including zero-token docs) fall back
    * to ONE whole-document shingle (ShingleHashSorted semantics),
    * so every test doc is present with n_shingles ≥ 1; a short doc
    * "hits" only when its exact whole text also occurs as a train-side
    * shingle.
    *
    * Hash-join caveat (shared with Dedup): shingles compare by xxhash64,
    * so a 2^-64 collision could count a false hit — the standard
    * at-scale trade (exact-string verify would shuffle text). */
  def ngramContamination(train: DataFrame, test: DataFrame,
                         idCol: String, textCol: String, n: Int): DataFrame =
    overlap(
      Dedup.withShingleHashSet(test, idCol, textCol, n, "__sh"),
      Dedup.withShingleHashSet(train, idCol, textCol, n, "__sh"), idCol)

  /** Split variant for the common "one corpus, a predicate marks the eval
    * slice" case: shingles the corpus ONCE (filtering two views of the
    * table would tokenize everything twice)
    * and reduces BY SHINGLE HASH instead of joining: per hash, a
    * flag for "any train doc has it" plus the list of test docs carrying
    * it, then a re-group by test doc. Two shuffles, both moving
    * (8-byte hash, id) pairs. The per-hash test-doc list is bounded by the
    * number of test docs containing that shingle — eval sets are the small
    * side by construction.
    *
    * WHICH SHAPE WINS: the collect_list reduction runs as an object-hash
    * aggregate (no whole-stage codegen), so on short documents the
    * two-table [[ngramContamination]] join is faster despite tokenizing
    * twice (measured 5.0 s vs 6.4 s on the sf0.1 gate corpus). This
    * variant wins when tokenization dominates — long documents, large n,
    * or an expensive upstream (decompression, decode). */
  def ngramContaminationSplit(docs: DataFrame, idCol: String, textCol: String,
                              testPred: org.apache.spark.sql.Column, n: Int): DataFrame = {
    val ex = Dedup.withShingleHashSet(docs, idCol, textCol, n, "__sh")
      .withColumn("__is_test", testPred)
      .select(col(idCol), col("__is_test"), explode(col("__sh")).as("__h"))
    val perShingle = ex.groupBy(col("__h")).agg(
      max(when(!col("__is_test"), 1L).otherwise(0L)).as("__in_train"),
      collect_list(when(col("__is_test"), col(idCol))).as("__tids"))
    perShingle.select(explode(col("__tids")).as(idCol), col("__in_train"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"), sum(col("__in_train")).as("n_hit"))
      .withColumn("rate",
        col("n_hit").cast("double") / col("n_shingles").cast("double"))
  }

  private def overlap(testSh: DataFrame, trainSh: DataFrame, idCol: String): DataFrame = {
    val te = testSh.select(col(idCol), explode(col("__sh")).as("__h"))
    val tr = trainSh.select(explode(col("__sh")).as("__h")).distinct()
      .withColumn("__hit", lit(1L))
    te.join(tr, Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hit"))
      .withColumn("rate",
        col("n_hit").cast("double") / col("n_shingles").cast("double"))
  }
}
