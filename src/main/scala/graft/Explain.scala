package graft

import graft.gates.Gates

/** Plan-inspection utility: prints the formatted physical plan for the
  * given queries (or a default set) so pushdown/broadcast/shuffle shape
  * can be reviewed. Usage: runMain graft.Explain [--stats] [sfDir] [query ...]
  * With --stats, each query is also EXECUTED and its per-operator runtime
  * stats (rows, time, throughput, return rate — see [[Instrument]]) are
  * rendered under the plan, mirroring the reference's benchmark tree
  * drawer (benchmark/dot/dot_drawer.cc:208-284). Session settings: the
  * README table "Session settings".
  */
object Explain {
  /** The queries explained when none are named. */
  val DefaultQueries: Seq[String] = Seq(
    "q1_agg", "q_join5", "q_filter_project", "q_hash_join_inner",
    "q_sort_topk", "q_dedup_minhash", "q_ann_brute",
    "q_agg_limit", "q_range_join", "q_hash_join_full", "q_dedup_embedding",
    "q_sample_bernoulli", "q_tfidf", "q_contamination", "q_profile",
    "q_dedup_clusters", "q_winsorize", "q_zorder", "q_text_repetition",
    "q_dedup_simhash", "q_skew_collect_salted", "q_text_perplexity",
    "q_winsorize_approx", "q_bucketed_join", "q_enum_storage",
    "q_multimodal_wav", "q_multimodal_mp4", "q_spec_roundtrip")

  def main(rawArgs: Array[String]): Unit = {
    val withStats = rawArgs.contains("--stats")
    val args = rawArgs.filterNot(_ == "--stats")
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val picked = Gates.select(if (args.length > 1) args.drop(1).toSeq else DefaultQueries)
    val spark = Sessions.start("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    picked.foreach { g =>
      println(s"\n========== ${g.name} ==========")
      g.build(spark, sfDir).explain("formatted")
      if (withStats) {
        println("---------- runtime stats ----------")
        println(Instrument.render(Instrument.stats(g.build(spark, sfDir))))
      }
    }
    spark.stop()
  }
}
