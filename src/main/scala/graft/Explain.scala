package graft

/** Plan-inspection utility: prints the formatted physical plan for the
  * given queries (or a default set) so pushdown/broadcast/shuffle shape
  * can be reviewed. Usage: runMain graft.Explain [--stats] [sfDir] [query ...]
  * With --stats, each query is also EXECUTED and its per-operator runtime
  * stats (rows, time, throughput, return rate — see [[Instrument]]) are
  * rendered under the plan, mirroring the reference's benchmark tree
  * drawer (benchmark/dot/dot_drawer.cc:208-284).
  */
object Explain {
  def main(rawArgs: Array[String]): Unit = {
    val withStats = rawArgs.contains("--stats")
    val args = rawArgs.filterNot(_ == "--stats")
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_agg", "q_join5", "q_filter_project", "q_hash_join_inner",
        "q_sort_topk", "q_dedup_minhash", "q_ann_brute",
        "q_agg_limit", "q_range_join", "q_hash_join_full", "q_dedup_embedding",
        "q_sample_bernoulli", "q_tfidf", "q_contamination", "q_profile",
        "q_dedup_clusters", "q_winsorize", "q_zorder", "q_text_repetition",
        "q_dedup_simhash", "q_skew_collect_salted", "q_text_perplexity",
        "q_winsorize_approx", "q_bucketed_join", "q_enum_storage",
        "q_multimodal_wav", "q_multimodal_mp4", "q_spec_roundtrip")
    val spark = Sessions.build("local[4]", "4", appName = "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      if (withStats) {
        println("---------- runtime stats ----------")
        println(Instrument.render(Instrument.stats(SparkEntry.queries(n)(spark, sfDir))))
      }
    }
    spark.stop()
  }
}
