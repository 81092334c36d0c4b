package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, TextAnalysis}

/** Candidate-volume decomposition for the heavy dedup families — the
  * measured counterpart of a scaling exponent. Wall time at a new scale
  * factor conflates candidate growth with constant factors and spill; this
  * main measures the GROWTH TERM alone: for each family, the number of
  * candidate pairs its blocking scheme admits and the bytes its exact
  * verify stage must move (pairs × two shingle-set payloads), computed
  * from bucket/posting-list COUNTS and id-only joins — the quadratic
  * verify join itself is never materialized, so this runs at scale
  * factors where the full query is disk-bound on a single box.
  *
  * Usage: graft.ScaleStats <sfDir>
  * Session settings: the README table "Session settings".
  * Prints one JSON line per family and a final summary line. */
object ScaleStats {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.start("graft-scalestats")
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val n = docs.count()

    // sum cnt·(cnt−1) in exact long arithmetic; halve on the driver
    def comb2x2(cnt: org.apache.spark.sql.Column) = cnt * (cnt - 1)

    val out = Seq.newBuilder[(String, Long, Double)]
    def report(family: String, pairs: Long, avgSetLen: Double): Unit = {
      // verify payload: each candidate pair joins BOTH members' sorted
      // shingle-hash sets (8-byte longs) into the exact-Jaccard check
      val bytes = pairs.toDouble * 2 * avgSetLen * 8
      out += ((family, pairs, bytes))
      println(f"""{"family":"$family","sf":"$sfDir","n_docs":$n,"candidate_pairs":$pairs,"avg_set_len":$avgSetLen%.1f,"est_verify_bytes":$bytes%.3e}""")
    }

    // ----- q_dedup_minhash / q_dedup_incremental: banded LSH buckets -----
    {
      val sh3 = Dedup.withShingleHashSet(docs, "doc_id", "text", 3, "sh")
        .select(size(col("sh")).as("m")).agg(avg("m")).head().getDouble(0)
      val buckets = Dedup.minhashBuckets(docs, "doc_id", "text",
        numHashes = 48, bands = 24, shingleLen = 3)
      // band-collision ROWS (pre-distinct): each pair counted once per
      // colliding band — an upper bound on the verify input, NOT the
      // verify input itself (Dedup.minhashCandidates dedups before the
      // Jaccard pass; exact-clique replicas collide in all 24 bands)
      val rowsPre = buckets.groupBy("band", "bh").agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(comb2x2(col("c"))), lit(0L))).head().getLong(0) / 2
      println(s"""{"family":"minhash_48_24_band_rows","sf":"$sfDir","band_collision_rows_predistinct":$rowsPre,"note":"upper bound; pairs colliding in k bands counted k times"}""")
      // DISTINCT candidate pairs — the actual verify input — via the
      // id-only bucket join, guarded by the pre-distinct bound
      if (rowsPre <= 2000000000L) {
        val b = buckets.select(col("band"), col("bh"), col("doc_id"))
        val pairs = b.toDF("band", "bh", "id1")
          .join(b.toDF("band", "bh", "id2"), Seq("band", "bh"))
          .where(col("id1") < col("id2"))
          .select("id1", "id2").distinct().count()
        report("minhash_48_24", pairs, sh3)
      } else
        println(s"""{"family":"minhash_48_24","sf":"$sfDir","skipped":true,"reason":"band_collision_rows_predistinct > 2e9"}""")
    }

    // ----- q_dedup_clusters: length-bucket blocking (W=8, 2-shingles) -----
    {
      val sh2 = Dedup.withShingleHashSet(docs, "doc_id", "text", 2, "sh")
        .select(size(col("sh")).as("m")).agg(avg("m")).head().getDouble(0)
      val base = docs.select(col("doc_id"), length(col("text")).as("__len"))
      val b0 = base.select(col("doc_id"), col("__len"),
        (col("__len") / 8).cast("long").as("__b"))
      val b1 = base.select(col("doc_id"), col("__len"),
        ((col("__len") / 8).cast("long") + 1).as("__b"))
      val buckets = b0.unionAll(b1)
      // counts-only upper bound (≤2× over exact from the two-bucket
      // double-count; consistent across SFs, so fitted exponents are
      // unaffected) — computable at SFs where even the id-only pair join
      // is itself candidate-volume-bound
      val ub = buckets.groupBy("__b").agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(comb2x2(col("c"))), lit(0L))).head().getLong(0) / 2
      // id-only candidate join — EXACT count of the pairs the length gate
      // admits (the two-bucket trick deduped), no shingle arrays attached;
      // skipped (explicitly, never as a fake -1 measurement) when the
      // bound says the join itself would be disk-scale
      println(s"""{"family":"length_bucket_w8_ub","sf":"$sfDir","candidate_pairs_ub":$ub}""")
      if (ub <= 200000000L) {
        val pairs =
          buckets.select(col("__b"), col("doc_id").as("id1"), col("__len").as("l1"))
            .join(buckets.select(col("__b"), col("doc_id").as("id2"), col("__len").as("l2")), Seq("__b"))
            .where(col("id1") < col("id2") && abs(col("l1") - col("l2")) <= 8)
            .select("id1", "id2").distinct().count()
        report("length_bucket_w8", pairs, sh2)
      } else
        println(s"""{"family":"length_bucket_w8","sf":"$sfDir","skipped":true,"reason":"candidate_pairs_ub > 2e8; see length_bucket_w8_ub line"}""")
      // the engine's ACTUAL scale path (prefixFilter=true above the blind
      // gate): rare-first prefix postings + length/size/positional
      // filters — distinct verified-input pairs, computable even where
      // the blind join is not
      val pfPairs = Dedup.lengthBucketJaccardCandidates(docs, "doc_id", "text",
        threshold = 0.5, bucketWidth = 8, shingleLen = 2).count()
      report("length_bucket_w8_prefix", pfPairs, sh2)
    }

    // ----- q_setsim_join: prefix-filtered token-set join (tau=0.95) -----
    {
      val toks = docs.select(col("doc_id"),
          array_distinct(TextAnalysis.tokens(col("text"))).as("__t"))
        .where(size(col("__t")) > 0)
      val avgM = toks.select(size(col("__t")).as("m")).agg(avg("m")).head().getDouble(0)
      val tok = toks.select(col("doc_id"), explode(col("__t")).as("__tok"))
      val dfreq = tok.groupBy("__tok").agg(count(lit(1)).as("__df"))
      // prefix length per doc at tau — Dedup.minOverlap (ceil with 1e-9
      // slack), so the measured posting volume matches the engine's
      // actual prefix length exactly (bare ceil(0.95·m) is one token
      // short when τ·m is an exact integer but fl(0.95)·m rounds up)
      val lists = tok.join(dfreq, Seq("__tok"))
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("__df"), col("__tok")))).as("__st"),
          count(lit(1)).as("__m"))
      val pre = lists
        .withColumn("__p",
          (col("__m") - Dedup.minOverlap(lit(0.95), col("__m")) + 1).cast("int"))
        .select(col("doc_id"),
          explode(expr("transform(slice(__st, 1, __p), x -> x.__tok)")).as("__tok"))
      // upper bound the prefix-token postings blowup exactly as the join
      // sees it: sum of C(df_prefix, 2) over prefix tokens
      val pairs = pre.groupBy("__tok").agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(comb2x2(col("c"))), lit(0L))).head().getLong(0) / 2
      report("setsim_prefix_tau095", pairs, avgM)
    }

    // ----- q_semdedup: level-0 cell sizes (cap bounds later rounds) -----
    {
      val emb = Tables.embeddings(spark, sfDir)
      val nv = emb.count()
      val cents = emb.where(col("vec_id") < 8).orderBy("vec_id")
        .select(graft.pipeline.Similarity.asDoubleVec(col("embedding")).as("v"))
        .collect().map(_.getSeq[Double](0).toArray)
      val cells = graft.pipeline.Similarity.assignCells(
        emb.select(col("vec_id"),
          graft.pipeline.Similarity.asDoubleVec(col("embedding")).as("__v")),
        cents, "__v", "__cell")
      val pairs = cells.groupBy("__cell").agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(comb2x2(col("c"))), lit(0L))).head().getLong(0) / 2
      println(f"""{"family":"semdedup_level0_k8","sf":"$sfDir","n_vecs":$nv,"candidate_pairs":$pairs,"note":"pre-split upper bound; maxCellSize recursion caps the realized verify"}""")
      out += (("semdedup_level0_k8", pairs, 0.0))
    }

    val all = out.result()
    println(s"""{"metric":"scalestats","sf":"$sfDir","n_docs":$n,"families":{${
      all.map { case (f, p, _) => s""""$f":$p""" }.mkString(",")}}}""")
    spark.stop()
  }
}
