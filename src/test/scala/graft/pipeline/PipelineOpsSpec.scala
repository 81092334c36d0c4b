package graft.pipeline

import graft.SparkSpec
import graft.operators.Aggregates
import org.apache.spark.sql.functions._

/** Round-3 pipeline operators: deterministic sampling, corpus scoring,
  * profiling, PII redaction, and train/eval contamination. */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  // ===== Sampling =====

  test("portableBucket is in range and deterministic across evaluations") {
    val df = (0L until 1000L).toDF("k")
    val b = Sampling.portableBucket(Seq(col("k")))
    val stats = rows(df.select(min(b), max(b), count_distinct(b))).head
    assert(stats(0).asInstanceOf[Long] >= 0L)
    assert(stats(1).asInstanceOf[Long] < Sampling.Buckets)
    // scatters: 1000 consecutive keys land in ~1000 distinct buckets
    assert(stats(2).asInstanceOf[Long] > 950L)
  }

  test("bernoulli keeps ≈rate of the rows, deterministically") {
    val df = (0L until 10000L).toDF("k")
    val kept = Sampling.bernoulli(df, Seq("k"), 0.3)
    val n = kept.count()
    assert(n > 2700 && n < 3300, s"expected ~3000 kept, got $n")
    // same call -> the same exact sample (hash-based, not rand()-based)
    assert(rows(kept.orderBy("k")) == rows(Sampling.bernoulli(df, Seq("k"), 0.3).orderBy("k")))
    assert(Sampling.bernoulli(df, Seq("k"), 0.0).count() == 0)
    assert(Sampling.bernoulli(df, Seq("k"), 1.0).count() == 10000)
    // rate monotonicity: the 0.1 sample is a subset of the 0.3 sample
    assert(Sampling.bernoulli(df, Seq("k"), 0.1)
      .except(kept).count() == 0)
  }

  test("stratified applies per-stratum rates with a default fallback") {
    val df = (0L until 9000L).map(k => (k, if (k < 3000) "a" else if (k < 6000) "b" else "c"))
      .toDF("k", "g")
    val out = Sampling.stratified(df, "g", Map("a" -> 0.5, "b" -> 0.1),
      defaultRate = 0.9, keyCols = Seq("k"))
    val byG = rows(out.groupBy("g").count().orderBy("g")).map(r => r(0) -> r(1)).toMap
    assert(byG("a").asInstanceOf[Long] > 1350 && byG("a").asInstanceOf[Long] < 1650)
    assert(byG("b").asInstanceOf[Long] > 200 && byG("b").asInstanceOf[Long] < 400)
    assert(byG("c").asInstanceOf[Long] > 2550 && byG("c").asInstanceOf[Long] < 3000)
  }

  test("assignSplit: disjoint exhaustive deterministic train/val/test") {
    val df = (0L until 10000L).toDF("k")
    val out = Sampling.assignSplit(df, Seq("k"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val byS = rows(out.groupBy("split").count().orderBy("split"))
      .map(r => r(0) -> r(1).asInstanceOf[Long]).toMap
    assert(byS.keySet == Set("train", "val", "test")) // exhaustive, no "rest"
    assert(byS("train") > 7700 && byS("train") < 8300)
    assert(byS("val") > 800 && byS("val") < 1200)
    // deterministic: identical assignment on re-run
    assert(rows(out.orderBy("k")) == rows(Sampling.assignSplit(df, Seq("k"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).orderBy("k")))
    // remainder flows to restLabel when fractions sum below 1
    val withRest = Sampling.assignSplit(df, Seq("k"), Seq("train" -> 0.5))
    assert(rows(withRest.groupBy("split").count())
      .map(r => r(0)).toSet == Set("train", "rest"))
  }

  test("chunkTokens: overlapping windows cover every token; short/empty docs keep one chunk") {
    import graft.pipeline.Packing
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a b c"), // fits one window
      (3L, "")) // empty: one empty chunk
      .toDF("doc_id", "text")
    val out = Packing.chunkTokens(docs, "doc_id", "text", maxTokens = 4, overlap = 1)
    // doc 1: stride 3 -> chunks at 0,3,6,9 -> 1 + ceil(6/3) = 3? n=10:
    // 1 + ceil((10-4)/3) = 1 + 2 = 3 chunks... tokens 1-4, 4-7, 7-10
    val d1 = rows(out.where(col("doc_id") === 1).orderBy("chunk_id")
      .select("chunk_id", "n_tokens", "chunk_text"))
    assert(d1 == Seq(
      Seq(0L, 4, "t1 t2 t3 t4"),
      Seq(1L, 4, "t4 t5 t6 t7"),
      Seq(2L, 4, "t7 t8 t9 t10")))
    // consecutive chunks share exactly `overlap` tokens; union covers all
    assert(rows(out.where(col("doc_id") === 2).select("chunk_id", "chunk_text")) ==
      Seq(Seq(0L, "a b c")))
    assert(rows(out.where(col("doc_id") === 3).select("chunk_id", "n_tokens", "chunk_text")) ==
      Seq(Seq(0L, 0, "")))
    // a ragged tail is kept, not dropped (n=5, max 4, stride 3 -> 2 chunks)
    val ragged = Packing.chunkTokens(Seq((9L, "a b c d e")).toDF("doc_id", "text"),
      "doc_id", "text", maxTokens = 4, overlap = 1)
    assert(rows(ragged.orderBy("chunk_id").select("chunk_text")).flatten ==
      Seq("a b c d", "d e"))
    intercept[IllegalArgumentException] {
      Packing.chunkTokens(docs, "doc_id", "text", maxTokens = 4, overlap = 4)
    }
  }

  test("mixCorpora: weighted deterministic mix with seeded interleave") {
    val all = spark.range(3000).toDF("id")
    def face(m: Int) = all.where(col("id") % 3 === m)
    val mixed = Sampling.mixCorpora(
      Seq(("a", face(0), 3L), ("b", face(1), 1L)), Seq("id"),
      targetRows = 400, seed = 7L)
    val bySrc = mixed.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // expected contributions 300 / 100 — hash granularity keeps it close
    assert(math.abs(bySrc("a") - 300L) < 60, s"a: ${bySrc("a")}")
    assert(math.abs(bySrc("b") - 100L) < 40, s"b: ${bySrc("b")}")
    // positions are a contiguous 0-based total order
    val n = mixed.count()
    assert(rows(mixed.agg(min("pos"), max("pos"))).head == Seq(0L, n - 1))
    // same seed replays the identical mix; a new seed interleaves anew
    val again = Sampling.mixCorpora(
      Seq(("a", face(0), 3L), ("b", face(1), 1L)), Seq("id"),
      targetRows = 400, seed = 7L)
    assert(rows(mixed.orderBy("pos")) == rows(again.orderBy("pos")))
    val other = Sampling.mixCorpora(
      Seq(("a", face(0), 3L), ("b", face(1), 1L)), Seq("id"),
      targetRows = 400, seed = 8L)
    // membership is seed-independent (hash thresholds), order is not
    assert(rows(other.select("id").orderBy("id")) ==
      rows(mixed.select("id").orderBy("id")))
    assert(rows(other.orderBy("pos").select("id")) !=
      rows(mixed.orderBy("pos").select("id")))
    // a small high-weight source caps at keeping EVERYTHING (no up-sample)
    val tiny = all.where(col("id") < 10)
    val capped = Sampling.mixCorpora(
      Seq(("tiny", tiny, 9L), ("big", face(1), 1L)), Seq("id"),
      targetRows = 1000, seed = 7L)
    assert(capped.where(col("source") === "tiny").count() == 10)
    // schema mismatch and colliding output columns fail fast
    intercept[IllegalArgumentException] {
      Sampling.mixCorpora(Seq(("a", all, 1L),
        ("b", all.withColumnRenamed("id", "id2"), 1L)), Seq("id"), 10)
    }
    intercept[IllegalArgumentException] {
      Sampling.mixCorpora(Seq(("a", all.withColumn("source", lit("x")), 1L)),
        Seq("id"), 10)
    }
  }

  test("withEpochs: whole copies + hash-gated fraction, per-epoch permutations") {
    val docs = spark.range(1000).toDF("id")
    val out = Sampling.withEpochs(docs, Seq("id"), epochs = 2.25, seed = 5L)
    // every row appears 2 or 3 times; expected total 2250
    val perId = out.groupBy("id").count()
    assert(rows(perId.agg(min("count"), max("count"))).head == Seq(2L, 3L))
    val total = out.count()
    assert(math.abs(total - 2250L) < 120, s"total $total")
    // membership of the fractional epoch is deterministic (same call twice)
    val again = Sampling.withEpochs(docs, Seq("id"), epochs = 2.25, seed = 5L)
    assert(rows(out.orderBy("id", "epoch")) == rows(again.orderBy("id", "epoch")))
    // epochs are DIFFERENT permutations: order of epoch 0 by key differs
    // from epoch 1's (the whole point of the per-epoch seed)
    def orderOf(e: Int) = rows(out.where(col("epoch") === e)
      .orderBy("epoch_key", "id").select("id")).flatten
    assert(orderOf(0) != orderOf(1))
    assert(orderOf(0).toSet == orderOf(1).toSet) // same rows, new order
    // epochs < 1 behave as a plain fractional sample with epoch 0 only
    val frac = Sampling.withEpochs(docs, Seq("id"), epochs = 0.5, seed = 5L)
    assert(frac.where(col("epoch") =!= 0).count() == 0)
    assert(math.abs(frac.count() - 500L) < 80)
    intercept[IllegalArgumentException] {
      Sampling.withEpochs(docs.withColumn("epoch", lit(1)), Seq("id"), 2.0)
    }
  }

  test("exactPerStratum takes exactly n per stratum, stable under hash-thinning") {
    val df = (0L until 200L).map(k => (k, if (k % 2 == 0) "x" else "y")).toDF("k", "g")
    val top = Sampling.exactPerStratum(df, "g", n = 5, keyCols = Seq("k"))
    assert(rows(top.groupBy("g").count().orderBy("g")).map(_(1)) == Seq(5L, 5L))
    // the documented scale recipe: pre-thinning with a bucket-prefix filter
    // (bernoulli) preserves the exact top-n per stratum
    val thinned = Sampling.exactPerStratum(
      Sampling.bernoulli(df, Seq("k"), 0.5), "g", n = 5, keyCols = Seq("k"))
    assert(rows(top.orderBy("g", "k")) == rows(thinned.orderBy("g", "k")))
  }

  // ===== Scoring =====

  test("tfidfBm25 matches hand-computed scores on a tiny corpus") {
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("id", "text")
    val got = rows(Scoring.tfidfBm25(docs, "id", "text")
      .orderBy("id", "term").select("id", "term", "tf", "df", "dl", "tfidf", "bm25"))
    // N=2, avgdl=2.5; d1: a->2 b->1 (dl 3); d2: b->1 c->1 (dl 2)
    def tfidf(tf: Long, df: Long) = tf * (math.log(3.0 / (df + 1)) + 1)
    def bm25(tf: Long, df: Long, dl: Long) =
      math.log(1 + (2 - df + 0.5) / (df + 0.5)) *
        tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / 2.5))
    val expect = Seq(
      (1L, "a", 2L, 1L, 3L), (1L, "b", 1L, 2L, 3L),
      (2L, "b", 1L, 2L, 2L), (2L, "c", 1L, 1L, 2L))
    assert(got.map(r => (r(0), r(1), r(2), r(3), r(4))) == expect)
    got.zip(expect).foreach { case (r, (_, _, tf, df, dl)) =>
      assert(math.abs(r(5).asInstanceOf[Double] - tfidf(tf, df)) < 1e-9)
      assert(math.abs(r(6).asInstanceOf[Double] - bm25(tf, df, dl)) < 1e-9)
    }
  }

  test("repetitionStats: hand-checked top-token and duplicate-bigram fractions") {
    val docs = Seq(
      (1L, "a a a b"),      // top token a: 3/4; bigrams: "a a"x2,"a b" -> dup 2/3
      (2L, "x y z"),        // all unique: top 1/3; bigrams unique -> 0
      (3L, "w"),            // single token: top 1.0, no bigrams
      (4L, ""),             // zero tokens -> absent from the report
      (5L, "  \t ")).toDF("id", "text") // whitespace-only -> absent too
    val got = rows(Scoring.repetitionStats(docs, "id", "text").orderBy("id"))
    assert(got == Seq(
      Seq(1L, 4L, 0.75, 0.666667),
      Seq(2L, 3L, 0.333333, 0.0),
      Seq(3L, 1L, 1.0, 0.0)))
  }

  test("trigramPerplexity: hand-checked add-k trigram LM scores") {
    // train "a b c a b c": trigrams (a b→c)x2, (b c→a), (c a→b); V = 3
    val train = Seq((1L, "a b c a b c")).toDF("id", "text")
    val score = Seq(
      (10L, "a b c"),  // P = (2+.5)/(2+3·.5) = 5/7 -> ppl = 7/5 = 1.4
      (11L, "x y z"),  // unseen: P = .5/1.5 -> ppl = 3.0
      (12L, "a b")     // < 3 tokens -> absent
    ).toDF("id", "text")
    val got = rows(Scoring.trigramPerplexity(train, score, "id", "text").orderBy("id"))
    assert(got.map(r => (r(0), r(1))) == Seq((10L, 1L), (11L, 1L)))
    assert(math.abs(got(0)(2).asInstanceOf[Double] - 1.4) < 1e-6)
    assert(math.abs(got(1)(2).asInstanceOf[Double] - 3.0) < 1e-6)
  }

  test("topTerms ranks by rounded score with term tiebreak") {
    val scored = Seq((1L, "zz", 5.0), (1L, "aa", 5.0), (1L, "mm", 7.0), (1L, "qq", 1.0))
      .toDF("id", "term", "s")
    val got = rows(Scoring.topTerms(scored, "id", "s", k = 3)
      .select("term", "rank").orderBy("rank"))
    assert(got == Seq(Seq("mm", 1), Seq("aa", 2), Seq("zz", 3)))
  }

  // ===== Profile =====

  test("profileColumns: one row per column with type-appropriate metrics") {
    val df = Seq((Option(1), Option("x")), (None, Option("yy")), (Option(1), None))
      .toDF("id", "s")
    val got = rows(Profile.profileColumns(df, Seq("id", "s")).orderBy("col_name"))
    assert(got == Seq(
      Seq("id", 2L, 1L, 1L, 1.0, 1.0, null),
      Seq("s", 2L, 1L, 2L, null, null, 1.5)))
    // approx mode stays within HLL tolerance on a wider input
    val wide = (0 until 1000).map(i => (i, s"v$i")).toDF("id", "s")
    val approx = rows(Profile.profileColumns(wide, Seq("id"), exactDistinct = false))
    val nd = approx.head(3).asInstanceOf[Long]
    assert(math.abs(nd - 1000L) <= 100L)
  }

  // ===== Redaction =====

  test("redact scrubs SSN/phone/email; piiCount counts each span once") {
    val df = Seq(
      "call 555-123-4567 or mail bob.smith+x@corp.example.org ssn 123-45-6789",
      "clean text, no pii at all").toDF("t")
    val got = rows(df.select(
      TextAnalysis.redact(col("t")).as("r"),
      TextAnalysis.piiCount(col("t")).as("n")))
    assert(got(0)(0) == "call [PHONE] or mail [EMAIL] ssn [SSN]")
    assert(got(0)(1) == 3L)
    assert(got(1)(0) == "clean text, no pii at all")
    assert(got(1)(1) == 0L)
  }

  // ===== Duplicate clustering =====

  test("duplicateClusters: both paths find the same transitive components") {
    // components: {1,2,3,7} (chain 1-2, 2-3, 3-7), {10,11}
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 7L), (10L, 11L)).toDF("id1", "id2")
    val expect = Seq(Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L), Seq(7L, 1L),
      Seq(10L, 10L), Seq(11L, 10L))
    // small-graph fast path (driver union-find)
    assert(rows(Dedup.duplicateClusters(pairs).orderBy("id")) == expect)
    // distributed min-label-propagation path (force with limit 0)
    assert(rows(Dedup.duplicateClusters(pairs, smallGraphLimit = 0).orderBy("id")) == expect)
    // empty pair set -> empty clustering on both paths
    val e = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(Dedup.duplicateClusters(e).count() == 0)
    assert(Dedup.duplicateClusters(e, smallGraphLimit = -1).count() == 0)
  }

  test("duplicateClusters distributed path: cliques, chains, self-pairs match union-find") {
    // clique of 8 (contracts to a star after one large-star round) + chain
    // of 50 (needs ~6 alternating rounds; diameter-bound min-label
    // propagation would have needed 49, past the default cap) + a
    // self-pair-only node + a self-pair on an already-connected node
    val clique = for (i <- 0L until 8L; j <- (i + 1) until 8L) yield (100L + j, 100L + i)
    val chain = (1L until 50L).map(i => (i, i + 1))
    val selfs = Seq((500L, 500L), (1L, 1L))
    val pairs = (clique ++ chain ++ selfs).toDF("id1", "id2")
    val expect = rows(Dedup.duplicateClusters(pairs).orderBy("id")) // union-find path
    val got = rows(Dedup.duplicateClusters(pairs, smallGraphLimit = 0).orderBy("id"))
    assert(got == expect)
    assert(expect.contains(Seq(50L, 1L)) && expect.contains(Seq(107L, 100L))
      && expect.contains(Seq(500L, 500L)))
  }

  test("lengthBucketJaccardPairs: prefix-filtered and content-blind paths agree") {
    // overlapping vocabulary + length variation: candidates exist across
    // and within length buckets, some above and some below the threshold
    val docs = (0L until 60L).map { i =>
      val base = s"alpha beta gamma delta w${i % 9} w${(i * 2) % 9} epsilon zeta"
      val text = if (i % 3 == 0) base + s" extra${i % 5}" else base
      (i, text)
    }.toDF("doc_id", "text")
    val blind = rows(Dedup.lengthBucketJaccardPairs(docs, "doc_id", "text", 0.5,
      bucketWidth = 8, shingleLen = 2, prefixFilter = false).orderBy("id1", "id2"))
    val filtered = rows(Dedup.lengthBucketJaccardPairs(docs, "doc_id", "text", 0.5,
      bucketWidth = 8, shingleLen = 2, prefixFilter = true,
      blindCandidateLimit = -1L).orderBy("id1", "id2")) // force the prefix path
    assert(blind.nonEmpty && blind == filtered)
    // prefix path with the broadcast budget forced to zero: the
    // sort-merge verify with dedup-before-verify (the true-100 TB
    // fallback shape) must produce the same frame as broadcast verify
    // with dedup deferred past the jac filter
    val sortMerge = rows(Dedup.lengthBucketJaccardPairs(docs, "doc_id", "text", 0.5,
      bucketWidth = 8, shingleLen = 2, prefixFilter = true,
      blindCandidateLimit = -1L, broadcastBudgetBytes = 0L).orderBy("id1", "id2"))
    assert(sortMerge == filtered)
    // batched verify with a 200-byte block floor: the doc table splits
    // into MANY broadcast blocks (genuinely multi-pass — the single-pass
    // degenerate above can't catch a block-key or pass-union bug)
    val batched = rows(Dedup.lengthBucketJaccardPairs(docs, "doc_id", "text", 0.5,
      bucketWidth = 8, shingleLen = 2, prefixFilter = true,
      blindCandidateLimit = -1L, broadcastBudgetBytes = 0L,
      blockFloorBytes = 200L).orderBy("id1", "id2"))
    assert(batched == filtered)
  }

  test("cluster-rep modes equal pairs-then-duplicateClusters frame-for-frame") {
    // corpus engineered to hit every node-set case: exact-duplicate
    // groups (n>1, both with and without cross-group edges), near-dup
    // chains across groups, singletons with a pair, and isolated docs
    // that must NOT appear in the output
    val docs = (0L until 40L).map { i =>
      val text =
        if (i < 6) "alpha beta gamma delta epsilon zeta eta theta"  // exact group A (n=6)
        else if (i < 10) "alpha beta gamma delta epsilon zeta eta iota" // group B, near A
        else if (i < 12) s"solo${i} unique${i} words${i} here${i}"  // isolated
        else if (i % 2 == 0) s"common core tokens shared w${i % 3} x y z"
        else s"common core tokens shared w${i % 3} x y q"
      (i, text)
    }.toDF("doc_id", "text")
    // prefixFilter family (distinct-token-set Jaccard)
    for (tau <- Seq(0.5, 0.9)) {
      val viaPairs = rows(Dedup.duplicateClusters(
        Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text", tau)).orderBy("id"))
      val direct = rows(Dedup.prefixFilterJaccardClusters(
        docs, "doc_id", "text", tau).orderBy("id"))
      assert(viaPairs.nonEmpty && direct == viaPairs, s"tau=$tau")
    }
    // lengthBucket family (shingle Jaccard, length-gated candidates) —
    // collapse key must be (shingle set, exact length): add same-shingle-
    // set different-length twins (duplicated window, extra whitespace)
    val tricky = docs.unionAll(Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta alpha beta"),
      (101L, "alpha  beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text"))
    val viaPairsLb = rows(Dedup.duplicateClusters(
      Dedup.lengthBucketJaccardPairs(tricky, "doc_id", "text", 0.5)).orderBy("id"))
    val directLb = rows(Dedup.lengthBucketJaccardClusters(
      tricky, "doc_id", "text", 0.5).orderBy("id"))
    assert(viaPairsLb.nonEmpty && directLb == viaPairsLb)
    // isolated docs are absent from both
    assert(!viaPairsLb.exists(r => r.head.asInstanceOf[Long] >= 10 &&
      r.head.asInstanceOf[Long] < 12))
  }

  test("dropNearDuplicates keeps exactly one canonical doc per cluster") {
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (9L, "z")).toDF("id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val kept = rows(Dedup.dropNearDuplicates(docs, pairs, "id").orderBy("id").select("id")).flatten
    assert(kept == Seq(1L, 9L)) // 2 and 3 fold into 1's cluster; 9 untouched
  }

  // ===== Winsorize =====

  test("winsorize clamps to interpolated percentiles, NULLs pass through") {
    val df = ((1 to 100).map(i => Some(i.toDouble)) :+ None).toDF("v")
    val w = Profile.winsorize(df, "v", 0.1, 0.9)
    val got = rows(w.agg(min("v"), max("v"), count(lit(1)),
      sum(when(col("v").isNull, 1).otherwise(0)))).head
    // exact interpolated percentiles of 1..100: p10 = 10.9, p90 = 90.1
    assert(math.abs(got(0).asInstanceOf[Double] - 10.9) < 1e-9)
    assert(math.abs(got(1).asInstanceOf[Double] - 90.1) < 1e-9)
    assert(got(2) == 101L && got(3) == 1L) // the NULL row survived as NULL
  }

  // ===== Sequence packing =====

  test("packGreedy: whole docs, budget respected, oversize doc gets own sequence") {
    // one bucket so the greedy order is fully specified
    val docs = Seq(
      (0L, "a b c"),            // 3 tokens -> seq 0 (used 3)
      (16L, "d e"),             // 2 tokens -> seq 0 (used 5)
      (32L, "f g h i j k l m"), // 8 > remaining 3 -> seq 1 (used 8, full)
      (48L, "n o p q r s t u v w x y z a b c"), // 16 > budget -> own seq 2
      (64L, "zz")).toDF("id", "text") // seq 3
    val got = rows(Packing.packGreedy(docs, "id", "text", budget = 8, buckets = 16)
      .toDF().orderBy("id").select("id", "seq"))
    assert(got == Seq(Seq(0L, 0L), Seq(16L, 0L), Seq(32L, 1L), Seq(48L, 2L), Seq(64L, 3L)))
    // no sequence except oversize-singletons exceeds the budget
    val sums = rows(Packing.packGreedy(docs, "id", "text", 8, 16).toDF()
      .groupBy("bucket", "seq").agg(sum("n_tokens").as("s"), count(lit(1)).as("k")))
    assert(sums.forall(r => r(2).asInstanceOf[Long] <= 8 || r(3) == 1L))
  }

  test("packGreedy: deliberately few buckets on a larger corpus (streaming lanes)") {
    // 500 docs into 2 lanes — each lane is far bigger than any sane
    // buffer, exercising the constant-memory streaming fold and the
    // bucket-boundary state reset (both lanes share partitions)
    val docs = (0L until 500L).map(i => (i, Seq.fill((i % 7 + 1).toInt)("t").mkString(" ")))
      .toDF("id", "text")
    val got = rows(Packing.packGreedy(docs, "id", "text", budget = 10, buckets = 2)
      .toDF().orderBy("id").select("id", "bucket", "n_tokens", "seq"))
    // driver-side reference greedy over the same lanes
    val expect = (0L until 500L).map(i => (i, i % 2, i % 7 + 1))
      .groupBy(_._2).toSeq.flatMap { case (b, lane) =>
        var seq = 0L; var used = 0L
        lane.sortBy(_._1).map { case (id, _, n) =>
          if (used > 0 && used + n > 10) { seq += 1; used = 0 }
          used += n
          (id, b, n, seq)
        }
      }.sortBy(_._1).map { case (id, b, n, q) => Seq(id, b, n, q) }
    assert(got == expect)
  }

  test("layoutOffsets: per-bucket offsets are contiguous and seq matches boundaries") {
    val docs = Seq((0L, "a b c"), (16L, "d e"), (1L, "x y z w"), (17L, ""))
      .toDF("id", "text")
    val got = rows(Packing.layoutOffsets(docs, "id", "text", budget = 4, buckets = 16)
      .orderBy("id").select("id", "bucket", "n_tokens", "offset", "seq"))
    assert(got == Seq(
      Seq(0L, 0L, 3L, 0L, 0L),   // bucket 0 starts at 0
      Seq(1L, 1L, 4L, 0L, 0L),   // bucket 1 independent
      Seq(16L, 0L, 2L, 3L, 0L),  // follows doc 0 in bucket 0
      Seq(17L, 1L, 0L, 4L, 1L))) // empty doc: 0 tokens, consumes no budget
  }

  // ===== Shard manifests =====

  test("shardManifest: order-independent, detects loss/corruption, NULL-safe") {
    val df = (0L until 200L).map(i => (i, s"v$i", if (i == 7) None else Some(i * 3)))
      .toDF("id", "s", "x")
    val base = rows(Shards.shardManifest(df, Seq("id"), Seq("id", "s", "x"), 4)
      .orderBy("shard"))
    assert(base.map(_(1).asInstanceOf[Long]).sum == 200L)
    // partition order cannot perturb the xor fold
    withPartitionings(df) { d =>
      assert(rows(Shards.shardManifest(d, Seq("id"), Seq("id", "s", "x"), 4)
        .orderBy("shard")) == base)
    }
    // a lost row flips its shard's count and fingerprint
    val lost = rows(Shards.shardManifest(df.where(col("id") =!= 13),
      Seq("id"), Seq("id", "s", "x"), 4).orderBy("shard"))
    assert(lost != base)
    // a corrupted value flips the fingerprint but not the count
    val corrupt = rows(Shards.shardManifest(
      df.withColumn("s", when(col("id") === 13, "vXX").otherwise(col("s"))),
      Seq("id"), Seq("id", "s", "x"), 4).orderBy("shard"))
    assert(corrupt.map(_(1)) == base.map(_(1)) && corrupt != base)
    // NULL is distinguished from the empty string; the documented
    // sentinel contract is that NULL encodes as the U+0000 marker (so
    // only a literal U+0000 value would collide — excluded by contract)
    val nul = rows(Shards.shardManifest(Seq((1L, Option.empty[String])).toDF("id", "s"),
      Seq("id"), Seq("s"), 1))
    val emp = rows(Shards.shardManifest(Seq((1L, Option(""))).toDF("id", "s"),
      Seq("id"), Seq("s"), 1))
    val mark = rows(Shards.shardManifest(Seq((1L, Option("\u0000"))).toDF("id", "s"),
      Seq("id"), Seq("s"), 1))
    assert(nul != emp && nul == mark)
  }

  // ===== Contamination =====

  test("round-3 ops are partitioning-invariant (reference block-size analog)") {
    // same results regardless of how the input is split into partitions —
    // the Spark analog of the reference's block-size-variation harness
    val docs = (0L until 40L).map(i =>
      (i, s"w${i % 7} w${(i + 1) % 7} w${(i + 2) % 7} w${i % 5} w${(i * 3) % 11}"))
      .toDF("id", "text")
    val expectedContam = rows(Contamination.ngramContamination(
      docs.where(col("id") >= 10), docs.where(col("id") < 10), "id", "text", 2)
      .orderBy("id"))
    val expectedSample = rows(Sampling.bernoulli(docs, Seq("id"), 0.4).orderBy("id"))
    withPartitionings(docs) { d =>
      assert(rows(Contamination.ngramContamination(
        d.where(col("id") >= 10), d.where(col("id") < 10), "id", "text", 2)
        .orderBy("id")) == expectedContam)
      assert(rows(Sampling.bernoulli(d, Seq("id"), 0.4).orderBy("id")) == expectedSample)
    }
    val pairs = Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("id1", "id2")
    val expectedCc = rows(Dedup.duplicateClusters(pairs, smallGraphLimit = 0).orderBy("id"))
    withPartitionings(pairs) { p =>
      assert(rows(Dedup.duplicateClusters(p, smallGraphLimit = 0).orderBy("id")) == expectedCc)
    }
  }

  test("round-4 ops are partitioning-invariant (reference block-size analog)") {
    val docs = (0L until 40L).map(i =>
      (i, s"w${i % 7} w${(i + 1) % 7} w${(i + 2) % 7} w${i % 5} w${(i * 3) % 11}"))
      .toDF("id", "text")
    val expectedPpl = rows(Scoring.trigramPerplexity(
      docs.where(col("id") >= 10), docs.where(col("id") < 10), "id", "text")
      .orderBy("id"))
    val expectedPack = rows(Packing.packGreedy(docs, "id", "text", 8, 4)
      .toDF().orderBy("id"))
    val expectedCollect = rows(Aggregates.saltedCollectSorted(
      Seq("text"), "id", "vals")(docs).orderBy("text"))
    withPartitionings(docs) { d =>
      assert(rows(Scoring.trigramPerplexity(
        d.where(col("id") >= 10), d.where(col("id") < 10), "id", "text")
        .orderBy("id")) == expectedPpl)
      assert(rows(Packing.packGreedy(d, "id", "text", 8, 4)
        .toDF().orderBy("id")) == expectedPack)
      assert(rows(Aggregates.saltedCollectSorted(
        Seq("text"), "id", "vals")(d).orderBy("text")) == expectedCollect)
    }
  }

  test("ngramContamination: full, partial, and zero overlap") {
    val train = Seq((10L, "w1 w2 w3 w4 w5 w6")).toDF("id", "text")
    val test = Seq(
      (1L, "w1 w2 w3 w4 w5 w6"), // identical -> all 4 tri-gram shingles hit
      (2L, "w1 w2 w3 zz qq pp"), // only the first shingle hits
      (3L, "x1 x2 x3 x4")).toDF("id", "text") // no overlap
    val got = rows(Contamination.ngramContamination(train, test, "id", "text", n = 3)
      .orderBy("id").select("id", "n_shingles", "n_hit", "rate"))
    assert(got == Seq(
      Seq(1L, 4L, 4L, 1.0),
      Seq(2L, 4L, 1L, 0.25),
      Seq(3L, 2L, 0L, 0.0)))
    // the single-scan split variant computes the identical report
    val both = train.unionByName(test)
    val split = rows(Contamination.ngramContaminationSplit(both, "id", "text",
      col("id") < 10, n = 3).orderBy("id").select("id", "n_shingles", "n_hit", "rate"))
    assert(split == got)
  }

  test("deterministicShuffle: same seed replays the order; new seeds scramble, not rotate") {
    val df = (0L until 500L).toDF("k")
    val a = rows(Sampling.deterministicShuffle(df, Seq("k"), 7L)).flatten.map(_.asInstanceOf[Long])
    val b = rows(Sampling.deterministicShuffle(df, Seq("k"), 7L)).flatten.map(_.asInstanceOf[Long])
    assert(a == b, "same seed must replay the identical order")
    val c = rows(Sampling.deterministicShuffle(df, Seq("k"), 8L)).flatten.map(_.asInstanceOf[Long])
    assert(a != c && a.toSet == c.toSet, "new seed permutes the same rows differently")
    // the seed re-multiply SCRAMBLES the order — a purely additive seed
    // would make every seed a cyclic rotation of one master order
    val shift = c.indexOf(a.head)
    assert(c.drop(shift) ++ c.take(shift) != a, "seeded orders must not be rotations")
    // and the order is not the identity (it actually shuffles)
    assert(a != (0L until 500L).toSeq)
  }

  // ===== Vocabulary build + corpus encoding =====

  test("Vocab.build: top-V ids ordered by (count desc, token asc); minCount drops tail") {
    val docs = Seq(
      (1L, "b b b a a c"),
      (2L, "a b  d"), // double space: tokenizer must not emit a phantom token
      (3L, "")).toDF("doc_id", "text")
    // counts: b=4, a=3, c=1, d=1 -> ids b=0, a=1, c=2, d=3 (c before d: tie on token)
    val v = Vocab.build(docs, "text", size = 10)
    assert(rows(v.select("token", "id", "n").orderBy("id")) == Seq(
      Seq("b", 0, 4L), Seq("a", 1, 3L), Seq("c", 2, 1L), Seq("d", 3, 1L)))
    // size cut keeps the TOP of the ranking
    assert(rows(Vocab.build(docs, "text", size = 2).select("token").orderBy("id"))
      .flatten == Seq("b", "a"))
    // minCount drops the hapax tail before the cut
    assert(rows(Vocab.build(docs, "text", size = 10, minCount = 2L)
      .select("token").orderBy("id")).flatten == Seq("b", "a"))
  }

  test("Vocab.encode: id sequences preserve order; OOV -> unkId; empty text -> []") {
    val docs = Seq((1L, "b a zzz b"), (2L, "")).toDF("doc_id", "text")
    val corpus = Seq((10L, "b b a")).toDF("doc_id", "text") // vocab source: b=0, a=1
    val v = Vocab.build(corpus, "text", size = 10)
    val enc = Vocab.encode(docs, "text", v, "ids", unkId = -1)
    assert(rows(enc.select("doc_id", "ids").orderBy("doc_id")) == Seq(
      Seq(1L, Seq(0, 1, -1, 0)), Seq(2L, Seq.empty)))
    // empty vocabulary: everything is OOV, nothing throws
    val emptyV = Vocab.build(corpus.where(lit(false)), "text", size = 5)
    assert(rows(Vocab.encode(docs, "text", emptyV, "ids")
      .select("ids").orderBy("doc_id")) == Seq(Seq(Seq(-1, -1, -1, -1)), Seq(Seq())))
  }

  // ===== Histogram =====

  test("histogram: mass-conserving bins with under/overflow and NULL buckets") {
    val df = Seq(Some(-5.0), Some(0.0), Some(5.0), Some(9.9999), Some(10.0),
      Some(25.0), None).toDF("v")
    withPartitionings(df) { d =>
      val out = Profile.histogram(d, "v", lo = 0.0, hi = 10.0, nBins = 2)
        .orderBy(col("bin").asc_nulls_first)
      assert(rows(out) == Seq(
        Seq(null, 1L),   // NULL passthrough bucket
        Seq(-1L, 1L),    // underflow
        Seq(0L, 1L),     // [0, 5)
        Seq(1L, 2L),     // [5, 10) — 9.9999 stays inside
        Seq(2L, 2L)))    // overflow: 10.0 (== hi) and 25.0
      // mass conservation: sum of counts == row count
      assert(out.agg(sum("n")).collect().head.getLong(0) == 7L)
    }
  }

  // ===== Time-series resample + gap fill =====

  test("resampleFill: gaps get n=0 with carried sum, leading gaps stay NULL") {
    val df = Seq(
      ("u1", "2024-01-01 10:00:00", 1.5), ("u1", "2024-01-01 10:30:00", 2.5),
      ("u1", "2024-01-03 09:00:00", 4.0), // Jan 2 is a gap day
      ("u2", "2024-01-05 00:00:00", 7.0)
    ).toDF("k", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    withPartitionings(df) { d =>
      val out = TimeSeries.resampleFill(d, "k", "ts", "v", unit = "day")
        .withColumn("day", date_format(col("bucket"), "yyyy-MM-dd"))
        .select("k", "day", "n", "filled").orderBy("k", "day")
      assert(rows(out) == Seq(
        Seq("u1", "2024-01-01", 2L, 4.0),  // 1.5 + 2.5
        Seq("u1", "2024-01-02", 0L, 4.0),  // gap: carried forward
        Seq("u1", "2024-01-03", 1L, 4.0),  // new observation
        Seq("u2", "2024-01-05", 1L, 7.0))) // span is per key
    }
    intercept[IllegalArgumentException] {
      TimeSeries.resampleFill(df, "k", "ts", "v", unit = "fortnight")
    }
  }

  // ===== Fuzzy (edit-distance) matching =====

  test("editDistancePairs: recall-exact blocking equals all-pairs Levenshtein") {
    val vals = Seq("widget", "widgget", "gadget", "gizmo", "gizmos",
      "a", "ab", "completely-different-string").toDF("v")
    withPartitionings(vals) { d =>
      val got = Dedup.editDistancePairs(d, "v", maxDist = 2)
        .orderBy("s1", "s2").collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toList
      // brute-force reference on the driver
      val vs = vals.collect().map(_.getString(0)).toList
      def lev(a: String, b: String): Int = {
        val dp = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
        for (i <- 1 to a.length; j <- 1 to b.length)
          dp(i)(j) = math.min(math.min(dp(i - 1)(j), dp(i)(j - 1)) + 1,
            dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        dp(a.length)(b.length)
      }
      val want = (for (a <- vs; b <- vs if a < b; dd = lev(a, b) if dd <= 2)
        yield (a, b, dd)).sorted
      assert(got == want)
      assert(got.exists(_._1 == "a")) // cross-length-band pair ("a","ab") found
    }
  }

  test("editDistancePairs: duplicate rows collapse (distinct values), guards checked") {
    val vals = Seq("x", "x", "x", "xy").toDF("v")
    val got = Dedup.editDistancePairs(vals, "v", maxDist = 1)
    assert(rows(got) == Seq(Seq("x", "xy", 1)))
    intercept[IllegalArgumentException] {
      Dedup.editDistancePairs(vals, "v", maxDist = 9, bucketWidth = 4)
    }
  }

  test("invertedIndex + conjunctiveQuery: AND semantics, duplicate terms collapse") {
    val docs = Seq((1L, "Spark table scan"), (2L, "spark SPARK spark"),
      (3L, "table spark join"), (4L, "other words")).toDF("id", "t")
    val idx = Index.invertedIndex(docs, "id", "t")
    // df attached: 'spark' appears in 3 docs (dupes within doc 2 collapse)
    assert(rows(idx.where(col("term") === "spark").select("df").distinct()) == Seq(Seq(3L)))
    val hit = rows(Index.conjunctiveQuery(idx, Seq("spark", "table")).orderBy("doc"))
    assert(hit == Seq(Seq(1L), Seq(3L)))
    // duplicate + mixed-case query terms normalize
    assert(rows(Index.conjunctiveQuery(idx, Seq("Spark", "spark", "TABLE")).orderBy("doc"))
      == Seq(Seq(1L), Seq(3L)))
  }

  test("quantileNormalize: cume_dist tie semantics, NULL passes through") {
    val d = Seq((1L, Some(10.0)), (2L, Some(20.0)), (3L, Some(20.0)),
      (4L, Some(40.0)), (5L, None)).toDF("k", "v")
    withPartitionings(d) { dd =>
      val out = rows(Profile.quantileNormalize(dd, "v", Seq("k")).orderBy("k"))
      assert(out(0) == Seq(1L, 10.0, 0.25))
      assert(out(1) == Seq(2L, 20.0, 0.75)) // ties share the upper cume
      assert(out(2) == Seq(3L, 20.0, 0.75))
      assert(out(3) == Seq(4L, 40.0, 1.0))
      assert(out(4)(2) == null)
    }
  }

  test("weightedBernoulli: weight 1 keeps all, 0 keeps none, monotone in weight") {
    val d = (0L until 2000L).toDF("k")
    assert(Sampling.weightedBernoulli(d.withColumn("w", lit(1.0)), Seq("k"), "w").count() == 2000)
    assert(Sampling.weightedBernoulli(d.withColumn("w", lit(0.0)), Seq("k"), "w").count() == 0)
    assert(Sampling.weightedBernoulli(d.withColumn("w", lit(5.0)), Seq("k"), "w").count() == 2000) // clamped
    val lo = rows(Sampling.weightedBernoulli(d.withColumn("w", lit(0.2)), Seq("k"), "w").select("k"))
    val hi = rows(Sampling.weightedBernoulli(d.withColumn("w", lit(0.6)), Seq("k"), "w").select("k"))
    assert(lo.toSet.subsetOf(hi.toSet)) // raising the weight only ADDS rows
    assert(lo.size > 250 && lo.size < 550)
  }

  test("madOutliers: lower medians are data values; outlier count by hand") {
    // group a: values 1..7 plus a wild 100 → med = 4 (lower median of 8
    // values is the 4th), deviations {3,2,1,0,1,2,3,96} → mad = 2,
    // outliers = |x−4| > 6 → only 100.
    val d = (Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 100.0).map(("a", _)) ++
      Seq(("b", 10.0))).toDF("g", "v")
    withPartitionings(d) { dd =>
      val out = rows(Profile.madOutliers(dd, "g", "v", k = 3.0).orderBy("g"))
      assert(out(0) == Seq("a", 8L, 4.0, 2.0, 1L))
      assert(out(1) == Seq("b", 1L, 10.0, 0.0, 0L)) // singleton: mad 0, no outliers
    }
  }

  test("prefixFilterJaccardPairs: equals the all-pairs join (recall-exact)") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "a b c d"),
      (4L, "x y z w"), (5L, "p q")).toDF("id", "t")
    def jac(a: Set[String], b: Set[String]) =
      (a & b).size.toDouble / (a | b).size
    val sets = Map(1L -> "a b c d", 2L -> "a b c e", 3L -> "a b c d",
      4L -> "x y z w", 5L -> "p q").map { case (k, v) => k -> v.split(" ").toSet }
    for (tau <- Seq(0.5, 0.75, 1.0)) {
      val got = rows(Dedup.prefixFilterJaccardPairs(docs, "id", "t", tau)
        .orderBy("id1", "id2")).map(r => (r(0), r(1), r(2)))
      val want = (for (a <- sets.keys; b <- sets.keys if a < b;
        j = jac(sets(a), sets(b)) if j >= tau) yield (a, b, j)).toSeq.sorted
      assert(got == want, s"tau=$tau")
      // exact-set pre-collapse (default) ≡ the uncollapsed posting join —
      // ids 1 and 3 share an identical token set, so the collapse path
      // (rep join + expansion + within-group jac=1 pairs) is exercised
      val raw = rows(Dedup.prefixFilterJaccardPairs(docs, "id", "t", tau,
        collapseExact = false).orderBy("id1", "id2")).map(r => (r(0), r(1), r(2)))
      assert(raw == want, s"tau=$tau (uncollapsed)")
    }
  }

  test("triangleCount: hand graph — one triangle plus a pendant edge") {
    // triangle 1-2-3, edge 3-4 (listed in both directions + a self-loop
    // to exercise canonicalization)
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (3L, 4L), (4L, 4L))
      .toDF("s", "d2")
    val out = rows(Graph.triangleCount(e, "s", "d2").orderBy("node"))
    assert(out == Seq(Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L)))
    // two triangles sharing edge 1-2: node 1 and 2 participate twice
    val e2 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (1L, 4L)).toDF("s", "d2")
    val out2 = rows(Graph.triangleCount(e2, "s", "d2").orderBy("node"))
    assert(out2 == Seq(Seq(1L, 2L), Seq(2L, 2L), Seq(3L, 1L), Seq(4L, 1L)))
  }

  test("duplicatedSpans: within-doc repeats count, short docs report zero") {
    val docs = Seq(
      (1L, "a b c d a b c d"),   // "a b c" twice within ONE doc (pos 1, 5)? no — spans of 3: "a b c","b c d","c d a","d a b","a b c","b c d" → 2 dups ×2
      (2L, "a b c x y z"),       // shares "a b c" with doc 1
      (3L, "p q")).toDF("id", "t") // shorter than n=3 → 0 spans
    val out = rows(Dedup.duplicatedSpans(docs, "id", "t", n = 3).orderBy("id"))
    // doc1: 6 spans, dup = "a b c"×2 + "b c d"×2 = 4
    assert(out(0) == Seq(1L, 6L, 4L, 4.0 / 6.0))
    // doc2: 4 spans, only "a b c" duplicated (globally, via doc1)
    assert(out(1) == Seq(2L, 4L, 1L, 0.25))
    assert(out(2) == Seq(3L, 0L, 0L, 0.0))
  }

  test("hashedLinearScore: zero-shuffle plan, deterministic, empty text safe") {
    val docs = Seq((1L, "hello world"), (2L, ""), (3L, "x")).toDF("id", "t")
    val out = Scoring.hashedLinearScore(docs, "id", "t", dims = 16, threshold = 0.0)
    // no exchange anywhere in the plan — pure projection
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
    val r = rows(out.orderBy("id"))
    assert(r(1)(1) == 0L && r(1)(2) == 0.0)        // empty text → 0 tokens, score 0
    assert(r == rows(Scoring.hashedLinearScore(docs, "id", "t", 16, 0.0).orderBy("id")))
    // hand-check doc 3: token "x" → key = 1*31 + 120*7 + 120 = 991
    val mills = ((991L % 16) * 2654435761L % 2147483648L) % 2001 - 1000
    assert(r(2)(2) == mills.toDouble / 1000.0)
  }

  test("Checks.validate: each check class counts its planted violations") {
    import Checks._
    val parent = Seq(1L, 2L).toDF("pk")
    val d = Seq(
      (Option(1L), Option(5.0), "A"),
      (Option(1L), Option(5.0), "A"),   // duplicate key
      (Option(2L), Option(99.0), "B"),  // out of range + bad flag
      (Option(9L), Option(5.0), "A"),   // orphan fk
      (None, None, "A")                 // null key (exempt from unique/ref)
    ).toDF("k", "v", "f")
    val out = rows(Checks.validate(d, Seq(
      NotNull("k"), InRange("v", 0.0, 10.0), Accepted("f", Seq("A")),
      Unique(Seq("k")), RefIntegrity(Seq("k"), parent, Seq("pk"))))
      .orderBy("check"))
    assert(out == Seq(
      Seq("accepted(f)", 1L, false),
      Seq("in_range(v, 0.0, 10.0)", 1L, false),
      Seq("not_null(k)", 1L, false),
      Seq("ref_integrity(k)", 1L, false),
      Seq("unique(k)", 1L, false)))
    // clean data: all pass on a report with zero violations
    val clean = Seq((Option(1L), Option(5.0), "A")).toDF("k", "v", "f")
    assert(rows(Checks.validate(clean, Seq(NotNull("k"), Unique(Seq("k"))))
      .select("pass")).forall(_ == Seq(true)))
  }

  test("treeRootDepth: pointer doubling resolves deep chains, cycles fail loudly") {
    // chain 1←2←3←...←9 (depth 8) plus a second root 100 with child 101
    val nodes = ((1L, Option.empty[Long]) +: (2L to 9L).map(i => (i, Some(i - 1))) :+
      (100L, Option.empty[Long]) :+ (101L, Some(100L))).toDF("id", "parent")
    withPartitionings(nodes) { nn =>
      val out = rows(Graph.treeRootDepth(nn, "id", "parent").orderBy("id"))
      assert(out.take(9).map(r => (r(0), r(1), r(2))) ==
        (1L to 9L).map(i => (i, 1L, i - 1)))
      assert(out.takeRight(2) == Seq(Seq(100L, 100L, 0L), Seq(101L, 100L, 1L)))
    }
    // a 2-cycle must hit the round cap, not spin forever
    val cyc = Seq((1L, Some(2L)), (2L, Some(1L))).toDF("id", "parent")
    intercept[IllegalArgumentException] {
      Graph.treeRootDepth(cyc, "id", "parent", maxRounds = 5).count()
    }
  }

  test("bigramPmi: perfect collocation scores high, independent pair near zero") {
    // "x y" always adjacent (perfect collocation); "p"/"q" co-occur at
    // chance; singleton bigrams drop under minCount=2
    val docs = Seq((1L, "x y p"), (2L, "x y q"), (3L, "p x y"),
      (4L, "q x y"), (5L, "rare pair")).toDF("id", "t")
    val out = rows(Scoring.bigramPmi(docs, "id", "t", minCount = 2)
      .orderBy("w1", "w2"))
    val xy = out.find(r => r(0) == "x" && r(1) == "y").get
    assert(xy(2) == 4L) // all four docs
    assert(xy(5).asInstanceOf[Double] > 0.5) // joint ≫ product of marginals
    assert(!out.exists(r => r(0) == "rare")) // minCount cut
    // every reported bigram carries consistent unigram counts
    assert(out.forall(r => r(3).asInstanceOf[Long] >= r(2).asInstanceOf[Long]))
  }

  test("linearFit: recovers y = 2x + 1 exactly, r² = 1") {
    val d = Seq(("a", 1.0, 3.0), ("a", 2.0, 5.0), ("a", 3.0, 7.0)).toDF("g", "x", "y")
    val out = rows(Profile.linearFit(d, "g", "x", "y"))
    assert(out(0)(2) == 2.0 && out(0)(3) == 1.0) // slope, intercept exact
    assert(math.abs(out(0)(4).asInstanceOf[Double] - 1.0) < 1e-12)
  }

  test("histogramEquiDepth: equal-count buckets, ties split by key, NULLs dropped") {
    // 8 non-null rows, k=4 → exactly 2 per bucket; value 5.0 is triplicated
    // so its rows straddle a bucket boundary and the key order decides.
    val d = Seq((1L, Some(1.0)), (2L, Some(2.0)), (3L, Some(5.0)), (4L, Some(5.0)),
      (5L, Some(5.0)), (6L, Some(7.0)), (7L, Some(9.0)), (8L, Some(11.0)),
      (9L, None)).toDF("k", "v")
    withPartitionings(d) { dd =>
      val out = rows(Profile.histogramEquiDepth(dd, "v", Seq("k"), 4).orderBy("bucket"))
      assert(out.map(_(1)) == Seq(2L, 2L, 2L, 2L))
      // bucket 1 = ranks 3,4 = the two smallest-key 5.0 rows
      assert(out(1) == Seq(1L, 2L, 5.0, 5.0))
      assert(out(3) == Seq(3L, 2L, 9.0, 11.0))
    }
  }

  test("histogramEquiDepth: k > n degenerates to one bucket per row") {
    val d = Seq((1L, 3.0), (2L, 1.0)).toDF("k", "v")
    val out = rows(Profile.histogramEquiDepth(d, "v", Seq("k"), 8).orderBy("bucket"))
    assert(out == Seq(Seq(0L, 1L, 1.0, 1.0), Seq(4L, 1L, 3.0, 3.0)))
  }

  test("corrExact: perfectly linear data gives r = 1, exact covariance") {
    // y = 2x → r exactly 1.0 (moments are exact decimals, no drift)
    val d = Seq(("a", 1.0, 2.0), ("a", 2.0, 4.0), ("a", 3.0, 6.0),
      ("b", 1.0, 5.0), ("b", 2.0, 3.0), ("b", 3.0, 1.0)).toDF("g", "x", "y")
    // the MOMENTS are exact, so the (rounded) final doubles are the SAME
    // bits under every partitioning — assert value + bit-stability
    var seen: Option[Seq[Seq[Any]]] = None
    withPartitionings(d) { dd =>
      val out = rows(Profile.corrExact(dd, "g", "x", "y").orderBy("g"))
      assert(math.abs(out(0)(2).asInstanceOf[Double] - 1.0) < 1e-12)
      assert(out(0)(3) == 2.0)                 // cov_samp = 2·var(x), exact
      assert(math.abs(out(1)(2).asInstanceOf[Double] + 1.0) < 1e-12)
      seen match {
        case Some(prev) => assert(out == prev) // bit-identical across partitionings
        case None       => seen = Some(out)
      }
    }
  }

  test("chiSquareIndependence: independent 2x2 gives chi2 = 0; hand case matches") {
    // perfectly proportional cells → expected == observed → chi2 exactly 0
    val indep = Seq(("x", "p"), ("x", "p"), ("x", "q"),
                    ("y", "p"), ("y", "p"), ("y", "q")).toDF("a", "b")
    withPartitionings(indep) { dd =>
      val out = rows(Profile.chiSquareIndependence(dd, "a", "b"))
      assert(out == Seq(Seq(6L, 4L, 1L, 0.0)))
    }
    // hand-computed 2x2: cells (10,20 / 20,10), n=60, e=15 everywhere →
    // chi2 = 4·(5²/15) = 6.666668 after 6-dp per-cell rounding (1.666667·4)
    val skewed = (Seq.fill(10)(("x", "p")) ++ Seq.fill(20)(("x", "q")) ++
                  Seq.fill(20)(("y", "p")) ++ Seq.fill(10)(("y", "q"))).toDF("a", "b")
    val out2 = rows(Profile.chiSquareIndependence(skewed, "a", "b"))
    assert(out2 == Seq(Seq(60L, 4L, 1L, 6.666668)))
  }

  test("welchTTest: equal arms give t = 0; hand case matches scipy-checked values") {
    val d = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
                ("b", 1.0), ("b", 2.0), ("b", 3.0), ("c", 99.0)).toDF("g", "v")
    withPartitionings(d) { dd =>
      val out = rows(Profile.welchTTest(dd, "g", "v", "a", "b"))
      assert(out.size == 1)
      val r = out.head
      assert(r(0) == 3L && r(1) == 3L)         // group c excluded
      assert(r(2) == 2.0 && r(3) == 2.0)
      assert(r(4).asInstanceOf[Double] == 0.0) // identical arms
      assert(math.abs(r(5).asInstanceOf[Double] - 4.0) < 1e-12) // equal vars → dof = n1+n2-2
    }
    // unequal arms: a = (1,2,3), b = (2,4,6,8) → means 2, 5; vars 1, 20/3
    // t = -3/sqrt(1/3 + 5/3) = -3/sqrt(2); Welch dof = 2²/(1/18 + 25/27) = 216/53
    val d2 = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
                 ("b", 2.0), ("b", 4.0), ("b", 6.0), ("b", 8.0)).toDF("g", "v")
    val r2 = rows(Profile.welchTTest(d2, "g", "v", "a", "b")).head
    assert(math.abs(r2(4).asInstanceOf[Double] - (-2.1213203435596424)) < 1e-12)
    assert(math.abs(r2(5).asInstanceOf[Double] - 216.0 / 53.0) < 1e-9)
  }

  test("keySkewProfile: uniform keys maximize entropy; constant key zeroes it") {
    val uniform = Seq(1L, 2L, 3L, 4L).toDF("k")
    withPartitionings(uniform) { dd =>
      val out = rows(Profile.keySkewProfile(dd, "k"))
      // 4 keys × p=1/4 → entropy = ln 4 (each term rounded 6dp: 0.346574×4)
      assert(out == Seq(Seq(4L, 4L, 1L, 0.25, 1.386296)))
    }
    val constant = Seq(7L, 7L, 7L).toDF("k")
    assert(rows(Profile.keySkewProfile(constant, "k")) ==
      Seq(Seq(3L, 1L, 3L, 1.0, 0.0)))
  }

  test("goldenRecord: most-frequent-non-null wins; ties break to smaller value; all-null gives NULL") {
    val d = Seq(
      (10L, 1L, "en", "web"), (10L, 2L, "en", "books"), (10L, 3L, "de", "books"),
      (20L, 4L, "fr", null), (20L, 5L, "es", null),     // lang tie -> es; source all-null
      (30L, 6L, null, "cc")).toDF("cl", "id", "lang", "src")
    withPartitionings(d) { dd =>
      val out = rows(Dedup.goldenRecord(dd, "cl", "id", Seq("lang", "src"))
        .orderBy("cl"))
      assert(out == Seq(
        Seq(10L, 1L, 3L, "en", "books"),   // en 2>1; books 2>1
        Seq(20L, 4L, 2L, "es", null),
        Seq(30L, 6L, 1L, null, "cc")))
    }
  }

  test("itemPairRules: presence-based counts, support prune, hand-checked lift") {
    // baskets: 1:{a,b,c} 2:{a,b} 3:{a,a,c} (dup a counts once) 4:{b}
    val d = Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "a"), (2L, "b"),
                (3L, "a"), (3L, "a"), (3L, "c"), (4L, "b")).toDF("b", "i")
    withPartitionings(d) { dd =>
      val out = rows(Association.itemPairRules(dd, "b", "i", 2L)
        .orderBy("i1", "i2"))
      // pairs: (a,b)=2, (a,c)=2, (b,c)=1(pruned); n=4, a=3, b=3, c=2
      assert(out == Seq(
        Seq("a", "b", 2L, 3L, 3L, 4L, 0.5, 2.0 / 3.0, (4.0 * 2.0) / (3.0 * 3.0)),
        Seq("a", "c", 2L, 3L, 2L, 4L, 0.5, 2.0 / 3.0, (4.0 * 2.0) / (3.0 * 2.0))))
    }
  }

  test("radiusJoinGrid: floor-div cells, boundary pairs kept, recall equals brute force") {
    // floorDiv correctness on negatives: -1 div 4 = -1, not 0
    val fd = Seq(-5L, -4L, -1L, 0L, 3L, 4L).toDF("x")
      .select(Spatial.floorDiv(col("x"), 4L).as("f"))
    assert(rows(fd).flatten == Seq(-2L, -1L, -1L, 0L, 0L, 1L))
    // hand case: exactly-at-radius pair kept (inclusive), cross-cell pair found
    val pts = Seq((1L, 0L, 0L), (2L, 3L, 4L),     // d2 = 25 = r² (keep, crosses cells)
                  (3L, 100L, 100L), (4L, 104L, 97L), // d2 = 25 (keep)
                  (5L, 0L, 6L)).toDF("id", "x", "y") // d2 to 1: 36 > 25 (drop); to 2: 13 (keep)
    withPartitionings(pts) { dd =>
      val out = rows(Spatial.radiusJoinGrid(dd, "id", "x", "y", 5L)
        .orderBy("id_a", "id_b"))
      assert(out == Seq(Seq(1L, 2L, 25L), Seq(2L, 5L, 13L), Seq(3L, 4L, 25L)))
    }
    // recall-exactness vs brute force on a deterministic scatter
    val scatter = spark.range(0, 200).toDF("id")
      .select(col("id"), (col("id") * 37L % 211L).as("x"), (col("id") * 53L % 199L).as("y"))
    val grid = rows(Spatial.radiusJoinGrid(scatter, "id", "x", "y", 16L)
      .orderBy("id_a", "id_b"))
    val a = scatter.select(col("id").as("id_a"), col("x").as("xa"), col("y").as("ya"))
    val b = scatter.select(col("id").as("id_b"), col("x").as("xb"), col("y").as("yb"))
    val d2 = (col("xa") - col("xb")) * (col("xa") - col("xb")) +
             (col("ya") - col("yb")) * (col("ya") - col("yb"))
    val brute = rows(a.crossJoin(b)
      .where(col("id_a") < col("id_b") && d2 <= lit(256L))
      .select(col("id_a"), col("id_b"), d2.as("d2")).orderBy("id_a", "id_b"))
    assert(grid.nonEmpty && grid == brute)
  }

  test("anovaF: hand-computed two-group case (normalized SS terms)") {
    // a = (1,2,3), b = (4,5,6): SSW/N per group = 2/6 → 0.333333 rounded,
    // SSB/N per group = 3·2.25/6 = 1.125 exact; F = (2.25/1)/(0.666666/4)
    val d = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
                ("b", 4.0), ("b", 5.0), ("b", 6.0)).toDF("g", "v")
    val expF = (2.25 / 1.0) / (0.666666 / 4.0)
    withPartitionings(d) { dd =>
      val out = rows(Profile.anovaF(dd, "g", "v"))
      assert(out == Seq(Seq(2L, 6L, 1L, 4L, 2.25, 0.666666, expF)))
    }
  }

  test("noisyCounts: seeded noise replays exactly and is a pure function of (group, seed)") {
    def replayNoise(v: Long, seed: Long): Long = {
      val M = 2147483648L
      val mult = ((2 * seed + 1) % M) * 2654435761L % M
      val skey = ((v % M) * mult % M + seed * 2246822519L % M) % M
      val u = (skey.toDouble + 0.5) / 2147483648.0
      val ratio = math.log(1.0 - u) / math.log(0.5)
      math.floor(BigDecimal(ratio)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble).toLong
    }
    val d = (Seq.fill(40)(3L) ++ Seq.fill(25)(9L)).toDF("g")
    withPartitionings(d) { dd =>
      val out = rows(Checks.noisyCounts(dd, "g", alpha = 0.5, seed = 7L)
        .orderBy("g"))
      assert(out == Seq(
        Seq(3L, 40L + replayNoise(3L, 7L) - replayNoise(3L, 8L)),
        Seq(9L, 25L + replayNoise(9L, 7L) - replayNoise(9L, 8L))))
    }
    // a different seed must (generically) move the noise
    val a = rows(Checks.noisyCounts(d, "g", 0.5, 7L).orderBy("g"))
    val b = rows(Checks.noisyCounts(d, "g", 0.5, 99L).orderBy("g"))
    assert(a != b)
  }

  test("incrementalSumCount: matches full recompute; zero-count keys vanish; update = D+I") {
    val base = Seq(("a", 10.0, 2L), ("b", 5.0, 1L)).toDF("k", "sum_v", "cnt")
      .select(col("k"), col("sum_v").cast("decimal(18,2)").as("sum_v"), col("cnt"))
    // delete b entirely; update one a-row 4.0 -> 7.0; insert c
    val changes = Seq(("b", 5.0, "D"), ("a", 4.0, "D"), ("a", 7.0, "I"),
                      ("c", 1.5, "I")).toDF("k", "v", "op")
    withPartitionings(changes) { ch =>
      val out = rows(Aggregates.incrementalSumCount(base, ch, Seq("k"), "v", "op")
        .select(col("k"), col("sum_v").cast("string"), col("cnt")).orderBy("k"))
      assert(out == Seq(Seq("a", "13.00", 2L), Seq("c", "1.50", 1L)))
    }
    // non-strict mode drops unknown ops instead of poisoning the group
    val junk = changes.unionByName(Seq(("a", 99.0, "X")).toDF("k", "v", "op"))
    val lax = rows(Aggregates.incrementalSumCount(base, junk, Seq("k"), "v", "op",
      strict = false).select(col("k"), col("sum_v").cast("string"), col("cnt"))
      .orderBy("k"))
    assert(lax == Seq(Seq("a", "13.00", 2L), Seq("c", "1.50", 1L)))
  }

  test("normalizeAggressive collapses case/punctuation/whitespace variants") {
    val d = Seq("Hello,   World!", "hello world", "HELLO--WORLD", "other text")
      .toDF("t").select(TextAnalysis.normalizeAggressive(col("t")).as("n"))
    assert(rows(d).flatten == Seq("hello world", "hello world", "hello world", "other text"))
  }

  test("compareProfiles flags count drift and passes identical snapshots clean") {
    val a = Seq((1L, "x"), (2L, "y"), (3L, null.asInstanceOf[String])).toDF("k", "s")
    val same = rows(Profile.compareProfiles(a, a, Seq("k", "s")).orderBy("col_name"))
    assert(same.forall(_.last == false))
    val b = Seq((1L, "x"), (2L, "y")).toDF("k", "s") // row dropped
    val drift = rows(Profile.compareProfiles(a, b, Seq("k", "s")).orderBy("col_name"))
    assert(drift.forall(_.last == true)) // both columns lose a count
  }

  test("topValues: ranks per column with count-then-value tie-break, k cut") {
    val d = Seq(("x", 1), ("x", 1), ("y", 2), ("y", 2), ("z", 3)).toDF("s", "n")
    withPartitionings(d) { dd =>
      val out = rows(Profile.topValues(dd, Seq("s", "n"), k = 2)
        .orderBy("col_name", "rank"))
      // s: x=2, y=2 tie -> x first; z cut at k=2. n mirrors as strings.
      assert(out == Seq(
        Seq("n", "1", 2L, 1), Seq("n", "2", 2L, 2),
        Seq("s", "x", 2L, 1), Seq("s", "y", 2L, 2)))
    }
  }

  test("percentilesExact: nearest-rank values on a hand distribution, duplicates weighted") {
    // group g: values 1,2,2,3,10 (n=5): p50 -> rank 3 -> 2; p90 -> rank 5 -> 10;
    // p20 -> rank 1 -> 1
    val d = Seq(("g", 1.0), ("g", 2.0), ("g", 2.0), ("g", 3.0), ("g", 10.0),
                ("h", 7.0)).toDF("k", "v")
    withPartitionings(d) { dd =>
      val out = rows(Profile.percentilesExact(dd, "k", "v", Seq(0.2, 0.5, 0.9))
        .orderBy("k", "p"))
      assert(out == Seq(
        Seq("g", 0.2, 5L, 1.0), Seq("g", 0.5, 5L, 2.0), Seq("g", 0.9, 5L, 10.0),
        Seq("h", 0.2, 1L, 7.0), Seq("h", 0.5, 1L, 7.0), Seq("h", 0.9, 1L, 7.0)))
    }
  }

  test("temporalSplit: embargo rows excluded from both sides of each boundary") {
    val d = Seq("2024-01-01 00:00:00", "2024-01-15 12:00:00", "2024-01-16 12:00:00",
                "2024-01-25 06:00:00", "2024-01-26 06:00:00").toDF("t")
      .select(to_timestamp(col("t")).as("ts"))
    val out = rows(Sampling.temporalSplit(d, "ts", "2024-01-15 00:00:00",
      "2024-01-25 00:00:00", embargoSeconds = 86400L)
      .select(col("split")).orderBy("ts"))
    assert(out.flatten == Seq("train", "embargo", "val", "embargo", "test"))
  }

  test("anchorChunks: content-defined boundaries survive an edit in an earlier chunk") {
    def key(t: String): Long =
      ((t.length * 31 + t.head.toInt * 7 + t.last.toInt).toLong * 2654435761L) % 2147483648L
    // find real anchor/non-anchor tokens under the divisor-8 predicate
    val words = (0 until 2000).map(i => s"w$i")
    val anchor = words.find(key(_) % 8 == 0).get
    val plain = words.filter(key(_) % 8 != 0).take(6)
    val docA = (plain.take(2) :+ anchor) ++ plain.slice(2, 4) // chunks: [p0 p1][A p2 p3]
    val docB = (plain.take(2) :+ plain(4) :+ anchor) ++ plain.slice(2, 4) // edit BEFORE the anchor
    val d = Seq((1L, docA.mkString(" ")), (2L, docB.mkString(" "))).toDF("id", "text")
    withPartitionings(d) { dd =>
      val out = rows(Packing.anchorChunks(dd, "id", "text", divisor = 8L)
        .orderBy("id", "chunk"))
      val a = out.filter(_.head == 1L); val b = out.filter(_.head == 2L)
      assert(a.size == 2 && b.size == 2)
      // chunk 0 differs (the edit), chunk 1 fingerprint IDENTICAL — the
      // content-defined property fixed-size chunking lacks
      assert(a(1)(2) == b(1)(2) && a(1)(3) == b(1)(3))
      assert(a(0)(3) != b(0)(3))
      assert(a(0)(2) == 2L && a(1)(2) == 3L) // token counts per chunk
    }
  }

  test("negativePairs: deterministic, label-disjoint, self-free, formula replays") {
    val d = (0L until 20L).map(i => (i, (i % 3).toInt)).toDF("id", "lab")
    withPartitionings(d) { dd =>
      val out = rows(Sampling.negativePairs(dd, "id", "lab", k = 2, seed = 5L)
        .orderBy("anchor", "j"))
      assert(out.nonEmpty)
      // replay: nid = ((a % 20)·(P1 % 20) + j·(P2 % 20) + 5) % 20, kept iff
      // label differs and nid != a
      val expected = for {
        a <- 0L until 20L; j <- 1 to 2
        nid = ((a % 20) * (2654435761L % 20) + j * (2246822519L % 20) + 5L) % 20
        if (nid % 3) != (a % 3) && nid != a
      } yield Seq(a, j, nid)
      assert(out == expected)
      assert(rows(Sampling.negativePairs(dd, "id", "lab", 2, 5L).orderBy("anchor", "j")) == out)
    }
  }

  test("kAnonymity: classes below k are counted; verdict flips at the threshold") {
    val d = Seq((1, "A"), (1, "A"), (1, "A"), (2, "B"), (2, "B"), (3, "C"))
      .toDF("qa", "qb")
    withPartitionings(d) { dd =>
      val out = rows(Checks.kAnonymity(dd, Seq("qa", "qb"), 3L))
      // classes: (1,A)=3, (2,B)=2, (3,C)=1 → 2 below k=3 covering 3 rows
      assert(out == Seq(Seq(3L, 6L, 3L, 2L, 3L, 1L, 3L, false)))
      assert(rows(Checks.kAnonymity(dd, Seq("qa", "qb"), 1L)) ==
        Seq(Seq(1L, 6L, 3L, 0L, 0L, 1L, 3L, true)))
    }
  }

  test("functionalDependency: holds vs violated; NULL rhs is a value") {
    val d = Seq((1, Some("x")), (1, Some("x")), (2, Some("y")),
      (3, Some("z")), (3, None)) // key 3 maps to both 'z' and NULL → violated
      .toDF("k", "v")
    withPartitionings(d) { dd =>
      assert(rows(Checks.functionalDependency(dd, Seq("k"), "v", "fd")) ==
        Seq(Seq("fd", 3L, 1L, 2L, false)))
      val clean = dd.where(col("v").isNotNull)
      assert(rows(Checks.functionalDependency(clean, Seq("k"), "v", "fd")) ==
        Seq(Seq("fd", 3L, 0L, 1L, true)))
    }
  }

  test("functionalDependency: empty input reports zero groups, holds") {
    val d = Seq((1, "x")).toDF("k", "v").where(col("k") < 0)
    assert(rows(Checks.functionalDependency(d, Seq("k"), "v", "fd")) ==
      Seq(Seq("fd", 0L, 0L, 0L, true)))
  }

  test("quantileBins: sizes differ by at most one, deterministic ties, " +
    "NULLs get NULL bucket without shifting real buckets") {
    // 7 non-null values in one group, k=3 → bucket sizes 3,2,2; two NULL
    // rows must not occupy slots. Values tie at 5 → tie col decides.
    val d = Seq(("g", 5, 1L), ("g", 5, 2L), ("g", 1, 3L), ("g", 9, 4L),
      ("g", 3, 5L), ("g", 7, 6L), ("g", 2, 7L)).toDF("grp", "v", "id")
      .select(col("grp"), col("v").cast("int").as("v"), col("id"))
    val withNulls = d.unionByName(
      Seq(("g", 8L), ("g", 9L)).toDF("grp", "id")
        .select(col("grp"), lit(null).cast("int").as("v"), col("id")))
    withPartitionings(withNulls) { dd =>
      val out = rows(Profile.quantileBins(dd, "grp", "v", 3, Seq("id"))
        .orderBy(col("v").asc_nulls_last, col("id"))
        .select("v", "id", "bucket"))
      // sorted by (v,id): 1,2,3 → b1; 5(id1),5(id2) → b2(5@1), then 5@2,7,9
      // ntile(3) of 7 rows: sizes 3,2,2 → rows 1-3 b1, 4-5 b2, 6-7 b3
      assert(out == Seq(
        Seq(1, 3L, 1L), Seq(2, 7L, 1L), Seq(3, 5L, 1L),
        Seq(5, 1L, 2L), Seq(5, 2L, 2L),
        Seq(7, 6L, 3L), Seq(9, 4L, 3L),
        Seq(null, 8L, null), Seq(null, 9L, null)))
    }
  }

  // ---------------------------------------------------------------- Net

  test("ipv4ToLong: valid quads parse; malformed and out-of-range are NULL") {
    val df = Seq("0.0.0.0", "255.255.255.255", "10.20.30.40", "1.2.3",
      "1.2.3.4.5", "256.1.1.1", "a.b.c.d", "1..2.3", "01.2.3.4")
      .toDF("ip")
    val out = rows(df.select(col("ip"), Net.ipv4ToLong(col("ip"))))
    val m = out.map(r => r(0) -> r(1)).toMap
    assert(m("0.0.0.0") == 0L)
    assert(m("255.255.255.255") == 4294967295L)
    assert(m("10.20.30.40") == 169090600L)
    assert(m("01.2.3.4") == 16909060L) // leading zero tolerated
    Seq("1.2.3", "1.2.3.4.5", "256.1.1.1", "a.b.c.d", "1..2.3")
      .foreach(s => assert(m(s) == null, s))
  }

  test("longToIpv4 inverts ipv4ToLong across the octet space") {
    val df = (0 until 64).map(i => (i * 67108865L + i) % 4294967296L)
      .toDF("v")
    val out = rows(df.select(col("v"),
      Net.ipv4ToLong(Net.longToIpv4(col("v")))))
    out.foreach(r => assert(r(0) == r(1)))
  }

  test("cidrContainJoin: containment, canonical base, /32 and /0 edges") {
    val ips = Seq((1L, "10.1.2.3"), (2L, "10.255.0.1"), (3L, "11.0.0.0"),
      (4L, "192.168.5.5"), (5L, "not an ip")).toDF("id", "ip")
    // 10.9.9.9/8 is sloppy — canonical base must still mean 10.0.0.0/8
    val rules = Seq("10.9.9.9/8", "192.168.5.5/32", "0.0.0.0/0")
      .toDF("cidr")
    withPartitionings(ips) { d =>
      val out = rows(Net.cidrContainJoin(d, "ip", rules, "cidr")
        .select(col("id"), col("cidr")).orderBy("id", "cidr"))
      assert(out == Seq(Seq(1L, "0.0.0.0/0"), Seq(1L, "10.9.9.9/8"),
        Seq(2L, "0.0.0.0/0"), Seq(2L, "10.9.9.9/8"),
        Seq(3L, "0.0.0.0/0"), Seq(4L, "0.0.0.0/0"),
        Seq(4L, "192.168.5.5/32")))
    }
  }

  test("cidrLpmJoin: most-specific rule wins, unmatched rows keep NULLs, " +
    "duplicate-plen ties break by cidr asc") {
    val ips = Seq((1L, "10.1.2.3"), (2L, "192.168.5.5"), (3L, "172.16.0.1"),
      (4L, "not an ip")).toDF("id", "ip")
    // 10.1.2.3 matches /0, /8, /24 -> /24 must win; 192.168.5.5 matches
    // /0 and /32 -> /32; 172.16.0.1 only /0; the two /8 spellings of the
    // same block tie on plen -> lexicographically smaller cidr string
    val rules = Seq("0.0.0.0/0", "10.0.0.0/8", "10.9.9.9/8", "10.1.2.0/24",
      "192.168.5.5/32").toDF("cidr")
    withPartitionings(ips) { d =>
      val out = rows(Net.cidrLpmJoin(d, "ip", rules, "cidr")
        .select(col("id"), col("cidr"), col("plen")).orderBy("id"))
      assert(out == Seq(
        Seq(1L, "10.1.2.0/24", 24),
        Seq(2L, "192.168.5.5/32", 32),
        Seq(3L, "0.0.0.0/0", 0),
        Seq(4L, null, null)))
      // exactly one output row per input row — no match explosion
      assert(Net.cidrLpmJoin(d, "ip", rules, "cidr").count() == 4)
    }
    // tie case isolated: only the two /8 spellings
    val tied = Seq("10.9.9.9/8", "10.0.0.0/8").toDF("cidr")
    val t = rows(Net.cidrLpmJoin(Seq((1L, "10.1.2.3")).toDF("id", "ip"),
      "ip", tied, "cidr"))
    assert(t.head(2) == "10.0.0.0/8")
  }

  test("cidrLpmJoin: hot-bucket routing table (>=10k rules in ONE /8) — " +
    "codegen'd first-match agrees with the all-matches reference") {
    // 16,384 /24 rules all inside 10.0.0.0/8 (a hot routing-table octet),
    // plus /16 and /8 covers — the shape where the round-8 interpreted
    // full-bucket filter() scan was the per-row bottleneck
    val rules = ((0 until 16384).map { i =>
      s"10.${(i >> 6) & 0xff}.${(i & 0x3f) * 4}.0/24"
    } ++ (0 until 256).map(i => s"10.$i.0.0/16") :+ "10.0.0.0/8")
      .toDF("cidr")
    val ips = (0 until 2000).map { i =>
      (i.toLong, s"10.${i % 256}.${(i * 7) % 256}.${(i * 13) % 256}")
    }.toDF("id", "ip")
    val lpm = Net.cidrLpmJoin(ips, "ip", rules, "cidr")
    // the plan carries the native expression, not the interpreted HOF
    assert(lpm.queryExecution.executedPlan.toString.contains("cidr_first_match"),
      "plan does not show the codegen'd first-match expression")
    // reference: all-matches containment join, most-specific (then
    // cidr-asc) winner picked per row
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("plen").desc, col("cidr"))
    val ref = Net.cidrContainJoin(ips, "ip", rules, "cidr")
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
    val got = rows(lpm.select("id", "cidr", "plen").orderBy("id"))
    val want = rows(ref.select(col("id"), col("cidr"), col("plen")).orderBy("id"))
    assert(got == want, "codegen first-match disagrees with all-matches reference")
    assert(lpm.count() == 2000) // still exactly one row per input row
  }

  // ---------------------------------------------------------------- phraseSearch

  test("phraseSearch: adjacency only, overlaps count, order matters") {
    val docs = Seq((1L, "big table hash join"), (2L, "table of hash"),
      (3L, "table hash table hash"), (4L, "hash table")).toDF("id", "text")
    withPartitionings(docs) { d =>
      val out = rows(Index.phraseSearch(d, "id", "text",
        Seq("table", "hash")).orderBy("doc"))
      assert(out == Seq(Seq(1L, 1L), Seq(3L, 2L)))
    }
  }

  test("phraseSearch: three-term phrase and repeated-word overlap") {
    val docs = Seq((1L, "a a a a"), (2L, "a a b")).toDF("id", "text")
    val out = rows(Index.phraseSearch(docs, "id", "text", Seq("a", "a"))
      .orderBy("doc"))
    // "a a a a": positions (0,1),(1,2),(2,3) — overlapping all count
    assert(out == Seq(Seq(1L, 3L), Seq(2L, 1L)))
    val out3 = rows(Index.phraseSearch(docs, "id", "text",
      Seq("a", "a", "b")).orderBy("doc"))
    assert(out3 == Seq(Seq(2L, 1L)))
  }

  // ---------------------------------------------------------------- readability

  test("flesch counts and score on hand-built text") {
    val df = Seq("The cat sat. The dog ran!", "xyz", "").toDF("t")
    val out = rows(df.select(TextAnalysis.wordCount(col("t")),
      TextAnalysis.sentenceCount(col("t")),
      TextAnalysis.syllableCount(col("t")),
      TextAnalysis.fleschScore(col("t"))))
    // "The cat sat. The dog ran!": 6 words, 2 sentences, 6 vowel runs
    // flesch = 206.835 − 1.015·3 − 84.6·1 = 119.19
    assert(out(0) == Seq(6L, 2L, 6L, 119.19))
    // "xyz": 1 word, 1 sentence (floor), 1 vowel run (y)
    assert(out(1) == Seq(1L, 1L, 1L,
      BigDecimal(206.835 - 1.015 - 84.6).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert(out(2) == Seq(0L, 1L, 0L, null))
  }

  // ---------------------------------------------------------------- luhn

  test("sequenceGaps: holes per key; duplicates are not gaps") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 2L), ("a", 5L), ("a", 9L),
      ("b", 3L), ("b", 4L)).toDF("k", "s")
    withPartitionings(df) { d =>
      val out = rows(Checks.sequenceGaps(d, "k", "s")
        .orderBy("key", "gap_start"))
      assert(out == Seq(Seq("a", 3L, 4L, 2L), Seq("a", 6L, 8L, 3L)))
    }
  }

  test("geoHarmMeans: hand values; non-positives excluded not averaged") {
    val df = Seq(("g", 2.0), ("g", 8.0), ("g", 0.0), ("g", -4.0),
      ("h", 5.0)).toDF("k", "v")
    withPartitionings(df) { d =>
      val out = rows(Profile.geoHarmMeans(d, "k", "v").orderBy("g"))
      // g: geo = sqrt(16) = 4 (via rounded lns), harm = 2/(1/2+1/8) = 3.2
      val g = out(0)
      assert(g(0) == "g" && g(1) == 2L && g(2) == 2L)
      assert(math.abs(g(3).asInstanceOf[Double] - 4.0) < 1e-4)
      assert(math.abs(g(4).asInstanceOf[Double] - 3.2) < 1e-9)
      assert(out(1) == Seq("h", 1L, 0L, 5.0, 5.0))
    }
  }

  test("luhnValid: textbook numbers, tampering flips, non-digits NULL") {
    val df = Seq("79927398713", "79927398710", "4539578763621486", "0",
      "59", "x123", "").toDF("s")
    val out = rows(df.select(col("s"), Checks.luhnValid(col("s"))))
    val m = out.map(r => r(0) -> r(1)).toMap
    assert(m("79927398713") == true)   // the canonical Luhn example
    assert(m("79927398710") == false)  // last digit tampered
    assert(m("4539578763621486") == true)
    assert(m("0") == true)
    assert(m("59") == true)            // 5·2=10→1, +9 = 10 ≡ 0
    assert(m("x123") == null)
    assert(m("") == null)
  }

  // ===== DBSCAN =====

  test("dbscan classifies core/border/noise and labels components min-id") {
    // eps=2 (d2<=4), minPts=3: ids 1-3 form a mutual triangle (2 nbrs +
    // self = 3 => core); id 4 touches only core 2 (1 nbr + self = 2 =>
    // border, inherits the component's min id); id 5 is isolated noise.
    val pts = Seq((1L, 0L, 0L), (2L, 1L, 0L), (3L, 0L, 1L),
      (4L, 3L, 0L), (5L, 10L, 10L)).toDF("id", "x", "y")
    val out = rows(Spatial.dbscan(pts, "id", "x", "y", eps = 2L, minPts = 3)
      .orderBy("id")).map(r => (r(0), r(1), r(2)))
    assert(out == Seq((1L, "core", 1L), (2L, "core", 1L), (3L, "core", 1L),
      (4L, "border", 1L), (5L, "noise", null)))
  }

  test("dbscan: isolated core keeps its own id; two components stay apart") {
    // minPts=2: any point with one neighbor is core. Two far-apart pairs
    // => two clusters labeled by their min ids.
    val pts = Seq((10L, 0L, 0L), (11L, 1L, 0L),
      (20L, 100L, 100L), (21L, 101L, 100L)).toDF("id", "x", "y")
    val out = rows(Spatial.dbscan(pts, "id", "x", "y", eps = 2L, minPts = 2)
      .orderBy("id")).map(r => (r(0), r(1), r(2)))
    assert(out == Seq((10L, "core", 10L), (11L, "core", 10L),
      (20L, "core", 20L), (21L, "core", 20L)))
  }

  // ===== drawdown =====

  test("drawdown finds the deepest peak-to-trough gap, earliest trough on ties") {
    val df = Seq(
      ("k", "2024-01-01 00:00:00", 10.0), ("k", "2024-01-02 00:00:00", 8.0),
      ("k", "2024-01-03 00:00:00", 12.0), ("k", "2024-01-04 00:00:00", 5.0),
      ("k", "2024-01-05 00:00:00", 9.0),
      // second key: two days tie at dd=3 -> the EARLIER one reports
      ("t", "2024-02-01 00:00:00", 6.0), ("t", "2024-02-02 00:00:00", 3.0),
      ("t", "2024-02-03 00:00:00", 6.0), ("t", "2024-02-04 00:00:00", 3.0))
      .toDF("k", "ts", "v").withColumn("ts", to_timestamp(col("ts")))
    val out = rows(TimeSeries.drawdown(df, "k", "ts", "v").orderBy("k"))
    assert(out(0) == Seq("k", 5L, 7.0, "2024-01-04", 12.0))
    assert(out(1) == Seq("t", 4L, 3.0, "2024-02-02", 6.0))
  }

  test("drawdown on a monotone series is zero at the first period") {
    val df = Seq(("m", "2024-01-01 00:00:00", 1.0),
      ("m", "2024-01-02 00:00:00", 2.0), ("m", "2024-01-03 00:00:00", 3.0))
      .toDF("k", "ts", "v").withColumn("ts", to_timestamp(col("ts")))
    val out = rows(TimeSeries.drawdown(df, "k", "ts", "v"))
    assert(out == Seq(Seq("m", 3L, 0.0, "2024-01-01", 1.0)))
  }

  // ===== l-diversity =====

  test("lDiversity counts distinct sensitive values per class; NULLs don't count") {
    val df = Seq(
      ("a", "x", "s1"), ("a", "x", "s1"), ("a", "x", "s2"), // class ax: l=2
      ("b", "y", "s1"), ("b", "y", "s2"), ("b", "y", "s3"), // class by: l=3
      ("c", "z", "s1"), ("c", "z", null)                    // class cz: l=1
    ).toDF("q1", "q2", "s")
    val out = rows(Checks.lDiversity(df, Seq("q1", "q2"), "s", 2L)).head
    // l, n_rows, n_classes, classes_below_l, rows_below_l, min, max, diverse
    assert(out == Seq(2L, 8L, 3L, 1L, 2L, 1L, 3L, false))
    val ok = rows(Checks.lDiversity(df, Seq("q1", "q2"), "s", 1L)).head
    assert(ok(7) == true)
  }

  // ===== two-feature OLS =====

  test("linearFit2 recovers exact coefficients on a noiseless plane") {
    // y = 2 + 3*x1 - 4*x2 exactly; (x1, x2) not collinear.
    val df = Seq((1.0, 0.0), (2.0, 1.0), (3.0, 2.0), (4.0, 0.0), (5.0, 1.0),
      (6.0, 3.0)).map { case (x1, x2) => ("g", x1, x2, 2.0 + 3.0 * x1 - 4.0 * x2) }
      .toDF("g", "x1", "x2", "y")
    val out = rows(Profile.linearFit2(df, "g", "x1", "x2", "y")).head
    assert(out(1) == 6L)
    assert(math.abs(out(2).asInstanceOf[Double] - 3.0) < 1e-9)
    assert(math.abs(out(3).asInstanceOf[Double] + 4.0) < 1e-9)
    assert(math.abs(out(4).asInstanceOf[Double] - 2.0) < 1e-9)
    assert(math.abs(out(5).asInstanceOf[Double] - 1.0) < 1e-9)
  }

  test("linearFit2 moments are partition-order independent") {
    val df = (1 to 100).map(i =>
      ("g", i.toDouble, (i % 7).toDouble, 1.5 * i + 0.25 * (i % 7) + (i % 3)))
      .toDF("g", "x1", "x2", "y")
    val base = rows(Profile.linearFit2(df, "g", "x1", "x2", "y"))
    withPartitionings(df) { d =>
      assert(rows(Profile.linearFit2(d, "g", "x1", "x2", "y")) == base)
    }
  }

  // ===== containment join =====

  test("containmentPairs finds directional subset pairs exactly") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),            // contained in 2 fully
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta zeta theta"),             // 2/4 of 1? no overlap enough
      (4L, "unrelated words only here")
    ).toDF("id", "text")
    val out = rows(Dedup.containmentPairs(df, "id", "text", 0.9)
      .orderBy("id1", "id2")).map(r => (r(0), r(1), r(2)))
    // tokens of 1 ⊆ tokens of 2 -> containment 1.0; nothing else >= 0.9
    assert(out == Seq((1L, 2L, 1.0)))
    // direction matters: 2-in-1 is only 4/6 = 0.667, below 0.9 but
    // admitted at a looser threshold
    val loose = rows(Dedup.containmentPairs(df, "id", "text", 0.5)
      .orderBy("id1", "id2")).map(r => (r(0), r(1)))
    assert(loose.contains((2L, 1L)))
    assert(!loose.contains((4L, 1L)) && !loose.contains((1L, 4L)))
  }

  test("containment/jaccard prefix filters keep exact-threshold pairs " +
    "where fl(tau)*m rounds one ulp above the true integer bound") {
    // 0.07 * 100 = 7.000000000000001 in doubles -> bare ceil gives 8,
    // making the candidate stage tighter than the verify (which passes
    // at 7/100 >= fl(0.07)): the pair at EXACTLY the threshold must
    // survive. doc 1: 100 distinct tokens; doc 2 shares exactly 7.
    val t1 = (1 to 100).map(i => s"tok$i").mkString(" ")
    val t2 = ((1 to 7).map(i => s"tok$i") ++
      (1 to 93).map(i => s"other$i")).mkString(" ")
    val df = Seq((1L, t1), (2L, t2)).toDF("id", "text")
    val cont = rows(Dedup.containmentPairs(df, "id", "text", 0.07)
      .orderBy("id1", "id2")).map(r => (r(0), r(1), r(2)))
    assert(cont.contains((1L, 2L, 0.07)), s"got $cont")
    // same boundary for the symmetric Jaccard filter: |∩|=7, |∪|=193
    // is below tau there, so probe with equal-sized sets instead:
    // two 100-token docs sharing 14 tokens -> J = 14/186; use tau such
    // that tau*m is integral: tau=0.07 with m=100 -> size filter needs
    // m2 >= 7 (trivially true); the prefix length must keep >= 94
    // tokens, not 93 — verified by the pair surviving at J >= 0.07.
    val j2 = ((1 to 14).map(i => s"tok$i") ++
      (1 to 86).map(i => s"mine$i")).mkString(" ")
    val j3 = ((1 to 14).map(i => s"tok$i") ++
      (1 to 86).map(i => s"your$i")).mkString(" ")
    val jdf = Seq((1L, j2), (2L, j3)).toDF("id", "text")
    val jac = rows(Dedup.prefixFilterJaccardPairs(jdf, "id", "text", 0.07))
      .map(r => (r(0), r(1)))
    assert(jac == Seq((1L, 2L)), s"got $jac")
  }

  test("containmentPairs shingle mode uses n-gram sets") {
    val df = Seq(
      (1L, "a b c d e"),          // 3-shingles: {a b c, b c d, c d e}
      (2L, "a b c d e f"),        // superset of 1's shingles
      (3L, "x y z w")
    ).toDF("id", "text")
    val out = rows(Dedup.containmentPairs(df, "id", "text", 1.0, shingleWidth = 3)
      .orderBy("id1", "id2")).map(r => (r(0), r(1), r(2)))
    assert(out == Seq((1L, 2L, 1.0)))
  }

  // ===== degree assortativity =====

  test("degreeAssortativity is -1 on a star and positive on a clique chain") {
    // star K1,4: every edge joins deg-4 hub to deg-1 leaf -> r = -1
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("s", "d")
    val r1 = rows(Graph.degreeAssortativity(star, "s", "d")).head
    assert(r1(0) == 4L)
    assert(math.abs(r1(2).asInstanceOf[Double] + 1.0) < 1e-9)
    // self-loops and duplicate/reversed edges are dropped
    val noisy = star.unionAll(Seq((1L, 0L), (2L, 2L), (0L, 1L)).toDF("s", "d"))
    val r2 = rows(Graph.degreeAssortativity(noisy, "s", "d")).head
    assert(r2(0) == 4L)
    assert(math.abs(r2(2).asInstanceOf[Double] + 1.0) < 1e-9)
  }

  // ===== bollinger =====

  test("bollinger: constant series has sd 0 and no breakouts; a spike breaks out") {
    val base = (1 to 10).map(i =>
      ("k", f"2024-01-$i%02d 00:00:00", 100.0))
    val spike = Seq(("k", "2024-01-11 00:00:00", 500.0))
    val df = (base ++ spike).toDF("k", "ts", "v")
      .withColumn("ts", to_timestamp(col("ts")))
    // the window INCLUDES the spike, so a lone outlier's z-score is
    // bounded by (n-1)/sqrt(n) = 1.79 in a 5-window — band mult must sit
    // below that for a single-point breakout to be detectable
    val out = rows(TimeSeries.bollinger(df, "k", "ts", "v", window = 5, mult = 1.5)
      .orderBy("day"))
    // first ten days: mean 100, sd 0, inside the (degenerate) band
    out.take(10).foreach { r =>
      assert(r(4) == 100.0 && r(5) == 0.0 && r(8) == false)
    }
    // the spike day: window mean > 100, sd > 0, and v = 500 breaks out
    val last = out.last
    assert(last(2) == 500.0)
    assert(last(5).asInstanceOf[Double] > 0.0)
    assert(last(8) == true)
    // window never exceeds 5 rows
    assert(out.forall(_(3).asInstanceOf[Long] <= 5L))
  }

  // ===== phonetic code =====

  test("phoneticCode matches the textbook Soundex table (sans H/W rule)") {
    val df = Seq("Robert", "Rupert", "Tymczak", "Pfister", "Jackson",
      "Washington", "karl", "carl", "a", "", "123").toDF("w")
    val out = rows(df.select(col("w"),
      TextAnalysis.phoneticCode(col("w")).as("c"))).map(r => r(0) -> r(1)).toMap
    assert(out("Robert") == "R163" && out("Rupert") == "R163")
    assert(out("Tymczak") == "T522")
    assert(out("Pfister") == "P236")
    assert(out("Jackson") == "J250")
    assert(out("Washington") == "W252")
    // phonetically equal but different first letter -> different codes
    assert(out("karl") == "K640" && out("carl") == "C640")
    assert(out("a") == "A000")
    assert(out("") == null)
    assert(out("123") == null)
  }

  test("phoneticPairs blocks spelling variants, not cross-letter twins") {
    val df = Seq("smith", "smyth", "karl", "carl", "smith").toDF("w")
    val out = rows(TextAnalysis.phoneticPairs(df, "w")).map(r => (r(1), r(2)))
    assert(out == Seq(("smith", "smyth")))
  }

  // ===== silhouette =====

  test("silhouetteSimplified scores well-separated clusters near 1") {
    val vecs = Seq(
      (1L, Array(0.0f, 0.01f), 0), (3L, Array(0.02f, 0.0f), 0),
      (2L, Array(5.0f, 5.01f), 1), (4L, Array(5.02f, 5.0f), 1))
    val df = vecs.toDF("vec_id", "embedding", "label")
    val out = rows(Similarity.silhouetteSimplified(df, "vec_id", "embedding",
      k = 2, iters = 2).orderBy("cid"))
    assert(out.map(_(1)) == Seq(2L, 2L))
    out.foreach { r =>
      val m = r(2).asInstanceOf[Double]
      assert(m > 0.9 && m <= 1.0, s"expected tight clusters, got $m")
    }
  }

  // ===== kNN classification =====

  test("knnClassify takes the majority label, ties to the smaller label") {
    // angles cluster: queries near (1, 0); three label-0 neighbors closer
    // than the two label-1 ones
    val pts = Seq(
      (100L, Array(1.0f, 0.0f), 0),   // query
      (1L, Array(1.0f, 0.05f), 0), (2L, Array(1.0f, -0.05f), 0),
      (3L, Array(1.0f, 0.1f), 0),
      (4L, Array(0.0f, 1.0f), 1), (5L, Array(-1.0f, 0.2f), 1))
    val df = pts.toDF("vec_id", "embedding", "label")
    val out = rows(Similarity.knnClassify(df, "vec_id", "embedding", "label",
      df.where(col("vec_id") === 100L), k = 5))
    assert(out.size == 1)
    val r = out.head
    assert(r(0) == 100L && r(1) == 0 && r(2) == 0)
    assert(r(3) == 3L)      // three label-0 votes of the five neighbors
    assert(r(4) == true)
  }

  // ===== decile lift =====

  test("decileLift: top decile captures all positives, overall lift is 1") {
    val df = (1 to 100).map(i => (i.toLong, i.toDouble, i > 90))
      .toDF("id", "score", "pos")
    val out = rows(Scoring.decileLift(df, "score", col("pos"), "id")
      .orderBy("bucket"))
    assert(out.size == 10)
    assert(out.forall(_(1) == 10L)) // equal-count bins
    val first = out.head
    assert(first(2) == 10L && first(3) == 1.0)
    assert(math.abs(first(4).asInstanceOf[Double] - 10.0) < 1e-9)
    assert(math.abs(out.last(4).asInstanceOf[Double] - 1.0) < 1e-9)
    // all-tied scores still bucket deterministically via the tie column
    val tied = (1 to 40).map(i => (i.toLong, 1.0, i <= 4)).toDF("id", "score", "pos")
    val t = rows(Scoring.decileLift(tied, "score", col("pos"), "id", buckets = 4)
      .orderBy("bucket"))
    assert(t.map(_(1)) == Seq(10L, 10L, 10L, 10L))
    assert(t.head(2) == 4L && t.drop(1).forall(_(2) == 0L))
  }

  // ===== interval gaps =====

  test("intervalGaps reports only strictly positive holes between islands") {
    val iv = Seq(
      ("u", 0L, 10L), ("u", 5L, 12L),   // merge into [0,12]
      ("u", 12L, 15L),                  // touching -> same island, no gap
      ("u", 20L, 25L),                  // gap (15, 20)
      ("u", 40L, 41L),                  // gap (25, 40)
      ("v", 0L, 1L)                     // single island -> no gaps
    ).toDF("k", "s", "e")
    val out = rows(Events.intervalGaps(iv, Seq("k"), "s", "e")
      .orderBy("k", "gap_start")).map(r => (r(0), r(1), r(2), r(3)))
    assert(out == Seq(("u", 15L, 20L, 5L), ("u", 25L, 40L, 15L)))
  }

  // ===== diversity =====

  test("diversityIndices: monopoly vs even split") {
    val df = Seq(("m", "a"), ("m", "a"), ("m", "a"),
      ("e", "x"), ("e", "y"), ("e", "z")).toDF("g", "v")
    val out = rows(Profile.diversityIndices(df, "g", "v").orderBy("g"))
    val even = out.head // "e"
    assert(even(1) == 3L && even(2) == 3L)
    assert(math.abs(even(3).asInstanceOf[Double] - 1.0 / 3) < 1e-12)
    assert(math.abs(even(5).asInstanceOf[Double] - 1.0 / 3) < 1e-12)
    val mono = out.last // "m"
    assert(mono(2) == 1L && mono(3) == 1.0 && mono(4) == 0.0 && mono(5) == 1.0)
  }

  // ===== runs test =====

  test("runsTest: alternating sequence maximizes runs, blocked minimizes") {
    // DISTINCT values (a binary series collapses onto the lower median
    // and loses half its points to the tie-drop rule): odd i low, even i
    // high -> the med value (9, at i=9) drops, leaving 9 signed points
    // alternating except the final ++ -> runs = 8
    val alt = (1 to 10).map(i =>
      ("alt", i.toLong, if (i % 2 == 0) 10.0 + i else i.toDouble))
    // ascending 1..10 -> v=5 is the dropped median, signs ----+++++ -> 2
    val blk = (1 to 10).map(i => ("blk", i.toLong, i.toDouble))
    val df = (alt ++ blk).toDF("g", "t", "v")
    val out = rows(Profile.runsTest(df, "g", "t", "t", "v").orderBy("g"))
    val a = out.head
    assert(a(1) == 5L && a(2) == 4L && a(3) == 8L)
    assert(a(4).asInstanceOf[Double] > 1.5)   // more runs than random
    val b = out.last
    assert(b(1) == 5L && b(2) == 4L && b(3) == 2L)
    assert(b(4).asInstanceOf[Double] < -2.0)  // far fewer runs than random
    // degenerate: all values equal the median -> dropped, zero-row group
    val const = Seq(("c", 1L, 5.0), ("c", 2L, 5.0)).toDF("g", "t", "v")
    assert(rows(Profile.runsTest(const, "g", "t", "t", "v")).isEmpty)
  }

  // ===== seasonal decomposition =====

  test("seasonalDecompose: v = trend + seasonal + residual within rounding") {
    val df = (0 until 28).map { i =>
      // weekly pattern + linear trend
      val base = 100.0 + i * 2.0 + Seq(0.0, 5.0, -3.0, 1.0, 4.0, -2.0, -5.0)(i % 7)
      ("k", f"2024-01-${i + 1}%02d 12:00:00", base)
    }.toDF("k", "ts", "v").withColumn("ts", to_timestamp(col("ts")))
    val out = rows(TimeSeries.seasonalDecompose(df, "k", "ts", "v"))
    assert(out.size == 28)
    out.foreach { r =>
      val (v, trend, seasonal, residual) = (r(3).asInstanceOf[Double],
        r(4).asInstanceOf[Double], r(5).asInstanceOf[Double],
        r(6).asInstanceOf[Double])
      assert(math.abs(v - (trend + seasonal + residual)) < 1e-5,
        s"additivity broken: $v vs ${trend + seasonal + residual}")
    }
  }

  // ===== burstiness =====

  test("burstiness: metronome -> -1, bursty pair -> positive") {
    def ts(sec: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(sec))
    // regular: gaps all 60 s -> sd 0 -> B = -1, cv = 0
    val reg = (0 to 5).map(i => ("reg", ts(i * 60L), i.toLong))
    // bursty: two tight bursts far apart -> sd > mean -> B > 0
    val bur = Seq(0L, 1L, 2L, 1000L, 1001L, 1002L).zipWithIndex
      .map { case (sec, i) => ("bur", ts(sec), i.toLong) }
    val df = (reg ++ bur).toDF("k", "ts", "tie")
    val out = rows(Events.burstiness(df, Seq("k"), "ts", "tie").orderBy("k"))
    val b = out.head
    assert(b(1) == 5L)
    // B is bounded by (sqrt(n-1)-1)/(sqrt(n-1)+1) = 1/3 for 5 gaps with
    // one dominant gap; 0.33 IS the extreme-burst reading at this n
    assert(b(5).asInstanceOf[Double] > 0.3)
    val r = out.last
    assert(r(2) == 60000000.0 && r(3) == 0.0 && r(4) == 0.0)
    assert(r(5).asInstanceOf[Double] == -1.0)
    // a two-event key (one gap) is dropped
    val tiny = Seq(("t", ts(0L), 0L), ("t", ts(9L), 1L)).toDF("k", "ts", "tie")
    assert(rows(Events.burstiness(tiny, Seq("k"), "ts", "tie")).isEmpty)
  }

  // ===== breakpoint =====

  test("breakpoint finds the level shift, earliest split on flat series") {
    val step = (1 to 10).map { i =>
      ("s", f"2024-03-$i%02d 00:00:00", if (i <= 6) 10.0 else 50.0)
    }
    val flat = (1 to 4).map(i => ("f", f"2024-03-$i%02d 00:00:00", 7.0))
    val df = (step ++ flat).toDF("k", "ts", "v")
      .withColumn("ts", to_timestamp(col("ts")))
    val out = rows(TimeSeries.breakpoint(df, "k", "ts", "v").orderBy("k"))
    val f = out.head
    // flat: every split has equal SS -> earliest split (t=1) wins
    assert(f(1) == 4L && f(2) == "2024-03-02")
    assert(f(3) == 7.0 && f(4) == 7.0 && f(5) == 0.0)
    val st = out.last
    assert(st(1) == 10L && st(2) == "2024-03-07")
    assert(st(3) == 10.0 && st(4) == 50.0 && st(5) == 40.0)
  }

  // ===== interpolation =====

  test("interpolateLinear: straight line through gaps, NULL edges") {
    val df = Seq(
      ("k", "2024-01-02 00:00:00", 10.0), // day 2 observed
      ("k", "2024-01-05 00:00:00", 40.0), // days 3,4 interpolated
      ("k", "2024-01-06 00:00:00", 100.0)
    ).toDF("k", "ts", "v").withColumn("ts", to_timestamp(col("ts")))
    val out = rows(TimeSeries.interpolateLinear(df, "k", "ts", "v")
      .orderBy("bucket")).map(r => (r(2), r(3), r(4)))
    assert(out == Seq(
      (1L, 10.0, "observed"),
      (0L, 20.0, "interpolated"),
      (0L, 30.0, "interpolated"),
      (1L, 40.0, "observed"),
      (1L, 100.0, "observed")))
  }

  // ===== Cohen's d =====

  test("cohensD recovers the standardized difference on a hand case") {
    // arm A: 1..5 (mean 3, var 2.5); arm B: 3..7 (mean 5, var 2.5)
    // pooled sd = sqrt(2.5), d = -2/sqrt(2.5)
    val df = ((1 to 5).map(v => ("A", v.toDouble)) ++
      (3 to 7).map(v => ("B", v.toDouble))).toDF("g", "v")
    val r = rows(Profile.cohensD(df, "g", "v", "A", "B")).head
    assert(r(0) == 5L && r(1) == 5L)
    assert(math.abs(r(2).asInstanceOf[Double] - 3.0) < 1e-12)
    assert(math.abs(r(3).asInstanceOf[Double] - 5.0) < 1e-12)
    assert(math.abs(r(4).asInstanceOf[Double] - math.sqrt(2.5)) < 1e-12)
    val d = r(5).asInstanceOf[Double]
    assert(math.abs(d + 2.0 / math.sqrt(2.5)) < 1e-12)
    assert(math.abs(r(6).asInstanceOf[Double] - d * (1.0 - 3.0 / 31.0)) < 1e-12)
  }

  // ===== Benjamini-Hochberg =====

  test("benjaminiHochberg applies the step-up rule") {
    // m=10, q=0.1, thresholds k/100: ranks 2 and 3 FAIL their own
    // thresholds (.031 > .02, .032 > .03) but rank 4 passes (.038 <=
    // .04) -> the STEP-UP rule flags all four; nothing beyond.
    val ps = Seq(0.001, 0.031, 0.032, 0.038, 0.5, 0.6, 0.7,
      0.8, 0.9, 0.95).zipWithIndex.map { case (p, i) => (i.toLong, p) }
    val df = ps.toDF("id", "p")
    val out = rows(Checks.benjaminiHochberg(df, "id", "p", 0.1).orderBy("rank"))
    assert(out.map(_(4)) == Seq(true, true, true, true, false,
      false, false, false, false, false))
    // no rank qualifies -> nothing significant
    val none = Seq((1L, 0.5), (2L, 0.9)).toDF("id", "p")
    assert(rows(Checks.benjaminiHochberg(none, "id", "p", 0.05))
      .forall(_(4) == false))
    // p = k*q/m boundary is INCLUSIVE
    val edge = Seq((1L, 0.05)).toDF("id", "p")
    assert(rows(Checks.benjaminiHochberg(edge, "id", "p", 0.05)).head(4) == true)
  }

  // ===== rolling / cross correlation =====

  test("rollingCorr tracks a perfect linear relation at 1, breaks on noise") {
    val df = (1 to 10).map { i =>
      ("k", f"2024-02-$i%02d 00:00:00", i.toDouble, 2.0 * i + 1)
    }.toDF("k", "ts", "x", "y").withColumn("ts", to_timestamp(col("ts")))
    val out = rows(TimeSeries.rollingCorr(df, "k", "ts", "x", "y", window = 5)
      .orderBy("day"))
    // first row: single point -> NULL; afterwards perfect correlation
    assert(out.head(3) == null)
    out.drop(1).foreach { r =>
      assert(math.abs(r(3).asInstanceOf[Double] - 1.0) < 1e-9)
    }
    // constant y -> zero variance -> NULL everywhere
    val const = df.withColumn("y", lit(5.0))
    assert(rows(TimeSeries.rollingCorr(const, "k", "ts", "x", "y", 5))
      .forall(_(3) == null))
  }

  test("crossCorrLags peaks at the true shift") {
    // y_t = x_{t-2}: corr(x_t, y_{t+lag}) is perfect at lag = +2
    val xs = Seq(1.0, 5.0, 2.0, 8.0, 3.0, 9.0, 4.0, 7.0, 6.0, 2.5,
      8.5, 1.5, 9.5, 3.5)
    val df = xs.zipWithIndex.flatMap { case (x, i) =>
      val y = if (i >= 2) xs(i - 2) else 0.0
      Seq(("k", f"2024-02-${i + 1}%02d 00:00:00", x, y))
    }.toDF("k", "ts", "x", "y").withColumn("ts", to_timestamp(col("ts")))
    val out = rows(TimeSeries.crossCorrLags(df, "k", "ts", "x", "y", maxLag = 3)
      .orderBy("lag")).map(r => r(1).asInstanceOf[Long] ->
        Option(r(3)).map(_.asInstanceOf[Double]).getOrElse(Double.NaN)).toMap
    assert(math.abs(out(2L) - 1.0) < 1e-9, s"lag 2 should be perfect: $out")
    assert(out.keySet == Set(-3L, -2L, -1L, 0L, 1L, 2L, 3L))
    assert(out(0L) < 0.99) // unshifted is not the peak
  }

  // ===== weighted OLS =====

  test("weightedLinearFit recovers the line and honors weights") {
    // exact line: weights irrelevant when the fit is perfect
    val line = (1 to 6).map(i => ("g", i.toDouble, 3.0 * i + 2, 1.0 + (i % 3)))
      .toDF("g", "x", "y", "w")
    val r = rows(Profile.weightedLinearFit(line, "g", "x", "y", "w")).head
    assert(math.abs(r(3).asInstanceOf[Double] - 3.0) < 1e-9)
    assert(math.abs(r(4).asInstanceOf[Double] - 2.0) < 1e-9)
    // zero-weight outlier must not tilt the fit
    val out = line.unionAll(Seq(("g", 100.0, -500.0, 0.0)).toDF("g", "x", "y", "w"))
    val r2 = rows(Profile.weightedLinearFit(out, "g", "x", "y", "w")).head
    assert(math.abs(r2(3).asInstanceOf[Double] - 3.0) < 1e-9)
  }

  // ===== 2-D histogram =====

  test("histogram2d conserves mass across under/over/NULL cells") {
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (0.5, 5.0),   // x underflow
      (99.0, 5.0),  // x overflow
      (5.0, -1.0),  // y underflow
      (5.0, 5.0), (5.0, 5.0), (9.9, 9.9),
      (null, 5.0), (5.0, null)).toDF("x", "y")
    val out = rows(Profile.histogram2d(df, "x", "y",
      xLo = 1.0, xHi = 10.0, nx = 2, yLo = 0.0, yHi = 10.0, ny = 2))
    assert(out.map(_(2).asInstanceOf[Long]).sum == 8L) // mass conserved
    val m = out.map(r => (r(0), r(1)) -> r(2)).toMap
    assert(m((null, null)) == 2L)
    assert(m((-1L, 1L)) == 1L)     // x underflow keeps its y bucket
    assert(m((2L, 1L)) == 1L)      // x overflow
    assert(m((0L, -1L)) == 1L)     // y underflow
    assert(m((0L, 1L)) == 2L)      // (5,5) twice: x bin [1,5.5), y bin [5,10)
    assert(m((1L, 1L)) == 1L)      // (9.9,9.9)
  }

  // ===== Spearman =====

  test("spearmanCorr is 1 on any monotone map and tie-consistent") {
    // y = x^3 is monotone but nonlinear: Pearson < 1, Spearman = 1
    val df = (1 to 20).map(i => ("g", i.toDouble, math.pow(i, 3)))
      .toDF("g", "x", "y")
    val r = rows(Profile.spearmanCorr(df, "g", "x", "y")).head
    assert(r(1) == 20L)
    assert(math.abs(r(2).asInstanceOf[Double] - 1.0) < 1e-12)
    // anti-monotone -> -1
    val neg = df.withColumn("y", -col("y"))
    val rn = rows(Profile.spearmanCorr(neg, "g", "x", "y")).head
    assert(math.abs(rn(2).asInstanceOf[Double] + 1.0) < 1e-12)
    // ties: all-x-equal has zero rank variance -> NaN guard is the
    // caller's concern; a half-tied series still computes
    val tied = (1 to 10).map(i => ("g", (i / 2).toDouble, i.toDouble))
      .toDF("g", "x", "y")
    val rt = rows(Profile.spearmanCorr(tied, "g", "x", "y")).head
    assert(rt(2).asInstanceOf[Double] > 0.9)
  }

  test("spearmanCorr matches the closed form on distinct ranks") {
    // no ties: rho = 1 - 6*sum(d^2)/(n(n^2-1))
    val pairs = Seq((1, 3), (2, 1), (3, 4), (4, 2), (5, 5))
    val df = pairs.map { case (x, y) => ("g", x.toDouble, y.toDouble) }
      .toDF("g", "x", "y")
    val d2 = pairs.map { case (x, y) => (x - y) * (x - y) }.sum
    val expected = 1.0 - 6.0 * d2 / (5.0 * 24.0)
    val r = rows(Profile.spearmanCorr(df, "g", "x", "y")).head
    assert(math.abs(r(2).asInstanceOf[Double] - expected) < 1e-12)
  }

  // ===== partial correlation =====

  test("partialCorr removes a common driver") {
    // x and y both driven by z plus independent deterministic wiggles:
    // raw r_xy is high, partial r_xy.z collapses toward 0
    val df = (1 to 200).map { i =>
      val z = i.toDouble
      val x = 2.0 * z + (i % 7)
      val y = 3.0 * z + ((i * 3) % 11)
      ("g", x, y, z)
    }.toDF("g", "x", "y", "z")
    val r = rows(Profile.partialCorr(df, "g", "x", "y", "z")).head
    assert(r(2).asInstanceOf[Double] > 0.99)           // raw correlation
    assert(math.abs(r(5).asInstanceOf[Double]) < 0.3,  // partial collapses
      s"partial_r should shrink, got ${r(5)}")
  }

  // ===== CUPED =====

  test("cupedAdjust: theta matches cov/var and adjustment preserves the grand mean") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    // 6 users; pre on days 1-15, post on days 16-30; deterministic values
    val rws = (1L to 6L).flatMap { u =>
      Seq((u, ts(3), u * 10.0),             // pre
          (u, ts(20), u * 10.0 + (u % 3)))  // post correlated with pre
    }
    val df = rws.toDF("user_id", "ts", "value")
    val out = rows(Profile.cupedAdjust(df, "user_id", "ts", "value",
      "2024-01-16 00:00:00", pmod(col("user_id"), lit(2L))).orderBy("arm"))
    assert(out.size == 2)
    val theta = out.head(4).asInstanceOf[Double]
    // hand moments: pre = 10u, post = 10u + (u%3)
    val pre = (1 to 6).map(_ * 10.0)
    val post = (1 to 6).map(u => u * 10.0 + (u % 3))
    val n = 6.0
    val cov = n * pre.zip(post).map { case (a, b) => a * b }.sum -
      pre.sum * post.sum
    val vx = n * pre.map(a => a * a).sum - pre.sum * pre.sum
    assert(math.abs(theta - cov / vx) < 1e-9)
    // grand adjusted mean equals grand post mean (weighted by arm sizes)
    val gm = out.map(r => r(1).asInstanceOf[Long] * r(2).asInstanceOf[Double]).sum / 6.0
    val ga = out.map(r => r(1).asInstanceOf[Long] * r(3).asInstanceOf[Double]).sum / 6.0
    assert(math.abs(gm - ga) < 1e-9)
    // var_reduction = r^2 in [0, 1]
    val vr = out.head(5).asInstanceOf[Double]
    assert(vr >= 0.0 && vr <= 1.0)
    // arm assignment is the caller's armExpr, not id parity: flipping
    // the parity flips which users land in each arm
    val flipped = rows(Profile.cupedAdjust(df, "user_id", "ts", "value",
      "2024-01-16 00:00:00", lit(1L) - pmod(col("user_id"), lit(2L)))
      .orderBy("arm"))
    assert(flipped.map(r => (r(0), r(1))) == out.map(r => (r(0), r(1))))
    assert(flipped.head(2) == out(1)(2) && flipped(1)(2) == out.head(2))
  }

  // ===== distributed prefix offsets =====

  test("prefixOffsets equals the naive global window on any cardinality") {
    val counts = (1 to 500).map(i => (i.toDouble / 7.0, (i % 3 + 1).toLong))
      .toDF("v", "c")
    for (asc <- Seq(true, false)) {
      val got = rows(Profile.prefixOffsets(counts, "v", "c", asc)
        .orderBy("v")).map(r => (r(0), r(1)))
      val naive = {
        val rs = rows(counts.orderBy(if (asc) col("v").asc else col("v").desc))
        var acc = 0L
        rs.map { r =>
          val out = (r(0), acc); acc += r(1).asInstanceOf[Long]; out
        }.sortBy(_._1.asInstanceOf[Double])
      }
      assert(got == naive, s"asc=$asc")
    }
  }

  test("prefixFold: multi-aggregate (sum+max) exclusive fold equals naive " +
    "in both directions under any partitioning") {
    val df = (1 to 400).map(i =>
      ((i * 37) % 101, (i % 7 + 1).toLong, (i * 13 % 50).toLong))
      .toDF("v", "c", "m")
    for (asc <- Seq(true, false)) {
      val ord = if (asc) col("v").asc else col("v").desc
      withPartitionings(df) { d =>
        val got = rows(Profile.prefixFold(d, Seq(ord, col("c").asc, col("m").asc),
          Seq(Profile.PrefixSum(col("c"), "ps"),
            Profile.PrefixMax(col("m"), "pm")))
          .orderBy("v", "c", "m"))
          .map(r => (r(0), r(1), r(2), r(3), r(4)))
        val sorted = rows(df.orderBy(ord, col("c").asc, col("m").asc))
        var accS: Option[Long] = None
        var accM: Option[Long] = None
        val naive = sorted.map { r =>
          val out = (r(0), r(1), r(2),
            accS.map(_.asInstanceOf[AnyRef]).orNull,
            accM.map(_.asInstanceOf[AnyRef]).orNull)
          accS = Some(accS.getOrElse(0L) + r(1).asInstanceOf[Long])
          accM = Some(math.max(accM.getOrElse(Long.MinValue), r(2).asInstanceOf[Long]))
          out
        }
        val gotSorted = got.sortBy(t =>
          (t._1.asInstanceOf[Int] * (if (asc) 1 else -1),
            t._2.asInstanceOf[Long], t._3.asInstanceOf[Long]))
        assert(gotSorted == naive, s"asc=$asc")
      }
    }
  }

  test("rowPositions equals row_number and groupedRowPositions equals the " +
    "per-group window; ntileAt equals ntile()") {
    val df = (1 to 300).map(i =>
      (s"g${i % 3}", (i * 37) % 40, i.toLong)).toDF("g", "v", "id")
    withPartitionings(df) { d =>
      // global
      val got = rows(Profile.rowPositions(d, "pos",
        col("v").asc, col("id").asc).orderBy("id")).map(r => (r(2), r(3)))
      val want = rows(df.withColumn("pos",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("v").asc, col("id").asc))
          .cast("long") - 1).orderBy("id")).map(r => (r(2), r(3)))
      assert(got == want)
      // per group
      val gotG = rows(Profile.groupedRowPositions(d, Seq(col("g")), "pos",
        col("v").asc, col("id").asc).orderBy("id")).map(r => (r(2), r(3)))
      val wantG = rows(df.withColumn("pos",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("g")
          .orderBy(col("v").asc, col("id").asc)).cast("long") - 1)
        .orderBy("id")).map(r => (r(2), r(3)))
      assert(gotG == wantG)
    }
    // NULL group keys keep their rows and form their own partition —
    // exactly Window.partitionBy semantics (round-9 ADVICE fix: the
    // fix-up joins are null-safe, so no row is silently dropped)
    val withNull = (1 to 90).map(i =>
      (if (i % 3 == 0) null else s"g${i % 3}", (i * 37) % 40, i.toLong))
      .toDF("g", "v", "id")
    val gotN = rows(Profile.groupedRowPositions(withNull, Seq(col("g")), "pos",
      col("v").asc, col("id").asc).orderBy("id")).map(r => (r(2), r(3)))
    val wantN = rows(withNull.withColumn("pos",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("g")
        .orderBy(col("v").asc, col("id").asc)).cast("long") - 1)
      .orderBy("id")).map(r => (r(2), r(3)))
    assert(gotN == wantN, "NULL-group rows lost or mis-positioned")
    val binsN = rows(Profile.quantileBins(withNull, "g", "v", 3, Seq("id"))
      .orderBy("id")).map(r => (r(2), r(3)))
    val binsW = rows(withNull.withColumn("bucket",
      ntile(3).over(org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("v").asc, col("id").asc)).cast("long"))
      .orderBy("id")).map(r => (r(2), r(3)))
    assert(binsN == binsW, "NULL-group quantile bins diverge from ntile()")
    // ntileAt vs the window function, uneven n/k included
    for (n <- Seq(1, 4, 5, 7, 300); k <- Seq(1, 3, 5, 7)) {
      val d2 = (1L to n.toLong).toDF("id")
      val got = rows(Profile.rowPositions(d2, "p", col("id").asc)
        .withColumn("b", Profile.ntileAt(col("p"), lit(n.toLong), k))
        .orderBy("id")).map(_(2))
      val want = rows(d2.withColumn("b",
        ntile(k).over(org.apache.spark.sql.expressions.Window
          .orderBy("id")).cast("long"))
        .orderBy("id")).map(_(1))
      assert(got == want, s"n=$n k=$k")
    }
  }

  // ===== Cronbach =====

  test("cronbachAlpha: duplicated item -> high alpha; independent -> low") {
    // three near-identical items (perfectly correlated)
    val same = (1 to 50).map(i =>
      ("g", i.toDouble, i.toDouble + 1, i.toDouble * 1.0 + 2))
      .toDF("g", "a", "b", "c")
    val r1 = rows(Profile.cronbachAlpha(same, "g", Seq("a", "b", "c"))).head
    assert(math.abs(r1(5).asInstanceOf[Double] - 1.0) < 1e-9)
    // independent-ish items: alpha well below 1
    val ind = (1 to 60).map(i =>
      ("g", (i % 3).toDouble, ((i * 7) % 5).toDouble, ((i * 11) % 4).toDouble))
      .toDF("g", "a", "b", "c")
    val r2 = rows(Profile.cronbachAlpha(ind, "g", Seq("a", "b", "c"))).head
    assert(r2(5).asInstanceOf[Double] < 0.5)
  }

  // ===== Mahalanobis =====

  test("mahalanobis2d flags the joint outlier a univariate fence misses") {
    // x and y strongly correlated; one point with ORDINARY margins but
    // an impossible combination (high x, low y)
    val base = (1 to 100).map(i => ("g", i.toLong, 50.0 + (i % 21), 50.0 + (i % 21)))
    val odd = Seq(("g", 999L, 70.0, 50.0)) // both values in range, combo off
    val df = (base ++ odd).toDF("g", "id", "x", "y")
    val out = rows(Profile.mahalanobis2d(df, "g", "x", "y", Seq("id"), 9.0))
    assert(out.map(_(1)).contains(999L), s"joint outlier missed: $out")
    // and it is the TOP outlier
    val top = out.maxBy(_(4).asInstanceOf[Double])
    assert(top(1) == 999L)
  }

  // ===== Zipf =====

  test("zipfFit recovers the exponent of a constructed power law") {
    // word w_r appears ceil(1000 / r) times: exponent 1 by construction
    val words = (1 to 50).flatMap(r => Seq.fill(1000 / r)(f"w$r%03d"))
    val df = Seq(words.mkString(" ")).toDF("text")
    val r = rows(Scoring.zipfFit(df, "text")).head
    assert(r(0) == 50L)
    val expo = r(5).asInstanceOf[Double]
    assert(expo > 0.9 && expo < 1.1, s"expected ~1, got $expo")
    assert(r(4).asInstanceOf[Double] > 0.99) // near-perfect log-log line
  }

  // ===== forecast eval =====

  test("forecastErrors: perfect weekly seasonality -> zero errors") {
    val df = (0 until 28).map { i =>
      ("k", f"2024-01-${i + 1}%02d 00:00:00", 100.0 + 10 * (i % 7))
    }.toDF("k", "ts", "v").withColumn("ts", to_timestamp(col("ts")))
    val r = rows(TimeSeries.forecastErrors(df, "k", "ts", "v", 7)).head
    assert(r(1) == 21L) // 28 days minus the 7-day warmup
    assert(r(2) == 0.0 && r(3) == 0.0 && r(4) == 0.0 && r(5) == 0.0)
    // a level shift makes every metric positive
    val shifted = (0 until 28).map { i =>
      ("k", f"2024-01-${i + 1}%02d 00:00:00",
        (if (i < 14) 100.0 else 200.0) + 10 * (i % 7))
    }.toDF("k", "ts", "v").withColumn("ts", to_timestamp(col("ts")))
    val r2 = rows(TimeSeries.forecastErrors(shifted, "k", "ts", "v", 7)).head
    assert(r2(2).asInstanceOf[Double] > 0.0)
    assert(r2(3).asInstanceOf[Double] >= r2(2).asInstanceOf[Double]) // rmse >= mae
  }

  // ===== TIFF pixels =====

  test("TIFF pixels decode and cross-format dHash matches PNG twin") {
    val seed = "pixel-seed-bytes!".getBytes("US-ASCII")
    val t = Multimodal.encodeTiffRgb(16, 16, seed)
    val p = Multimodal.decodeTiffPixels(t)
    assert(p.isDefined)
    val (fmt, w, h, px) = p.get
    assert(fmt == "image/tiff" && w == 16 && h == 16 && px.length == 768)
    // same pixels as the BMP encoder's seed cycling? TIFF stores raw
    // seed-cycled RGB rows — identical bytes to PPM payload pixels
    val ppm = Multimodal.decodePpmPixels(Multimodal.encodePpm6(16, 16, seed)).get
    assert(px.toSeq == ppm._4.toSeq)
    // dispatch: decodePixelsRgb routes TIFF, and the perceptual hash of
    // the TIFF equals the PNG twin's (SAME pixels, zero shared payload
    // bytes) — cross-format image dedup
    assert(Multimodal.decodePixelsRgb(t).map(_._4.toSeq) == Some(px.toSeq))
    val png = Multimodal.encodePng(16, 16, seed)
    val hT = Multimodal.dhash64(16, 16, px)
    val pngPx = Multimodal.decodePngPixels(png).get
    val hP = Multimodal.dhash64(16, 16, pngPx._4)
    assert(hT == hP)
  }

  // ===== raw-file multimodal ingest =====

  test("ingestBinaryFiles reads raw media files; glob prunes at listing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest")
    val seed = "ingest-seed!".getBytes("US-ASCII")
    def put(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(dir.resolve(name), bytes)
    put("a.png", Multimodal.encodePng(8, 8, seed))
    put("b.bmp", Multimodal.encodeBmp24(4, 4, seed))
    put("c.wav", Multimodal.encodeWavPcm16(1, 8000, 16, seed))
    put("skip.txt", "not media".getBytes("US-ASCII"))

    val all = Multimodal.ingestBinaryFiles(spark, dir.toString)
    assert(all.columns.toSeq === Seq("path", "length", "media"))
    assert(all.count() == 4)
    // glob prunes non-media files at listing time
    val imgs = Multimodal.ingestBinaryFiles(spark, dir.toString, Some("*.{png,bmp}"))
    assert(imgs.count() == 2)
    // ingested payloads flow straight into the decode pipeline
    val meta = rows(Multimodal.decodeMeta(imgs, "media")
      .selectExpr("regexp_extract(path, '([^/]+)$', 1) AS f",
        "media_format", "width", "height").orderBy("f"))
    assert(meta == Seq(
      Seq("a.png", "image/png", 8, 8),
      Seq("b.bmp", "image/bmp", 4, 4)))
    // payload bytes arrive uncorrupted (byte-exact vs what was written)
    val pngBack = imgs.filter(col("path").endsWith("a.png"))
      .select("media").collect()(0).getAs[Array[Byte]](0)
    assert(pngBack.toSeq == Multimodal.encodePng(8, 8, seed).toSeq)
  }

  // ===== grid density anomaly =====

  test("gridDensityAnomaly flags hotspots and voids against the 8-neighbor mean") {
    // 3x3 block of cells each holding 8 points, center cell holds 80
    val pts = (for { cx <- 0 to 2; cy <- 0 to 2
                     i <- 1 to (if (cx == 1 && cy == 1) 80 else 8) }
      yield (cx * 10L + 5L, cy * 10L + (i % 10))).toDF("x", "y")
    val out = rows(Spatial.gridDensityAnomaly(pts, "x", "y", cellSize = 10L)
      .orderBy("cx", "cy"))
    val m = out.map(r => (r(0), r(1)) -> r).toMap
    val center = m((1L, 1L))
    assert(center(2) == 80L && center(3) == 64L)
    assert(center(4) == 10.0 && center(5) == true)     // 80/(64/8) = 10x
    val corner = m((0L, 0L))
    assert(corner(3) == 8L + 8L + 80L)                 // 3 neighbors exist
    // corner rel = 8/(96/8) = 0.667 — below par but not a <=0.5 void
    assert(math.abs(corner(4).asInstanceOf[Double] - 8.0 / 12.0) < 1e-6)
    assert(corner(5) == false)
    // an isolated far-away cell has no neighbors -> NULL, never flags
    val iso = rows(Spatial.gridDensityAnomaly(
      pts.unionAll(Seq((900L, 900L)).toDF("x", "y")), "x", "y", 10L)
      .where(col("cx") === 90L))
    assert(iso.head(4) == null && iso.head(5) == false)
  }

  test("gridDensityAnomaly buckets negative fractional coordinates by floor") {
    // x = -0.5 belongs to cell -1 (floor), not cell 0 (truncation)
    val pts = Seq((-0.5, -0.5), (-5.0, -5.0), (0.5, 0.5))
      .toDF("x", "y")
    val out = rows(Spatial.gridDensityAnomaly(pts, "x", "y", cellSize = 10L)
      .orderBy("cx", "cy")).map(r => ((r(0), r(1)), r(2)))
    assert(out == Seq(((-1L, -1L), 2L), ((0L, 0L), 1L)))
  }

  // ===== seasonal anomalies =====

  test("seasonalAnomalies flags the planted spike day and nothing else") {
    val df = (0 until 28).map { i =>
      val v = 100.0 + 10 * (i % 7) + (if (i == 17) 500.0 else 0.0)
      ("k", f"2024-01-${i + 1}%02d 00:00:00", v)
    }.toDF("k", "ts", "v").withColumn("ts", to_timestamp(col("ts")))
    val out = rows(TimeSeries.seasonalAnomalies(df, "k", "ts", "v").orderBy("day"))
    val flagged = out.filter(_(8) == true).map(_(1).asInstanceOf[String])
    assert(flagged.contains("2024-01-18"), s"spike day missed: $flagged")
    // the spike contaminates exactly two structures: its +/-3-day trend
    // window and its own weekday's seasonal mean (1/4 of the spike) —
    // every flagged day must belong to one of them
    val spikeDow = Seq("2024-01-04", "2024-01-11", "2024-01-18", "2024-01-25")
    val window = (15 to 21).map(d => f"2024-01-$d%02d")
    flagged.foreach { day =>
      assert(spikeDow.contains(day) || window.contains(day),
        s"unexplained flag: $day")
    }
  }

  // ===== Mann-Kendall =====

  test("mannKendall: rising series up, constant none, tie-variance exact") {
    val up = (1 to 20).map(i => ("u", f"2024-01-$i%02d 00:00:00", i * 10.0))
    val flat = (1 to 20).map(i => ("f", f"2024-01-$i%02d 00:00:00", 42.0))
    val df = (up ++ flat).toDF("k", "ts", "v")
      .withColumn("ts", to_timestamp(col("ts")))
    val out = rows(TimeSeries.mannKendall(df, "k", "ts", "v").orderBy("k"))
    val f = out.head
    assert(f(2) == 0L && f(3) == 0.0 && f(4) == "none")
    val u = out.last
    assert(u(2) == 190L) // all C(20,2) pairs rising
    assert(u(4) == "up")
    // hand z: Var = 20*19*45/18 = 950; z = 189/sqrt(950)
    assert(math.abs(u(3).asInstanceOf[Double] -
      BigDecimal(189.0 / math.sqrt(950.0)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  // ===== Kendall tau =====

  test("kendallTau matches the closed form and handles ties") {
    // perfect monotone: tau = 1
    val mono = (1 to 30).map(i => ("g", i.toDouble, i * 2.0)).toDF("g", "x", "y")
    val r1 = rows(Profile.kendallTau(mono, "g", "x", "y")).head
    assert(math.abs(r1(4).asInstanceOf[Double] - 1.0) < 1e-12)
    // anti-monotone: tau = -1
    val anti = (1 to 30).map(i => ("g", i.toDouble, -i * 2.0)).toDF("g", "x", "y")
    assert(math.abs(rows(Profile.kendallTau(anti, "g", "x", "y"))
      .head(4).asInstanceOf[Double] + 1.0) < 1e-12)
    // hand case with ties: pairs (1,1),(1,2),(2,1),(2,2) one each
    // C = (1,1)-(2,2) = 1; D = (1,2)-(2,1) = 1; Tx = Ty = 2; n0 = 6
    // tau = 0 / sqrt((6-2)(6-2)) = 0
    val tied = Seq((1.0, 1.0), (1.0, 2.0), (2.0, 1.0), (2.0, 2.0))
      .map { case (x, y) => ("g", x, y) }.toDF("g", "x", "y")
    val rt = rows(Profile.kendallTau(tied, "g", "x", "y")).head
    assert(rt(2) == 1.0 && rt(3) == 1.0)
    assert(rt(4) == 0.0)
  }

  // ===== richness estimators =====

  test("chao1Richness: hand-counted frequency-of-frequencies") {
    // corpus: a a a b b c d  -> D=4, f1={c,d}=2, f2={b}=1, N=7
    val df = Seq("a a a b b c d").toDF("text")
    val r = rows(Vocab.chao1Richness(df, "text")).head
    assert(r(0) == 7L && r(1) == 4L && r(2) == 2L && r(3) == 1L)
    // chao1 = 4 + 2*1/(2*(1+1)) = 4.5; coverage = 1 - 2/7
    assert(r(4) == 4.5)
    assert(math.abs(r(5).asInstanceOf[Double] - (1.0 - 2.0 / 7.0)) < 1e-6)
    // no singletons -> chao1 = D, coverage = 1
    val dup = Seq("x x y y").toDF("text")
    val r2 = rows(Vocab.chao1Richness(dup, "text")).head
    assert(r2(4) == 2.0 && r2(5) == 1.0)
  }

  test("goodTuring: r* from adjacent frequency classes, NULL on gaps") {
    // counts: 3 singletons, 1 doubleton, 1 five-fold
    val df = Seq("a b c d d e e e e e").toDF("text")
    val out = rows(Vocab.goodTuring(df, "text", maxR = 5))
      .map(r => r(0) -> (r(1), r(2))).toMap
    // r=1: n1=3, n2=1 -> r* = 2*1/3
    assert(out(1L)._1 == 3L)
    assert(math.abs(out(1L)._2.asInstanceOf[Double] - 2.0 / 3.0) < 1e-6)
    // r=2: next class (r=3) missing -> NULL
    assert(out(2L)._2 == null)
    assert(!out.contains(3L)) // S(3) = 0: no row at all
  }

  // ===== Weibull =====

  test("weibullFit recovers shape/scale from exact Weibull quantiles") {
    // plant points AT the plotting positions of a Weibull(k=2, lam=10):
    // v_i = lam * (-ln(1 - F_i))^(1/k) makes the log-log fit exact
    val n = 40
    val vs = (1 to n).map { i =>
      val f = (i - 0.3) / (n + 0.4)
      10.0 * math.pow(-math.log(1.0 - f), 0.5)
    }
    val df = vs.map(v => ("g", v)).toDF("g", "v")
    val r = rows(Profile.weibullFit(df, "g", "v")).head
    assert(math.abs(r(3).asInstanceOf[Double] - 2.0) < 0.01,
      s"shape should be ~2: ${r(3)}")
    assert(math.abs(r(4).asInstanceOf[Double] - 10.0) < 0.1,
      s"scale should be ~10: ${r(4)}")
    assert(r(5).asInstanceOf[Double] > 0.9999)
  }

  // ===== best split =====

  test("bestSplit finds the exact separating threshold") {
    // label is TRUE exactly when x > 7: splitting at 7 is pure
    val df = (1 to 20).map(i => ("g", i.toDouble, i > 7)).toDF("g", "x", "lbl")
    val r = rows(Profile.bestSplit(df, "g", "x", col("lbl"))).head
    assert(r(2) == 7.0)
    assert(r(3) == 0.0)                    // pure split
    assert(r(4) == 7L && r(5) == 0L)       // left: 7 rows, 0 positives
    assert(r(6) == 13L && r(7) == 13L)     // right: 13 rows, all positive
    // tie-break: constant label -> every split equally bad -> smallest x
    val const = (1 to 10).map(i => ("g", i.toDouble, true)).toDF("g", "x", "lbl")
    val rc = rows(Profile.bestSplit(const, "g", "x", col("lbl"))).head
    assert(rc(2) == 1.0 && rc(3) == 0.0)
  }

  // ===== fertility / langid eval =====

  test("fertilityProfile counts units the BPE-ish way") {
    val df = Seq(("en", "hello, world 42"), ("en", "a b"), ("de", "!!"))
      .toDF("lang", "text")
    val out = rows(TextAnalysis.fertilityProfile(df, "text", "lang")
      .orderBy("lang")).map(r => r(0) -> r).toMap
    val de = out("de")
    assert(de(1) == 1L && de(3) == 1L && de(4) == 2L) // "!!" = 1 word, 2 punct units
    val en = out("en")
    // "hello, world 42": units hello|,|world|42 = 4; "a b": 2 -> 6 units
    assert(en(3) == 5L && en(4) == 6L) // words: 3 + 2
    assert(math.abs(en(5).asInstanceOf[Double] - 1.2) < 1e-9)
  }

  test("langIdEval shares sum to 1 per label and diagonal dominates") {
    val df = Seq(
      ("en", "the cat is of the house and a dog"),
      ("en", "a list of the things and is"),
      ("de", "der hund und die katze ist das haus"),
      ("de", "xyzzy plugh")) // unmatchable -> und
      .toDF("lang", "text")
    val out = rows(TextAnalysis.langIdEval(df, "text", "lang"))
    val byLabel = out.groupBy(_(0))
    byLabel.foreach { case (_, rs) =>
      assert(math.abs(rs.map(_(4).asInstanceOf[Double]).sum - 1.0) < 1e-6)
    }
    val m = out.map(r => (r(0), r(1)) -> r(2)).toMap
    assert(m(("en", "en")) == 2L)
    assert(m(("de", "de")) == 1L && m(("de", "und")) == 1L)
  }

  // ===== label centroids / drift =====

  test("labelCentroids floor-divides negative sums correctly") {
    // binary-exact fractions only — a float like -0.0015f carries
    // representation noise that shifts the floor
    val df = Seq(
      (1L, Array(-0.5f, 0.25f), 0),
      (2L, Array(-0.5f, 0.25f), 0)).toDF("vec_id", "embedding", "label")
    val out = rows(Similarity.labelCentroids(df, "vec_id", "embedding", "label")
      .orderBy("dim"))
    assert(out(0)(2) == -1000L && out(0)(4) == -500L)
    assert(out(1)(2) == 500L && out(1)(4) == 250L)
    // an odd negative sum must FLOOR, not truncate: -63 div 2 = -32
    val odd = Seq(
      (1L, Array(-0.0625f), 0), (2L, Array(0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    assert(rows(Similarity.labelCentroids(odd, "vec_id", "embedding", "label"))
      .head(4) == -32L)
  }

  test("embeddingDrift: identical halves 1.0, opposite halves -1.0") {
    val same = (1L to 8L).map(i => (i, Array(0.5f, 0.25f), 0))
      .toDF("vec_id", "embedding", "label")
    val r1 = rows(Similarity.embeddingDrift(same, "vec_id", "embedding",
      "label", pmod(col("vec_id"), lit(2L)))).head
    assert(r1(1) == 4L && r1(2) == 4L && r1(3) == 1.0)
    val opp = (1L to 8L).map(i =>
      (i, if (i % 2 == 0) Array(0.5f, 0.25f) else Array(-0.5f, -0.25f), 0))
      .toDF("vec_id", "embedding", "label")
    val r2 = rows(Similarity.embeddingDrift(opp, "vec_id", "embedding",
      "label", pmod(col("vec_id"), lit(2L)))).head
    assert(r2(3) == -1.0)
  }

  // ===== Cohen's kappa =====

  test("cohensKappa: perfect agreement 1, chance-level ~0, textbook case exact") {
    val perfect = Seq(("a", "a"), ("b", "b"), ("a", "a"), ("c", "c"))
      .toDF("x", "y")
    assert(rows(Profile.cohensKappa(perfect, col("x"), col("y")))
      .head(3) == 1.0)
    // the classic 2x2 example: 20/5/10/15 -> po=0.7, pe=0.5, kappa=0.4
    val counts = Seq(("y", "y", 20), ("y", "n", 5), ("n", "y", 10), ("n", "n", 15))
    val df = counts.flatMap { case (a, b, n) => Seq.fill(n)((a, b)) }
      .toDF("x", "y")
    val r = rows(Profile.cohensKappa(df, col("x"), col("y"))).head
    assert(r(0) == 50L)
    assert(math.abs(r(1).asInstanceOf[Double] - 0.7) < 1e-12)
    assert(math.abs(r(2).asInstanceOf[Double] - 0.5) < 1e-12)
    assert(math.abs(r(3).asInstanceOf[Double] - 0.4) < 1e-12)
    // a class one rater never uses still contributes its marginals
    val skew = Seq(("a", "a"), ("a", "b"), ("a", "a")).toDF("x", "y")
    val rs = rows(Profile.cohensKappa(skew, col("x"), col("y"))).head
    // po = 2/3; pe = (3*2)/9 = 2/3 -> kappa = 0
    assert(math.abs(rs(3).asInstanceOf[Double]) < 1e-12)
    // a class present in BOTH margins but never agreed on (no diagonal
    // cell) still contributes row_k*col_k to pe: rows (a,b),(b,a) have
    // po = 0, pe = (1*1 + 1*1)/4 = 0.5 -> kappa = -1
    val anti = Seq(("a", "b"), ("b", "a")).toDF("x", "y")
    val ra = rows(Profile.cohensKappa(anti, col("x"), col("y"))).head
    assert(math.abs(ra(2).asInstanceOf[Double] - 0.5) < 1e-12)
    assert(math.abs(ra(3).asInstanceOf[Double] - (-1.0)) < 1e-12)
  }

  // ===== cross-source dup matrix =====

  test("crossSourceDupMatrix canonicalizes source pairs") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)).toDF("id1", "id2")
    val docs = Seq((1L, "web"), (2L, "wiki"), (3L, "web"),
      (4L, "wiki"), (5L, "wiki")).toDF("doc_id", "source")
    val out = rows(Dedup.crossSourceDupMatrix(pairs, "id1", "id2",
      docs, "doc_id", "source").orderBy("source_a", "source_b"))
      .map(r => (r(0), r(1), r(2)))
    // (1,2): web-wiki; (1,3): web-web; (2,3): web-wiki canon; (4,5): wiki-wiki
    assert(out == Seq(("web", "web", 1L), ("web", "wiki", 2L),
      ("wiki", "wiki", 1L)))
  }

  // ===== Wilson interval =====

  test("wilsonInterval brackets the rate and stays inside [0, 1]") {
    val df = (1 to 100).map(i => ("g", i <= 3)).toDF("g", "s") // 3% rate
    val r = rows(Profile.wilsonInterval(df, "g", col("s"))).head
    assert(r(1) == 100L && r(2) == 3L && r(3) == 0.03)
    val (lo, hi) = (r(4).asInstanceOf[Double], r(5).asInstanceOf[Double])
    assert(lo > 0.0 && lo < 0.03 && hi > 0.03 && hi < 1.0)
    // hand value: Wilson 95% for 3/100 = [0.010257, 0.084519]
    assert(math.abs(lo - 0.010257) < 1e-4 && math.abs(hi - 0.084519) < 1e-4)
    // extreme p-hat = 0: the naive interval collapses to [0,0]; Wilson
    // keeps a positive upper bound
    val zero = (1 to 50).map(_ => ("z", false)).toDF("g", "s")
    val rz = rows(Profile.wilsonInterval(zero, "g", col("s"))).head
    assert(rz(4) == 0.0 && rz(5).asInstanceOf[Double] > 0.0)
  }

  // ===== top-k stability =====

  test("topkStability: identical halves 1.0, disjoint 0.0") {
    val same = (1 to 50).flatMap(i =>
      Seq((0L, i.toLong, i * 10.0), (1L, i.toLong, i * 10.0)))
      .toDF("h", "k", "v")
    val r1 = rows(Profile.topkStability(same, "k", "v", col("h"), k = 10)).head
    assert(r1(1) == 10L && r1(2) == 1.0)
    val disj = ((1 to 30).map(i => (0L, i.toLong, i * 10.0)) ++
      (31 to 60).map(i => (1L, i.toLong, i * 10.0))).toDF("h", "k", "v")
    val r2 = rows(Profile.topkStability(disj, "k", "v", col("h"), k = 10)).head
    assert(r2(1) == 0L && r2(2) == 0.0)
  }

  // ===== macro F1 =====

  test("macroF1: hand confusion with a never-predicted class") {
    // truth: a,a,b,b,c,c; pred: a,a,b,c,b,b -> class c never RIGHT,
    // class a perfect; P(a)=1, R(a)=1; P(b)=1/3, R(b)=1/2; P(c)=0/1? c
    // predicted once (wrongly): P(c)=0, R(c)=0 -> f1(c)=0
    val rows0 = Seq(("a","a"), ("a","a"), ("b","b"), ("c","b"),
      ("b","c"), ("b","c"))
    val df = rows0.toDF("pred", "tr")
    val r = rows(Profile.macroF1(df, col("pred"), col("tr"))).head
    assert(r(0) == 3L)
    assert(math.abs(r(1).asInstanceOf[Double] - 3.0 / 6.0) < 1e-9)
    val mp = r(2).asInstanceOf[Double]
    val mr = r(3).asInstanceOf[Double]
    // P: a=1, b=1/3, c=0 -> macro 4/9; R: a=1, b=1/2, c=0 -> 1/2
    assert(math.abs(mp - 4.0 / 9.0) < 1e-5)
    assert(math.abs(mr - 0.5) < 1e-5)
    // F1: a=1, b=0.4, c=0 -> macro ~0.466667
    assert(math.abs(r(4).asInstanceOf[Double] - 1.4 / 3.0) < 1e-5)
  }

  // ===== SRM =====

  test("sampleRatioCheck alarms on a rigged split, not a fair one") {
    val fair = (1 to 3000).map(i => Tuple1(i % 3L)).toDF("arm")
    val rf = rows(Profile.sampleRatioCheck(fair, col("arm"))).head
    assert(rf(0) == 3000L && rf(1) == 3L && rf(2) == 0.0 && rf(3) == false)
    // 1400/800/800: chi2 = 3*(1400^2+800^2+800^2)/3000 - 3000 = 240
    val rig = ((1 to 1400).map(_ => 0L) ++ (1 to 800).map(_ => 1L) ++
      (1 to 800).map(_ => 2L)).map(Tuple1(_)).toDF("arm")
    val rr = rows(Profile.sampleRatioCheck(rig, col("arm"))).head
    assert(rr(2) == 240.0 && rr(3) == true)
  }

  // ===== Lorenz =====

  test("lorenzPoints: shares are monotone, end at 1, and bow below equality") {
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("k", "v")
    val out = rows(Profile.lorenzPoints(df, "k", "v", points = 10)
      .orderBy("bin"))
    assert(out.size == 10)
    val es = out.map(_(3).asInstanceOf[Double])
    val vs = out.map(_(4).asInstanceOf[Double])
    assert(es == es.sorted && vs == vs.sorted)
    assert(math.abs(es.last - 1.0) < 1e-12 && math.abs(vs.last - 1.0) < 1e-12)
    // ascending-ranked Lorenz curve sits strictly below the diagonal
    out.dropRight(1).foreach { r =>
      assert(r(4).asInstanceOf[Double] < r(3).asInstanceOf[Double])
    }
    // first decile of 1..100 holds (1+..+10)/5050
    assert(math.abs(vs.head - 55.0 / 5050.0) < 1e-9)
  }

  // ===== char entropy =====

  test("charEntropyProfile: uniform alphabet hits log2(k) bits") {
    // 4 equiprobable chars -> exactly 2 bits/char
    val df = Seq(("u", "abcd" * 16), ("o", "aaaa" * 16)).toDF("lang", "text")
    val out = rows(TextAnalysis.charEntropyProfile(df, "text", "lang")
      .orderBy("lang")).map(r => r(0) -> r).toMap
    val u = out("u")
    assert(u(1) == 64L && u(2) == 4L)
    assert(math.abs(u(3).asInstanceOf[Double] - 2.0) < 1e-5)
    // single-char text has zero entropy
    val o = out("o")
    assert(o(2) == 1L && o(3) == 0.0)
  }
}
