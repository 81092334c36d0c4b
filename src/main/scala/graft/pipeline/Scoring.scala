package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level relevance scoring — TF-IDF and BM25 — for training-data
  * curation (dedup-adjacent quality signals, query-based filtering).
  * Beyond-reference surface: the reference has no corpus statistics.
  *
  * Shuffle shape at 100 TB: one explode+groupBy on (doc, term) — the
  * shuffle moves (id, term, count) triples, never document text — then a
  * term-keyed join for document frequencies and an id-keyed join for
  * document lengths. Corpus scalars (N, avgdl) ride a broadcast of a
  * 1-row aggregate, not a driver collect. Term skew (stopwords) is
  * bounded: the df aggregation is a partial/final count, and the join
  * back fans out by term — AQE's skew-join split handles hot terms.
  */
object Scoring {

  /** Lowercased alphanumeric tokenization (portable: same regex splits in
    * any RE2/Java engine; empty fragments from leading/consecutive
    * delimiters are dropped). */
  def tokenize(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** One row per distinct (doc, term): raw term frequency. */
  def termFreq(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), explode(tokenize(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Per-(doc, term) TF-IDF and BM25 scores over the whole corpus.
    * Returns (idCol, term, tf, df, dl, tfidf, bm25) — unrounded doubles;
    * round at the output edge for cross-engine comparison.
    *
    * tfidf = tf · (ln((N+1)/(df+1)) + 1)   (smoothed, sklearn-style)
    * bm25  = ln(1 + (N-df+0.5)/(df+0.5)) · tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl))
    *
    * N and avgdl count docs with ≥ 1 token (empty docs contribute nothing
    * to the corpus statistics). avgdl is Σdl/N computed from an exact
    * integer sum — one double division, deterministic across engines.
    */
  def tfidfBm25(docs: DataFrame, idCol: String, textCol: String,
                k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val tf = termFreq(docs, idCol, textCol)
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = col("n").cast("double")
    val idfTfidf = log((n + 1) / (col("df") + 1)) + 1
    val idfBm25 = log(lit(1) + (n - col("df") + 0.5) / (col("df") + 0.5))
    val tfNorm = col("tf") * (k1 + 1) /
      (col("tf") + lit(k1) * (lit(1) - b + lit(b) * col("dl") / col("avgdl")))
    tf.join(dfreq, "term")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .select(col(idCol), col("term"), col("tf"), col("df"), col("dl"),
        (col("tf") * idfTfidf).as("tfidf"),
        (idfBm25 * tfNorm).as("bm25"))
  }

  /** Gopher-style repetition report per document:
    * (idCol, n_tokens, top_token_frac, dup_bigram_frac) where
    * top_token_frac = share of tokens held by the single most frequent
    * token and dup_bigram_frac = share of word bigrams occurring more
    * than once — the standard degenerate/boilerplate-document signals.
    *
    * Shape: linear window-build per document (a transform over the token
    * array — same class as the shingle pipelines), then two (id, gram)
    * count aggregations; every shuffle is keyed by (id, token), so hot
    * documents spread across reducers. Documents with zero tokens are
    * absent; < 2 tokens ⇒ dup_bigram_frac 0. */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = TextAnalysis.tokens(col(textCol))
    val base = docs.select(col(idCol), t.as("__t"))
    val tokCounts = base.select(col(idCol), explode(col("__t")).as("__w"))
      .groupBy(col(idCol), col("__w")).agg(count(lit(1)).as("__n"))
    val tokStats = tokCounts.groupBy(col(idCol))
      .agg(sum(col("__n")).as("n_tokens"), max(col("__n")).as("__top"))
    val grams = base.select(col(idCol), explode(
      when(size(col("__t")) >= 2,
        transform(sequence(lit(1), size(col("__t")) - 1),
          i => concat_ws(" ", element_at(col("__t"), i), element_at(col("__t"), i + 1))))
        .otherwise(array())).as("__g"))
    val gramStats = grams.groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__n"))
      .groupBy(col(idCol))
      .agg(sum(col("__n")).as("__ng"),
        sum(when(col("__n") > 1, col("__n")).otherwise(0L)).as("__dup"))
    tokStats.join(gramStats, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        round(col("__top").cast("double") / col("n_tokens").cast("double"), 6)
          .as("top_token_frac"),
        coalesce(round(col("__dup").cast("double") / col("__ng").cast("double"), 6),
          lit(0.0)).as("dup_bigram_frac"))
  }

  /** Trigram language-model perplexity per document — the CCNet-style
    * quality signal: fit an add-k-smoothed trigram LM on the TRAIN
    * corpus, score each SCORE document with
    * ppl = exp(−mean ln P(w₃ | w₁ w₂)) over its trigrams (lower = more
    * train-like; boilerplate and gibberish both stand out). Documents
    * with fewer than 3 tokens have no trigrams and are absent.
    *
    * Cross-engine determinism: per-trigram log-probabilities are rounded
    * to 9 decimals and summed as DECIMAL — double summation order across
    * partitions would otherwise perturb the mean — then one exp at the
    * end (same recipe as the tfidf gate's rounded scores).
    *
    * Shape at 100 TB: trigrams are built with posexplode + per-document
    * lead() windows (id-partitioned — high cardinality, shards; no
    * interpreted array lambdas), counts are partial/final aggregations
    * keyed by (ctx, w), and the probability join fans the score side out
    * by ctx — AQE's skew split handles stop-bigram contexts. The
    * vocabulary size rides a broadcast 1-row aggregate. Shuffle keys are
    * short gram strings; a production variant would dictionary-encode or
    * 64-bit-hash them (the oracle needs replayable keys, so the gate
    * keeps strings). */
  def trigramPerplexity(train: DataFrame, score: DataFrame, idCol: String,
                        textCol: String, k: Double = 0.5): DataFrame = {
    def grams(df: DataFrame): DataFrame = {
      val toks = df.select(col(idCol),
        posexplode(tokenize(col(textCol))).as(Seq("__pos", "__w")))
      val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      toks.select(col(idCol),
          concat_ws(" ", col("__w"), lead(col("__w"), 1).over(w)).as("ctx"),
          lead(col("__w"), 2).over(w).as("w"))
        .where(col("w").isNotNull)
    }
    val trainG = grams(train)
    val c3 = trainG.groupBy("ctx", "w").agg(count(lit(1)).as("__c3"))
    val c2 = trainG.groupBy("ctx").agg(count(lit(1)).as("__c2"))
    val vocab = train.select(explode(tokenize(col(textCol))).as("__w"))
      .agg(count_distinct(col("__w")).as("__v"))
    grams(score)
      .join(c3, Seq("ctx", "w"), "left")
      .join(c2, Seq("ctx"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("__p", (coalesce(col("__c3"), lit(0L)) + k) /
        (coalesce(col("__c2"), lit(0L)) + lit(k) * col("__v")))
      .withColumn("__lp", round(log(col("__p")), 9).cast("decimal(20,9)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"),
        round(exp((-sum(col("__lp"))).cast("double") / count(lit(1))), 6).as("ppl"))
  }

  /** Top-k terms per document by a score column, deterministic: ranking
    * uses the score ROUNDED to `roundScale` decimals (so a last-ulp
    * cross-engine double difference cannot flip ranks) with the term as
    * tiebreak. The rank window partitions by document id — high
    * cardinality, scales. */
  def topTerms(scored: DataFrame, idCol: String, scoreCol: String, k: Int,
               roundScale: Int = 6): DataFrame = {
    val r = round(col(scoreCol), roundScale)
    val w = Window.partitionBy(col(idCol)).orderBy(r.desc, col("term").asc)
    scored.withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= k)
      .withColumn("rank", col("__rk").cast("int"))
      .drop("__rk")
  }

  /** Adjacent-bigram PMI collocation detection — the corpus-statistics
    * operator behind phrase mining ("new york" scores high because its
    * joint probability dwarfs the unigram product): pmi(w1, w2) =
    * ln(p(w1 w2) / (p(w1)·p(w2))) with p from corpus counts; bigrams
    * under `minCount` are dropped (PMI is noise at tiny counts — the
    * standard cut). Scores round to 6 dp at the output edge (the q_tfidf
    * ln convention: engine libm may differ in the last ulp).
    *
    * Shuffles carry (token, count) and (pair, count) — never text bodies;
    * totals ride broadcast one-row aggregates. Output:
    * (w1, w2, c12, c1, c2, pmi). */
  def bigramPmi(docs: DataFrame, idCol: String, textCol: String,
                minCount: Int = 2): DataFrame = {
    require(minCount >= 1, "bigramPmi: minCount must be >= 1")
    val toks = docs.select(tokenize(col(textCol)).as("__w"))
    val uni = toks.select(explode(col("__w")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val uniTotal = uni.agg(sum("c").as("__t"))
    val biAll = toks
      .select(explode(when(size(col("__w")) >= 2,
          expr("transform(sequence(1, size(__w) - 1), i -> struct(__w[i-1] AS w1, __w[i] AS w2))"))
        .otherwise(expr("array()").cast("array<struct<w1:string,w2:string>>"))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    // the probability denominator counts ALL bigram occurrences — the
    // minCount cut drops output rows, not corpus mass
    val biTotal = biAll.agg(sum("c12").as("__bt"))
    val bi = biAll.where(col("c12") >= minCount)
    bi
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(uniTotal)).crossJoin(broadcast(biTotal))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        round(log(
          (col("c12").cast("double") / col("__bt").cast("double")) /
            ((col("c1").cast("double") / col("__t").cast("double")) *
             (col("c2").cast("double") / col("__t").cast("double")))), 6).as("pmi"))
  }

  /** Hashed-linear quality-classifier INFERENCE (the fastText /
    * hashing-trick shape every corpus-filtering recipe runs: tokens →
    * hash-bucket → weight lookup → mean → threshold). The model is the
    * (dims, seed)-derived integer weight table w(b) ∈ [−1000, 1000] mills
    * — a deterministic synthetic stand-in for trained weights, since
    * inference plumbing, not training, is the operator; swap `weightMills`
    * for a broadcast of real weights to serve a trained model.
    *
    * The whole computation is one codegen'd projection — tokenize, hash,
    * look up, and fold in one byte walk per row: zero shuffles, zero
    * UDFs, integer accumulation (order-exact on any engine). The token
    * key is the portable (length, first-char, last-char) triple so SQL
    * oracles replay it with `length`/`ascii` only; production swaps in
    * xxhash64 for adversarial token sets (same plumbing, engine-internal
    * values).
    *
    * Returns (id, n_tokens, score, keep): score = Σ w(bucket(token)) /
    * (1000 · max(n_tokens, 1)) ∈ [−1, 1], keep = score > threshold. */
  def hashedLinearScore(df: DataFrame, idCol: String, textCol: String,
                        dims: Int = 64, threshold: Double = 0.0): DataFrame = {
    require(dims > 0, "hashedLinearScore: dims must be positive")
    // a native byte walk per row: an array-HOF fold would interpret its
    // lambda once per token
    df.select(col(idCol),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"),
        graft.functions.TextKernels.hashed_linear_mills(col(textCol), dims).as("__mills"))
      .withColumn("score", col("__mills").cast("double") /
        (lit(1000.0) * greatest(col("n_tokens"), lit(1L)).cast("double")))
      .withColumn("keep", col("score") > lit(threshold))
      .drop("__mills")
  }

  /** Per-document lexical diversity: type-token ratio and unigram Shannon
    * entropy (nats) — the vocabulary-richness quality signal (template-
    * generated or keyword-stuffed text scores low entropy at a given
    * length). Cross-engine exactness: each term's p·ln p contribution is
    * 9-dp-rounded and DECIMAL-summed (order-independent ⇒ bit-stable
    * under any partitioning, and |p·ln p| ≤ 1/e so the rounding is
    * scale-safe — the q_text_perplexity convention). Shuffle shape: one
    * (doc, term) explode+groupBy, then a doc-sharded window — never raw
    * text; every input row appears in the output (token-less documents
    * report zeros). */
  def lexicalDiversity(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val perTok = docs.select(col(idCol), explode(tokenize(col(textCol))).as("__w"))
      .groupBy(col(idCol), col("__w")).agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col(idCol))
    val p = col("__c").cast("double") / col("__n").cast("double")
    val perDoc = perTok
      .withColumn("__n", sum(col("__c")).over(w))
      .withColumn("__h", round(p * log(p), 9).cast("decimal(20,9)"))
      .groupBy(col(idCol)).agg(
        max(col("__n")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        round((-sum(col("__h"))).cast("double"), 6).as("entropy"))
      .withColumn("ttr",
        round(col("n_types").cast("double") / col("n_tokens").cast("double"), 6))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        coalesce(col("ttr"), lit(0.0)).as("ttr"),
        coalesce(col("entropy"), lit(0.0)).as("entropy"))
  }

  /** Fraction of a document's distinct word n-grams ABSENT from a
    * reference corpus — novelty/diversity scoring for corpus curation
    * (high novelty = new content worth keeping; near-zero = the reference
    * already covers it; it is the recall-side complement of the
    * q_contamination membership check). Grams are built with a doc-
    * sharded lead() window (high-cardinality partition key, scales) and
    * joined on md5(gram) so the dictionary join shuffles 32-char digests,
    * never gram text — and md5 is engine-portable, so SQL oracles replay
    * the join exactly (xxhash64 would not be). Documents with fewer than
    * `n` tokens report zero n-grams and novelty 0. */
  def ngramNovelty(docs: DataFrame, ref: DataFrame, idCol: String,
                   textCol: String, n: Int = 3): DataFrame = {
    require(n >= 1, "ngramNovelty: n must be >= 1")
    def grams(df: DataFrame): DataFrame = {
      val toks = df.select(col(idCol),
        posexplode(tokenize(col(textCol))).as(Seq("__pos", "__w")))
      val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      val parts = (0 until n).map(i =>
        if (i == 0) col("__w") else lead(col("__w"), i).over(w))
      toks.select(col(idCol), concat_ws(" ", parts: _*).as("__gram"),
          parts.last.isNotNull.as("__full"))
        .where(col("__full"))
    }
    val dict = grams(ref).select(md5(col("__gram")).as("__gh")).distinct()
      .withColumn("__seen", lit(1))
    val docGrams = grams(docs).select(col(idCol), md5(col("__gram")).as("__gh"))
      .distinct()
    val scored = docGrams.join(dict, Seq("__gh"), "left")
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_ngrams"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        coalesce(round(col("n_novel").cast("double") /
          col("n_ngrams").cast("double"), 6), lit(0.0)).as("novelty"))
  }

  /** Multinomial naive Bayes with add-one smoothing, trained and scored
    * entirely in-plan: per label, p(w|l) = (c_lw + 1)/(T_l + |V|) over
    * the training term counts, priors from document counts; a test
    * document's label score = ln prior + Σ tf·ln p(w|l), every ln
    * rounded 6 dp and DECIMAL-summed (order-exact, engine-replayable),
    * argmax per document with ties to the lexicographically smaller
    * label. Words outside the training vocabulary still contribute the
    * per-label unseen mass ln(1/(T_l+|V|)) — the textbook smoothing, not
    * a silent drop.
    *
    * Shape: training reduces to the (label, word) count table; test
    * documents explode to (doc, word, tf) and CROSS the bounded label
    * set (|labels| rows — a broadcast), then one left join against the
    * count table and one (doc, label) fold; the argmax is a doc-keyed
    * rank window. Output: (id, predicted, score). */
  def naiveBayes(train: DataFrame, test: DataFrame, idCol: String,
                 textCol: String, labelCol: String): DataFrame = {
    def d(c: Column) = c.cast("string").cast("double")
    def ln6(c: Column) = round(log(c), 6).cast("decimal(18,6)")
    val trainTf = train
      .select(col(labelCol).as("__l"), explode(tokenize(col(textCol))).as("__w"))
    val counts = trainTf.groupBy(col("__l"), col("__w"))
      .agg(count(lit(1)).as("__c"))
    val labelTotals = counts.groupBy(col("__l"))
      .agg(sum(col("__c")).as("__T"))
    val vocabSize = counts.select(col("__w")).distinct()
      .agg(count(lit(1)).as("__V"))
    val priors = train.groupBy(col(labelCol).as("__l"))
      .agg(count(lit(1)).as("__D"))
    val priorsTot = priors.agg(sum(col("__D")).as("__Dtot"))
    val labels = priors.join(labelTotals, Seq("__l"))
      .crossJoin(broadcast(vocabSize)).crossJoin(broadcast(priorsTot))
      .select(col("__l"), col("__T"), col("__V"),
        ln6(col("__D").cast("double") / col("__Dtot").cast("double"))
          .as("__lnprior"))
    val testTf = test
      .select(col(idCol), explode(tokenize(col(textCol))).as("__w"))
      .groupBy(col(idCol), col("__w")).agg(count(lit(1)).as("__tf"))
    val terms = testTf.crossJoin(broadcast(labels))
      .join(counts, Seq("__l", "__w"), "left")
      .withColumn("__term", col("__tf") *
        ln6((coalesce(col("__c"), lit(0L)) + 1).cast("double") /
          (col("__T") + col("__V")).cast("double")))
    val scored = terms.groupBy(col(idCol), col("__l"))
      .agg((max(col("__lnprior")) + sum(col("__term"))).as("__score"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__score").desc, col("__l").asc)
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col(idCol), col("__l").as("predicted"),
        round(d(col("__score")), 6).as("score"))
  }

  /** Leave-one-out target encoding: each row's category feature is the
    * mean of the TARGET over all OTHER rows of its category —
    * (Σ_cat − x) / (n_cat − 1) — the classic high-cardinality categorical
    * encoder with the leakage guard built into the formula (a row never
    * sees its own label; naive mean encoding leaks the target and
    * inflates validation scores). Singleton categories yield NULL
    * (no "other rows" to average).
    *
    * One category aggregate (exact decimal Σ, broadcast back — one row
    * per category), then a codegen'd per-row projection: the numerator
    * Σ − x stays decimal-exact, the single division goes through the
    * digit string, 6 dp at the edge. NULL targets are excluded from Σ/n
    * and encode as the category's plain mean over the non-NULL rows. */
  def targetEncodeLoo(df: DataFrame, catCol: String, targetCol: String,
                      outCol: String): DataFrame = {
    def d(c: Column) = c.cast("string").cast("double")
    val x = col(targetCol).cast("decimal(18,2)")
    val agg = df.where(col(targetCol).isNotNull)
      .groupBy(col(catCol))
      .agg(sum(col(targetCol).cast("decimal(18,2)")).as("__S"),
        count(lit(1)).as("__n"))
    df.join(broadcast(agg), Seq(catCol), "left")
      .withColumn(outCol, round(
        when(col(targetCol).isNotNull && col("__n") > 1,
          d(col("__S") - x) / (col("__n") - 1).cast("double"))
        .when(col(targetCol).isNull && col("__n") > 0,
          d(col("__S")) / col("__n").cast("double")), 6))
      .drop("__S", "__n")
  }

  /** Decile lift / gains table — the model-evaluation staple: rank rows
    * by score DESCENDING (tie-broken by `tieCol` so the total order is
    * engine-exact), cut into `buckets` equal-count bins, and report per
    * bin the size, positives, response rate, and CUMULATIVE lift
    * (cum-rate over base-rate). The global rank uses NO per-row global
    * window (the histogramEquiDepth pattern): per-distinct-score counts,
    * a prefix sum over the distinct-score table (bounded by score
    * cardinality), a within-score rank sharded BY score, and the row
    * count as a broadcast scalar. bucket = (r−1)·buckets div n in ANSI
    * integer arithmetic; rates/lift are fixed double dags over exact
    * counts. Output: `buckets` rows. */
  def decileLift(df: DataFrame, scoreCol: String, labelCol: Column,
                 tieCol: String, buckets: Int = 10): DataFrame = {
    require(buckets >= 2, "decileLift: need >= 2 buckets")
    val rows = df.select(col(scoreCol).as("__sc"), col(tieCol).as("__tie"),
        when(labelCol, 1L).otherwise(0L).as("__y"))
      .where(col("__sc").isNotNull)
    val perScore = rows.groupBy("__sc").agg(count(lit(1)).as("__c"))
    // two-level distributed prefix over the distinct-score table (scores
    // can be all-distinct — see Profile.prefixOffsets)
    val offs = Profile.prefixOffsets(perScore, "__sc", "__c",
      ascending = false)
    val wIn = Window.partitionBy(col("__sc")).orderBy(col("__tie").asc)
    val total = rows.agg(count(lit(1)).as("__n"),
      sum(col("__y")).as("__pos"))
    val ranked = rows
      .join(offs, Seq("__sc"))
      .withColumn("__r", col("__off") + row_number().over(wIn))
      .crossJoin(broadcast(total))
      .withColumn("__b", expr(s"(__r - 1) * $buckets div __n"))
    val perBucket = ranked.groupBy(col("__b").as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("positives"),
        max(col("__n")).as("__tn"), max(col("__pos")).as("__tp"))
    // global window over the BUCKET table — exactly `buckets` rows
    // (sweep-audited r8)
    val wCum = Window.orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket
      .withColumn("__cn", sum(col("n")).over(wCum))
      .withColumn("__cp", sum(col("positives")).over(wCum))
      .select(col("bucket"), col("n"), col("positives"),
        (col("positives").cast("double") / col("n").cast("double")).as("rate"),
        ((col("__cp").cast("double") / col("__cn").cast("double")) /
          (col("__tp").cast("double") / col("__tn").cast("double")))
          .as("cum_lift"))
  }

  /** Zipf-law fit over the corpus word-frequency table — the classic
    * "is this corpus natural language?" diagnostic (synthetic or
    * template-generated text bends the rank-frequency line): OLS of
    * ln(freq) on ln(rank) over the vocabulary, exponent = −slope
    * (natural text ≈ 1). Ranks order by (freq desc, word) — total and
    * engine-exact; the rank window runs over the VOCABULARY table (the
    * histogramEquiDepth compromise, bounded by distinct words). Both
    * lns round to 6 dp decimals, products stay exact, and the fit is
    * the linearFit dag. Output: 1 row (n_words, n_tokens, slope,
    * intercept, r2, zipf_exponent). */
  def zipfFit(docs: DataFrame, textCol: String): DataFrame = {
    def d(c: Column) = c.cast("string").cast("double")
    val words = docs.select(explode(tokenize(col(textCol))).as("__w"))
      .where(col("__w") =!= "")
    val freq = words.groupBy("__w").agg(count(lit(1)).as("__f"))
    // round 8: the frequency rank rides Profile.rowPositions — the
    // vocabulary grows with the corpus, so the old single-reducer
    // row_number window was a scale ceiling.
    val ranked = Profile.rowPositions(freq, "__r0",
        col("__f").desc, col("__w").asc)
      .withColumn("__r", (col("__r0") + 1L).cast("int")).drop("__r0")
    val terms = ranked.select(col("__f"),
      round(log(col("__r").cast("double")), 6).cast("decimal(12,6)").as("__x"),
      round(log(col("__f").cast("double")), 6).cast("decimal(12,6)").as("__y"))
    val m = terms.agg(count(lit(1)).as("n_words"),
      sum(col("__f")).as("n_tokens"),
      d(sum(col("__x"))).as("__sx"), d(sum(col("__y"))).as("__sy"),
      d(sum(col("__x") * col("__y"))).as("__sxy"),
      d(sum(col("__x") * col("__x"))).as("__sxx"),
      d(sum(col("__y") * col("__y"))).as("__syy"))
    val nd = col("n_words").cast("double")
    val withSlope = m.withColumn("slope",
      (nd * col("__sxy") - col("__sx") * col("__sy")) /
        (nd * col("__sxx") - col("__sx") * col("__sx")))
    withSlope.select(col("n_words"), col("n_tokens"), col("slope"),
      ((col("__sy") - col("slope") * col("__sx")) / nd).as("intercept"),
      (((nd * col("__sxy") - col("__sx") * col("__sy")) *
        (nd * col("__sxy") - col("__sx") * col("__sy"))) /
        ((nd * col("__sxx") - col("__sx") * col("__sx")) *
         (nd * col("__syy") - col("__sy") * col("__sy")))).as("r2"),
      (-col("slope")).as("zipf_exponent"))
  }
}
