package graft.pipeline

import graft.pipeline.Checkpoints.DatasetCheckpointOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and blocked n-gram Jaccard.
  *
  * Scale design: every variant is shuffle-bounded by design —
  * exact dedup is one hash-groupBy; MinHash/SimHash candidate generation
  * shuffles only (bucket-key, id) pairs, never text; pairwise verification
  * runs only inside buckets/blocks, so the quadratic step is bounded by the
  * largest bucket, not the corpus. No driver-side collection anywhere.
  */
object Dedup {

  // ===== Exact =====

  /** Exact dedup: group by content fingerprint, keep the lowest id.
    * One hash aggregation; at 100 TB this is a single shuffle of
    * (16-byte fp, id) pairs. */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(TextAnalysis.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy("fp")
      .agg(min(idCol).as("keeper"), count(lit(1)).as("n_copies"))

  /** Return the deduplicated rows themselves (keeper row per group). */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = exactGroups(df, textCol, idCol).select(col("keeper").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  // ===== Duplicate clustering (connected components) =====

  /** Connected components over near-dup PAIRS: production dedup needs
    * CLUSTERS, not pairs — transitively-linked documents form one group
    * and a single canonical survivor is kept per group. Returns
    * (id, cluster) where cluster = the smallest id in the component
    * (the canonical doc), one row per id that appears in any pair.
    *
    * Algorithm: alternating LARGE-STAR / SMALL-STAR rounds (the
    * connected-components-at-scale formulation of Kiveris, Lattanzi,
    * Mirrokni, Rastogi & Vassilvitskii, "Connected Components in
    * MapReduce and Beyond", SoCC'14). Each round REWRITES the edge set
    * instead of re-joining a static one: large-star points every node's
    * larger neighbors at the neighborhood minimum, small-star folds the
    * smaller neighbors onto it. The decisive scale property is
    * CONTRACTION — a duplicate clique's Θ(c²) verified pairs collapse to
    * a Θ(c) star after the FIRST round, so only round one ever pays the
    * full input volume (min-label propagation over a static edge list,
    * which this replaces, shuffled all Θ(c²) clique edges EVERY round —
    * the formulation that filled a disk at 100× scale). Convergence is
    * O(log² n) rounds regardless of component diameter; each round is
    * two groupBy+join passes over the current (shrinking) edge set, with
    * map-side combine on the min aggregations so skewed star roots never
    * funnel through one reducer. Rounds stage through
    * [[Checkpoints.stageCheckpoint]] (flat lineage; the previous round's
    * blocks are released deterministically). No driver-side graph ever
    * materializes.
    *
    * `maxIters` caps divergence defensively (a path of 2^k nodes
    * converges in ~k rounds, so the default 20 covers ~10⁶-node chains);
    * hitting the cap throws rather than returning a silently
    * half-merged clustering.
    *
    * SMALL-GRAPH FAST PATH: pair sets are tiny relative to the corpus
    * (dedup finds thousands of pairs in millions of docs), and the
    * distributed loop pays several shuffle jobs per round — so when the
    * pair count (already computed for the cache fill) is at most
    * `smallGraphLimit`, the clustering runs as driver-side union-find
    * over pairs streamed into primitive long arrays: exact same output,
    * one extra job. The limit bounds driver memory by the REAL footprint:
    * 16 bytes/pair of primitive edge arrays plus the boxed parent map at
    * ~80 bytes per DISTINCT node (≤ 2 per pair worst case) — the default
    * 1M pairs is ≲ 200 MB worst-case, comfortably inside a default
    * driver. Above it the convergence-checked distributed loop runs.
    * This is the ONE deliberate driver-side data path in the library,
    * and it is size-gated.
    *
    * NULL ids are dropped up front (both paths): a NULL id cannot name a
    * document, and letting Row.getLong unbox it to 0 would silently fold
    * null-keyed pairs into node 0. */
  def duplicateClusters(pairs: DataFrame, id1: String = "id1", id2: String = "id2",
                        maxIters: Int = 20,
                        smallGraphLimit: Long = 1000000L): DataFrame = {
    // persist the PAIR projection, not the edge union: the union references
    // `pairs` twice (forward + swapped), so persisting only downstream of
    // it would still run the expensive candidate-pair lineage twice; and
    // the edge list is re-joined EVERY propagation round on top of that.
    // (id, id) long pairs only — the footprint is tiny.
    // filter BEFORE the aliasing select: after it, col(id1)/col(id2) only
    // resolve through Spark's missing-reference fallback and would bind to
    // a shadowing input column if the source ever carries literal a/b.
    val p = pairs.where(col(id1).isNotNull && col(id2).isNotNull)
      .select(col(id1).as("a"), col(id2).as("b"))
      .stagePersist(false)
    // force the fill with a single-scan action BEFORE the plan fans
    // out: lazily, the canonical-orientation distinct and the self-pair
    // branch would land in one job and BOTH compute the expensive pair
    // lineage (per-partition cache population is first-writer-wins, not
    // shared work) — measured 8.4 s -> 4 s. Self-pairs are counted in the
    // same action: they carry no connectivity but their nodes must still
    // appear in the output (cluster = themselves), matching union-find.
    val cnts = p.agg(count(lit(1)), count(when(col("a") === col("b"), 1))).head()
    val nPairs = cnts.getLong(0)
    val nSelf = cnts.getLong(1)
    val longIds = p.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    if (nPairs <= smallGraphLimit && longIds) {
      val spark = pairs.sparkSession
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      // collect as typed tuples in ONE job (toLocalIterator would run a
      // job per partition — measured +3 s of job-scheduling overhead on
      // the cached 32-partition pair frame), then move into primitive
      // arrays; the transient boxed tuples cost ~80 bytes/pair, which the
      // 1M-pair default gate bounds at well under 100 MB
      import spark.implicits._
      val tuples = p.as[(Long, Long)].collect()
      val aArr = new Array[Long](tuples.length)
      val bArr = new Array[Long](tuples.length)
      var j = 0
      while (j < tuples.length) {
        aArr(j) = tuples(j)._1; bArr(j) = tuples(j)._2; j += 1
      }
      var i = 0
      while (i < aArr.length) {
        val a = aArr(i); val b = bArr(i)
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        // union to the smaller root so the root IS the canonical min id
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        i += 1
      }
      p.release()
      val out = parent.keys.toSeq.map(id => org.apache.spark.sql.Row(id, find(id)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cluster", org.apache.spark.sql.types.LongType, nullable = false)))
      return spark.createDataFrame(spark.sparkContext.parallelize(out, 1), schema)
    }
    // self-only nodes (self-pair endpoints with no real edge) re-enter at
    // the end; the all-self / empty graphs short-circuit the loop entirely
    if (nPairs == nSelf) {
      val res = p.where(col("a") === col("b"))
        .select(col("a").as("id"), col("a").as("cluster")).distinct()
        .stagePersist(true)
      p.release()
      return res
    }
    // canonical orientation (bigger id → smaller id), self-loops dropped,
    // deduped once: both star passes preserve this invariant, so round
    // equality below is plain set equality of canonical frames
    var cur = p.where(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      .distinct()
      .stageCheckpoint(false)
    var curCnt = cur.count()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val next = smallStar(largeStar(cur)).stageCheckpoint(false)
      val nextCnt = next.count() // materializes next (consumes cur's blocks)
      // set equality ⇔ same count ∧ next ⊆ cur (both canonical+distinct);
      // the except runs while cur is still persisted
      converged = nextCnt == curCnt &&
        next.except(cur).limit(1).count() == 0
      cur.release()
      cur = next
      curCnt = nextCnt
      iter += 1
    }
    require(converged,
      s"duplicateClusters: not converged after $maxIters rounds — raise maxIters")
    // fixed point = forest of stars: every edge is (member, root) with
    // root = component min; roots appear only on the b side
    val members = cur.select(col("a").as("id"), col("b").as("cluster"))
    val roots = cur.select(col("b").as("id"), col("b").as("cluster")).distinct()
    val selfOnly =
      if (nSelf == 0) None
      else Some(p.where(col("a") === col("b"))
        .select(col("a").as("id"), col("a").as("cluster")).distinct()
        .join(members.select("id").unionAll(roots.select("id")),
          Seq("id"), "left_anti"))
    val res = selfOnly.foldLeft(members.unionAll(roots))(_ unionAll _)
      .stagePersist(true)
    p.release()
    cur.release()
    res
  }

  /** One LARGE-STAR round: every node points its LARGER neighbors at the
    * minimum of its neighborhood (including itself). Input and output are
    * canonically-oriented (a > b), distinct, self-loop-free edge frames.
    * The min aggregation is a groupBy (map-side partial combine — a
    * million-member star root reduces to one row per map task, never a
    * single-reducer sort), and the join back to the symmetric edge list
    * reuses the same hash exchange (Catalyst ReuseExchange). */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
    val mins = sym.groupBy("a").agg(min(col("b")).as("__mn"))
      .select(col("a"), least(col("a"), col("__mn")).as("__m"))
    sym.join(mins, "a")
      .where(col("b") > col("a"))
      .select(col("b").as("a"), col("__m").as("b"))
      .distinct()
  }

  /** One SMALL-STAR round: every node folds its SMALLER neighbors (and
    * itself) onto the minimum of those neighbors. Same canonical-frame
    * contract as [[largeStar]]. */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("a").agg(min(col("b")).as("__m"))
    e.join(mins, "a")
      .select(col("b").as("a"), col("__m").as("b"))
      .unionAll(mins.select(col("a"), col("__m").as("b")))
      .where(col("a") =!= col("b"))
      .distinct()
  }

  /** Deduplicated corpus from near-dup pairs: drop every doc that sits in
    * a cluster with a smaller-id member (the canonical survivor stays). */
  def dropNearDuplicates(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val losers = duplicateClusters(pairs)
      .where(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  // ===== Shingles =====

  /** Minimum integer overlap o with o/m ≥ τ, computed CONSISTENTLY with
    * the double-arithmetic verify predicate: bare ceil(τ·m) is one ulp
    * too tight when τ·m is an exact integer but fl(τ)·m rounds above it
    * (classic case 0.07·100 → 7.000000000000001 → ceil 8), which would
    * make the candidate stage strictly tighter than the verify and
    * prune true pairs at exactly the threshold. The 1e-9 slack can only
    * LOOSEN candidate generation (extra candidates are re-verified),
    * never lose recall. Shared by the prefix length and the size
    * filters of [[prefixFilterJaccardPairs]] / [[containmentPairs]]. */
  private[graft] def minOverlap(tau: Column, m: Column): Column =
    ceil(tau * m - lit(1e-9))

  /** Materialization barrier: a cheap hash exchange that stops Catalyst's
    * CollapseProject from inlining an expensive array-producing projection
    * into its many downstream references. At cluster scale this exchange
    * is the same shuffle the subsequent bucket/band key join needs anyway. */
  private def barrier(df: DataFrame, key: String): DataFrame =
    df.repartition(col(key))

  /** id + distinct shingle-HASH set (64-bit, SORTED ascending): set
    * operations on long arrays shuffle ~8 bytes per shingle instead of
    * the string and compare integers — Jaccard over hash sets equals
    * Jaccard over the strings up to negligible 64-bit collision
    * probability. Sorting costs O(s log s) once per DOCUMENT and buys the
    * zero-allocation merge-walk intersection ([[jaccardSortedLong]]) on
    * every candidate PAIR the document participates in.
    *
    * Native single-projection path (ShingleHashSorted): window-concat,
    * hash, sort and dedup run in one generated loop per document, and the
    * single reference to the token array needs NO materialization barrier
    * — the interpreted-HOF formulation this replaces forced an exchange
    * of the full token arrays here. */
  def withShingleHashSet(df: DataFrame, idCol: String, textCol: String,
                         shingleLen: Int, out: String): DataFrame =
    df.select(col(idCol),
      graft.functions.ShingleHashExpression.shingle_hash_sorted(
        TextAnalysis.tokens(col(textCol)), shingleLen).as(out))

  /** Jaccard similarity of the two columns' element sets (exact division of
    * integer set sizes — cross-engine deterministic). */
  def jaccard(a: Column, b: Column): Column = {
    // Inputs are distinct sets (shingles are array_distinct'ed), so
    // |A∪B| = |A|+|B|-|A∩B| — avoids materializing the union array for
    // every candidate pair.
    val inter = size(array_intersect(a, b)).cast("double")
    inter / greatest(size(a) + size(b) - inter, lit(1)).cast("double")
  }

  /** Jaccard over SORTED distinct long arrays ([[withShingleHashSet]]
    * output): the codegen'd merge-walk intersection count replaces
    * array_intersect's per-pair hash-set build — this is the hot loop of
    * every blocked-pair verify (it runs per candidate pair, while
    * everything upstream runs per document). */
  def jaccardSortedLong(a: Column, b: Column): Column = {
    val inter = graft.functions.SetExpressions.sorted_intersect_count(a, b).cast("double")
    inter / greatest(size(a) + size(b) - inter, lit(1)).cast("double")
  }

  // ===== MinHash + LSH =====

  /** MinHash signature: k hash functions simulated by re-mixing a
    * per-shingle base hash with the function index.
    *
    * PERFORMANCE: higher-order-function lambdas are interpreted (no
    * whole-stage codegen, no common-subexpression elimination), so an
    * expression that references the shingle array k times would rebuild it
    * k times per row. The signature is therefore computed in two staged
    * projections: (1) hash every shingle once into a long array, (2) take
    * k mins over that cheap array. Shingle strings are built exactly once.
    */
  def withMinhashSignature(df: DataFrame, idCol: String, textCol: String,
                           numHashes: Int, shingleLen: Int, out: String): DataFrame = {
    // both stages are native codegen (shingle-hash set, then the k×s
    // min-fold — bit-identical XXH64 kernels, see the expression docs), so
    // no staging barrier is needed between them; the one barrier left
    // protects the SIGNATURE from per-band recompute in minhashBuckets'
    // interpreted explode lambda.
    val shh = withShingleHashSet(df, idCol, textCol, shingleLen, "__shh")
    barrier(shh.select(col(idCol),
      graft.functions.MinhashExpression.minhash_signature(col("__shh"), numHashes).as(out)),
      idCol)
  }

  /** LSH banding: split the signature into `bands` rows of r = k/bands
    * hashes; bucket key = (band index, hash of the band slice). Documents
    * sharing any bucket become candidate pairs. */
  def minhashBuckets(df: DataFrame, idCol: String, textCol: String,
                     numHashes: Int = 32, bands: Int = 8,
                     shingleLen: Int = 3): DataFrame = {
    val r = numHashes / bands
    require(bands * r == numHashes, "bands must divide numHashes")
    withMinhashSignature(df, idCol, textCol, numHashes, shingleLen, "sig")
      .select(col(idCol), explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"), xxhash64(b, slice(col("sig"), b * r + 1, lit(r)).cast("string")).as("bh")))).as("bucket"))
      .select(col(idCol), col("bucket.band"), col("bucket.bh"))
  }

  /** Candidate duplicate pairs (id1 < id2) from shared LSH buckets. The
    * self-join is per-bucket; bucket sizes bound the quadratic cost. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 32, bands: Int = 8,
                        shingleLen: Int = 3): DataFrame = {
    val b = minhashBuckets(df, idCol, textCol, numHashes, bands, shingleLen)
    val l = b.select(col("band"), col("bh"), col(idCol).as("id1"))
    val r = b.select(col("band"), col("bh"), col(idCol).as("id2"))
    l.join(r, Seq("band", "bh")).where(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** Full MinHash near-dup pipeline: LSH candidates verified by exact
    * shingle Jaccard ≥ threshold. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, numHashes: Int = 32, bands: Int = 8,
                      shingleLen: Int = 3): DataFrame = {
    val cand = minhashCandidates(df, idCol, textCol, numHashes, bands, shingleLen)
    val docs = withShingleHashSet(df, idCol, textCol, shingleLen, "sh")
    cand.join(docs.withColumnRenamed(idCol, "id1").withColumnRenamed("sh", "sh1"), "id1")
      .join(docs.withColumnRenamed(idCol, "id2").withColumnRenamed("sh", "sh2"), "id2")
      .withColumn("jac", jaccardSortedLong(col("sh1"), col("sh2")))
      .where(col("jac") >= threshold)
      .select("id1", "id2", "jac")
  }

  /** INCREMENTAL MinHash near-dedup — the daily-delta production job: a
    * new batch of documents is deduplicated against an existing corpus
    * AND within itself, WITHOUT re-pairing the history against itself
    * (history×history pairs were found on previous days). Candidates are
    * (delta × history) plus (delta × delta) bucket collisions; the exact
    * Jaccard verify joins each side's own shingle table. With the
    * recall-complete banding the result set is EXACTLY the full-corpus
    * all-pairs threshold join restricted to pairs touching the delta —
    * the invariant the q_dedup_incremental oracle hashes.
    *
    * At 100 TB the history side is a PERSISTED bucket+shingle index
    * (write minhashBuckets/withShingleHashSet output once, bucketed by
    * `bh`); this face recomputes it from text so the gate covers the
    * whole path. Pair ids are canonical (id1 < id2) regardless of which
    * side each doc came from; ids must be unique ACROSS the union. */
  def incrementalMinhashNearDups(history: DataFrame, delta: DataFrame,
                                 idCol: String, textCol: String,
                                 threshold: Double, numHashes: Int = 32,
                                 bands: Int = 8,
                                 shingleLen: Int = 3): DataFrame = {
    val bh = minhashBuckets(history, idCol, textCol, numHashes, bands, shingleLen)
    val bd = minhashBuckets(delta, idCol, textCol, numHashes, bands, shingleLen)
    val crossPairs = bd.select(col("band"), col("bh"), col(idCol).as("__d"))
      .join(bh.select(col("band"), col("bh"), col(idCol).as("__h")), Seq("band", "bh"))
      .select(least(col("__d"), col("__h")).as("id1"),
        greatest(col("__d"), col("__h")).as("id2"))
    val deltaPairs = bd.select(col("band"), col("bh"), col(idCol).as("id1"))
      .join(bd.select(col("band"), col("bh"), col(idCol).as("id2")), Seq("band", "bh"))
      .where(col("id1") < col("id2"))
      .select("id1", "id2")
    val cand = crossPairs.union(deltaPairs).distinct()
    val sh = withShingleHashSet(history, idCol, textCol, shingleLen, "sh")
      .unionByName(withShingleHashSet(delta, idCol, textCol, shingleLen, "sh"))
    cand.join(sh.select(col(idCol).as("id1"), col("sh").as("sh1")), "id1")
      .join(sh.select(col(idCol).as("id2"), col("sh").as("sh2")), "id2")
      .withColumn("jac", jaccardSortedLong(col("sh1"), col("sh2")))
      .where(col("jac") >= threshold)
      .select("id1", "id2", "jac")
  }

  // ===== SimHash =====

  /** Staged simhash (token hashes materialized once, native fold).
    *
    * Deliberately NOT ShingleHashSorted(tokens, 1): that expression hashes
    * every window THEN dedupes, the right order for n-gram windows (which
    * rarely repeat); token-level signatures want array_distinct FIRST —
    * on repetitive text the distinct set is far smaller than the token
    * stream, so dedup-before-hash does a fraction of the hash work
    * (measured 3.9 s vs 4.2 s at sf0.1). Both produce identical values. */
  def withSimhash(df: DataFrame, idCol: String, textCol: String, out: String): DataFrame =
    df.select(col(idCol),
      graft.functions.SimHashExpression.simhash64_native(
        transform(array_distinct(TextAnalysis.tokens(col(textCol))), tok => xxhash64(tok))).as(out))

  /** SimHash near-dup candidates: 4 bands of 16 bits — any pair within
    * Hamming distance 3 shares at least one exact band (pigeonhole).
    *
    * CONTRACT: the banding only GUARANTEES recall for Hamming ≤ 3. A
    * caller filtering the output at a larger radius (e.g. `hamming <= 16`)
    * gets "candidates found by banding", not "all pairs within 16" — pairs
    * at distance 4..16 whose differing bits span all four bands are never
    * candidates. That is the standard SimHash candidate-generator trade;
    * use more/narrower bands for a larger guaranteed radius. */
  def simhashCandidates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withSig = withSimhash(df, idCol, textCol, "sig")
    val banded = withSig.select(col(idCol), col("sig"),
      explode(transform(sequence(lit(0), lit(3)),
        b => struct(b.as("band"), call_function("shiftright", col("sig"), b * 16).bitwiseAND(0xFFFF).as("bh")))).as("bk"))
      .select(col(idCol), col("sig"), col("bk.band"), col("bk.bh"))
    val l = banded.select(col("band"), col("bh"), col(idCol).as("id1"), col("sig").as("sig1"))
    val r = banded.select(col("band"), col("bh"), col(idCol).as("id2"), col("sig").as("sig2"))
    l.join(r, Seq("band", "bh")).where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), bit_count(col("sig1").bitwiseXOR(col("sig2"))).as("hamming"))
      .distinct()
  }

  /** PORTABLE SimHash signature: like [[withSimhash]] but the per-feature
    * hash is the top 60 bits of md5 (15 hex chars parsed base-16) over
    * 3-gram SHINGLES, and the bit-vote fold runs as a codegen'd 60-column
    * aggregate over exploded (id, hash) pairs instead of a native
    * expression. Two deliberate differences from the xxhash64 variant:
    * (a) md5 + hex-parse is reproducible in ANY engine, so a DuckDB
    * oracle can replay the whole algorithm (xxhash64's exact values are
    * Spark-internal — the reason q_dedup_simhash is rows-only);
    * (b) shingles, not distinct tokens: on a shared-vocabulary corpus the
    * distinct-token SETS of unrelated docs coincide, collapsing every
    * token-level signature to the same value — shingle features keep
    * unrelated docs far apart while near-dups stay close.
    * Shuffle shape: explode moves (id, 8-byte hash); the 60 bit-sums are
    * partial/final HashAggregate — map-side combined, one shuffle. */
  def withSimhashPortable(df: DataFrame, idCol: String, textCol: String,
                          shingleLen: Int = 3, out: String = "sig"): DataFrame =
    // one native pass per document (PortableSimHash60): digest bytes
    // parsed directly, windows deduped in-loop — replaces the composable
    // explode → md5-hex → conv → 60-column vote aggregate, which paid a
    // hex-string alloc+parse per shingle AND a groupBy shuffle to
    // reassemble votes (measured 5.8 s -> see BASELINE). Values are
    // bit-identical (NativeExprPropertySpec), so the DuckDB oracle and
    // banding guarantees are untouched.
    df.select(col(idCol),
      graft.functions.PortableSimHashExpression.portable_simhash60(
        TextAnalysis.tokens(col(textCol)), shingleLen).as(out))

  /** All document pairs within `maxHamming` of each other's portable
    * SimHash — EXACT semantics (not "candidates found"): 4 bands of 15
    * bits guarantee every pair with Hamming ≤ 3 shares a band
    * (pigeonhole), so for maxHamming ≤ 3 the banded join finds exactly
    * the pairs an all-pairs scan would — which is what makes a full
    * cross-engine oracle possible (q_dedup_simhash_portable). */
  def simhashPortablePairs(df: DataFrame, idCol: String, textCol: String,
                           maxHamming: Int = 3, shingleLen: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      s"simhashPortablePairs: banding guarantees recall only for Hamming <= 3, got $maxHamming")
    // persist the signature frame: both sides of the band self-join read
    // it, and without materialization Catalyst recomputes the whole
    // scan→shingle→hash→60-vote pipeline per side (measured 2x). One
    // (id, long) row per document — index-sized, like IVF centroids.
    // Lifetime: the RESULT is materialized before returning, so this
    // intermediate is released here; the returned (id1, id2, hamming)
    // frame is the result's own persisted leaf — far smaller than the
    // per-doc signature lineage — freed with the frame (see Checkpoints).
    val withSig = withSimhashPortable(df, idCol, textCol, shingleLen, "sig")
      .stagePersist(false)
    val banded = withSig.select(col(idCol), col("sig"),
      explode(transform(sequence(lit(0), lit(3)),
        b => struct(b.as("band"),
          call_function("shiftright", col("sig"), b * 15).bitwiseAND(0x7FFF).as("bh")))).as("bk"))
      .select(col(idCol), col("sig"), col("bk.band"), col("bk.bh"))
    val l = banded.select(col("band"), col("bh"), col(idCol).as("id1"), col("sig").as("sig1"))
    val r = banded.select(col("band"), col("bh"), col(idCol).as("id2"), col("sig").as("sig2"))
    val out = l.join(r, Seq("band", "bh")).where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("sig1").bitwiseXOR(col("sig2"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
      .stagePersist(true)
    withSig.release()
    out
  }

  /** All item pairs within `maxHamming` of each other's 64-bit signature —
    * the signature-agnostic face of the Hamming-banded self-join
    * ([[simhashPortablePairs]] is the text-SimHash instance; image dHash
    * from Multimodal.decodeImageFeatures plugs in here for image-content
    * near-dup). 4 bands of 16 bits: every pair with Hamming ≤ 3 shares a
    * band (pigeonhole), so for maxHamming ≤ 3 the result is EXACT — what
    * an all-pairs scan would find, at banded-join cost. Shuffles move
    * (band, 16-bit key, id, sig) tuples only. */
  def hammingPairs64(sigs: DataFrame, idCol: String, sigCol: String,
                     maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      s"hammingPairs64: 4x16-bit banding guarantees recall only for Hamming <= 3, got $maxHamming")
    // materialize the (id, 64-bit signature) table once: the banded
    // self-join below consumes it twice, and callers typically feed it
    // from an expensive lineage (image decode + dHash), which would
    // otherwise run once PER SIDE (r16 measurement: the image gates'
    // codec pass ran twice). 9 bytes/row — the standard signature
    // materialization at any scale. The lazy returned frame reads sig0,
    // so sig0 lives as long as that frame (see Checkpoints).
    val sig0 = sigs.select(col(idCol), col(sigCol).as("__sig"))
      .stagePersist(true)
    val banded = sig0.select(col(idCol), col("__sig"),
      explode(transform(sequence(lit(0), lit(3)),
        b => struct(b.as("band"),
          call_function("shiftright", col("__sig"), b * 16).bitwiseAND(0xFFFF).as("bh")))).as("bk"))
      .select(col(idCol), col("__sig"), col("bk.band"), col("bk.bh"))
    val l = banded.select(col("band"), col("bh"), col(idCol).as("id1"), col("__sig").as("sig1"))
    val r = banded.select(col("band"), col("bh"), col(idCol).as("id2"), col("__sig").as("sig2"))
    l.join(r, Seq("band", "bh")).where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("sig1").bitwiseXOR(col("sig2"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  // ===== Length-bucket blocked n-gram Jaccard =====

  /** Cost-gate default for the blind (content-blind bucket-join) candidate
    * path of [[lengthBucketJaccardPairs]]: the blind path is kept only
    * while its occupancy-bound candidate count stays below this. r16's
    * 200 M default kept the O(n²) blind join alive far past where the
    * prefix-posting path wins — the measured α(sf0.1→sf1) ≈ 1.4 on the
    * q_dedup_ngram family was EXACTLY the blind candidate quadratic (the
    * bound sat under 200 M at every measured SF while candidates grew
    * ~100× per 10× corpus: ub = 789k at sf0.1, 79.3M at sf1). The r17
    * default sits just below the MEASURED blind/prefix cost crossover
    * (≈ 18-22 M bound candidates on gate-shaped corpora: blind ≈
    * 1.4 s + 0.45 µs/candidate, prefix ≈ 4.9 s · (n/5000)^0.43 — see
    * OPTIMIZATION_r17.md), erring toward the prefix path because past
    * the crossover blind grows QUADRATICALLY while prefix near it costs
    * ≤ 1.5× — the asymmetric risk at 100 TB. A deployment tunes it per
    * call through `blindCandidateLimit` (as DedupScale does). */
  val DefaultBlindCandidateLimit: Long = 16000000L

  /** Pairwise n-gram Jaccard with double length-bucket blocking: each doc
    * lands in buckets floor(len/W) and floor(len/W)+1, so any pair whose
    * lengths differ by < W shares at least one bucket — near-dups (which
    * differ by a few tokens) are guaranteed candidates without any
    * quadratic cross-corpus join. Candidate pairs are deduped BEFORE the
    * Jaccard verify so each pair is scored once.
    *
    * SCALE PATH (`prefixFilter = true`, the default): length blocking
    * alone is content-blind — every same-length pair is a candidate, so
    * bucket occupancy grows linearly with corpus size and the candidate
    * closure quadratically (the measured 100× run admitted 7.9 B pairs,
    * nearly all with ZERO shingle overlap). The default path therefore
    * generates candidates by PPJoin-style prefix filtering over the
    * shingle-hash sets in global rare-first (df, hash) order — a jac ≥ τ
    * pair must share at least one of each side's first
    * m − ⌈τ·m⌉ + 1 shingles (prefix filtering principle; recall-exact) —
    * and applies the length-bucket predicate, the τ size filter and the
    * PPJoin positional filter as cheap row conditions on the posting
    * join. The verified OUTPUT is provably identical to the plain
    * bucket-join path (every filter is an upper-bound prune for jac ≥ τ;
    * a spec asserts frame equality), but pairs sharing no rare shingle —
    * the quadratic bulk — are never materialized. `prefixFilter = false`
    * keeps the content-blind candidate join (useful as the oracle-shaped
    * reference path and for corpora of tiny documents where the shingle
    * df pass would dominate).
    *
    * COST-BASED GATE: the prefix path pays three fixed extra exchanges
    * (shingle df, rare-first sort, posting self-join) that dominate on
    * small corpora where the blind candidate join is already cheap — so
    * when `prefixFilter` is on, the planner first sums the blind path's
    * candidate bound from bucket OCCUPANCY COUNTS (a lengths-only
    * aggregation, no text movement, same trick as the
    * [[duplicateClusters]] small-graph gate) and keeps the blind join
    * whenever that bound is at most `blindCandidateLimit`. Both paths
    * produce the identical verified pair set, so the choice is pure
    * cost, like an AQE plan switch. */
  def lengthBucketJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                               threshold: Double, bucketWidth: Int = 8,
                               shingleLen: Int = 2,
                               prefixFilter: Boolean = true,
                               blindCandidateLimit: Long = DefaultBlindCandidateLimit,
                               broadcastBudgetBytes: Long = 1L << 30,
                               blockFloorBytes: Long = 64L << 20): DataFrame = {
    // τ = 0 would break the documented blind ≡ prefix output-equality
    // contract: the blind join verifies jac = 0 pairs (disjoint or empty
    // shingle sets) that prefix postings can never generate.
    require(threshold > 0 && threshold <= 1,
      "lengthBucketJaccardPairs: threshold must be in (0, 1]")
    val base = df.select(col(idCol), length(col(textCol)).as("__len"))
    val docs0 = withShingleHashSet(df, idCol, textCol, shingleLen, "sh")
    val useBlind = !prefixFilter || {
      // double-bucket occupancy bound: Σ_b C(c_b, 2) over both bucket
      // replicas ≥ the deduped blind candidate count (≤ 2× over-count)
      val ub = base
        .select(explode(array((col("__len") / bucketWidth).cast("long"),
          (col("__len") / bucketWidth).cast("long") + 1)).as("__b"))
        .groupBy("__b").agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c") * (col("c") - 1)), lit(0L)))
        .head().getLong(0) / 2
      ub <= blindCandidateLimit
    }
    // verify-join shape: the candidate list is the BIG side (clique-
    // quadratic at replica scale) and the per-doc hash-set table the
    // small one — shuffling candidates twice with 400-byte incompressible
    // hash arrays attached is the I/O that kills a 100× run, so when a
    // lengths-only estimate says the doc table fits a broadcast budget,
    // both fetch joins broadcast it. Under broadcast the candidate DEDUP
    // also moves to AFTER the jac filter: candidates then stream straight
    // from the posting join through map-side verify WITHOUT ANY exchange
    // (a 100× run writes ~25 M verified rows to the distinct, not the
    // multi-billion-row candidate stream — re-scoring a pair once per
    // shared prefix hash costs ~2× CPU in a pipelined stage and zero
    // I/O). Past the budget (the true 100 TB regime) the verify runs
    // BUDGET-BATCHED: candidates deduped FIRST (an ids-only exchange),
    // sh1 fetched through ONE ids-plus-doc-table sort-merge join, and
    // sh2 through budget-sized BROADCAST BLOCKS of the doc table in
    // sequential passes — the array-carrying candidate stream never
    // crosses an exchange. The r15 sf10 measurement forced the naive
    // alternative (attach both arrays via two sort-merge joins) and it
    // exceeded one box's disk at >70 GB of exchange before the verify:
    // candidates × 400-byte incompressible hash arrays is the I/O wall
    // the batching exists to remove. Exchange volume here is ids + the
    // doc table itself, independent of candidate count; CPU adds one
    // cheap candidate re-scan per pass.
    val docBytesEst = {
      val st = base.agg(coalesce(sum(col("__len")), lit(0L)),
        count(lit(1))).head()
      // ~1.4 bytes of sorted shingle-hash payload per text character
      // (tokens ≈ chars/6, 8-byte hash per shingle) + row overhead
      st.getLong(0) * 14 / 10 + st.getLong(1) * 32
    }
    val bcVerify = !useBlind && docBytesEst <= broadcastBudgetBytes
    // PREFIX-path doc table, materialized ONCE (r17, guide §5): the
    // (id, sorted shingle-hash set) frame is read by the posting build
    // (tok → dfreq → lists) AND by both verify fetch sides — the r16
    // shape recomputed the scan→tokenize→hash pass once per reference
    // (~4-5 passes per query, each a serialized broadcast-build task at
    // gate scale). One cache fill + cheap columnar reads wins here
    // because the table is consumed FIVE times; contrast the setsim
    // core's signature table (2 reads — recompute won the A/B there).
    // The broadcast-verify frame reads it, so it belongs to that frame
    // (see Checkpoints); the batched path releases it before returning.
    // The blind path keeps lazy docs0: it reads the table twice via
    // shuffle joins and its corpora are small by the cost gate.
    val docs = if (useBlind) docs0 else docs0.stagePersist(true)
    if (useBlind) {
      val b0 = base.select(col(idCol), col("__len"), (col("__len") / bucketWidth).cast("long").as("__b"))
      val b1 = base.select(col(idCol), col("__len"), ((col("__len") / bucketWidth).cast("long") + 1).as("__b"))
      val buckets = b0.unionAll(b1)
      val pairs = buckets.select(col("__b"), col(idCol).as("id1"), col("__len").as("__l1"))
        .join(buckets.select(col("__b"), col(idCol).as("id2"), col("__len").as("__l2")), Seq("__b"))
        // exact length gate: the two-bucket trick admits pairs up to 2W apart;
        // re-checking |Δlen| ≤ W here halves the pairs the Jaccard pass scores
        .where(col("id1") < col("id2") && abs(col("__l1") - col("__l2")) <= bucketWidth)
        .select("id1", "id2").distinct()
      pairs
        .join(docs.select(col(idCol).as("id1"), col("sh").as("sh1")), "id1")
        .join(docs.select(col(idCol).as("id2"), col("sh").as("sh2")), "id2")
        .withColumn("jac", jaccardSortedLong(col("sh1"), col("sh2")))
        .where(col("jac") >= threshold)
        .select("id1", "id2", "jac")
    } else if (bcVerify) {
      val pairs = lengthBucketJaccardCandidates(df, idCol, textCol, threshold,
        bucketWidth, shingleLen, dedup = false, prebuiltDocs = Some(docs))
      pairs
        .join(broadcast(docs.select(col(idCol).as("id1"), col("sh").as("sh1"))), "id1")
        .join(broadcast(docs.select(col(idCol).as("id2"), col("sh").as("sh2"))), "id2")
        .withColumn("jac", jaccardSortedLong(col("sh1"), col("sh2")))
        .where(col("jac") >= threshold)
        .select("id1", "id2", "jac")
        .distinct()
    } else {
      // ABOVE-BUDGET batched verify. Block size = max(budget, 64 MiB)
      // (the spec's budget = 0 forcing value still gets positive
      // blocks); block key = xxhash64(id2) mod passes, so each pass's
      // broadcast is ~docBytes/passes. Passes run as SEQUENTIAL jobs —
      // exactly one block broadcast is live at a time, which is the
      // memory contract that lets the doc table exceed every executor.
      //
      // EAGER EXECUTION: unlike every other branch of this function,
      // this path RUNS ITS JOBS AT CALL TIME (one per pass, plus one
      // materialization of the combined result) — sequential passes are
      // the one-block-live contract, and Spark has no lazy "run these
      // jobs in order" plan node. The returned frame reads the persisted
      // verified-pair result (output-sized, jac >= tau survivors only);
      // the doc table and all per-pass intermediates are released before
      // returning.
      val rawPasses = (docBytesEst + blockFloorBytes - 1) /
        math.max(blockFloorBytes, 1L)
      // NO SILENT CAP: 1024 sequential broadcast passes is already past
      // any practical job count — beyond it each block would silently
      // exceed broadcastBudgetBytes, breaking the stated memory
      // contract in exactly the 100 TB regime this path serves.
      require(rawPasses <= 1024L,
        s"lengthBucketJaccardPairs: batched verify needs $rawPasses passes " +
        s"(docBytesEst=$docBytesEst, blockFloorBytes=$blockFloorBytes) — " +
        "more than the 1024-sequential-job bound; raise broadcastBudgetBytes/" +
        "blockFloorBytes (bigger blocks) or pre-partition the corpus")
      val blockBytes = math.max(broadcastBudgetBytes, blockFloorBytes)
      val passes = math.max(1L,
        (docBytesEst + blockBytes - 1) / blockBytes).toInt
      if (passes > 1) org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"lengthBucketJaccardPairs batched verify: $passes passes, " +
        s"~${docBytesEst / passes} bytes/block (docBytesEst=$docBytesEst)")
      val cand = lengthBucketJaccardCandidates(df, idCol, textCol, threshold,
        bucketWidth, shingleLen, dedup = true, prebuiltDocs = Some(docs))
        .stagePersist(false)
      // sh1 fetch side: shuffled+sorted by id1 ONCE and persisted — the
      // r15 shape re-exchanged the full docs1 side in every pass (total
      // exchange = passes x docBytes); each pass's sort-merge join now
      // reads the persisted partitioning (the leaf reports its source's
      // partitioning/ordering, so only the pass's candidate ids shuffle)
      val docs1 = docs.select(col(idCol).as("id1"), col("sh").as("sh1"))
        .repartition(col("id1")).sortWithinPartitions("id1")
        .stagePersist(false)
      val docs2 = docs.select(col(idCol).as("id2"), col("sh").as("sh2"))
      val parts = (0 until passes).map { j =>
        cand.where(pmod(xxhash64(col("id2")), lit(passes)) === lit(j))
          .join(docs1, "id1") // ids-only left side: sort-merge exchange of longs
          .join(broadcast(docs2.where(
            pmod(xxhash64(col("id2")), lit(passes)) === lit(j))), "id2")
          .withColumn("jac", jaccardSortedLong(col("sh1"), col("sh2")))
          .where(col("jac") >= threshold)
          .select("id1", "id2", "jac")
          .stagePersist(true) // THIS pass, before the next block broadcasts
      }
      // materialized, so every intermediate below can release
      val out = parts.reduce(_ unionAll _).stagePersist(true)
      parts.foreach(_.release())
      docs1.release()
      cand.release()
      docs.release()
      out
    }
  }

  /** The scale-path candidate generator of [[lengthBucketJaccardPairs]]
    * (rare-first prefix postings + length-bucket / size / positional
    * row filters), exposed so candidate-volume audits (graft.ScaleStats)
    * measure EXACTLY the pair set the engine's verify stage consumes.
    * Returns (id1, id2), id1 < id2 — distinct when `dedup` (the audit /
    * sort-merge-verify shape); with `dedup = false` a qualifying pair
    * appears once per shared prefix hash whose profile pair survives
    * the filters (twice when the two docs share the full posting
    * profile — the self-pair expansion emits both orderings) — the
    * broadcast-verify shape, where dedup runs cheaper after the jac
    * filter. */
  private[graft] def lengthBucketJaccardCandidates(
      df: DataFrame, idCol: String, textCol: String, threshold: Double,
      bucketWidth: Int = 8, shingleLen: Int = 2,
      dedup: Boolean = true,
      prebuiltDocs: Option[DataFrame] = None): DataFrame = {
    val base = df.select(col(idCol), length(col(textCol)).as("__len"))
    // callers inside lengthBucketJaccardPairs hand in their persisted
    // (id, sh) table so the shingle pass is not re-derived here
    val docs = prebuiltDocs.getOrElse(
      withShingleHashSet(df, idCol, textCol, shingleLen, "sh"))
    val tau = lit(threshold)
    // global rare-first order: (document frequency, hash) — rarest
    // shingles first, ties broken deterministically by hash value
    val tok = docs.select(col(idCol), explode(col("sh")).as("__h"))
    val dfreq = tok.groupBy("__h").agg(count(lit(1)).as("__df"))
    val lists = tok.join(dfreq, Seq("__h"))
      .groupBy(idCol)
      .agg(sort_array(collect_list(struct(col("__df"), col("__h")))).as("__st"),
        count(lit(1)).as("__m"))
    val pre = lists
      .withColumn("__p", (col("__m") - minOverlap(tau, col("__m")) + 1).cast("int"))
      .select(col(idCol), col("__m"),
        posexplode(expr("transform(slice(__st, 1, __p), x -> x.__h)"))
          .as(Seq("__pos0", "__h")))
      .select(col(idCol), col("__m"), (col("__pos0") + 1).as("__pos"), col("__h"))
      .join(base, idCol)
    // POSTING-PROFILE COLLAPSE (see prefixFilterJaccardCore): every
    // candidate predicate below reads only (m, pos, len) of the two
    // sides, so the join runs over distinct (hash, m, pos, len)
    // profiles and expands surviving profile pairs to document pairs —
    // the near-dup replica clique (identical shingle sets, lengths and
    // prefixes, distinct ids) collapses from C(k,2) emitted join rows
    // per prefix hash to ONE evaluated self-pair row. One posting-sized
    // exchange + in-task chunk expansion, as in the core.
    val preP = pre.repartition(col("__h"), col("__m"), col("__pos"), col("__len"))
    val prof = preP.groupBy("__h", "__m", "__pos", "__len")
      .agg(count(lit(1)).as("__n"))
    val chunks = preP.groupBy(col("__h"), col("__m"), col("__pos"), col("__len"),
        pmod(xxhash64(col(idCol)), lit(4096)).as("__c"))
      .agg(collect_list(col(idCol)).as("__ids"))
    val l = prof.select(col("__h"), col("__m").as("m1"),
      col("__pos").as("pos1"), col("__len").as("__l1"), col("__n").as("n1"))
    val r = prof.select(col("__h"), col("__m").as("m2"),
      col("__pos").as("pos2"), col("__len").as("__l2"), col("__n").as("n2"))
    val profPairs = l.join(r, Seq("__h"))
      // unordered profile pairs: lexicographic (m, pos, len); equality
      // on all three is the SELF pair, kept only with >= 2 members
      .where((col("m1") < col("m2")
          || (col("m1") === col("m2") && col("pos1") < col("pos2"))
          || (col("m1") === col("m2") && col("pos1") === col("pos2")
              && col("__l1") < col("__l2"))
          || (col("m1") === col("m2") && col("pos1") === col("pos2")
              && col("__l1") === col("__l2") && col("n1") >= 2))
        // the length-bucket SEMANTICS, as a row predicate: the pair
        // must share one of the two buckets AND pass the |Δlen| gate
        && abs(col("__l1") - col("__l2")) <= bucketWidth
        && abs((col("__l1") / bucketWidth).cast("long")
          - (col("__l2") / bucketWidth).cast("long")) <= 1
        // τ size filter: jac ≥ τ forces ⌈τ·m1⌉ ≤ m2 (both ways)
        && col("m2") >= minOverlap(tau, col("m1"))
        && col("m1") >= minOverlap(tau, col("m2"))
        // PPJoin positional filter (1e-9 slack: rounding can only KEEP)
        && (lit(1.0) + least(col("m1") - col("pos1"), col("m2") - col("pos2")).cast("double"))
          >= tau * (col("m1") + col("m2")).cast("double") / (lit(1.0) + tau) - lit(1e-9))
      .select(col("__h"), col("m1"), col("pos1"), col("__l1"),
        col("m2"), col("pos2"), col("__l2"))
    val cand = profPairs
      .join(chunks.select(col("__h"), col("__m").as("m1"), col("__pos").as("pos1"),
        col("__len").as("__l1"), col("__ids").as("__ids1")),
        Seq("__h", "m1", "pos1", "__l1"))
      .join(chunks.select(col("__h"), col("__m").as("m2"), col("__pos").as("pos2"),
        col("__len").as("__l2"), col("__ids").as("__ids2")),
        Seq("__h", "m2", "pos2", "__l2"))
      .select(explode(col("__ids1")).as("__a"), col("__ids2"))
      .select(col("__a"), explode(col("__ids2")).as("__b"))
      .where(col("__a") =!= col("__b"))
      .select(least(col("__a"), col("__b")).as("id1"),
        greatest(col("__a"), col("__b")).as("id2"))
    if (dedup) cand.distinct() else cand
  }

  // ===== Edit-distance (fuzzy) matching =====

  /** Blocked fuzzy matching over a string column: DISTINCT values, length-
    * band blocking, exact Levenshtein verify — the record-linkage /
    * near-identical-key step (product names, author strings, URLs) that a
    * naive implementation writes as an all-pairs cross join.
    *
    * RECALL-EXACT by construction: edit distance ≥ |len(a) − len(b)|, so
    * any pair within `maxDist` differs in length by ≤ maxDist; with
    * bucketWidth ≥ maxDist, emitting each value into buckets ⌊len/w⌋ and
    * ⌊len/w⌋+1 guarantees every qualifying pair shares a bucket (the same
    * double-bucket argument as lengthBucketJaccardPairs). The quadratic
    * verify is bounded per length band and runs on DISTINCT values — at
    * 100 TB the shuffle moves (bucket, value) once per value, never the
    * row multiplicity behind it.
    */
  def editDistancePairs(df: DataFrame, strCol: String, maxDist: Int,
                        bucketWidth: Int = 8): DataFrame = {
    require(maxDist >= 0, "editDistancePairs: maxDist must be >= 0")
    require(bucketWidth >= math.max(maxDist, 1),
      s"editDistancePairs: bucketWidth ($bucketWidth) must be >= maxDist ($maxDist) for exact recall")
    val uniq = df.select(col(strCol).as("v")).where(col("v").isNotNull).distinct()
      .withColumn("ln", length(col("v")))
    val bucket = expr(s"CAST(ln AS BIGINT) div $bucketWidth")
    val e = uniq.select(col("v"), col("ln"), bucket.as("b"))
      .unionAll(uniq.select(col("v"), col("ln"), (bucket + 1).as("b")))
    val l = e.select(col("b"), col("v").as("s1"), col("ln").as("l1"))
    val r = e.select(col("b"), col("v").as("s2"), col("ln").as("l2"))
    l.join(r, Seq("b")).where(col("s1") < col("s2") &&
        abs(col("l1") - col("l2")) <= maxDist)
      .select(col("s1"), col("s2")).distinct() // a pair can share both buckets
      .withColumn("dist", levenshtein(col("s1"), col("s2")))
      .where(col("dist") <= maxDist)
  }

  // ===== Embedding near-dup =====

  /** Embedding-cosine near-duplicates via LSH bucketing + exact verify —
    * see Similarity.lshCandidates. */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, nPlanes: Int = 12, seed: Long = 42L,
                        dim: Int = 64): DataFrame =
    Similarity.lshCandidates(df, idCol, vecCol, nPlanes, seed, dim)
      .where(col("cosine") >= threshold)

  /** Set-similarity join with PREFIX FILTERING (Chaudhuri et al. ICDE'06 /
    * Bayardo et al. WWW'07, the PPJoin candidate-generation core): exact
    * token-set Jaccard ≥ τ pairs, recall-EXACT. Tokens sort rarest-first
    * under the global (document-frequency, token) order; a set of size m
    * keeps the first p = m − ceil(τ·m) + 1 tokens as its prefix, and any
    * pair with Jaccard ≥ τ must share a prefix token (a pair sharing
    * none has |∩| ≤ min(ceil(τ·m)−1) < τ·|∪|) — so grouping by prefix
    * token loses nothing, unlike heuristic blocking. Candidates then
    * verify with exact set Jaccard.
    *
    * vs [[lengthBucketJaccardPairs]]: that blocks on LENGTH (recall only
    * for near-equal sizes); this is the content-aware bound — rare tokens
    * make tiny candidate lists, and the prefix shrinks as τ grows.
    *
    * Beyond the prefix itself, the candidate join applies PPJoin's two
    * pair-local prunes — both recall-safe because a qualifying pair is
    * kept if ANY shared prefix token's row passes, and for the FIRST
    * shared token the bounds are valid upper bounds:
    *  - size filter: Jaccard ≥ τ forces ceil(τ·m1) ≤ m2 (both ways);
    *  - positional filter: a token at sorted positions (i1, i2) bounds
    *    the overlap by 1 + min(m1−i1, m2−i2), which must reach the
    *    τ-required overlap τ·(m1+m2)/(1+τ) (compared with a 1e-9 slack
    *    so float rounding can only KEEP, never drop).
    * The verify runs the merge-walk Jaccard over sorted xxhash64 arrays
    * (longs, codegen'd — the same 64-bit-collision trade as MinHash; the
    * oracle replays the raw-string form).
    *
    * Scale: the df count is one reduced exchange; candidate generation
    * shuffles (token, id, size, pos) tuples for PREFIX tokens only (the
    * rarest — their groups are the smallest by construction); verify
    * joins fetch each hashed set once per side, keyed by id. */
  def prefixFilterJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                               threshold: Double,
                               collapseExact: Boolean = true): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      "prefixFilterJaccardPairs: threshold must be in (0, 1]")
    // one native tokenize+hash+sort pass per doc (n=1 shingles = unigram
    // token hashes, values identical to xxhash64(token)); everything
    // downstream — collapse keys, postings, verify — reads this 8-byte
    // signature array, never token text
    val allToks = df.select(col(idCol).as("__id"),
        TextAnalysis.tokens(col(textCol)).as("__w0"))
      .where(size(col("__w0")) > 0)
      .select(col("__id"), graft.functions.ShingleHashExpression
        .shingle_hash_sorted(col("__w0"), 1).as("__sh"))
    if (!collapseExact) return prefixFilterJaccardCore(allToks, threshold)
    // EXACT-SET PRE-COLLAPSE: Jaccard and every candidate filter here
    // depend ONLY on the distinct token set, so docs with identical sets
    // are interchangeable — group them by the COMPOSITE NARROW KEY
    // (xxhash64(sorted hash array), set size, xxhash64(reversed array)):
    // 24 bytes per shuffle key instead of the full 8·m-byte array the
    // r15 code carried. The r15 concern (a single second-layer xxhash64
    // stacks a fresh 64-bit collision on the standing per-token trade)
    // is answered by the triple: merging two DISTINCT sets needs equal
    // sizes plus simultaneous collision of two independent hash streams
    // (forward and reversed element order) — ~2^-128 per pair, far
    // below the per-token xxhash64 trade every verify already accepts.
    // The posting join runs on one min-id REPRESENTATIVE per group, and
    // rep pairs expand back to member pairs afterwards (within-group
    // pairs are jac = 1.0 exactly). On dup-dense corpora (boilerplate,
    // mirrors — where exact copies dominate the dup mass) this removes
    // the clique-quadratic term from the POSTING volume, paying it only
    // in the output expansion, which is the answer's own size. The
    // expansion provably reproduces the uncollapsed output pair-for-pair.
    val gk = Seq("__g1", "__g2", "__g3")
    val grouped = allToks
      .select(col("__id"), col("__sh"), xxhash64(col("__sh")).as("__g1"),
        size(col("__sh")).as("__g2"), xxhash64(reverse(col("__sh"))).as("__g3"))
    val narrow = grouped.select((gk.map(col) :+ col("__id")): _*)
    val reps = narrow.groupBy(gk.map(col): _*)
      .agg(min(col("__id")).as("__rep"), count(lit(1)).as("__n"))
    val membership = narrow.join(reps, gk)
      .select(col("__g1"), col("__g2"), col("__g3"),
        col("__id"), col("__rep"), col("__n"))
    val repToks = grouped.join(
      reps.select(col("__rep").as("__id")), Seq("__id"), "left_semi")
      .select(col("__id"), col("__sh"))
    val repPairs = prefixFilterJaccardCore(repToks, threshold)
    val cross = repPairs
      .join(membership.select(col("__rep").as("id1"), col("__id").as("__a1")), "id1")
      .join(membership.select(col("__rep").as("id2"), col("__id").as("__a2")), "id2")
      .select(least(col("__a1"), col("__a2")).as("id1"),
        greatest(col("__a1"), col("__a2")).as("id2"), col("jac"))
    val mSmall = membership.where(col("__n") > 1)
    val within = mSmall.select((gk.map(col) :+ col("__id").as("id1")): _*)
      .join(mSmall.select((gk.map(col) :+ col("__id").as("id2")): _*), gk)
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), lit(1.0).as("jac"))
    cross.unionAll(within)
  }

  /** OUTPUT-LINEAR cluster-representative mode of
    * [[prefixFilterJaccardPairs]]: returns (id, cluster) — one row per
    * document that belongs to some jac ≥ τ pair, cluster = the smallest
    * member id of its connected component — EXACTLY
    * `duplicateClusters(prefixFilterJaccardPairs(df, …))` (a spec pins
    * frame equality), computed WITHOUT ever materializing member pairs.
    *
    * Why this is the 100 TB shape: the pair OUTPUT contract is
    * inherently Θ(clique²) on dup-dense corpora (boilerplate, mirrors —
    * q_setsim_join at the 100× replica is ~all output mass), while the
    * cluster answer is Θ(docs). Here connectivity is decided on the
    * exact-set-collapsed REPRESENTATIVE graph: an n-member identical-set
    * group is one node of the posting join and one cluster seed, member
    * pairs are never expanded (a group is connected by construction;
    * cross-group reachability of any member equals its rep's), so both
    * the posting volume AND the output stay linear in the corpus where
    * pairs mode pays quadratic twice.
    *
    * Node-set contract (= pairs-mode clustering): a doc appears iff its
    * exact-set group has ≥ 2 members (within-group jac = 1.0 pairs) OR
    * its rep has a verified cross-group pair; the component minimum over
    * members equals the minimum over reps (each rep IS its group's min),
    * so cluster labels match pairs-mode bit-for-bit. */
  def prefixFilterJaccardClusters(df: DataFrame, idCol: String, textCol: String,
                                  threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      "prefixFilterJaccardClusters: threshold must be in (0, 1]")
    // one native tokenize+hash+sort pass — see prefixFilterJaccardPairs
    val allToks = df.select(col(idCol).as("__id"),
        TextAnalysis.tokens(col(textCol)).as("__w0"))
      .where(size(col("__w0")) > 0)
      .select(col("__id"), graft.functions.ShingleHashExpression
        .shingle_hash_sorted(col("__w0"), 1).as("__sh"))
    // composite narrow collapse key — see prefixFilterJaccardPairs
    val gk = Seq("__g1", "__g2", "__g3")
    val grouped = allToks
      .select(col("__id"), col("__sh"), xxhash64(col("__sh")).as("__g1"),
        size(col("__sh")).as("__g2"), xxhash64(reverse(col("__sh"))).as("__g3"))
    val narrow = grouped.select((gk.map(col) :+ col("__id")): _*)
    val reps = narrow.groupBy(gk.map(col): _*)
      .agg(min(col("__id")).as("__rep"), count(lit(1)).as("__n"))
    val membership = narrow.join(reps, gk)
      .select(col("__id"), col("__rep"), col("__n"))
    val repToks = grouped.join(
      reps.select(col("__rep").as("__id")), Seq("__id"), "left_semi")
      .select(col("__id"), col("__sh"))
    val repPairs = prefixFilterJaccardCore(repToks, threshold).select("id1", "id2")
    val repClusters = duplicateClusters(repPairs)
    membership
      .join(repClusters.select(col("id").as("__rep"), col("cluster")),
        Seq("__rep"), "left")
      .where(col("cluster").isNotNull || col("__n") > 1)
      .select(col("__id").as("id"),
        coalesce(col("cluster"), col("__rep")).as("cluster"))
  }

  /** OUTPUT-LINEAR cluster-representative mode of
    * [[lengthBucketJaccardPairs]] — same contract and construction as
    * [[prefixFilterJaccardClusters]] (provably equal to
    * `duplicateClusters(lengthBucketJaccardPairs(df, …))`), with one
    * difference forced by the pair semantics: the candidate predicate
    * reads the raw TEXT LENGTH (length bucket, |Δlen| gate) as well as
    * the shingle set, so interchangeability — and hence the collapse
    * key — is the PAIR (sorted shingle-hash set, exact text length).
    * Docs agreeing on both are indistinguishable to every filter and to
    * the verify, so running the pair machinery on one min-id rep per
    * group loses nothing. */
  def lengthBucketJaccardClusters(df: DataFrame, idCol: String, textCol: String,
                                  threshold: Double, bucketWidth: Int = 8,
                                  shingleLen: Int = 2,
                                  prefixFilter: Boolean = true,
                                  blindCandidateLimit: Long = DefaultBlindCandidateLimit,
                                  broadcastBudgetBytes: Long = 1L << 30): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      "lengthBucketJaccardClusters: threshold must be in (0, 1]")
    // composite narrow collapse key over the (sorted shingle-hash set,
    // exact text length) pair — see prefixFilterJaccardPairs for the
    // 24-byte triple's collision arithmetic; __len rides along as a
    // fourth 8-byte key column because the pair contract is length-gated
    val gk = Seq("__g1", "__g2", "__g3", "__len")
    val keyed = df.select(col(idCol).as("__id"),
        graft.functions.ShingleHashExpression.shingle_hash_sorted(
          TextAnalysis.tokens(col(textCol)), shingleLen).as("__sh"),
        length(col(textCol)).as("__len"))
      .select(col("__id"), xxhash64(col("__sh")).as("__g1"),
        size(col("__sh")).as("__g2"), xxhash64(reverse(col("__sh"))).as("__g3"),
        col("__len"))
    val reps = keyed.groupBy(gk.map(col): _*)
      .agg(min(col("__id")).as("__rep"), count(lit(1)).as("__n"))
    val membership = keyed.join(reps, gk)
      .select(col("__id"), col("__rep"), col("__n"))
    val repDf = df.join(reps.select(col("__rep").as(idCol)), Seq(idCol), "left_semi")
    val repPairs = lengthBucketJaccardPairs(repDf, idCol, textCol, threshold,
      bucketWidth, shingleLen, prefixFilter, blindCandidateLimit,
      broadcastBudgetBytes).select("id1", "id2")
    val repClusters = duplicateClusters(repPairs)
    membership
      .join(repClusters.select(col("id").as("__rep"), col("cluster")),
        Seq("__rep"), "left")
      .where(col("cluster").isNotNull || col("__n") > 1)
      .select(col("__id").as("id"),
        coalesce(col("cluster"), col("__rep")).as("cluster"))
  }

  /** The posting-join core of [[prefixFilterJaccardPairs]]: takes the
    * (__id, __t distinct-token-array) frame and returns verified
    * (id1, id2, jac). Factored out so the exact-set pre-collapse can run
    * it over group representatives only.
    *
    * POSTING-PROFILE COLLAPSE (r16, the PPJoin+-class prune adapted to
    * the shuffle cost model): every candidate filter here — size and
    * positional — is a function of ONLY (set size m, prefix position
    * pos) of the two sides, so posting rows agreeing on
    * (token, m, pos) are interchangeable to the candidate join. The
    * join therefore runs over DISTINCT PROFILES (one row per
    * (token, m, pos), however many documents share it) and expands only
    * the SURVIVING profile pairs back to document pairs. On the
    * adversarial near-dup clique (k replicas of one document, each a
    * distinct token set so the exact-set collapse never fires) all k
    * members post the IDENTICAL profile for every shared prefix token:
    * the old join emitted C(k,2) rows per token and filtered them
    * after emission — the measured 4.77 B-row posting quadratic at the
    * sf3 replica, wall ∝ postings — while the profile join emits ONE
    * self-pair row, evaluates the filter once, and expands nothing when
    * it fails. Emission is now Θ(distinct profiles² per token) +
    * Θ(surviving candidate pairs) — the second term is bounded below by
    * the verify's own input, so no recall-safe generator can beat it.
    * Recall-exact: a document pair sharing a prefix token passes the old
    * per-row filter iff its profile pair passes the same predicate, and
    * the membership expansion reproduces exactly those pairs.
    *
    * Why not PPJoin+'s recursive suffix filter instead: it prunes
    * per-CANDIDATE verify CPU via O(log m) suffix probes, but needs
    * suffix tokens attached to every posting row (a width regression on
    * the posting exchange) and runs AFTER the quadratic emission the
    * profile collapse removes; on this engine's measured walls the
    * emission, not the verify arithmetic, is the superlinear term. */
  private def prefixFilterJaccardCore(toks: DataFrame,
                                      threshold: Double): DataFrame = {
    val tau = lit(threshold)
    // r16 input contract: toks = (__id, __sh) with __sh the SORTED
    // distinct 64-bit token-hash array (xxhash64 values — bit-identical
    // to hashing the token strings). Postings, profiles and chunk keys
    // all carry 8-byte hashes instead of token text — the verify already
    // ran on exactly these hash arrays, so no new collision class is
    // introduced, and the rare-first prefix order simply ties by hash
    // instead of by string (any consistent total order is recall-safe).
    // NOT persisted: the signature lineage is one native tokenize+hash
    // pass — cheap columnar recompute beats the cache round-trip (the
    // madOutliers A/B lesson); contrast containmentPairs, whose persisted
    // table embeds the dfreq join + collect and DOES pay off.
    val sig = toks
    val tok = sig.select(col("__id"), explode(col("__sh")).as("__h"))
    val dfreq = tok.groupBy("__h").agg(count(lit(1)).as("__df"))
    val lists = tok.join(dfreq, Seq("__h"))
      .groupBy("__id")
      .agg(sort_array(collect_list(struct(col("__df"), col("__h")))).as("__st"),
        count(lit(1)).as("__m"))
    val pre = lists
      .withColumn("__p",
        (col("__m") - minOverlap(tau, col("__m")) + 1).cast("int"))
      .select(col("__id"), col("__m"),
        posexplode(expr("transform(slice(__st, 1, __p), x -> x.__h)"))
          .as(Seq("__pos0", "__h")))
      .select(col("__id"), col("__m"), (col("__pos0") + 1).as("__pos"), col("__h"))
    // ONE posting-sized exchange: both the profile census and the
    // chunked member lists aggregate over the same repartition (a
    // subset-key hash partitioning satisfies both groupings, and the
    // expansion joins below read the aggregated side's alias-propagated
    // partitioning), so postings cross the wire once where the r15
    // shape crossed twice.
    val preP = pre.repartition(col("__h"), col("__m"), col("__pos"))
    // one row per (token, m, pos) profile; __n = member count so a
    // singleton self-pair (which cannot yield a document pair) is
    // dropped before the join, not after expansion
    val prof = preP.groupBy("__h", "__m", "__pos")
      .agg(count(lit(1)).as("__n"))
    // member ids per profile in FIXED 4096-way hash chunks: the
    // expansion explodes chunk-pair id arrays IN-TASK, so the expanded
    // candidate stream never crosses an exchange (the wire carries
    // postings + surviving profile/chunk keys only). 4096 buckets bound
    // a chunk at ~n/4096 members — a single profile would need ~10^10
    // interchangeable near-identical docs (exact dups collapse
    // upstream) before chunk rows got heavy.
    val chunks = preP.groupBy(col("__h"), col("__m"), col("__pos"),
        pmod(xxhash64(col("__id")), lit(4096)).as("__c"))
      .agg(collect_list(col("__id")).as("__ids"))
    val l = prof.select(col("__h"), col("__m").as("m1"),
      col("__pos").as("pos1"), col("__n").as("n1"))
    val r = prof.select(col("__h"), col("__m").as("m2"),
      col("__pos").as("pos2"), col("__n").as("n2"))
    // unordered profile pairs: lexicographic (m, pos) — equality means
    // the SAME profile row (the key is (token, m, pos)), i.e. the
    // self-pair, kept only when the profile has >= 2 members
    val profPairs = l.join(r, Seq("__h"))
      .where((col("m1") < col("m2")
          || (col("m1") === col("m2") && col("pos1") < col("pos2"))
          || (col("m1") === col("m2") && col("pos1") === col("pos2")
              && col("n1") >= 2))
        && col("m2") >= minOverlap(tau, col("m1"))
        && col("m1") >= minOverlap(tau, col("m2"))
        && (lit(1.0) + least(col("m1") - col("pos1"), col("m2") - col("pos2")).cast("double"))
          >= tau * (col("m1") + col("m2")).cast("double") / (lit(1.0) + tau) - lit(1e-9))
      .select(col("__h"), col("m1"), col("pos1"), col("m2"), col("pos2"))
    val cand = profPairs
      .join(chunks.select(col("__h"), col("__m").as("m1"),
        col("__pos").as("pos1"), col("__ids").as("__ids1")),
        Seq("__h", "m1", "pos1"))
      .join(chunks.select(col("__h"), col("__m").as("m2"),
        col("__pos").as("pos2"), col("__ids").as("__ids2")),
        Seq("__h", "m2", "pos2"))
      .select(explode(col("__ids1")).as("__a"), col("__ids2"))
      .select(col("__a"), explode(col("__ids2")).as("__b"))
      .where(col("__a") =!= col("__b"))
      .select(least(col("__a"), col("__b")).as("id1"),
        greatest(col("__a"), col("__b")).as("id2"))
      .distinct()
    cand
      .join(sig.select(col("__id").as("id1"), col("__sh").as("sh1")), Seq("id1"))
      .join(sig.select(col("__id").as("id2"), col("__sh").as("sh2")), Seq("id2"))
      .withColumn("jac", jaccardSortedLong(col("sh1"), col("sh2")))
      .where(col("jac") >= threshold)
      .select("id1", "id2", "jac")
  }

  /** Cross-source duplication matrix — WHERE do the duplicates come
    * from: given any near-dup PAIR stream (exact, MinHash, n-gram,
    * SimHash — they all emit (id1, id2)) and the doc→source map, count
    * pairs per unordered source combination. Cross-source mass means
    * mirror sites; diagonal mass means within-crawl boilerplate — the
    * split decides which dedup pass to tighten. Two id-keyed joins +
    * one cell aggregate; sources canonicalize via least/greatest.
    * Output: (source_a, source_b, dup_pairs). */
  def crossSourceDupMatrix(pairs: DataFrame, id1: String, id2: String,
                           docs: DataFrame, idCol: String,
                           sourceCol: String): DataFrame = {
    val src = docs.select(col(idCol).as("__id"), col(sourceCol).as("__src"))
    pairs.select(col(id1).as("__i1"), col(id2).as("__i2"))
      .join(src.select(col("__id").as("__i1"), col("__src").as("__sa")),
        Seq("__i1"))
      .join(src.select(col("__id").as("__i2"), col("__src").as("__sb")),
        Seq("__i2"))
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("dup_pairs"))
  }

  /** Directional CONTAINMENT-similarity join: ordered pairs (id1, id2)
    * where |T₁∩T₂|/|T₁| ≥ threshold — "document 1 is mostly contained in
    * document 2", the quote/excerpt/subset-detection asymmetric
    * complement to [[prefixFilterJaccardPairs]] (Jaccard misses a short
    * doc swallowed by a long one; containment is what quote detection
    * needs). PPJoin-style prefix filter adapted to containment: if B
    * holds ≥ ⌈t·|A|⌉ of A's tokens, it holds at least one of A's first
    * |A| − ⌈t·|A|⌉ + 1 tokens in the global rare-first order — so the
    * CONTAINED side emits only its prefix while the container side must
    * emit every token (the asymmetric price of a one-sided threshold;
    * the rare-first order keeps the hot-token candidate volume minimal).
    * Candidates then verify EXACTLY on sorted 64-bit token-hash arrays
    * (one merge-walk intersection per pair). Equality against the
    * all-pairs oracle proves the prefix filter lost nothing. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double, shingleWidth: Int = 1): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      "containmentPairs: threshold must be in (0, 1]")
    require(shingleWidth >= 1, "containmentPairs: shingleWidth must be >= 1")
    val tau = lit(threshold)
    // shingleWidth > 1 compares n-token SHINGLE sets instead of unigram
    // sets — the right unit for quote/excerpt detection (unigram sets
    // over a small shared vocabulary saturate: nearly every doc is
    // "contained" in every other). Docs shorter than the width have no
    // shingle set and are excluded.
    //
    // r16 shape: ONE native shingle pass. The r15 form materialized
    // shingle STRINGS via an interpreted slice/array_join HOF chain and
    // re-derived that lineage in every consumer (prefix postings, full
    // postings, both verify sides, dfreq twice) — the measured sf0.1
    // wall was ~6 shingle passes of ~2 s each while the candidate join
    // emitted only 363k rows. Now [[graft.functions.ShingleHashSorted]]
    // (codegen, hash values bit-identical to xxhash64(shingle string))
    // produces each doc's sorted distinct 64-bit shingle set once; the
    // (df, hash)-sorted posting table is persisted and EAGERLY
    // materialized so prefix side, full side and both verify probes all
    // read the same 1-row-per-doc table instead of re-tokenizing. The
    // rare-first prefix order ties by hash instead of by string — any
    // consistent total order is recall-safe (pigeonhole over the
    // contained side's prefix; the container side posts every token) —
    // and the verify arithmetic is unchanged, so the all-pairs oracle
    // still pins exactness. Postings and joins now carry 8-byte hashes,
    // never shingle text — the 100 TB wire shape.
    val toksAll =
      if (shingleWidth == 1)
        df.select(col(idCol).as("__id"),
            TextAnalysis.tokens(col(textCol)).as("__w0"))
          .where(size(col("__w0")) > 0)
          .select(col("__id"), sort_array(array_distinct(
            transform(col("__w0"), t => xxhash64(t)))).as("__sh"))
      else
        df.select(col(idCol).as("__id"),
            TextAnalysis.tokens(col(textCol)).as("__w0"))
          .where(size(col("__w0")) >= shingleWidth)
          .select(col("__id"), graft.functions.ShingleHashExpression
            .shingle_hash_sorted(col("__w0"), shingleWidth).as("__sh"))
    val tok = toksAll.select(col("__id"), explode(col("__sh")).as("__h"))
    val dfreq = tok.groupBy("__h").agg(count(lit(1)).as("__df"))
    val lists = tok.join(dfreq, Seq("__h"))
      .groupBy("__id")
      .agg(sort_array(collect_list(struct(col("__df"), col("__h")))).as("__st"),
        count(lit(1)).as("__m"))
      .stagePersist(true) // ONCE — lazy fills are first-writer-wins; the
      // returned frame reads it, so it belongs to that frame (Checkpoints)
    val pre = lists
      .withColumn("__p",
        (col("__m") - minOverlap(tau, col("__m")) + 1).cast("int"))
      .select(col("__id").as("id1"), col("__m").as("m1"),
        explode(expr("transform(slice(__st, 1, __p), x -> x.__h)")).as("__h"))
    val all = lists.select(col("__id").as("id2"), col("__m").as("m2"),
      explode(expr("transform(__st, x -> x.__h)")).as("__h"))
    val cand = pre.join(all, Seq("__h"))
      .where(col("id1") =!= col("id2") &&
        col("m2") >= minOverlap(tau, col("m1")))
      .select("id1", "id2").distinct()
    // per-doc sorted hash array for the exact verify — derived from the
    // SAME persisted postings (the struct array is (df, h)-sorted, so
    // re-sorting its hashes yields the sorted shingle-hash set)
    val hashed = lists.select(col("__id"),
      sort_array(expr("transform(__st, x -> x.__h)")).as("__sh"))
    cand
      .join(hashed.select(col("__id").as("id1"), col("__sh").as("sh1")), Seq("id1"))
      .join(hashed.select(col("__id").as("id2"), col("__sh").as("sh2")), Seq("id2"))
      .withColumn("__cont",
        graft.functions.SetExpressions.sorted_intersect_count(
          col("sh1"), col("sh2")).cast("double") / size(col("sh1")).cast("double"))
      .where(col("__cont") >= threshold)
      .select(col("id1"), col("id2"), round(col("__cont"), 6).as("containment"))
  }

  /** Duplicated-span detection — the distributed fixed-window variant of
    * exact substring dedup (Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better", arXiv:2107.06499 §3.1: their
    * suffix-array ExactSubstr; the n-word-window approximation is the
    * standard map-reduce form). A span = `n` consecutive whitespace
    * tokens; a span is DUPLICATED when its text occurs more than once in
    * the whole corpus (across documents or repeated within one). Returns
    * one row per input document: (id, n_shingles, dup_shingles, dup_frac)
    * — documents shorter than n tokens report 0/0/0.0.
    *
    * Shuffle shape: shingles explode partition-locally (a generator, no
    * exchange); ONE exchange groups by shingle for the global count and
    * the count join reuses that exchange (same key); the per-doc rollup
    * keys by id. Spans are keyed by an 8-byte hash of their text, never
    * the text itself (an n-word string is ~n·6 bytes): duplicate counts
    * equal the raw-text ones up to 64-bit hash collisions, the usual
    * negligible-probability trade, same as MinHash. The DuckDB oracle
    * gate replays the raw-text form. */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      n: Int): DataFrame = {
    require(n >= 2, "duplicatedSpans: span width must be >= 2 tokens")
    val toks = df.select(col(idCol).as("__id"),
      TextAnalysis.tokens(col(textCol)).as("__w"))
    // spans are keyed by the native ShingleHashAll kernel's window
    // hashes (bit-identical to xxhash64(array_join(slice(__w, i, n),
    // ' '))) — no span string is ever built or shuffled
    val sh = toks.select(col("__id"),
      explode(graft.functions.ShingleHashExpression
        .shingle_hash_all(col("__w"), n)).as("__s"))
    val counts = sh.groupBy("__s").agg(count(lit(1)).as("__cnt"))
    val perDoc = sh.join(counts, Seq("__s"))
      .groupBy("__id")
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__cnt") > 1, 1L).otherwise(0L)).as("__dup"))
    df.select(col(idCol))
      .join(perDoc.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__n"), lit(0L)).as("n_shingles"),
        coalesce(col("__dup"), lit(0L)).as("dup_shingles"),
        (coalesce(col("__dup"), lit(0L)).cast("double") /
          greatest(coalesce(col("__n"), lit(0L)), lit(1L))).as("dup_frac"))
  }

  /** FULL exact substring dedup (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better"): the MAXIMAL duplicated token
    * spans per document, for arbitrary duplicate lengths >= k.
    *
    * Key identity that keeps this in one banded shuffle: a token position
    * is covered by some corpus-repeated substring of length >= k IFF it is
    * covered by a duplicated k-gram (the k-gram is itself such a
    * substring; any longer repeat contains one). So phase 1 is the same
    * duplicated-k-gram join as [[duplicatedSpans]], and phase 2 merges
    * overlapping-or-touching duplicated windows per document
    * (gaps-and-islands over a PER-DOC window — partitioned by id, never a
    * single-reducer global sort) into exactly the maximal covered
    * intervals that the suffix-array formulation would emit.
    *
    * Windows are keyed by 8-byte hashes of their text, as in
    * [[duplicatedSpans]]; output equals the raw-text intervals up to
    * 2^-64 hash collisions (spec-asserted against a raw-text reference).
    *
    * Output: one row per maximal interval —
    * (id, span_start 1-based token index, span_end inclusive, span_len). */
  def duplicatedSpansMaximal(df: DataFrame, idCol: String, textCol: String,
                             k: Int): DataFrame = {
    require(k >= 2, "duplicatedSpansMaximal: window width must be >= 2 tokens")
    val toks = df.select(col(idCol).as("__id"),
      TextAnalysis.tokens(col(textCol)).as("__w"))
    // window keys are the native 8-byte window hashes — see
    // duplicatedSpans; posexplode: window start = pos + 1 (1-based
    // token index)
    val sh = toks.select(col("__id"),
      posexplode(graft.functions.ShingleHashExpression
        .shingle_hash_all(col("__w"), k)))
      .select(col("__id"), (col("pos") + 1).as("__start"),
        col("col").as("__s"))
    val dupKeys = sh.groupBy("__s").agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > 1).select("__s")
    val dupStarts = sh.join(dupKeys, Seq("__s")).select("__id", "__start")
    // gaps-and-islands: windows [s, s+k-1] merge when the next start is
    // within k of the previous (overlap or touch => contiguous coverage)
    val w = Window.partitionBy("__id").orderBy("__start")
    val islands = dupStarts
      .withColumn("__new", when(lag(col("__start"), 1).over(w).isNull
        .or(col("__start") > lag(col("__start"), 1).over(w) + k), 1L).otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    islands.groupBy(col("__id").as(idCol), col("__island"))
      .agg(min(col("__start")).as("span_start"),
        (max(col("__start")) + (k - 1)).as("span_end"))
      .select(col(idCol), col("span_start").cast("long"),
        col("span_end").cast("long"),
        (col("span_end") - col("span_start") + 1).cast("long").as("span_len"))
  }

  /** Longest exact repeated token window in the corpus (the escalation
    * ladder): the maximum L >= k such that some L-token window occurs more
    * than once corpus-wide, or 0 when no k-window repeats.
    *
    * Doubling + binary search: O(log(maxLen/k)) probe jobs, each a single
    * hash aggregation over window FINGERPRINTS (8-byte xxhash64 — the
    * shuffle never carries span text, so a probe at L costs the same
    * shuffle bytes as a probe at k). maxLen (one tiny agg job) caps the
    * doubling so pathological inputs cannot loop. */
  def longestRepeatedSpanLength(df: DataFrame, idCol: String, textCol: String,
                                k: Int): Long = {
    require(k >= 1, "longestRepeatedSpanLength: k must be >= 1")
    val toks = df.select(
      TextAnalysis.tokens(col(textCol)).as("__w"))
      .stagePersist(false)
    try {
      val maxLenRow = toks.agg(max(size(col("__w")))).head() // fills toks
      if (maxLenRow.isNullAt(0)) return 0L // empty corpus
      val maxLen = maxLenRow.getInt(0)
      def existsDup(l: Int): Boolean = l <= maxLen && {
        // native window-hash kernel (values identical to
        // xxhash64(array_join(slice(__w, i, l), ' '))): one generated
        // loop per doc instead of an interpreted HOF lambda per span —
        // each probe was ~0.4 s of lambda/concat overhead at sf0.1
        val spanHash = graft.functions.ShingleHashExpression
          .shingle_hash_all(col("__w"), l)
        toks.filter(size(col("__w")) >= l)
          .select(explode(spanHash).as("__h"))
          .groupBy("__h").agg(count(lit(1)).as("__cnt"))
          .filter(col("__cnt") > 1).limit(1).count() > 0
      }
      if (!existsDup(k)) return 0L
      var lo = k // longest known duplicated length
      while (lo * 2 <= maxLen && existsDup(lo * 2)) lo *= 2
      var hiFalse = math.min(lo * 2, maxLen + 1) // shortest known non-duplicated
      // (lo*2 either probed false above or exceeds maxLen entirely)
      while (hiFalse - lo > 1) {
        val mid = lo + (hiFalse - lo) / 2
        if (existsDup(mid)) lo = mid else hiFalse = mid
      }
      lo.toLong
    } finally toks.release()
  }

  /** Survivorship / golden-record construction — the step AFTER dedup
    * clustering: merge each duplicate cluster into one canonical record.
    * Field policy is most-frequent-NON-NULL per attribute with a
    * deterministic tie-break (higher count wins, then smaller value), so
    * the golden record is a pure function of the cluster's contents —
    * identical on any engine, any partitioning, any retry.
    *
    * Shape: one (cluster) aggregate for id/size, plus per attribute one
    * (cluster, value) count aggregate + a rank-1 window PARTITIONED BY
    * CLUSTER (key-sharded — no global window), joined back on the
    * cluster key. Every joined table is post-aggregation (|clusters|
    * rows, not raw rows). A cluster whose attribute is entirely NULL
    * yields NULL for that field (left join). */
  def goldenRecord(df: DataFrame, clusterCol: String, idCol: String,
                   attrCols: Seq[String]): DataFrame = {
    require(attrCols.nonEmpty, "goldenRecord: need at least one attribute")
    val base = df.groupBy(col(clusterCol))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_members"))
    attrCols.foldLeft(base) { (acc, a) =>
      val counts = df.where(col(a).isNotNull)
        .groupBy(col(clusterCol), col(a)).agg(count(lit(1)).as("__c"))
      val w = Window.partitionBy(col(clusterCol))
        .orderBy(col("__c").desc, col(a).asc)
      val mode = counts.withColumn("__r", row_number().over(w))
        .where(col("__r") === 1)
        .select(col(clusterCol), col(a).as(s"golden_$a"))
      acc.join(mode, Seq(clusterCol), "left")
    }
  }

  /** Fellegi-Sunter record-linkage scoring: candidate pairs from a
    * blocking join, scored per field with the classic log-likelihood
    * weights — agreement adds ln(m/u), disagreement adds
    * ln((1−m)/(1−u)), where m = P(agree | match) and u = P(agree |
    * non-match) are caller-supplied per-field parameters. Each weight is
    * a CONSTANT: it is computed once, rounded to 6 dp, and summed as
    * DECIMAL, so the total score is order-independent and exactly
    * SQL-replayable (no per-row ln anywhere). Agreement is null-safe
    * equality (two NULLs agree). Output: left/right ids, one ag_<field>
    * flag per field, and `score`; callers threshold into
    * match / possible / non-match.
    *
    * Scale: the join is the blocking join — pairs bounded by
    * Σ per-block |L|·|R|, the caller's blocking key choice; scoring adds
    * one codegen'd projection, no further exchange. */
  def linkageScores(left: DataFrame, right: DataFrame,
                    blockCol: String, leftId: String, rightId: String,
                    fields: Seq[(String, Double, Double)]): DataFrame = {
    require(fields.nonEmpty, "linkageScores: need at least one field")
    fields.foreach { case (f, m, u) =>
      require(m > 0 && m < 1 && u > 0 && u < 1 && m > u,
        s"linkageScores: field $f needs 0 < u < m < 1, got m=$m u=$u")
    }
    def w6(x: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(math.rint(math.log(x) * 1e6) / 1e6)
    val l = left.select((col(blockCol).as("__b") +: col(leftId).as("lid") +:
      fields.map { case (f, _, _) => col(f).as(s"__l_$f") }): _*)
    val r = right.select((col(blockCol).as("__b") +: col(rightId).as("rid") +:
      fields.map { case (f, _, _) => col(f).as(s"__r_$f") }): _*)
    val scored = fields.foldLeft(l.join(r, Seq("__b"))) {
      case (df, (f, m, u)) =>
        df.withColumn(s"ag_$f", col(s"__l_$f") <=> col(s"__r_$f"))
          .withColumn(s"__w_$f",
            when(col(s"ag_$f"), lit(w6(m / u)))
              .otherwise(lit(w6((1 - m) / (1 - u)))).cast("decimal(18,6)"))
    }
    scored.select((col("lid") +: col("rid") +:
      fields.map { case (f, _, _) => col(s"ag_$f") } :+
      fields.map { case (f, _, _) => col(s"__w_$f") }
        .reduce(_ + _).cast("double").as("score")): _*)
  }

  /** Sorted-neighborhood blocking (the OTHER classic ER candidate
    * generator besides key blocking and LSH): order records by a fuzzy
    * sort key and pair every record with its `w` successors — typo-ed
    * keys usually sort adjacently even when equality blocking separates
    * them. Candidate volume is exactly n·w by construction (the skew
    * guard key blocking lacks: a hot block can't explode).
    *
    * The rank is a global row_number over (key, id) — the one global
    * sort this operator is ABOUT (at 100 TB: range-partition the sort
    * and carry partition-offset ranks; the pairing below is unchanged).
    * Pairing never self-joins on raw rank inequality: ranks band by
    * ⌊rank/w⌋ and a pair within distance w spans at most two adjacent
    * bands, so one keyed join per offset ∈ {0, 1} (deduped by the
    * distance filter) finds every pair — recall is structural.
    * Output: (id_a, id_b, key_a, key_b, rank_dist ∈ [1, w]). */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String,
                              sortKeyCol: String, w: Int): DataFrame = {
    require(w >= 1, "sortedNeighborhoodPairs: window must be >= 1")
    // round 8: the global rank rides Profile.rowPositions (range-exchange
    // two-level positions) — the old single-reducer row_number window was
    // the only non-distributed step of this blocking scheme.
    val ranked = Profile.rowPositions(
        df.select(col(idCol).as("__id"), col(sortKeyCol).as("__k")),
        "__rn0", col("__k").asc, col("__id").asc)
      .withColumn("__rn", (col("__rn0") + 1L).cast("long")).drop("__rn0")
    val a = ranked.select(col("__id").as("id_a"), col("__k").as("key_a"),
      col("__rn").as("__ra"))
    val b = ranked.select(col("__id").as("id_b"), col("__k").as("key_b"),
      col("__rn").as("__rb"))
    // the two offsets are mutually exclusive (same band vs next band),
    // so the union is duplicate-free without a distinct
    Seq(0, 1).map { off =>
      a.withColumn("__band", expr(s"(__ra div ${w}L) + $off"))
        .join(b.withColumn("__band", expr(s"__rb div ${w}L")), Seq("__band"))
        .where((col("__rb") - col("__ra")).between(1, w))
    }.reduce(_ unionByName _)
      .select(col("id_a"), col("id_b"), col("key_a"), col("key_b"),
        (col("__rb") - col("__ra")).as("rank_dist"))
  }

  /** Blocking-quality audit for a record-linkage setup: before running
    * [[linkageScores]] over a blocking key, measure what the key costs
    * and what it loses. Reduction ratio RR = 1 − candidates/(|L|·|R|)
    * (how much of the quadratic comparison space the blocking removes);
    * pair completeness PC = |truth ∩ candidates| / |truth| (how many
    * TRUE matches still meet in a block — the recall the blocking caps).
    * The q_linkage nation-vs-name rebleck (63× scaling wall, round 7)
    * is exactly the trade this operator quantifies up front.
    *
    * candidates = Σ_b |L_b|·|R_b| folds over the per-block COUNT join
    * (the joinCardinality shape — never materialized pairs); the truth
    * check is two id-keyed joins attaching each side's block. All
    * integers exact; ratios are single rounded doubles. `truth` holds
    * one row per true match (leftId, rightId). */
  def blockingQuality(left: DataFrame, right: DataFrame, blockCol: String,
                      leftId: String, rightId: String,
                      truth: DataFrame): DataFrame = {
    def d(c: Column) = c.cast("double")
    val lb = left.groupBy(col(blockCol).as("__b")).agg(count(lit(1)).as("__lc"))
    val rb = right.groupBy(col(blockCol).as("__b")).agg(count(lit(1)).as("__rc"))
    val cand = lb.join(rb, Seq("__b"))
      .agg(coalesce(sum(col("__lc") * col("__rc")), lit(0L)).as("candidates"))
    val sizes = left.agg(count(lit(1)).as("n_left"))
      .crossJoin(right.agg(count(lit(1)).as("n_right")))
    val tl = truth.select(col(leftId).as("__lid"), col(rightId).as("__rid"))
    val matched = tl
      .join(left.select(col(leftId).as("__lid"), col(blockCol).as("__bl")), Seq("__lid"))
      .join(right.select(col(rightId).as("__rid"), col(blockCol).as("__br")), Seq("__rid"))
      .agg(count(lit(1)).as("n_truth"),
        sum(when(col("__bl") === col("__br"), 1L).otherwise(0L))
          .as("truth_in_block"))
    cand.crossJoin(sizes).crossJoin(matched)
      .select(col("n_left"), col("n_right"), col("candidates"),
        col("n_truth"), col("truth_in_block"),
        round(lit(1.0) - d(col("candidates")) /
          (d(col("n_left")) * d(col("n_right"))), 6).as("reduction_ratio"),
        when(col("n_truth") > 0, round(
          d(col("truth_in_block")) / d(col("n_truth")), 6))
          .as("pair_completeness"))
  }
}
