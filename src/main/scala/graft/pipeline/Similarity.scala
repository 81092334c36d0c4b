package graft.pipeline

import graft.Sessions
import graft.pipeline.Checkpoints.{DatasetCheckpointOps, LoopRowsPerPartition}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]).
  *
  * Baseline: brute-force cosine top-k (broadcast the query set, scan the
  * corpus once — embarrassingly parallel, no shuffle of the corpus).
  * Scale path: random-hyperplane LSH bucketing so the candidate join
  * touches only same-bucket pairs.
  *
  * All vector math is `functions.aggregate`/`zip_with` folds — sequential
  * left-to-right double adds, deterministic across runs and partitionings.
  */
object Similarity {

  /** Cast a float vector column to double for stable arithmetic. */
  def asDoubleVec(v: Column): Column = transform(v, x => x.cast("double"))

  /** Codegen'd native dot product (graft.functions.VectorDot) — sequential
    * left-to-right double accumulation, bit-identical to the interpreted
    * HOF fold `aggregate(zip_with(a,b,_*_), 0d, _+_)` it replaces, but it
    * stays inside whole-stage codegen (HOF lambdas do not). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vec_dot(a, b)

  /** Interpreted HOF formulation, kept as the composable reference
    * implementation (SURVEY preference order: compose built-ins first). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force exact top-k: for each query vector, the k nearest corpus
    * vectors by cosine. The query side is broadcast (it must be small);
    * the corpus is scanned exactly once. Ranking uses a per-query window —
    * partitioned by query id, so it shards across the cluster. */
  def bruteForceTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                     queries: DataFrame, queryId: String, queryVec: String,
                     k: Int): DataFrame = {
    val scored = corpus.select(col(corpusId), asDoubleVec(col(corpusVec)).as("__cv"))
      .crossJoin(broadcast(queries.select(col(queryId), asDoubleVec(col(queryVec)).as("__qv"))))
      .where(col(corpusId) =!= col(queryId))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("cosine").desc, col(corpusId))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(queryId), col(corpusId), col("cosine"), col("rank"))
  }

  /** Deterministic pseudo-random unit-free hyperplanes (library-side
    * constant, broadcast as a literal — nPlanes × dim doubles). Public so
    * the correctness oracle can embed the identical constants and
    * re-derive the signatures independently. */
  def planes(nPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextGaussian())
  }

  /** Random-hyperplane signature: bit i = sign(v · plane_i), packed into a
    * long. Vectors with equal signatures land in the same bucket. */
  def lshSignature(v: Column, nPlanes: Int, dim: Int, seed: Long = 42L): Column = {
    val ps = planes(nPlanes, dim, seed)
    val bits = ps.zipWithIndex.map { case (p, i) =>
      val plane = array(p.map(lit): _*)
      when(dot(v, plane) >= 0, shiftleft(lit(1L), i)).otherwise(0L)
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** LSH-bucketed candidate pairs with exact cosine attached. Same-signature
    * self-join: the shuffle moves (signature, id, vec) once; the quadratic
    * verify runs per bucket. */
  def lshCandidates(df: DataFrame, idCol: String, vecCol: String,
                    nPlanes: Int = 12, seed: Long = 42L,
                    dim: Int = 64): DataFrame = {
    val keyed = df.select(col(idCol), asDoubleVec(col(vecCol)).as("__v"))
      .repartition(col(idCol)) // barrier: keep the cast vector from being
      // re-materialized once per hyperplane inside the signature lambda
      .withColumn("__sig", lshSignature(col("__v"), nPlanes, dim, seed))
    val l = keyed.select(col("__sig"), col(idCol).as("id1"), col("__v").as("v1"))
    val r = keyed.select(col("__sig"), col(idCol).as("id2"), col("__v").as("v2"))
    l.join(r, Seq("__sig")).where(col("id1") < col("id2"))
      .withColumn("cosine", cosine(col("v1"), col("v2")))
      .select("id1", "id2", "cosine")
  }

  // ===== IVF (inverted-file) ANN =====

  /** Deterministic k-means-lite coarse quantizer: seeds are the k vectors
    * with the smallest xxhash64(id) (a deterministic uniform sample), then
    * `iters` Lloyd rounds computed with distributed aggregations
    * (posexplode → per-dimension mean). Returns the centroids as
    * driver-side index metadata (k × dim doubles — IVF centroids are
    * by construction small enough to broadcast).
    */
  def ivfCentroids(df: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int = 2): Array[Array[Double]] = {
    val vecs = df.select(col(idCol), asDoubleVec(col(vecCol)).as("__v"))
    var centroids: Array[Array[Double]] = vecs
      .orderBy(xxhash64(col(idCol))).limit(k)
      .select("__v").collect()
      .map(_.getSeq[Double](0).toArray)
    (1 to iters).foreach { _ =>
      val assigned = assignCells(vecs, centroids, "__v", "__cell")
      val means = assigned
        .select(col("__cell"), posexplode(col("__v")).as(Seq("__pos", "__x")))
        .groupBy("__cell", "__pos").agg(avg("__x").as("__m"))
        .groupBy("__cell").agg(sort_array(collect_list(struct(col("__pos"), col("__m")))).as("__mv"))
        .select(col("__cell"), transform(col("__mv"), s => s.getField("__m")).as("__c"))
        .collect().map(r => r.getInt(0) ->
          // round: distributed double sums are order-sensitive at the last
          // bit; rounding makes the index identical across runs/partitionings
          r.getSeq[Double](1).map(x => math.rint(x * 1e6) / 1e6).toArray).toMap
      centroids = centroids.indices.map(i => means.getOrElse(i, centroids(i))).toArray
    }
    centroids
  }

  /** Assign each vector to its nearest centroid (max cosine) — a fold over
    * k codegen'd vec_dot calls, no shuffle. Tie on cosine → the HIGHER
    * centroid index wins (greatest() over (score, index) structs). */
  def assignCells(df: DataFrame, centroids: Array[Array[Double]],
                  vecCol: String, out: String): DataFrame = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val lit_c = array(c.map(lit): _*)
      struct(cosine(col(vecCol), lit_c).as("s"), lit(i).as("i"))
    }
    // greatest() requires >= 2 args; a single centroid is cell 0
    val best = if (scored.length == 1) scored.head else greatest(scored: _*)
    df.withColumn(out, best.getField("i"))
  }

  /** IVF top-k: corpus bucketed by nearest centroid; each query probes its
    * `nprobe` nearest cells and ranks exactly within them. The candidate
    * join is cell-equi — the shuffle moves each corpus vector once.
    */
  def ivfTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int, nCells: Int = 16, nprobe: Int = 3): DataFrame = {
    val cents = ivfCentroids(corpus, corpusId, corpusVec, nCells)
    val cell = assignCells(
      corpus.select(col(corpusId), asDoubleVec(col(corpusVec)).as("__cv")), cents, "__cv", "__cell")
    // each query expands to its nprobe closest cells
    // probe order sorts (-cos, -i): on tied centroid scores the HIGHER
    // index wins, matching assignCells' greatest() tie-break — a query
    // always probes the cell its own exact duplicate was assigned to
    val qScored = queries.select(col(queryId), asDoubleVec(col(queryVec)).as("__qv"))
      .withColumn("__cells", sort_array(array(cents.zipWithIndex.map { case (c, i) =>
        struct((-cosine(col("__qv"), array(c.map(lit): _*))).as("d"), lit(-i).as("ni"))
      }: _*)))
      .withColumn("__cell", explode(slice(col("__cells"), 1, nprobe)))
      .select(col(queryId), col("__qv"), (-col("__cell.ni")).as("__cell"))
    val cand = qScored.join(cell, Seq("__cell"))
      .where(col(corpusId) =!= col(queryId))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col(queryId)).orderBy(col("cosine").desc, col(corpusId))
    cand.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col(queryId), col(corpusId), col("cosine"), col("rank"))
  }

  /** IVF top-k over TRAINED quantized centroids — the trained sibling of
    * [[ivfTopK]] whose whole index build is SQL-replayable: centroids
    * come from [[kmeansQuantized]] (floor-quantized integer Lloyd
    * rounds — exact integer assignment with ties to the lower cid,
    * integer floor-division mean updates, empty cells keep their
    * centroid), corpus cell assignment and query cell PROBING use the
    * same exact integer L2 argmin (the discriminant Σc² − 2·x·c differs
    * from Σ(x−c)² by a per-point constant, so argmin and tie order are
    * identical — every value stays below 2^53 so double arithmetic is
    * exact), and the within-cell ranking is the exact cosine over RAW
    * vectors (bit-parity with DuckDB's list_inner_product, the
    * q_ann_brute contract). With nprobe < nCells this is a GENUINE
    * approximation whose oracle replays the approximation itself —
    * training unrolled round by round — not a degenerate exact config:
    * the trained-centroid layout, not just two update steps, is pinned. */
  def ivfTopKQuantized(corpus: DataFrame, corpusId: String, corpusVec: String,
                       queries: DataFrame, queryId: String, queryVec: String,
                       k: Int, nCells: Int, nprobe: Int, iters: Int,
                       scale: Int = 1000): DataFrame = {
    require(nprobe >= 1 && nprobe <= nCells, "ivfTopKQuantized: need 1 <= nprobe <= nCells")
    val cb = kmeansQuantized(corpus, corpusId, corpusVec, nCells, iters, scale)
    // k × dim integer centroids — bounded index metadata (the
    // ivfCentroids precedent), broadcast as literals into codegen
    val cents: Array[Array[Long]] = {
      val byCid = cb.collect().map(r =>
        (r.getInt(0), r.getInt(1), r.getLong(2))).groupBy(_._1)
      (0 until nCells).map(i => byCid(i).sortBy(_._2).map(_._3)).toArray
    }
    def qz(v: Column) =
      transform(v, x => floor(x * lit(scale.toDouble)).cast("double"))
    def disc(q: Column, c: Array[Long]): Column =
      lit(c.map(v => v.toDouble * v).sum) -
        lit(2.0) * dot(q, array(c.map(v => lit(v.toDouble)): _*))
    def cellStructs(q: Column) = cents.zipWithIndex.map { case (c, i) =>
      struct(disc(q, c).as("s"), lit(i).as("i"))
    }
    val corp = corpus.select(col(corpusId), asDoubleVec(col(corpusVec)).as("__cv"))
      .withColumn("__q", qz(col("__cv")))
    val corpScored = cellStructs(col("__q"))
    val corpBest = if (corpScored.length == 1) corpScored.head else least(corpScored: _*)
    val corpCell = corp.withColumn("__cell", corpBest.getField("i"))
      .select(col(corpusId), col("__cv"), col("__cell"))
    val qr = queries.select(col(queryId), asDoubleVec(col(queryVec)).as("__qv"))
      .withColumn("__q", qz(col("__qv")))
      // ascending (disc, cid): nearest cells first, ties to the LOWER
      // cid — the same tie kmeansQuantized's least() makes, so a query
      // always probes the cell its own exact duplicate landed in
      .withColumn("__cells", sort_array(array(cellStructs(col("__q")): _*)))
      .select(col(queryId), col("__qv"),
        explode(transform(slice(col("__cells"), 1, nprobe), s => s.getField("i")))
          .as("__cell"))
    val w = Window.partitionBy(col(queryId)).orderBy(col("cosine").desc, col(corpusId))
    qr.join(corpCell, Seq("__cell"))
      .where(col(corpusId) =!= col(queryId))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(queryId), col(corpusId), col("cosine"), col("rank"))
  }

  /** SemDeDup — semantic near-duplicate pruning over an embedding column
    * (the k-means-cluster-then-compare-within-cluster recipe from the
    * SemDeDup paper, arXiv:2303.09540): assign each vector to its nearest
    * of k caller-supplied centroids (broadcast literals, no shuffle), form
    * candidate pairs WITHIN cells only (the quadratic verify is ~n²/k per
    * cell, never corpus-all-pairs), connect pairs with cosine ≥ `tau` into
    * components, and keep the min-id representative per component.
    *
    * Cell-size contract (round 9): a fixed caller-supplied centroid set
    * makes the within-cell self-join quadratic in cell size — at 10× data
    * with fixed k the pair count grows 100×, which was the repo's worst
    * measured scale ratio (32× wall, BASELINE.md r8). Cells larger than
    * `maxCellSize` are therefore recursively RE-QUANTIZED before the
    * verify (the SemDeDup paper's within-cluster sharding): each
    * over-full cell's members are reassigned to the cell's own ≤`splitK`
    * lowest-min-id DISTINCT member vectors (nearest by cosine, tie → the
    * higher sub-index, matching `assignCells`), extending the cell key to
    * a path string, for up to `maxSplitRounds` rounds or until no cell is
    * over the cap. Sub-centroid selection and reassignment are fully
    * distributed (a per-cell window + an equi-join on the cell key — no
    * driver-side vector metadata); each round is one Spark job sequence
    * over ONLY the rows still in over-full cells. A cell that cannot
    * split (all members share one distinct vector, or all are colinear)
    * stabilizes harmlessly: its members are mutual duplicates at any
    * τ ≥ 0, so its quadratic verify is output-bound — the pairs ARE the
    * answer. The recursion is therefore Θ(output) in the worst case and
    * Θ(n·splitK·depth) otherwise, never fixed-k-quadratic.
    *
    * Returns one row per input id: (id, canonical, kept) — kept ⇔ the row
    * survives dedup. Centroids are index metadata (k × dim doubles):
    * `ivfCentroids` gives a Lloyd-refined set; any deterministic sample
    * (e.g. the first k vectors) gives a fully SQL-replayable one, which is
    * what the q_semdedup oracle uses (the oracle unrolls the split rounds
    * with the same cap/splitK constants).
    *
    * At 100 TB: the cell join shuffles (cell, id, vec) once per split
    * round; cells shard across reducers, and the cap — not k — bounds the
    * per-cell quadratic term, so a coarse initial k stays safe. The
    * component step shuffles (id, id) longs only. Intermediate rounds are
    * lazily checkpointed (lineage stays flat); each round's
    * checkpoint is released through its handle once its successor
    * materializes, and the last one once the component step has
    * consumed every pair.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[Array[Double]], tau: Double,
                    maxCellSize: Int = 4096, splitK: Int = 8,
                    maxSplitRounds: Int = 8): DataFrame = {
    require(maxCellSize > 1, s"semanticDedup: maxCellSize must be > 1, got $maxCellSize")
    require(splitK > 1, s"semanticDedup: splitK must be > 1, got $splitK")
    require(maxSplitRounds >= 0, s"semanticDedup: maxSplitRounds must be >= 0")
    val v = df.select(col(idCol), asDoubleVec(col(vecCol)).as("__v"))
      .repartition(col(idCol)) // materialize the cast once, not per centroid
    // cell key is a PATH string: level-0 centroid index, extended with
    // '-<subIndex>' per split round — identical on the oracle side
    var celled = assignCells(v, centroids, "__v", "__cell")
      .withColumn("__cell", col("__cell").cast("string"))
      .select(col(idCol), col("__v"), col("__cell"))
      .stageCheckpoint(false)
    var prev: Option[DataFrame] = None
    var round = 0
    var done = false
    while (round < maxSplitRounds && !done) {
      val over = celled.groupBy("__cell").agg(count(lit(1)).as("__cn"))
        .where(col("__cn") > maxCellSize).select("__cell")
      // the count materializes the current (lazy) checkpoint; only then is
      // the PREVIOUS round's checkpoint safe to release
      val nOver = over.count()
      prev.foreach(_.release())
      prev = Some(celled)
      if (nOver == 0L) done = true
      else {
        val members = celled.join(over, Seq("__cell"))
        // sub-centroids: the cell's ≤splitK distinct vectors with the
        // lowest min member id — deterministic, no driver collect
        val subcents = members.groupBy(col("__cell"), col("__v"))
          .agg(min(col(idCol)).as("__mid"))
          .withColumn("__si", row_number().over(
            Window.partitionBy(col("__cell")).orderBy(col("__mid"))) - 1)
          .where(col("__si") < splitK)
          .select(col("__cell"), col("__v").as("__sv"), col("__si"))
        val w = Window.partitionBy(col(idCol))
          .orderBy(col("__cos").desc, col("__si").desc)
        val reassigned = members.join(subcents, Seq("__cell"))
          .withColumn("__cos",
            dot(col("__v"), col("__sv")) / (norm(col("__v")) * norm(col("__sv"))))
          .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
          .select(col(idCol), col("__v"),
            concat(col("__cell"), lit("-"), col("__si").cast("string")).as("__cell"))
        val untouched = celled.join(over, Seq("__cell"), "left_anti")
          .select(col(idCol), col("__v"), col("__cell"))
        celled = untouched.unionByName(reassigned).stageCheckpoint(false)
      }
      round += 1
    }
    // norm precomputed ONCE per vector (sqrt∘dot is deterministic, and
    // n1*n2 is the same IEEE product the inline cosine would compute) —
    // the quadratic verify then pays ONE dot per pair instead of three
    val fin = celled.withColumn("__nrm", norm(col("__v")))
    val l = fin.select(col("__cell"), col(idCol).as("id1"),
      col("__v").as("v1"), col("__nrm").as("n1"))
    val r = fin.select(col("__cell"), col(idCol).as("id2"),
      col("__v").as("v2"), col("__nrm").as("n2"))
    val pairs = l.join(r, Seq("__cell")).where(col("id1") < col("id2"))
      .withColumn("cosine", dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .where(col("cosine") >= tau)
      .select("id1", "id2")
    val clusters = Dedup.duplicateClusters(pairs)
    // duplicateClusters materializes every pair before it returns, so no
    // frame reads the cell rounds any more
    prev.foreach(_.release())
    celled.release()
    df.select(col(idCol))
      .join(clusters.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("canonical", coalesce(col("cluster"), col(idCol)))
      .withColumn("kept", col("canonical") === col(idCol))
      .select(col(idCol), col("canonical"), col("kept"))
  }

  /** ANN top-k via multi-probe LSH: exact within-bucket ranking. Falls back
    * to fewer than k results when a bucket is small — the documented
    * approximate trade-off vs bruteForceTopK. */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
              nPlanes: Int = 8, seed: Long = 42L, dim: Int = 64): DataFrame = {
    val cand = lshCandidates(df, idCol, vecCol, nPlanes, seed, dim)
    val sym = cand.select(col("id1").as("qid"), col("id2").as("nid"), col("cosine"))
      .unionAll(cand.select(col("id2").as("qid"), col("id1").as("nid"), col("cosine")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("nid"))
    sym.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** DETERMINISTIC k-means training (Lloyd) over floor-quantized integer
    * coordinates — unlike float k-means (ivfCentroids), every step is
    * exact arithmetic: assignment distances are integral values carried
    * exactly in doubles (all magnitudes ≪ 2^53), centroid updates are
    * integer floor-divided dimension sums, ties break to the smaller
    * centroid index. The fixed point is therefore bit-identical under any
    * partitioning, any engine, any retry — trainable index metadata a
    * SQL oracle can replay by unrolling the iterations (the q_pagerank
    * standard).
    *
    * Per iteration: one codegen'd k-way argmin projection (reduced score
    * −2·v·c + |c|² — the per-row |v|² term is argmin-invariant and
    * dropped), one (cell, dim) sum aggregation, and a k×dim driver
    * collect (bounded index metadata, the ivfCentroids pattern). Output:
    * (cid, dim, v) — the final quantized centroids. */
  def kmeansQuantized(df: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int, scale: Int = 1000): DataFrame = {
    require(k >= 1 && iters >= 1, "kmeansQuantized: k and iters must be >= 1")
    val q = df.select(col(idCol).as("__id"),
        transform(asDoubleVec(col(vecCol)),
          x => floor(x * lit(scale.toDouble)).cast("double")).as("__q"))
      .where(col("__id").isNotNull && col("__q").isNotNull)
    var cents: Array[Array[Long]] = q.orderBy("__id").limit(k)
      .select("__q").collect()
      .map(_.getSeq[Double](0).map(_.toLong).toArray)
    require(cents.length == k, s"kmeansQuantized: need >= $k vectors, got ${cents.length}")
    (1 to iters).foreach { _ =>
      val scored = cents.zipWithIndex.map { case (c, i) =>
        val cl = array(c.map(v => lit(v.toDouble)): _*)
        struct((lit(-2.0) * dot(col("__q"), cl) +
          lit(c.map(v => v.toDouble * v).sum)).as("s"), lit(i).as("i"))
      }
      val best = if (scored.length == 1) scored.head else least(scored: _*)
      val sums = q.withColumn("__cell", best.getField("i"))
        .select(col("__cell"), posexplode(col("__q")).as(Seq("__pos", "__x")))
        .groupBy("__cell", "__pos")
        .agg(sum(col("__x").cast("long")).as("__s"), count(lit(1)).as("__n"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) ->
          Math.floorDiv(r.getLong(2), r.getLong(3))).toMap
      cents = cents.zipWithIndex.map { case (prev, i) =>
        prev.indices.map(p => sums.getOrElse((i, p), prev(p))).toArray
      }
    }
    val sp = df.sparkSession
    import sp.implicits._
    cents.zipWithIndex.flatMap { case (c, i) =>
      c.zipWithIndex.map { case (v, p) => (i, p, v) }
    }.toSeq.toDF("cid", "dim", "v")
  }

  /** L2-normalize + int8 quantization — the serving-prep step that turns
    * a float embedding into the compact form ANN indexes ship (4×
    * smaller, SIMD-friendly): q_d = ⌊127·x_d/‖x‖⌋ ∈ [−127, 127]. The
    * ratio is rounded 9 dp before the floor so a 1-ulp cross-engine norm
    * difference cannot flip a boundary (the noisyCounts convention);
    * zero vectors quantize to all-zero rather than dividing by zero.
    * One codegen'd vec_dot per row for the norm, then a generator —
    * no shuffle at all. Output long-form: (id, dim, q, norm). */
  def l2QuantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = asDoubleVec(col(vecCol))
    val nrm = sqrt(dot(v, v))
    df.select(col(idCol), nrm.as("__n"), posexplode(v).as(Seq("dim", "__x")))
      .select(col(idCol), col("dim"),
        when(col("__n") > 0,
          floor(round(lit(127.0) * col("__x") / col("__n"), 9)).cast("int"))
          .otherwise(lit(0)).as("q"),
        round(col("__n"), 6).as("norm"))
  }

  /** Johnson–Lindenstrauss random projection with a ±1 PORTABLE sign
    * matrix — the dimensionality-reduction step before ANN at 100 TB
    * (a 64-d float vector becomes outDims exact integers; distances are
    * preserved in expectation, Achlioptas 2001). The sign of input dim i
    * in output dim j is the parity of a portable integer hash, so any
    * SQL engine reproduces the ENTIRE projection exactly: inputs are
    * floor-quantized to integers and each output coordinate is one
    * codegen'd vec_dot against a literal sign vector (exact integral
    * doubles — zero shuffles, zero UDFs, no interpreted HOF fold).
    * Output: (id, rp_dim, rp_value) long-form. */
  def randomProjection(df: DataFrame, idCol: String, vecCol: String,
                       dim: Int, outDims: Int = 16, scale: Int = 1000): DataFrame = {
    require(outDims >= 1 && dim >= 1, "randomProjection: dims must be >= 1")
    def sign(i: Int, j: Int): Double =
      if (((i + 1) * 2654435761L + (j + 1) * 2246822519L) % 2147483648L % 2 == 0) 1.0
      else -1.0
    val q = transform(asDoubleVec(col(vecCol)), x => floor(x * lit(scale.toDouble)).cast("double"))
    val outs = (0 until outDims).map { j =>
      val signs = array((0 until dim).map(i => lit(sign(i, j))): _*)
      dot(q, signs).cast("long")
    }
    df.select(col(idCol), posexplode(array(outs: _*)).as(Seq("rp_dim", "rp_value")))
  }

  /** Per-label embedding centroids over floor-quantized coordinates —
    * exact integer sums and floor-divided means (the kmeansQuantized
    * arithmetic), so the centroid table is bit-identical under any
    * partitioning and SQL-replayable. The long-form (label, dim) output
    * is the routing/drift metadata a corpus pipeline stores per release.
    * Output: (label, dim, vec_sum, n, centroid). */
  def labelCentroids(df: DataFrame, idCol: String, vecCol: String,
                     labelCol: String, scale: Int = 1000): DataFrame = {
    val q = df.select(col(labelCol).as("label"),
        transform(asDoubleVec(col(vecCol)),
          x => floor(x * lit(scale.toDouble)).cast("long")).as("__q"))
      .where(col("label").isNotNull && col("__q").isNotNull)
    q.select(col("label"), posexplode(col("__q")).as(Seq("dim", "__x")))
      .groupBy("label", "dim")
      .agg(sum(col("__x")).as("vec_sum"), count(lit(1)).as("n"))
      .select(col("label"), col("dim"), col("vec_sum"), col("n"),
        // FLOOR division (Spark's `div` truncates toward zero, which
        // disagrees with floor on the negative sums centered embeddings
        // produce): subtract the nonneg pmod first, then divide exactly
        expr("(vec_sum - pmod(vec_sum, n)) div n").as("centroid"))
  }

  /** Embedding drift per label between two deterministic halves of the
    * corpus — "did this domain's embedding distribution move?": cosine
    * between the two halves' per-label SUM vectors (cosine is scale-
    * invariant, so the sum vector IS the mean direction — no division,
    * no per-row doubles). Quantized integer sums; the dot/norm terms
    * ride DECIMAL (per-dim products pass 2^53 at corpus scale) and
    * cross the digit-string hop once. Output: (label, n_a, n_b,
    * cosine_drift rounded 6 dp). */
  def embeddingDrift(df: DataFrame, idCol: String, vecCol: String,
                     labelCol: String, halfExpr: Column,
                     scale: Int = 1000): DataFrame = {
    def d(c: Column) = c.cast("string").cast("double")
    val q = df.select(col(labelCol).as("label"), halfExpr.as("__h"),
        transform(asDoubleVec(col(vecCol)),
          x => floor(x * lit(scale.toDouble)).cast("long")).as("__q"))
      .where(col("label").isNotNull && col("__q").isNotNull)
    val sums = q
      .select(col("label"), col("__h"),
        posexplode(col("__q")).as(Seq("__dim", "__x")))
      .groupBy("label", "__dim")
      .agg(sum(when(col("__h") === 0, col("__x")).otherwise(0L)).as("__a"),
        sum(when(col("__h") =!= 0, col("__x")).otherwise(0L)).as("__b"),
        sum(when(col("__h") === 0, 1L).otherwise(0L)).as("__na"),
        sum(when(col("__h") =!= 0, 1L).otherwise(0L)).as("__nb"))
    val folded = sums.groupBy("label")
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        d(sum(col("__a").cast("decimal(19,0)") *
          col("__b").cast("decimal(19,0)"))).as("__dot"),
        d(sum(col("__a").cast("decimal(19,0)") *
          col("__a").cast("decimal(19,0)"))).as("__aa"),
        d(sum(col("__b").cast("decimal(19,0)") *
          col("__b").cast("decimal(19,0)"))).as("__bb"))
    folded.select(col("label"), col("n_a"), col("n_b"),
      round(col("__dot") / (sqrt(col("__aa")) * sqrt(col("__bb"))), 6)
        .as("cosine_drift"))
  }

  /** SIMPLIFIED silhouette over the [[kmeansQuantized]] clustering — the
    * cluster-quality score a recipe ledger records next to k: per point,
    * a = distance to its own centroid, b = distance to the nearest OTHER
    * centroid, s = (b−a)/max(a,b); per cluster, n and the mean s. The
    * "simplified" variant (centroid distances, not all-pairs point
    * distances) is the standard scalable form — O(n·k) instead of O(n²),
    * and here every distance is an exact integer (quantized coords, d² =
    * Σ(q−c)² < 2⁵³) so assignment ties break exactly like the trainer's
    * (smaller cid) and both engines compute identical doubles. Per-point
    * s rounds to 6 dp and sums as DECIMAL, so the cluster means are
    * order-independent. Centroids are k×dim driver metadata (the IVF
    * posture); the scoring pass is ONE codegen'd projection + one k-row
    * aggregate — no joins, no shuffles beyond the final groupBy. */
  def silhouetteSimplified(df: DataFrame, idCol: String, vecCol: String,
                           k: Int, iters: Int, scale: Int = 1000): DataFrame = {
    require(k >= 2, "silhouetteSimplified: need k >= 2 (b is undefined for k = 1)")
    val centsDf = kmeansQuantized(df, idCol, vecCol, k, iters, scale)
    val cents: Array[Array[Long]] = centsDf.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toArray).toArray
    val q = df.select(col(idCol).as("id"),
        transform(asDoubleVec(col(vecCol)),
          x => floor(x * lit(scale.toDouble)).cast("double")).as("__q"))
      .where(col("id").isNotNull && col("__q").isNotNull)
    val xx = dot(col("__q"), col("__q"))
    val scored = cents.zipWithIndex.map { case (c, i) =>
      val cl = array(c.map(v => lit(v.toDouble)): _*)
      struct((xx - lit(2.0) * dot(col("__q"), cl) +
        lit(c.map(v => v.toDouble * v).sum)).as("d2"), lit(i).as("i"))
    }
    val sorted = array_sort(array(scored: _*))
    val a = sqrt(element_at(col("__s"), 1).getField("d2"))
    val b = sqrt(element_at(col("__s"), 2).getField("d2"))
    val sil = when(greatest(a, b) === lit(0.0), lit(0.0))
      .otherwise((b - a) / greatest(a, b))
    q.withColumn("__s", sorted)
      .select(element_at(col("__s"), 1).getField("i").as("cid"),
        round(sil, 6).cast("decimal(10,6)").as("__sil"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n"),
        (sum(col("__sil")).cast("string").cast("double") /
          count(lit(1)).cast("double")).as("mean_silhouette"))
  }

  /** k-NN label classification over embeddings: each query point takes
    * the MAJORITY label of its k nearest corpus neighbors by exact
    * cosine (self excluded), ties to the smallest label — the standard
    * embedding-space sanity check ("do my clusters agree with my
    * labels?"). Built on [[bruteForceTopK]] (broadcast queries — the
    * bounded-query contract; swap in ivfTopK for corpus-scale query
    * sets), one label join, one (query, label) vote aggregate, one
    * arg-max fold via min(struct(−votes, label)). Output: (query id,
    * true label, predicted label, votes, correct). */
  def knnClassify(corpus: DataFrame, idCol: String, vecCol: String,
                  labelCol: String, queries: DataFrame, k: Int): DataFrame = {
    val top = bruteForceTopK(corpus, idCol, vecCol,
      queries.select(col(idCol).as("__qid"), col(vecCol)), "__qid", vecCol, k)
    val labels = corpus.select(col(idCol), col(labelCol).as("__lbl"))
    val votes = top.join(labels, Seq(idCol))
      .groupBy(col("__qid"), col("__lbl"))
      .agg(count(lit(1)).as("votes"))
    val best = votes.groupBy(col("__qid"))
      .agg(min(struct((-col("votes")).as("nv"), col("__lbl").as("l"))).as("__m"))
      .select(col("__qid"), col("__m.l").as("pred"),
        (-col("__m.nv")).as("votes"))
    best
      .join(queries.select(col(idCol).as("__qid"), col(labelCol).as("label")),
        Seq("__qid"))
      .select(col("__qid").as(idCol), col("label"), col("pred"), col("votes"),
        (col("pred") === col("label")).as("correct"))
  }

  // ===== Graph ANN: NN-descent k-NN graph build + beam-search query =====

  /** Deterministic mixing key for the ring init — pure 31-bit
    * multiplicative scatter (the q_dbscan coordinate arithmetic), chosen
    * over xxhash64 because the correctness oracle must re-derive the
    * SAME ring in plain SQL arithmetic. */
  private def ringKey(id: Column): Column =
    pmod(id, lit(2147483648L)) * lit(2654435761L) % lit(2147483648L)

  /** Bounded-degree k-NN graph via NN-descent (Dong et al. 2011, WWW):
    * deterministic PSEUDORANDOM init — neighbor j of the node at ring
    * position p sits at offset 1 + scatter(p·k + j) mod (n−1), the same
    * multiplicative scatter as the ring key, so every node starts with k
    * spread-out neighbors (a ring-successor init is a lattice whose
    * shared-neighbor proposals stay ring-local: graph recall crawled
    * +0.04/round; the scattered init gives the ~log-n-diameter random
    * graph NN-descent's convergence analysis assumes) — then `rounds`
    * refinement rounds — each round proposes all pairs of nodes
    * sharing a graph neighbor (out-neighbors plus reverse-capped
    * in-neighbors), scores them exactly, and keeps each node's top-k by
    * (cosine desc, id asc).
    *
    * Scale shape: candidate volume per round is at most
    * n * (k + reverseCap)^2 — linear in n at fixed degree — and every
    * step is an equi-join or a per-node window; nothing quadratic in the
    * corpus ever materializes. Every choice (ring order, reverse cap,
    * tie-breaks) is deterministic so the full build replays round by
    * round in the q_ann_graph oracle.
    *
    * Returns (id, nbr, cosine, rank) — each node's k approximate nearest
    * neighbors, rank 1..k by descending cosine. */
  /** Deterministic SCATTERED init edges (id, nbr, cosine): neighbor j of
    * the node at ring position p sits at offset 1 + scatter(p·k+j) mod
    * (n−1) — k spread-out links per node, a ~log-n-diameter random graph
    * in pure replayable integer arithmetic. Shared by [[nnDescentGraph]]'s
    * init AND the navigable search-graph augmentation (the refined k-NN
    * graph alone fragments into similarity-cluster islands greedy search
    * cannot reach; keeping the scatter edges in the SEARCH graph restores
    * small-world reachability — the NSW long-link idea). */
  def scatterInitEdges(df: DataFrame, idCol: String, vecCol: String,
                       k: Int): DataFrame = {
    val base = df.select(col(idCol).as("id"), asDoubleVec(col(vecCol)).as("__v"))
    val n = base.count()
    require(n > k, s"scatterInitEdges: need more than k=$k vectors, got $n")
    val ranked = graft.pipeline.Profile.rowPositions(
      base, "__pos", ringKey(col("id")), col("id"))
    val byPos = ranked.select(col("__pos").as("__npos"),
      col("id").as("nbr"), col("__v").as("__nv"))
    ranked
      .select(col("id"), col("__v"), col("__pos"),
        explode(sequence(lit(1), lit(k))).as("__j"))
      .withColumn("__npos",
        (col("__pos") + lit(1L) +
          pmod(ringKey(col("__pos") * lit(k.toLong) + col("__j")), lit(n - 1)))
          % lit(n))
      .join(byPos, "__npos")
      .withColumn("cosine", cosine(col("__v"), col("__nv")))
      .select(col("id"), col("nbr"), col("cosine"))
      .distinct() // two j's may scatter to the same offset
  }

  def nnDescentGraph(df: DataFrame, idCol: String, vecCol: String,
                     k: Int = 8, rounds: Int = 3,
                     reverseCap: Int = 8): DataFrame = {
    val (init, refined) = buildKnnGraph(df, idCol, vecCol, k, rounds, reverseCap)
    if (refined ne init) init.release() // materialized refined no longer reads it
    val wF = Window.partitionBy(col("id")).orderBy(col("cosine").desc, col("nbr"))
    refined.withColumn("rank", row_number().over(wF))
  }

  /** Navigable SEARCH graph for [[beamSearchTopK]]: the refined k-NN edges
    * UNION the scatter-init edges, both from ONE shared build. The refined
    * graph alone fragments into similarity-cluster islands (exact-twin
    * cliques in replicated corpora) that greedy expansion cannot reach
    * from a distant entry; the deterministic scatter edges are the NSW
    * long links that restore small-world reachability. Returns (id, nbr). */
  def navigableGraph(df: DataFrame, idCol: String, vecCol: String,
                     k: Int = 8, rounds: Int = 3,
                     reverseCap: Int = 8): DataFrame = {
    val (init, refined) = buildKnnGraph(df, idCol, vecCol, k, rounds, reverseCap)
    refined.select(col("id"), col("nbr"))
      .unionByName(init.select(col("id"), col("nbr")))
  }

  /** Shared NN-descent build: returns (checkpointed init edges,
    * checkpointed refined edges), both (id, nbr, cosine). */
  private def buildKnnGraph(df: DataFrame, idCol: String, vecCol: String,
                            k: Int, rounds: Int,
                            reverseCap: Int): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    val base = df.select(col(idCol).as("id"), asDoubleVec(col(vecCol)).as("__v"))
      .stageCheckpoint(false) // the vector table is scanned 2× per round
    val n = base.count()
    require(n > k, s"nnDescentGraph: need more than k=$k vectors, got $n")
    // Each round references the edge table ~5× (reverse cap, adjacency
    // union, candidate self-join, final union). WITHOUT a per-round
    // checkpoint the logical plan re-embeds the whole build per reference
    // — cost exponential in `rounds`, independent of cluster size. Stage
    // every round through a (lazy) checkpoint and release the previous
    // round's only after the successor materializes — the semanticDedup
    // / Bpe loop idiom. The init checkpoint is NOT released here:
    // navigableGraph returns it (nnDescentGraph releases it).
    val scatter = scatterInitEdges(base, "id", "__v", k)
    val init = scatter.stageCheckpoint(false)
    // round exchanges sized by the candidate self-join, the round's
    // widest exchange: each node's out-neighbors plus reverse-capped
    // in-neighbors, paired, is about n·(k + reverseCap)² rows. At cluster
    // scale this saturates at the session setting — see
    // Sessions.withDerivedPartitions
    val fanOut = (k + reverseCap).toLong
    val refined = Sessions.withDerivedPartitions(spark, n * fanOut * fanOut,
        LoopRowsPerPartition) { child =>
    val first = Sessions.rebind(init, child)
    var edges = first
    val vecs = Sessions.rebind(base, child)
    val vecsL = vecs.select(col("id"), col("__v"))
    val vecsR = vecs.select(col("id").as("nbr"), col("__v").as("__nv"))
    (1 to rounds).foreach { _ =>
      val wR = Window.partitionBy(col("id")).orderBy(col("cosine").desc, col("nbr"))
      val revCapped = edges
        .select(col("nbr").as("id"), col("id").as("nbr"), col("cosine"))
        .withColumn("__rr", row_number().over(wR))
        .where(col("__rr") <= reverseCap).drop("__rr")
      val adj = edges.select("id", "nbr")
        .union(revCapped.select("id", "nbr")).distinct()
      val cand = adj.select(col("id").as("__u"), col("nbr").as("x"))
        .join(adj.select(col("id").as("__u"), col("nbr").as("y")), "__u")
        .where(col("x") < col("y"))
        .select("x", "y").distinct()
      val scored = cand.select(col("x").as("id"), col("y").as("nbr"))
        .union(cand.select(col("y").as("id"), col("x").as("nbr")))
        .join(vecsL, "id").join(vecsR, "nbr")
        .withColumn("cosine", cosine(col("__v"), col("__nv")))
        .select("id", "nbr", "cosine")
      val w = Window.partitionBy(col("id")).orderBy(col("cosine").desc, col("nbr"))
      val next = edges.union(scored)
        .groupBy("id", "nbr").agg(max(col("cosine")).as("cosine"))
        .withColumn("__r", row_number().over(w))
        .where(col("__r") <= k).drop("__r")
        .stageCheckpoint(false)
      next.count() // materialize this round; only then release the previous
      if (edges ne first) edges.release()
      edges = next
    }
    if (edges eq first) init else Sessions.rebind(edges, spark)
    }
    // the last round has materialized (init with the first), so nothing
    // reads the vector table or the scatter's row-position checkpoint
    if (rounds > 0) { base.release(); scatter.releaseInputs() }
    (init, refined)
  }

  /** Beam-search top-k over a bounded-degree graph: start every query at
    * `entries` deterministic entry nodes (the first `entries` positions of
    * the SAME mixed-id ring order the NN-descent init uses — a stratified,
    * replayable seed set), then `hops` expansion rounds — candidates =
    * beam plus all graph out-neighbors of the beam, beam = top-`beamWidth`
    * by exact (cosine desc, id asc) — and finally the top-k of the last
    * beam, self-matches excluded (the q_ann_brute contract). The query
    * side stays broadcast-small; each hop is one equi-join against the
    * edge table. Fully deterministic, so the q_ann_graph oracle replays
    * build AND search end to end.
    *
    * The edge/vector tables are staged through one checkpoint each and the
    * per-hop beam is checkpointed too — each hop references the previous
    * beam twice (expand + union), so without the checkpoint the plan
    * doubles per hop and re-embeds the whole graph build in every copy. */
  def beamSearchTopK(graph: DataFrame,
                     corpus: DataFrame, corpusId: String, corpusVec: String,
                     queries: DataFrame, queryId: String, queryVec: String,
                     k: Int, beamWidth: Int = 12, hops: Int = 4,
                     entries: Int = 4): DataFrame = {
    require(entries >= 1, s"beamSearchTopK: entries must be >= 1, got $entries")
    val spark = graph.sparkSession
    val base = corpus.select(col(corpusId).as("nbr"),
      asDoubleVec(col(corpusVec)).as("__cv"))
      .stageCheckpoint(false) // scored against once per hop
    val q = queries.select(col(queryId).as("qid"),
      asDoubleVec(col(queryVec)).as("__qv"))
    // first `entries` corpus ids in ring order — TakeOrderedAndProject,
    // never a global sort; tiny, so it broadcasts into the init cross join
    val entryIds = base.select(col("nbr"))
      .orderBy(ringKey(col("nbr")), col("nbr")).limit(entries)
    // Undirected expansion: a directed k-NN edge is evidence of proximity
    // in BOTH directions, and hub nodes' in-edges are exactly the
    // long-range links greedy search needs to escape local maxima —
    // searching the symmetrized graph is the standard navigability fix
    // (HNSW/NSG keep bidirectional links for the same reason).
    val fwd = graph.select(col("id").as("nbr"), col("nbr").as("__next"))
    val rev = graph.select(col("nbr").as("nbr"), col("id").as("__next"))
    val out = fwd.union(rev).distinct()
      .stageCheckpoint(false) // joined once per hop
    def score(cands: DataFrame, q: DataFrame, base: DataFrame): DataFrame =
      cands.join(broadcast(q), "qid").join(base, "nbr")
        .withColumn("cosine", cosine(col("__qv"), col("__cv")))
        .select("qid", "nbr", "cosine")
    val beam0 = score(q.select(col("qid")).crossJoin(broadcast(entryIds)), q, base)
      .stageCheckpoint(false)
    val wB = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("nbr"))
    // hop exchanges sized by the beam state (queries are broadcast-small
    // by this operator's contract, so the count is a cheap tiny-side
    // action) — see Sessions.withDerivedPartitions
    val beamRows = q.count() * beamWidth
    val last = Sessions.withDerivedPartitions(spark, beamRows,
        LoopRowsPerPartition) { child =>
    val (hq, hbase, hout) =
      (Sessions.rebind(q, child), Sessions.rebind(base, child), Sessions.rebind(out, child))
    var beam = Sessions.rebind(beam0, child)
    (1 to hops).foreach { _ =>
      val expand = beam.select("qid", "nbr").join(hout, "nbr")
        .select(col("qid"), col("__next").as("nbr"))
      val cands = beam.select("qid", "nbr").union(expand).distinct()
      val next = score(cands, hq, hbase)
        .withColumn("__r", row_number().over(wB))
        .where(col("__r") <= beamWidth).drop("__r")
        .stageCheckpoint(false)
      next.count() // materialize this hop; only then release the previous
      beam.release()
      beam = next
    }
    Sessions.rebind(beam, spark)
    }
    // the last hop has materialized: nothing reads the staged tables
    if (hops > 0) { base.release(); out.release() }
    last.where(col("qid") =!= col("nbr"))
      .withColumn("rank", row_number().over(wB))
      .where(col("rank") <= k)
      .select(col("qid"), col("nbr").as(corpusId), col("cosine"), col("rank"))
  }

  // ===== Product quantization: compressed-domain ANN (ADC scan) =====

  /** Per-subspace PQ codebooks (Jégou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011 §II — the
    * reference engine has no ANN surface; superset): split each D-dim
    * vector into `m` contiguous D/m-dim subvectors and quantize each
    * subspace against its own `ksub`-entry codebook.
    *
    * Seeds are the `ksub` vectors with the smallest (ringKey(id), id) —
    * the same deterministic multiplicative scatter the graph-ANN init
    * uses, so a SQL oracle re-derives the seed set exactly — sliced per
    * subspace; `iters` Lloyd rounds (L2 assignment, per-dimension means
    * rounded at 1e-6, the ivfCentroids convention) refine them. With
    * iters=0 the codebook entries are EXACT data subvectors and every
    * downstream distance is replayable bit-for-bit (the q_ann_pq gate
    * shape); the trained operating point is spec-gated on recall instead
    * (the q_ann_ivf pattern). At 100 TB training runs on a deterministic
    * sample — codebooks are m·ksub·(D/m) doubles of driver-side index
    * metadata either way. */
  def pqCodebooks(df: DataFrame, idCol: String, vecCol: String,
                  m: Int, ksub: Int, iters: Int = 0): Array[Array[Array[Double]]] = {
    val vecs = df.select(col(idCol).as("id"), asDoubleVec(col(vecCol)).as("__v"))
    val seeds = vecs.orderBy(ringKey(col("id")), col("id")).limit(ksub)
      .select("__v").collect().map(_.getSeq[Double](0).toArray)
    require(seeds.length == ksub, s"pqCodebooks: need >= $ksub vectors, got ${seeds.length}")
    val dim = seeds.head.length
    require(dim % m == 0, s"pqCodebooks: dim $dim not divisible by m=$m")
    val dsub = dim / m
    val books = Array.tabulate(m, ksub)((j, s) => seeds(s).slice(j * dsub, (j + 1) * dsub))
    (1 to iters).foreach { _ =>
      (0 until m).foreach { j =>
        val sub = slice(col("__v"), j * dsub + 1, dsub)
        val means = vecs
          .select(pqAssignCode(sub, books(j)).as("__c"),
            posexplode(sub).as(Seq("__pos", "__x")))
          .groupBy("__c", "__pos").agg(avg("__x").as("__mx"))
          .groupBy("__c").agg(sort_array(collect_list(struct(col("__pos"), col("__mx")))).as("__mv"))
          .select(col("__c"), transform(col("__mv"), s => s.getField("__mx")).as("__cv"))
          .collect().map(r => r.getInt(0) ->
            r.getSeq[Double](1).map(x => math.rint(x * 1e6) / 1e6).toArray).toMap
        books(j) = Array.tabulate(ksub)(s => means.getOrElse(s, books(j)(s)))
      }
    }
    books
  }

  /** Nearest sub-centroid by squared L2, as the fold
    * min over s of (dot(c_s,c_s) − 2·dot(x,c_s), s) — the dot(x,x) term is
    * constant per row and dropped; ties take the LOWER index. Both dots
    * ride the proven-parity sequential-fold kernel, so a SQL replay
    * (list_inner_product with the same discriminant) orders identically. */
  def pqAssignCode(sub: Column, codebook: Array[Array[Double]]): Column =
    // native argmin (graft.functions.PqAssignCodeExpr) — bit-identical
    // to the least(struct(dot(cLit,cLit) − 2·dot(sub,cLit), s)) tree it
    // replaces (same sequential-fold dots, same comparison semantics),
    // but the codebook rides as a referenced object instead of ksub
    // inlined literal arrays, so trained-PQ's per-Lloyd-round plans stop
    // re-compiling a giant codegen unit every round
    graft.functions.PqAssignCodeExpr.pq_assign_code(sub, codebook)

  /** Encode a corpus against PQ codebooks: (id, codes array<int> of length
    * m). THIS is the 100 TB artifact — m small ints (m bytes at ksub ≤
    * 256) instead of 4·D float bytes per vector, a 32× memory/bandwidth
    * cut at the gate shape (D=64, m=8) — computed in one codegen'd
    * projection, zero shuffles. */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               books: Array[Array[Array[Double]]]): DataFrame = {
    val m = books.length
    val dsub = books.head.head.length
    val v = asDoubleVec(col(vecCol))
    corpus.select(col(idCol),
      array((0 until m).map(j =>
        pqAssignCode(slice(v, j * dsub + 1, dsub), books(j))): _*).as("codes"))
  }

  /** PQ top-k by Asymmetric Distance Computation: each query builds an
    * m×ksub lookup table of sub-inner-products against the codebooks
    * (ln-free analog of the decimal-sum convention: each entry rounded to
    * 9 dp and carried as DECIMAL, so the m-term ADC sum is exact and
    * order-independent), then every corpus CODE ROW is scored with m
    * array lookups + m decimal adds — one codegen'd projection over the
    * compressed table, no shuffle; ranking is the per-query window all
    * ANN faces share. dot(q,x) ≈ Σ_j lut[j][code_j] (ADC-IP; Jégou §III).
    *
    * At 100 TB the scan reads ONLY the code table (32× smaller than the
    * float corpus) and the broadcast LUTs; composes with IVF by scanning
    * probed cells' codes only. Fully deterministic at iters=0, so the
    * q_ann_pq oracle replays seeds → codebooks → codes → LUT → ADC → rank
    * end to end. Self-matches excluded (the q_ann_brute contract).
    * Output: (queryId, corpusId, adc DOUBLE, rank). */
  /** Per-query m×ksub ADC lookup table: entry (j,s) = the query's j-th
    * subvector · codebook[j][s], rounded to 9 dp and carried as DECIMAL
    * so the m-term ADC sum is exact and order-independent (the decimal-
    * sum convention). Output: (queryId, __lut array<array<decimal>>). */
  private def pqLut(queries: DataFrame, queryId: String, queryVec: String,
                    books: Array[Array[Array[Double]]]): DataFrame = {
    val m = books.length
    val ksub = books.head.length
    val dsub = books.head.head.length
    val qv = asDoubleVec(col(queryVec))
    queries.select(col(queryId), array((0 until m).map { j =>
      array((0 until ksub).map { s =>
        round(dot(slice(qv, j * dsub + 1, dsub), array(books(j)(s).map(lit): _*)), 9)
          .cast("decimal(20,9)")
      }: _*)
    }: _*).as("__lut"))
  }

  /** ADC score of a `codes` row against the row's `__lut`: m array
    * lookups + m exact decimal adds, one codegen'd expression. */
  private def pqAdc(m: Int): Column =
    (0 until m).map(j =>
      element_at(element_at(col("__lut"), j + 1), col("codes")(j) + 1))
      .reduce(_ + _)

  /** Exact re-rank of a per-query shortlist: ONLY the shortlisted rows
    * fetch their full float vectors for an exact dot — at 100 TB the
    * float table is touched for |Q|·rerank rows, not n·|Q|. */
  private def pqRerank(short: DataFrame,
                       corpus: DataFrame, corpusId: String, corpusVec: String,
                       queries: DataFrame, queryId: String, queryVec: String,
                       k: Int): DataFrame = {
    val cv = corpus.select(col(corpusId), asDoubleVec(col(corpusVec)).as("__cv"))
    val qvv = queries.select(col(queryId), asDoubleVec(col(queryVec)).as("__qv"))
    val wx = Window.partitionBy(col(queryId))
      .orderBy(col("__dot").desc, col(corpusId))
    short.join(cv, corpusId).join(broadcast(qvv), queryId)
      .withColumn("__dot", dot(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(wx))
      .where(col("rank") <= k)
      .select(col(queryId), col(corpusId),
        col("__dot").cast("double").as("adc"), col("rank"))
  }

  def pqTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
             queries: DataFrame, queryId: String, queryVec: String,
             k: Int, m: Int = 8, ksub: Int = 16, iters: Int = 0,
             rerank: Int = 0): DataFrame = {
    val books = pqCodebooks(corpus, corpusId, corpusVec, m, ksub, iters)
    val codes = pqEncode(corpus, corpusId, corpusVec, books)
    val lut = pqLut(queries, queryId, queryVec, books)
    val w = Window.partitionBy(col(queryId)).orderBy(col("__adc").desc, col(corpusId))
    val byAdc = codes.join(broadcast(lut), codes(corpusId) =!= lut(queryId))
      .withColumn("__adc", pqAdc(m))
      .withColumn("rank", row_number().over(w))
    if (rerank <= 0)
      byAdc.where(col("rank") <= k)
        .select(col(queryId), col(corpusId),
          col("__adc").cast("double").as("adc"), col("rank"))
    else {
      // ADC-shortlist + exact re-rank (Jégou §V's re-ranking stage, the
      // production operating point).
      require(rerank >= k, s"pqTopK: rerank ($rerank) must be >= k ($k)")
      pqRerank(byAdc.where(col("rank") <= rerank).select(col(queryId), col(corpusId)),
        corpus, corpusId, corpusVec, queries, queryId, queryVec, k)
    }
  }

  /** TRAINED PQ codebooks in floor-quantized integer space — the
    * replay-exact training face: inputs quantize to q_d = ⌊x_d·scale⌋
    * (exact integers carried in doubles), seeds come from the same
    * multiplicative-scatter order as [[pqCodebooks]], and each Lloyd
    * round assigns by the integer L2 discriminant dot(c,c) − 2·dot(x,c)
    * (exact — every product ≪ 2^53) and updates sub-centroids by
    * INTEGER FLOOR-DIVIDED dimension sums (the [[kmeansQuantized]]
    * convention), so the fixed point is bit-identical under any
    * partitioning, engine, or retry, and a SQL oracle replays the full
    * training by unrolling the rounds. Float-space training
    * ([[pqCodebooks]] iters>0) remains the throughput face; this is the
    * face a correctness gate can hash. Empty codes keep their previous
    * entry. Returns integer-valued double codebooks [m][ksub][dsub]. */
  def pqCodebooksQuantized(df: DataFrame, idCol: String, vecCol: String,
                           m: Int, ksub: Int, iters: Int,
                           scale: Int = 1000): Array[Array[Array[Double]]] = {
    val vecs = df.select(col(idCol).as("id"),
        transform(asDoubleVec(col(vecCol)),
          x => floor(x * lit(scale.toDouble)).cast("double")).as("__v"))
      .where(col("id").isNotNull && col("__v").isNotNull)
    val seeds = vecs.orderBy(ringKey(col("id")), col("id")).limit(ksub)
      .select("__v").collect().map(_.getSeq[Double](0).toArray)
    require(seeds.length == ksub,
      s"pqCodebooksQuantized: need >= $ksub vectors, got ${seeds.length}")
    val dim = seeds.head.length
    require(dim % m == 0, s"pqCodebooksQuantized: dim $dim not divisible by m=$m")
    val dsub = dim / m
    val books = Array.tabulate(m, ksub)((j, s) => seeds(s).slice(j * dsub, (j + 1) * dsub))
    (1 to iters).foreach { _ =>
      // all m subspaces assign + sum in ONE job (explode over per-j
      // structs), not m sequential jobs: the collect is m·ksub·dsub
      // bounded index metadata either way
      val perJ = (0 until m).map { j =>
        val sub = slice(col("__v"), j * dsub + 1, dsub)
        struct(lit(j).as("j"), pqAssignCode(sub, books(j)).as("c"),
          sub.as("sv"))
      }
      val sums = vecs.select(explode(array(perJ: _*)).as("e"))
        .select(col("e.j"), col("e.c"), posexplode(col("e.sv")).as(Seq("__pos", "__x")))
        .groupBy("j", "c", "__pos")
        .agg(sum(col("__x").cast("long")).as("__s"), count(lit(1)).as("__n"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) ->
          Math.floorDiv(r.getLong(3), r.getLong(4)).toDouble).toMap
      (0 until m).foreach { j =>
        books(j) = Array.tabulate(ksub)(s =>
          Array.tabulate(dsub)(p => sums.getOrElse((j, s, p), books(j)(s)(p))))
      }
    }
    books
  }

  /** PQ top-k over TRAINED quantized codebooks: quantize corpus and
    * queries with the same ⌊x·scale⌋ map, train via
    * [[pqCodebooksQuantized]], then run the standard encode → LUT → ADC
    * → rank chain. Every LUT entry is an exact integer inner product
    * (carried as DECIMAL), so the whole path — INCLUDING the trained
    * codebooks — is replayable bit-for-bit by a SQL oracle that unrolls
    * the Lloyd rounds. Same output contract as [[pqTopK]]. */
  def pqTopKQuantized(corpus: DataFrame, corpusId: String, corpusVec: String,
                      queries: DataFrame, queryId: String, queryVec: String,
                      k: Int, m: Int = 8, ksub: Int = 16, iters: Int = 2,
                      scale: Int = 1000): DataFrame = {
    val books = pqCodebooksQuantized(corpus, corpusId, corpusVec, m, ksub, iters, scale)
    def qz(c: Column) =
      transform(asDoubleVec(c), x => floor(x * lit(scale.toDouble)).cast("double"))
    val qCorpus = corpus.select(col(corpusId), qz(col(corpusVec)).as("__pq"))
    val qQueries = queries.select(col(queryId), qz(col(queryVec)).as("__pq"))
    val codes = pqEncode(qCorpus, corpusId, "__pq", books)
    val lut = pqLut(qQueries, queryId, "__pq", books)
    val w = Window.partitionBy(col(queryId)).orderBy(col("__adc").desc, col(corpusId))
    codes.join(broadcast(lut), codes(corpusId) =!= lut(queryId))
      .withColumn("__adc", pqAdc(m))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(queryId), col(corpusId),
        col("__adc").cast("double").as("adc"), col("rank"))
  }

  /** IVF + PQ composition (Jégou §V's IVFADC): the coarse quantizer
    * prunes the corpus to each query's `nprobe` nearest cells, and ONLY
    * those cells' code rows feed the PQ ADC scan (+ optional exact
    * re-rank). This is the canonical billion-scale layout — the code
    * table is bucketed by cell, a query's scan touches ~nprobe/nCells of
    * it (an equi-join on the cell key, never a full-table pass), and the
    * float vectors are read for |Q|·rerank rows only. Both index
    * structures come from the same deterministic builds as their
    * standalone faces. */
  def ivfPqTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                queries: DataFrame, queryId: String, queryVec: String,
                k: Int, nCells: Int = 16, nprobe: Int = 4,
                m: Int = 8, ksub: Int = 16, iters: Int = 0,
                rerank: Int = 0): DataFrame = {
    val cents = ivfCentroids(corpus, corpusId, corpusVec, nCells)
    val books = pqCodebooks(corpus, corpusId, corpusVec, m, ksub, iters)
    // code table keyed by IVF cell — the persisted index layout
    val codes = pqEncode(corpus, corpusId, corpusVec, books)
      .join(assignCells(
        corpus.select(col(corpusId), asDoubleVec(col(corpusVec)).as("__av")),
        cents, "__av", "__cell").select(col(corpusId), col("__cell")), corpusId)
    // each query expands to its nprobe nearest cells, carrying its LUT
    val lut = pqLut(queries, queryId, queryVec, books)
      .join(queries.select(col(queryId), asDoubleVec(col(queryVec)).as("__qvv")), queryId)
      // (-cos, -i) sort: tied centroids resolve to the HIGHER index, the
      // same tie assignCells' greatest() makes on the corpus side
      .withColumn("__cells", sort_array(array(cents.zipWithIndex.map { case (c, i) =>
        struct((-cosine(col("__qvv"), array(c.map(lit): _*))).as("d"), lit(-i).as("ni"))
      }: _*)))
      .select(col(queryId), col("__lut"),
        explode(transform(slice(col("__cells"), 1, nprobe), s => -s.getField("ni")))
          .as("__cell"))
    val w = Window.partitionBy(col(queryId)).orderBy(col("__adc").desc, col(corpusId))
    val scanned = codes.join(broadcast(lut), Seq("__cell"))
      .where(col(corpusId) =!= col(queryId))
      .withColumn("__adc", pqAdc(m))
      .withColumn("rank", row_number().over(w))
    if (rerank <= 0)
      scanned.where(col("rank") <= k)
        .select(col(queryId), col(corpusId),
          col("__adc").cast("double").as("adc"), col("rank"))
    else {
      require(rerank >= k, s"ivfPqTopK: rerank ($rerank) must be >= k ($k)")
      pqRerank(scanned.where(col("rank") <= rerank).select(col(queryId), col(corpusId)),
        corpus, corpusId, corpusVec, queries, queryId, queryVec, k)
    }
  }
}
