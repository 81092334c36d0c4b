package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling operators for training-data pipelines
  * (beyond-reference surface; the reference's only randomness is
  * RandInt32, supersonic/expression/core/elementary_expressions.h).
  *
  * Everything here is HASH-based, never `rand()`-based: a row's fate is a
  * pure function of its key, so samples are reproducible across runs,
  * retries, and engines — the property a 100 TB pipeline needs for
  * train/eval splits that survive recomputation (a task retry under
  * `rand()` silently changes the sample). All expressions are codegen'd
  * built-ins; filters push down to the scan where the format allows.
  */
object Sampling {

  /** Bucket count of the portable hash: rates resolve to 1/Buckets
    * granularity. */
  val Buckets: Long = 1000000L

  private val Mod: Long = 2147483648L // 2^31
  private val Primes: Seq[Long] =
    Seq(2654435761L, 2246822519L, 3266489917L, 668265263L, 374761393L)

  /** Portable hash bucket in [0, Buckets): a weighted polynomial over the
    * (non-negative integer) key columns in plain int64 arithmetic — each
    * key is reduced mod 2^31 before its prime multiply so no term can
    * overflow under ANSI arithmetic, and the odd-prime multiply mod 2^31
    * is a bijection that scatters consecutive keys far apart.
    *
    * "Portable" is the point: any SQL engine reproduces it with `%` and
    * `*` (see the q_sample_* oracles), unlike xxhash64 whose exact values
    * are engine-internal. */
  def portableBucket(keys: Seq[Column]): Column = {
    require(keys.nonEmpty, "portableBucket: need at least one key column")
    val mixed = keys.zipWithIndex.map { case (k, i) =>
      pmod(pmod(k.cast("long"), lit(Mod)) * lit(Primes(i % Primes.size)), lit(Mod))
    }.reduce(_ + _)
    pmod(pmod(mixed, lit(Mod)), lit(Buckets))
  }

  /** Seeded portable shuffle key in [0, 2^31): each key term is
    * multiplied by a SEED-DEPENDENT odd multiplier ((2s+1)·prime mod
    * 2^31 — odd, hence a bijection mod 2^31). The seed must multiply the
    * key, not offset the sum: any affine-in-seed form ((x+s)·P = x·P +
    * CONST) only shifts every key's value by the same constant, which
    * cyclically ROTATES the sort order — seeds would produce correlated
    * shuffles (the spec asserts non-rotation explicitly). A modular
    * multiply by a different odd constant is a genuinely different
    * permutation. Same seed ⇒ identical order on any SQL engine
    * (`%` and `*` only, no int64 overflow: each factor is reduced mod
    * 2^31 before multiplying). */
  def shuffleKey(keys: Seq[Column], seed: Long): Column = {
    require(keys.nonEmpty, "shuffleKey: need at least one key column")
    val s = ((seed % Mod) + Mod) % Mod
    val mixed = keys.zipWithIndex.map { case (k, i) =>
      val mult = ((2 * s + 1) % Mod) * Primes(i % Primes.size) % Mod
      pmod(pmod(k.cast("long"), lit(Mod)) * lit(mult), lit(Mod))
    }.reduce(_ + _)
    pmod(mixed + lit(s * Primes(1) % Mod), lit(Mod))
  }

  /** Deterministic global shuffle — the training-order randomization a
    * 100 TB pipeline needs WITHOUT `rand()`: rows sort by
    * (shuffleKey(keys, seed), keys), a total order that is a pure
    * function of key and seed, so the same seed replays the identical
    * order across runs, task retries, and engines, and a new epoch is
    * just a new seed. One range exchange — the cost of any global sort;
    * at cluster scale the sorted output feeds the sharded writer
    * directly (Relational.fileOutputPartitioned). */
  def deterministicShuffle(df: DataFrame, keyCols: Seq[String],
                           seed: Long): DataFrame =
    df.orderBy((shuffleKey(keyCols.map(col), seed) +: keyCols.map(col)): _*)

  /** Deterministic Bernoulli sample: keep a row iff its key bucket falls
    * below rate·Buckets. Same key ⇒ same decision, always — duplicates of
    * a key are kept or dropped together. */
  def bernoulli(df: DataFrame, keyCols: Seq[String], rate: Double,
                bucket: Option[Column] = None): DataFrame = {
    require(rate >= 0 && rate <= 1, "bernoulli: rate must be in [0, 1]")
    val b = bucket.getOrElse(portableBucket(keyCols.map(col)))
    df.where(b < lit((rate * Buckets).toLong))
  }

  /** PER-ROW-weighted deterministic sampling: keep a row iff its portable
    * bucket falls under `weightCol` · Buckets, so each row survives with
    * probability = its own weight (clamped to [0, 1]) — the
    * importance-sampling step of a data recipe (keep probability ∝
    * quality score / domain weight), with `bernoulli`'s reproducibility:
    * no rand(), the same rows survive on every engine and every run, and
    * thinning the weights only ever REMOVES rows (the bucket is
    * weight-independent). A single codegen'd filter — zero shuffles. */
  def weightedBernoulli(df: DataFrame, keyCols: Seq[String],
                        weightCol: String): DataFrame = {
    val w = least(greatest(col(weightCol).cast("double"), lit(0.0)), lit(1.0))
    df.where(portableBucket(keyCols.map(col)).cast("double") <
      w * lit(Buckets.toDouble))
  }

  /** Deterministic stratified sample: per-stratum keep rates (e.g. flatten
    * a skewed language mix), unlisted strata fall back to `defaultRate`.
    * The rate lookup is a compiled CASE chain — no join, no shuffle; the
    * whole operator is a single codegen'd filter over the scan. */
  def stratified(df: DataFrame, strataCol: String, rates: Map[String, Double],
                 defaultRate: Double, keyCols: Seq[String],
                 bucket: Option[Column] = None): DataFrame = {
    require((rates.values.toSeq :+ defaultRate).forall(r => r >= 0 && r <= 1),
      "stratified: rates must be in [0, 1]")
    val b = bucket.getOrElse(portableBucket(keyCols.map(col)))
    val threshold = rates.foldRight(lit((defaultRate * Buckets).toLong): Column) {
      case ((stratum, r), acc) =>
        when(col(strataCol) === lit(stratum), lit((r * Buckets).toLong)).otherwise(acc)
    }
    df.where(b < threshold)
  }

  /** Deterministic multi-way split (train/val/test): assign each row a
    * split label from contiguous bucket ranges of its key hash. Fractions
    * must sum to ≤ 1 (any remainder falls into `restLabel`). Same keys ⇒
    * same split, forever — the reproducibility contract an ML data split
    * needs across pipeline re-runs, and disjointness + exhaustiveness hold
    * by construction (ranges partition the bucket space). Splits is an
    * ORDERED seq: range layout follows its order, so label/fraction pairs
    * must not be reordered between runs. */
  def assignSplit(df: DataFrame, keyCols: Seq[String],
                  splits: Seq[(String, Double)], outCol: String = "split",
                  restLabel: String = "rest",
                  bucket: Option[Column] = None): DataFrame = {
    require(splits.nonEmpty, "assignSplit: need at least one split")
    require(splits.forall(_._2 >= 0), "assignSplit: fractions must be >= 0")
    require(splits.map(_._2).sum <= 1.0 + 1e-9, "assignSplit: fractions must sum to <= 1")
    val b = bucket.getOrElse(portableBucket(keyCols.map(col)))
    val cuts = splits.scanLeft(0L) { case (acc, (_, f)) =>
      acc + (f * Buckets).toLong }.tail
    val label = splits.map(_._1).zip(cuts).foldRight(lit(restLabel): Column) {
      case ((name, hi), acc) => when(b < hi, lit(name)).otherwise(acc)
    }
    df.withColumn(outCol, label)
  }

  /** Deterministic corpus MIXING — the domain-weighting step of an LLM
    * data recipe (web : code : books at some ratio): each source corpus
    * is hash-sampled at the rate that makes its EXPECTED contribution
    * `targetRows · w_s / Σw`, then the union is assigned a seeded global
    * interleave position, so one sequential read of the output IS the
    * mixed training order.
    *
    * Determinism contract (the whole point, as with every operator
    * here): thresholds are exact integer arithmetic — BigInt
    * `w·T·Buckets / (Σw·n_s)`, never a float rate — and membership +
    * position are pure functions of key and seed, so the same mix
    * replays bit-identically across runs, retries, and engines (the
    * q_mix_corpora oracle recomputes counts, thresholds, hash and order
    * in DuckDB). A source whose weight asks for MORE rows than it has
    * caps at keeping everything (threshold clamps to Buckets) — the
    * standard behavior when a small high-weight domain runs dry;
    * up-sampling beyond 1× is epoch repetition, a separate concern.
    *
    * Cost: one aggregate job counting every source (one row per
    * source collected), one codegen'd hash filter per source (pushes
    * to the scan), one union, and the range exchange of the final
    * order — no joins.
    *
    * @param sources (label, corpus, integer weight) triples; schemas
    *                must match (checked) so the union is positional-safe
    */
  def mixCorpora(sources: Seq[(String, DataFrame, Long)], keyCols: Seq[String],
                 targetRows: Long, seed: Long = 42L,
                 sourceCol: String = "source", posCol: String = "pos"): DataFrame = {
    require(sources.nonEmpty, "mixCorpora: need at least one source")
    require(sources.forall(_._3 > 0), "mixCorpora: weights must be positive")
    require(targetRows > 0, "mixCorpora: targetRows must be positive")
    val cols = sources.head._2.columns.toSeq
    require(sources.forall(_._2.columns.toSeq == cols),
      s"mixCorpora: source schemas must match: ${sources.map(_._2.columns.mkString("(", ",", ")"))}")
    require(!cols.contains(sourceCol) && !cols.contains(posCol),
      s"mixCorpora: output columns $sourceCol/$posCol collide with the input schema")
    val sumW = sources.map(_._3).sum
    // every source's row count in one aggregate job; an empty source has no group
    val counts = sources.zipWithIndex.map { case ((_, df, _), i) => df.select(lit(i).as("__src")) }
      .reduce(_.union(_)).groupBy("__src").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val tagged = sources.zipWithIndex.map { case ((label, df, w), i) =>
      val n = counts.getOrElse(i, 0L)
      val thr =
        if (n == 0) 0L
        else (BigInt(w) * targetRows * Buckets / (BigInt(sumW) * n))
          .min(BigInt(Buckets)).toLong
      df.where(portableBucket(keyCols.map(col)) < lit(thr))
        .withColumn(sourceCol, lit(label))
    }
    val unioned = tagged.reduce(_.unionByName(_))
    graft.operators.Relational.withRowidOrdered(
      unioned.withColumn("__skey", shuffleKey(keyCols.map(col), seed)),
      (col("__skey") +: keyCols.map(col)) :+ col(sourceCol), posCol)
      .drop("__skey")
  }

  /** Deterministic epoch REPETITION — the up-sampling half of a data
    * recipe ([[mixCorpora]] clamps at 1×; repeating a small high-value
    * domain `epochs` times is this operator): every row appears
    * ⌊epochs⌋ times plus once more in the fractional last epoch iff its
    * hash bucket falls under the fraction — so expected output is
    * exactly `epochs · n`, membership is a pure function of key, and
    * each copy carries its `epoch` index (0-based) plus an
    * epoch-SEEDED shuffle key, so a downstream sort on it interleaves
    * epochs as independent permutations instead of replaying the same
    * order back to back. Fraction granularity is 1/[[Buckets]], exact-integer
    * (floor(frac·Buckets)) — replayable in any SQL engine.
    *
    * Plan shape: one `explode(sequence(...))` over a codegen'd literal
    * range — no join, no shuffle beyond what the caller orders by. */
  def withEpochs(df: DataFrame, keyCols: Seq[String], epochs: Double,
                 seed: Long = 42L, epochCol: String = "epoch",
                 orderCol: String = "epoch_key"): DataFrame = {
    require(epochs > 0, "withEpochs: epochs must be positive")
    require(!df.columns.contains(epochCol) && !df.columns.contains(orderCol),
      s"withEpochs: output columns $epochCol/$orderCol collide with the input schema")
    val whole = math.floor(epochs).toLong
    val fracThr = ((epochs - whole) * Buckets).toLong
    val b = portableBucket(keyCols.map(col))
    // rows under the fractional threshold get one extra (last) epoch
    val nCopies = lit(whole) + when(b < lit(fracThr), 1L).otherwise(0L)
    // epochs < 1: rows outside the fraction get ZERO copies — they must
    // be filtered before the explode (sequence(0, -1) with no step is
    // Spark's DESCENDING [0,-1], not empty), and the explicit +1 step
    // pins the ascending contract for every row
    df.where(nCopies > 0)
      .withColumn(epochCol,
        explode(sequence(lit(0L), nCopies - 1, lit(1L))))
      .withColumn(orderCol,
        shuffleKeyPerEpoch(keyCols.map(col), col(epochCol), seed))
  }

  /** Epoch-dependent shuffle key: the per-term multiplier folds BOTH the
    * seed and the epoch index ((2(s + 7e) + 1)·prime mod 2^31 — odd, a
    * bijection per epoch), so each epoch is an independent deterministic
    * permutation of the same rows — replayable in SQL with % and *. */
  def shuffleKeyPerEpoch(keys: Seq[Column], epoch: Column, seed: Long): Column = {
    require(keys.nonEmpty, "shuffleKeyPerEpoch: need at least one key column")
    val s = ((seed % Mod) + Mod) % Mod
    val eseed = pmod(lit(s) + epoch.cast("long") * 7L, lit(Mod))
    val mixed = keys.zipWithIndex.map { case (k, i) =>
      val mult = pmod(pmod(eseed * 2 + 1, lit(Mod)) * lit(Primes(i % Primes.size)), lit(Mod))
      pmod(pmod(k.cast("long"), lit(Mod)) * mult, lit(Mod))
    }.reduce(_ + _)
    pmod(mixed + pmod(eseed * lit(Primes(1)), lit(Mod)), lit(Mod))
  }

  /** Exactly-N-per-stratum sample: rank each stratum's rows by hash bucket
    * (deterministic pseudo-random order, key tiebreak) and keep the first
    * `n`.
    *
    * SCALE CONTRACT: the rank window partitions by the stratum column, so
    * one reducer sees each stratum — fine for many modest strata, a
    * funnel for few huge ones. For huge strata pre-thin with
    * [[bernoulli]]/[[stratified]] to ~10·n survivors first (hash-rank is
    * stable under thinning: the global top-n by bucket survives any
    * bucket-prefix filter), then take the exact n from the survivors. */
  def exactPerStratum(df: DataFrame, strataCol: String, n: Int,
                      keyCols: Seq[String]): DataFrame = {
    val b = portableBucket(keyCols.map(col))
    val w = Window.partitionBy(col(strataCol))
      .orderBy((b.asc +: keyCols.map(col)): _*)
    df.withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= n)
      .drop("__rk")
  }

  /** Class rebalancing by deterministic undersampling: cap every class
    * at `ratioNum/ratioDen` times the SMALLEST class's size (ratio 1/1 =
    * fully balanced), keeping each class's hash-rank-first rows — the
    * majority-class downsampling step before training on skewed labels,
    * with [[exactPerStratum]]'s reproducibility (a row's survival is a
    * pure function of its keys and the class sizes). Class sizes fold
    * in one aggregate and BROADCAST back; the per-class cap is exact
    * integer arithmetic; the rank window shards by class (same scale
    * contract as exactPerStratum — pre-thin gigantic classes first). */
  def rebalanceClasses(df: DataFrame, labelCol: String, keyCols: Seq[String],
                       ratioNum: Long = 1, ratioDen: Long = 1): DataFrame = {
    require(ratioNum >= 1 && ratioDen >= 1,
      "rebalanceClasses: ratio must be >= 1/den")
    val counts = df.groupBy(col(labelCol)).agg(count(lit(1)).as("__cn"))
    val minC = counts.agg(min(col("__cn")).as("__minc"))
    val capped = counts.crossJoin(broadcast(minC))
      .select(col(labelCol),
        expr(s"(__minc * ${ratioNum}L) div ${ratioDen}L").as("__cap"))
    val b = portableBucket(keyCols.map(col))
    val w = Window.partitionBy(col(labelCol))
      .orderBy((b.asc +: keyCols.map(col)): _*)
    df.join(broadcast(capped), Seq(labelCol))
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= col("__cap"))
      .drop("__rk", "__cap")
  }

  /** Deterministic NEGATIVE-PAIR sampling for contrastive training —
    * "for every anchor, k pseudo-random partners with a DIFFERENT label"
    * without a cross join: candidate ids come from a modular affine walk
    * over the dense id domain [0, n) (candidate_j = (id·P1 + j·P2 +
    * seed) mod n — a pure function of (id, j, seed), so the same pairs
    * reproduce on any engine or retry), then one equi-join back against
    * the id table verifies existence and filters same-label and self
    * pairs. Anchors may yield FEWER than k negatives (collisions or
    * same-label candidates drop) — the documented trade for zero
    * rejection-resampling loops; raise k and cap downstream if exact-k
    * matters. Ids are assumed dense-ish in [0, n); sparse domains drop
    * misses at the join (never wrong pairs). */
  def negativePairs(df: DataFrame, idCol: String, labelCol: String,
                    k: Int, seed: Long = 42L): DataFrame = {
    require(k >= 1, "negativePairs: k must be >= 1")
    val n = df.count()
    require(n >= 2, "negativePairs: need at least 2 rows")
    require(n < 3000000000L, "negativePairs: id domain too large for exact int64 arithmetic")
    val p1 = 2654435761L % n
    val p2 = 2246822519L % n
    val s = ((seed % n) + n) % n
    val cand = df.select(col(idCol).as("anchor"), col(labelCol).as("__al"))
      .select(col("anchor"), col("__al"),
        explode(sequence(lit(1), lit(k))).as("j"))
      .withColumn("__nid",
        (pmod(col("anchor"), lit(n)) * lit(p1) + col("j") * lit(p2) + lit(s)) % lit(n))
    cand.join(df.select(col(idCol).as("__nid"), col(labelCol).as("__nl")), Seq("__nid"))
      .where(col("__nl") =!= col("__al") && col("__nid") =!= col("anchor"))
      .select(col("anchor"), col("j"), col("__nid").as("negative"))
  }

  /** Temporal train/val/test split with EMBARGO gaps — the leakage-safe
    * split for forecasting/eval on time-ordered data: train is strictly
    * before `trainEnd`; an `embargoSeconds` buffer after each boundary is
    * EXCLUDED (rows whose features could leak across the boundary via
    * windowed aggregates land in neither split); val runs to `valEnd`,
    * test starts an embargo after that. Pure codegen'd comparisons
    * against literal timestamps — pushes down to the scan, zero
    * shuffles. Adds a `split` column ∈ train|embargo|val|test. */
  def temporalSplit(df: DataFrame, tsCol: String, trainEnd: String,
                    valEnd: String, embargoSeconds: Long = 0L): DataFrame = {
    require(embargoSeconds >= 0, "temporalSplit: embargo must be >= 0")
    val t = col(tsCol)
    // civil NTZ literals: the boundary is a wall clock in the data's own
    // (UTC-read) frame, so the split never moves with the session zone
    val te = lit(trainEnd).cast("timestamp_ntz")
    val ve = lit(valEnd).cast("timestamp_ntz")
    val emb = expr(s"INTERVAL $embargoSeconds SECOND")
    df.withColumn("split",
      when(t < te, "train")
        .when(t < te + emb, "embargo")
        .when(t < ve, "val")
        .when(t < ve + emb, "embargo")
        .otherwise("test"))
  }

  /** Stratified k-fold assignment for cross-validation: within each
    * stratum, rows are ordered by the seeded portable [[shuffleKey]]
    * (key columns as tie-break) and dealt round-robin — fold =
    * (row_number − 1) mod k — so per-stratum fold sizes differ by at
    * most one (exact balance, which a plain hash-mod split cannot
    * promise) and the assignment is a pure function of (key, seed):
    * reproducible across runs, engines, and partitionings.
    *
    * Scale: one window per stratum over the full frame — same posture
    * as the stateful per-key operators: the stratum column shards the
    * exchange; a single giant stratum serializes in one reducer, at
    * which point the documented fallback is `portableBucket(keys) % k`
    * (balanced only in expectation). */
  def stratifiedKFold(df: DataFrame, strataCols: Seq[String], k: Int,
                      seed: Long, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, "stratifiedKFold: k must be positive")
    require(strataCols.nonEmpty, "stratifiedKFold: need stratum columns")
    require(keyCols.nonEmpty, "stratifiedKFold: need tie-break key columns")
    val w = Window.partitionBy(strataCols.map(col): _*)
      .orderBy((shuffleKey(keyCols.map(col), seed) +: keyCols.map(col)): _*)
    df.withColumn("fold", ((row_number().over(w) - 1) % k).cast("int"))
  }

  /** Largest-remainder (Hamilton) apportionment: divide an integer
    * `total` across keys proportionally to non-negative integer weights,
    * exactly — Σ seats = total, every seat placement a pure function of
    * the data. The quota-allocation step of a corpus recipe ("give each
    * source its share of a 10M-document budget") done in integers, where
    * float rates would drop or invent seats at the rounding edge.
    *
    * base = ⌊w·T / W⌋ per key (exact integer — headroom contract:
    * w·total must fit a long); the T − Σbase leftover seats go to the
    * largest remainders (w·T mod W), ties broken by key ascending so the
    * ranking is total. The rank window runs over the per-key table (one
    * row per key — report-scale, the histogramEquiDepth posture), never
    * raw rows; W and Σbase are broadcast scalars. W = 0 (no weight
    * anywhere) allocates nothing. */
  def apportion(df: DataFrame, keyCol: String, weightCol: String,
                total: Long): DataFrame = {
    require(total >= 0, "apportion: total must be >= 0")
    val g = df.select(col(keyCol), col(weightCol).cast("long").as("weight"))
      .where(col("weight").isNotNull && col("weight") >= 0)
    val totW = g.agg(sum(col("weight")).as("__W"))
    val based = g.crossJoin(broadcast(totW))
      .withColumn("__base", when(col("__W") > 0,
        expr(s"(weight * ${total}L) div __W")).otherwise(0L))
      .withColumn("__rem", when(col("__W") > 0,
        (col("weight") * total) % col("__W")).otherwise(0L))
    val baseSum = based.agg(sum(col("__base")).as("__SB"))
    // global window over the per-KEY remainder table — bounded by the
    // stratum/key count, not the data (sweep-audited r8; a data-scale
    // variant would ride Profile.rowPositions)
    val wRank = Window.orderBy(col("__rem").desc, col(keyCol).asc)
    based.crossJoin(broadcast(baseSum))
      .withColumn("__rk", row_number().over(wRank).cast("long"))
      .select(col(keyCol), col("weight"),
        (col("__base") + when(col("__W") > 0 &&
          col("__rk") <= lit(total) - col("__SB"), 1L).otherwise(0L))
          .as("seats"))
  }
}
