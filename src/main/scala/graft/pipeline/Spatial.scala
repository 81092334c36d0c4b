package graft.pipeline

import graft.pipeline.Checkpoints.DatasetCheckpointOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Grid-blocked spatial operators over integer planar coordinates —
  * the "find nearby points" primitive (geo dedup of scrape locations,
  * near-duplicate UI screenshots by layout coordinates, any 2-D
  * embedding). Integer coordinates and integer squared distances keep
  * every comparison exact on every engine — no floating-point boundary
  * flicker, which is what makes the radius join RECALL-EXACT provable
  * against an all-pairs oracle (the q_fuzzy_join standard).
  */
object Spatial {

  /** Floor division that is correct for negative values too (Spark's
    * integer `div` truncates toward zero): (x − pmod(x, d)) / d. The
    * numerator is an exact multiple of d, so the double division is
    * exact for |x| < 2^53 — cast back to long. */
  def floorDiv(x: Column, d: Long): Column =
    ((x - pmod(x, lit(d))) / lit(d)).cast("long")

  /** All unordered point pairs within `radius` (inclusive, Euclidean):
    * (id_a < id_b, d2 = squared distance). Blocking: cells of side
    * `radius`; side A expands to its 3×3 cell neighborhood (a 9×
    * row expansion of ONE side — never an all-pairs product), side B
    * stays in its own cell, so every qualifying pair meets in exactly
    * one (cell, neighbor) combination: |Δx| ≤ r < 2·cell ⇒ the cells
    * differ by at most 1 per axis. Recall is therefore structural, not
    * probabilistic. Shuffles move (cell, id, x, y) tuples; per-cell
    * density is the data's own spatial density at radius scale — the
    * skew guard is the cell size, which equals the query radius. */
  def radiusJoinGrid(points: DataFrame, idCol: String, xCol: String,
                     yCol: String, radius: Long): DataFrame = {
    require(radius >= 1, "radiusJoinGrid: radius must be >= 1")
    val p = points.select(col(idCol).as("__id"),
      col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"),
      floorDiv(col(xCol).cast("long"), radius).as("__cx"),
      floorDiv(col(yCol).cast("long"), radius).as("__cy"))
    val offsets = array((for { dx <- -1 to 1; dy <- -1 to 1 }
      yield struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)
    val a = p.withColumn("__o", explode(offsets))
      .select(col("__id").as("id_a"), col("__x").as("xa"), col("__y").as("ya"),
        (col("__cx") + col("__o.dx")).as("__jx"),
        (col("__cy") + col("__o.dy")).as("__jy"))
    val b = p.select(col("__id").as("id_b"), col("__x").as("xb"),
      col("__y").as("yb"), col("__cx").as("__jx"), col("__cy").as("__jy"))
    val d2 = (col("xa") - col("xb")) * (col("xa") - col("xb")) +
             (col("ya") - col("yb")) * (col("ya") - col("yb"))
    a.join(b, Seq("__jx", "__jy"))
      .where(col("id_a") < col("id_b") && d2 <= lit(radius * radius))
      .select(col("id_a"), col("id_b"), d2.as("d2"))
  }

  /** Per-key Manhattan path statistics over an ordered point sequence
    * (GPS tracks, cursor traces, warehouse routes): total L1 path length
    * Σ(|Δx|+|Δy|), segment count, and the net start-to-end L1
    * displacement — exact 64-bit integers throughout (Euclidean length
    * needs per-segment sqrt; L1 keeps the fold integer-exact and
    * engine-replayable, and is the standard grid-movement metric).
    * One key-sharded lag window + one key aggregate; the start/end
    * fold uses min/max(struct(seq, coord)) so no second window pass. */
  def pathStats(df: DataFrame, keyCols: Seq[String], xCol: String,
                yCol: String, seqCol: String): DataFrame = {
    require(keyCols.nonEmpty, "pathStats: need at least one key column")
    val ks = keyCols.map(col)
    val w = Window.partitionBy(ks: _*).orderBy(col(seqCol).asc)
    val stepped = df
      .withColumn("__px", lag(col(xCol), 1).over(w))
      .withColumn("__py", lag(col(yCol), 1).over(w))
    stepped.groupBy(ks: _*)
      .agg(count(lit(1)).as("n_points"),
        coalesce(sum(abs(col(xCol) - col("__px")) +
          abs(col(yCol) - col("__py"))), lit(0L)).as("path_len"),
        min(struct(col(seqCol), col(xCol), col(yCol))).as("__first"),
        max(struct(col(seqCol), col(xCol), col(yCol))).as("__last"))
      .select((ks :+ col("n_points") :+ col("path_len") :+
        (abs(col(s"__last.$xCol") - col(s"__first.$xCol")) +
         abs(col(s"__last.$yCol") - col(s"__first.$yCol")))
          .as("net_displacement")): _*)
  }

  /** Point-in-polygon by exact-integer ray casting: a horizontal ray from
    * the point to +∞ crosses edge (x1,y1)→(x2,y2) iff the edge straddles
    * the point's y (half-open: y1 ≤ py < y2 or y2 ≤ py < y1 — each vertex
    * counts for exactly one of its two edges, so rays through vertices
    * never double-count) and the crossing lies strictly right of the
    * point. The right-of test cross-multiplies instead of dividing —
    * (px−x1)·(y2−y1) vs (py−y1)·(x2−x1), direction-flipped when y2 < y1 —
    * so every comparison is exact 64-bit integer arithmetic; odd crossing
    * parity = inside. Points ON an edge classify by the same parity rule
    * (consistent, but not canonically "inside"): keep boundaries off the
    * data or test them explicitly.
    *
    * The polygon is bounded driver metadata (the IVF-centroid posture):
    * the crossing count unrolls into one codegen'd projection — |V| CASE
    * terms, ZERO joins, ZERO shuffles, scan-pruned to (id, x, y). The
    * 100 TB path is exactly this: a filter expression over the point
    * table. Closes the ring automatically (last vertex → first). */
  def pointInPolygon(points: DataFrame, idCol: String, xCol: String,
                     yCol: String, polygon: Seq[(Long, Long)]): DataFrame = {
    require(polygon.size >= 3, "pointInPolygon: need at least 3 vertices")
    val px = col(xCol).cast("long")
    val py = col(yCol).cast("long")
    val edges = polygon.zip(polygon.tail :+ polygon.head)
    val crossings = edges.map { case ((x1, y1), (x2, y2)) =>
      if (y1 == y2) lit(0L) // horizontal edge: never straddles py
      else {
        val straddles = (lit(y1) <= py && py < lit(y2)) ||
          (lit(y2) <= py && py < lit(y1))
        val lhs = (px - lit(x1)) * lit(y2 - y1)
        val rhs = (py - lit(y1)) * lit(x2 - x1)
        val rightOf = if (y2 > y1) lhs < rhs else lhs > rhs
        when(straddles && rightOf, 1L).otherwise(0L)
      }
    }.reduce(_ + _)
    points.select(col(idCol), px.as(xCol), py.as(yCol),
      (crossings % 2 === 1).as("inside"))
  }

  /** Grid relative-density anomaly detection — the cheap cousin of LOF
    * for planar data: bucket points into cells of side `cellSize`,
    * compare each cell's count to the MEAN of its 8 neighbors (absent
    * neighbors count as genuinely zero-density, so the divisor is
    * always 8). rel_density ≥ hi flags a hotspot, ≤ lo a void inside
    * activity; cells with an EMPTY neighborhood report NULL (an
    * isolated cell has no local baseline) and never flag. Everything
    * after the cell aggregate operates on cells, not points — the 9×
    * stencil join is over the bounded cell table.
    * Output: (cx, cy, n, nbhd_sum, rel_density, anomaly). */
  def gridDensityAnomaly(points: DataFrame, xCol: String, yCol: String,
                         cellSize: Long, lo: Double = 0.5,
                         hi: Double = 2.0): DataFrame = {
    require(cellSize >= 1, "gridDensityAnomaly: cellSize must be >= 1")
    // floor() BEFORE the long cast: a bare cast truncates toward zero,
    // which would put negative fractional coordinates in the wrong cell
    // (x = -0.5 → cell 0 instead of -1), inconsistent with the floorDiv
    // convention used for the integer part.
    val cells = points.select(
        floorDiv(floor(col(xCol)).cast("long"), cellSize).as("cx"),
        floorDiv(floor(col(yCol)).cast("long"), cellSize).as("cy"))
      .groupBy("cx", "cy").agg(count(lit(1)).as("n"))
    val offsets = array((for { dx <- -1 to 1; dy <- -1 to 1
                              if dx != 0 || dy != 0 }
      yield struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)
    val probes = cells.withColumn("__o", explode(offsets))
      .select((col("cx") + col("__o.dx")).as("cx"),
        (col("cy") + col("__o.dy")).as("cy"), col("n").as("__nn"))
    val nbhd = probes.groupBy("cx", "cy").agg(sum(col("__nn")).as("__ns"))
    val joined = cells.join(nbhd, Seq("cx", "cy"), "left")
      .withColumn("nbhd_sum", coalesce(col("__ns"), lit(0L)))
      .withColumn("rel_density", when(col("nbhd_sum") > 0,
        round(col("n").cast("double") /
          (col("nbhd_sum").cast("double") / lit(8.0)), 6)))
    joined.select(col("cx"), col("cy"), col("n"), col("nbhd_sum"),
      col("rel_density"),
      (col("rel_density").isNotNull &&
        (col("rel_density") >= hi || col("rel_density") <= lo))
        .as("anomaly"))
  }

  /** Grid-blocked DBSCAN density clustering over integer planar points —
    * the "find the dense scrape regions / screenshot layout families"
    * primitive. Every step is exact and deterministic, so the whole
    * clustering is replayable by any engine:
    *
    *   - neighbors: [[radiusJoinGrid]] (3×3 cell stencil — recall-exact,
    *     never all-pairs; shuffles move (cell, id, x, y) tuples only);
    *   - core: |N_eps(p)| ≥ minPts, the point itself included (the
    *     textbook counting rule);
    *   - clusters: connected components of the CORE-CORE neighbor graph
    *     via [[Dedup.duplicateClusters]] (min-id canonical labels); a
    *     core whose neighbors are all non-core keeps its own id;
    *   - border: non-core points adjacent to ≥1 core join the SMALLEST
    *     adjacent core's cluster label — the textbook algorithm assigns
    *     borders to whichever core claims them first (scan-order
    *     dependent!); min-label is the deterministic refinement;
    *   - noise: everything else (cluster NULL).
    *
    * Scale posture: the only quadratic surface is per-cell density at
    * radius scale (the radiusJoinGrid contract); component labeling runs
    * on the core-core EDGE list, already bounded by the neighbor join.
    * Output: (id, role ∈ core|border|noise, cluster). */
  def dbscan(points: DataFrame, idCol: String, xCol: String, yCol: String,
             eps: Long, minPts: Int): DataFrame = {
    require(minPts >= 1, "dbscan: minPts must be >= 1")
    val ids = points.select(col(idCol).as("id"))
    val pairs = radiusJoinGrid(points, idCol, xCol, yCol, eps)
      .select(col("id_a"), col("id_b"))
    // symmetric adjacency, persisted: it feeds the degree count, the
    // core-core edge build AND the border assignment. r17 A/B kept these
    // persists (1.97 s with vs 3.11 s without — the neighbor join is
    // expensive lineage, the opposite of the madOutliers cheap-agg case).
    // duplicateClusters below fills both; the returned frame reads both,
    // so they belong to it (see Checkpoints).
    val sym = pairs
      .unionAll(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .toDF("id", "nb")
      .stagePersist(false)
    val core = sym.groupBy("id").agg(count(lit(1)).as("__nbrs"))
      .where(col("__nbrs") + lit(1L) >= lit(minPts.toLong))
      .select("id")
      .stagePersist(false)
    val coreEdges = sym
      .join(core, Seq("id"))
      .join(core.select(col("id").as("nb")), Seq("nb"))
      .select(col("id").as("id1"), col("nb").as("id2"))
    val components = Dedup.duplicateClusters(coreEdges)
    val coreLabeled = core
      .join(components, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
    val borderLabeled = sym
      .join(core, Seq("id"), "left_anti") // self is NOT core
      .join(coreLabeled.select(col("id").as("nb"), col("cluster")),
        Seq("nb")) // ... but the neighbor is
      .groupBy("id").agg(min(col("cluster")).as("cluster"))
    val out = ids
      .join(coreLabeled.select(col("id"), col("cluster").as("__cc")),
        Seq("id"), "left")
      .join(borderLabeled.select(col("id"), col("cluster").as("__bc")),
        Seq("id"), "left")
      .select(col("id"),
        when(col("__cc").isNotNull, lit("core"))
          .when(col("__bc").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("__cc"), col("__bc")).as("cluster"))
    out
  }
}
