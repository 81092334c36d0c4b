package graft.pipeline

import graft.Sessions
import graft.pipeline.Checkpoints.{DatasetCheckpointOps, LoopRowsPerPartition}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic graph centrality for corpus weighting — the link-graph
  * prioritization step of a web-crawl training pipeline (harmonic /
  * PageRank centrality over the host graph decides what gets crawled and
  * kept; this is its dataflow form).
  *
  * INTEGER PageRank: ranks are scaled BIGINTs (Scale = 10^12 ≙ 1.0) and
  * every step uses integer division — `contrib = rank div outdeg`,
  * `rank' = (1-d)·Scale + (d_num · Σ contribs) div d_den`. Long sums
  * commute exactly, so the fixed point is ORDER-INDEPENDENT: a
  * distributed run, a re-partitioned run, and a SQL replay agree
  * bit-for-bit (the q_pagerank oracle re-derives every iteration in
  * DuckDB) — float PageRank cannot make that promise under Spark's
  * nondeterministic reduce order, and exact reproducibility is the
  * property a data-recipe ledger needs. Truncation loses < outdeg
  * units (10^-12 of a rank) per edge per round — bounded, deterministic,
  * and identical in both engines.
  *
  * Standard simplifications, documented: ranks are UNNORMALIZED (init =
  * Scale per node, teleport term constant per node); dangling nodes
  * (outdeg 0) leak their mass rather than redistributing it.
  *
  * Scale shape: one (src → outdeg) map-side-combined aggregation up
  * front; each iteration is one equi-join of edges to current ranks on
  * src plus one partial/final sum keyed by dst — shuffles carry (id,
  * long) pairs only. Iterations are driver-coordinated like
  * Similarity.ivfCentroids; intermediate frames are persisted and the
  * parent unpersisted each round, so lineage stays shallow at any
  * iteration count.
  */
object Graph {

  /** 10^12 ≙ rank 1.0. Headroom contract: dampNum · N · Scale must stay
    * under Long.MaxValue (per-node incoming mass is bounded by total
    * mass N·Scale). 10^12 is safe to ~10^5 nodes; pick 10^6 for a
    * billion-node host graph — precision scales down, determinism
    * doesn't. The default suits gate/test-sized graphs. */
  val Scale: Long = 1000000000000L

  def pageRank(edges: DataFrame, srcCol: String, dstCol: String, iters: Int,
               dampNum: Long = 85, dampDen: Long = 100): DataFrame = {
    require(iters >= 1, "pageRank: need at least one iteration")
    require(dampNum > 0 && dampDen > dampNum, "pageRank: need 0 < dampNum < dampDen")
    // Materialize the (possibly expensive) edge lineage EAGERLY, before
    // outdeg and the join both read `e`: lazy per-partition fills are
    // first-writer-wins, not shared work, so it would compute once per
    // reference inside one job.
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .stagePersist(true)
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("__od"))
    val weighted = e.join(outdeg, "src").stagePersist(false)
    val nodes = weighted.select(col("src").as("id"))
      .union(weighted.select(col("dst").as("id"))).distinct()
      .stagePersist(false)
    val teleport = (Scale * (dampDen - dampNum)) / dampDen
    // Each round references the previous ranks exactly ONCE, so the
    // iteration chain is LINEAR lineage — no per-round materialization
    // needed; the whole fixed-point evaluates in one job at the end
    // (weighted/nodes are persisted, so rounds don't rescan the input).
    var ranks = nodes.withColumn("pr", lit(Scale))
    (1 to iters).foreach { _ =>
      val contribs = weighted
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), expr("pr div __od").as("__c"))
        .groupBy("id").agg(sum(col("__c")).as("__in"))
      ranks = nodes.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(teleport) +
            expr(s"(${dampNum}L * coalesce(__in, 0L)) div ${dampDen}L")).as("pr"))
    }
    val result = ranks.stagePersist(true) // before the inputs are released
    e.release(); weighted.release(); nodes.release()
    result
  }

  /** Per-node triangle participation counts over an UNDIRECTED graph
    * (edges are canonicalized to a < b and deduped; self-loops dropped).
    * Each triangle a < b < c is enumerated exactly once by the oriented
    * two-join — wedge (a→b→c) closed by the (a, c) edge — then credited
    * to all three corners.
    *
    * Scale: the canonical join is THE standard distributed triangle
    * count; the wedge join keys on the middle node, so its fan-out is
    * Σ deg²(v) — at web-graph skew, orient edges by (degree, id) instead
    * of raw id (the classic Suri-Vassilvitskii refinement: every wedge
    * pivot is then a LOW-degree node; same join shape, one extra degree
    * join to build the order) — the id orientation here keeps the oracle
    * replay plain. Shuffles carry (long, long) pairs only. */
  /** Root + depth for every node of a parent-pointer FOREST by pointer
    * doubling: each round every unresolved node's ancestor pointer jumps
    * to its ancestor's ancestor and the walked distance adds up, so depth
    * D resolves in ⌈log₂ D⌉ rounds — the technique that makes deep
    * hierarchies (BOM explosions, org charts, category trees) tractable
    * where one-step iteration would take D shuffles. NULL parent = root.
    *
    * Each round is one self-join of the (id, anc, d) state keyed by the
    * ancestor pointer — shuffles carry three longs; rounds persist and
    * the loop stops as soon as every pointer rests on a root (counted per
    * round — log-many tiny actions, same driver-coordination shape as
    * pageRank). Cycles (not a forest) would never resolve — the iteration
    * cap require()s progress so corrupt parent data fails loudly instead
    * of spinning. Every non-NULL parent must itself appear as a node id
    * (pre-validate with Checks.RefIntegrity) — an unknown parent would
    * silently drop its subtree at the join. Output: (id, root, depth). */
  def treeRootDepth(nodes: DataFrame, idCol: String, parentCol: String,
                    maxRounds: Int = 40): DataFrame = {
    // roots point at themselves so a resolved pointer is a fixed point
    var state = nodes.select(col(idCol).cast("long").as("id"),
        when(col(parentCol).isNull, col(idCol).cast("long"))
          .otherwise(col(parentCol).cast("long")).as("anc"),
        when(col(parentCol).isNull, 0L).otherwise(1L).as("d"),
        col(parentCol).isNull.as("done"))
      .stagePersist(false)
    var remaining = state.where(!col("done")).count() // fills state
    var rounds = 0
    val spark = nodes.sparkSession
    // loop exchanges sized by the unresolved-pointer count (the self-join
    // fan-in) — see Sessions.withDerivedPartitions
    state = Sessions.withDerivedPartitions(spark, remaining, LoopRowsPerPartition) { child =>
      state = Sessions.rebind(state, child)
      while (remaining > 0) {
        rounds += 1
        require(rounds <= maxRounds,
          s"treeRootDepth: $remaining pointers unresolved after $maxRounds rounds — cycle in parent data?")
        val ptr = state.select(col("id").as("anc"), col("anc").as("__aanc"),
          col("d").as("__ad"), col("done").as("__adone"))
        val next = state.join(ptr, Seq("anc"))
          .select(col("id"),
            when(col("done"), col("anc")).otherwise(col("__aanc")).as("anc"),
            when(col("done"), col("d")).otherwise(col("d") + col("__ad")).as("d"),
            (col("done") || col("__adone")).as("done"))
          .stagePersist(false)
        // one action per round: the filtered count both fills the persist
        // (first action over the persisted frame) and yields the loop
        // condition — the r16 shape paid a separate count() job first.
        remaining = next.where(!col("done")).count()
        state.release()
        state = next
      }
      Sessions.rebind(state, spark)
    }
    val out = state.select(col("id"), col("anc").as("root"), col("d").as("depth"))
    out
  }

  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
    val wedges = e.as("e1")
      .join(e.as("e2"), col("e2.a") === col("e1.b"))
      .select(col("e1.a").as("__wa"), col("e1.b").as("__wb"), col("e2.b").as("__wc"))
    val tri = wedges.join(e.as("e3"),
      col("e3.a") === col("__wa") && col("e3.b") === col("__wc"), "left_semi")
    tri.select(explode(array(col("__wa"), col("__wb"), col("__wc"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-node local clustering coefficient over an undirected simple
    * graph: C(v) = 2·T(v) / (deg(v)·(deg(v)−1)) — how close a node's
    * neighborhood is to a clique (community-structure profiling; the
    * companion metric to [[triangleCount]], which supplies T(v)).
    * Degrees count DISTINCT neighbors of the canonicalized (a<b, deduped,
    * self-loops dropped) edge set, so multi-edges can't inflate the
    * denominator. Nodes with deg < 2 report coefficient NULL (undefined).
    * The ratio is a fixed dag over exact integers, 6 dp at the edge.
    * One degree aggregate + one left join with the triangle counts —
    * both keyed by node. */
  def clusteringCoefficient(edges: DataFrame, srcCol: String,
                            dstCol: String): DataFrame = {
    val e = edges.select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val dd = col("degree").cast("double")
    deg.join(triangleCount(edges, srcCol, dstCol), Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        round(when(col("degree") >= 2,
          lit(2.0) * coalesce(col("n_triangles"), lit(0L)).cast("double") /
            (dd * (dd - lit(1.0)))), 6).as("coefficient"))
  }

  /** k-core decomposition: iteratively peel nodes of degree < k until
    * the remaining subgraph is stable — the standard dense-community /
    * influential-node filter. Each round is one degree aggregate + one
    * both-endpoints semi-join over the canonical (a<b, deduped,
    * self-loop-free) edge set; peeling is MONOTONE, so extra rounds
    * after the fixpoint are no-ops (what lets a replay unroll a fixed
    * round count — the oracle contract). The loop stops when the edge
    * count stops shrinking; `maxRounds` is require()d loud because an
    * unconverged core would silently overcount. Output: surviving
    * (node, degree) — degrees WITHIN the core. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 30): DataFrame = {
    require(k >= 1, "kCore: k must be >= 1")
    // An eager stageCheckpoint per round, NOT a plain persist: each round
    // references the previous edge set THREE times (degree union twice,
    // join probe once), so un-truncated lineage grows 3^rounds — the
    // analyzer itself becomes the bottleneck long before execution
    // (pageRank's linear-lineage note is the contrast: one reference per
    // round needs no truncation). The previous round's checkpoint is
    // released through its handle once its successor materializes; the
    // final round's blocks back the returned frame.
    val spark = edges.sparkSession
    var e = edges.select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct().stageCheckpoint(true)
    var eCount = e.stagedCount
    var rounds = 0
    var converged = eCount == 0
    // loop exchanges sized by the measured live-edge count — see
    // Sessions.withDerivedPartitions (peeling only shrinks e, so the
    // initial count is the loop's upper bound)
    e = Sessions.withDerivedPartitions(spark, eCount, LoopRowsPerPartition) { child =>
      e = Sessions.rebind(e, child)
      while (!converged) {
        rounds += 1
        require(rounds <= maxRounds,
          s"kCore: not converged after $maxRounds rounds ($eCount edges live)")
        val deg = e.select(col("a").as("node"))
          .unionAll(e.select(col("b").as("node")))
          .groupBy("node").agg(count(lit(1)).as("__deg"))
        val keep = deg.where(col("__deg") >= k).select(col("node"))
        val next = e
          .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
          .stageCheckpoint(true)
        val nextCount = next.stagedCount
        e.release()
        e = next
        converged = nextCount == eCount || nextCount == 0
        eCount = nextCount
      }
      Sessions.rebind(e, spark)
    }
    val out = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
      .where(col("degree") >= k)
    out
  }

  /** Multi-source BFS over a DIRECTED edge list: minimum hop distance
    * from any source node, up to `maxHops`. The reachability/radius
    * primitive (impact analysis, social distance, dependency fan-out).
    *
    * Level-synchronous frontier expansion: round r joins the CURRENT
    * frontier (nodes first reached at distance r) against the edge list,
    * anti-joins everything already settled, and the survivors become
    * frontier r+1 — each round shuffles (node) keys only, and each edge
    * is traversed at most once per frontier containing its source. The
    * settled set and frontier persist per round (same log-many
    * driver-coordination shape as [[treeRootDepth]]); the loop stops
    * early when the frontier empties, so `maxHops` is a budget, not a
    * cost. Unreachable nodes are absent from the output (anti-join them
    * in downstream if "infinity rows" are needed). Output: (id, hops). */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              sources: DataFrame, idCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "bfsHops: maxHops must be >= 0")
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct().stagePersist(false)
    val eRows = e.count() // fills e
    // stageCheckpoint the per-round state: settled is referenced TWICE
    // per round (anti-join + union), so plain persist would still grow
    // the LOGICAL plan 2^rounds — the kCore lineage lesson. Each round's
    // state is ONE checkpoint (settled ids + the __new frontier flag,
    // round 0 included); the previous round's is released once its
    // successor materializes, the final one backs the return value.
    val spark = edges.sparkSession
    // loop exchanges sized by the measured edge count, capped at the
    // session setting — see Sessions.withDerivedPartitions
    val out = Sessions.withDerivedPartitions(spark, eRows, LoopRowsPerPartition) { child =>
      val loopE = Sessions.rebind(e, child)
      var state = Sessions.rebind(sources, child)
        .select(col(idCol).cast("long").as("id"))
        .where(col("id").isNotNull).distinct()
        .select(col("id"), lit(0L).as("hops"), lit(true).as("__new"))
        .stageCheckpoint(true)
      var settled = state.select(col("id"), col("hops"))
      var frontier = state.select(col("id"))
      var hop = 0L
      var frontierSize = frontier.count()
      while (frontierSize > 0 && hop < maxHops) {
        hop += 1
        // FUSED round state — see topoLayers: one checkpointed frame holds
        // settled ∪ (newly reached at this hop) plus the __new flag,
        // replacing the r16 two-checkpoint (next, then union) round. The
        // full outer join against the reached set marks exactly the rows
        // the old anti-join produced (reached ids not yet settled).
        val reach = loopE.join(frontier.withColumnRenamed("id", "src"), "src")
          .select(col("dst").as("id")).distinct()
          .withColumn("__r", lit(true))
        val merged = settled.join(reach, Seq("id"), "full")
          .select(col("id"),
            coalesce(col("hops"), lit(hop)).as("hops"),
            (col("hops").isNull && col("__r")).as("__new"))
          .stageCheckpoint(true)
        frontierSize = merged.where(col("__new")).count() // reads the checkpoint
        settled = merged.select(col("id"), col("hops"))
        frontier = merged.where(col("__new")).select(col("id"))
        state.release()
        state = merged
      }
      Sessions.rebind(settled, spark)
    }
    e.release()
    out
  }

  /** Bounded-hop WEIGHTED shortest path from a source set over a directed
    * edge list: dist(v) = minimum total edge weight over any path of at
    * most `maxHops` edges from any source (the routing / cost-propagation
    * companion to [[bfsHops]], which is this with unit weights). The hop
    * bound makes the semantics well-defined even with cycles or negative
    * weights — it is Bellman-Ford truncated at H rounds, and "min cost
    * within H hops" is itself the useful contract (influence decay,
    * bounded-latency reachability).
    *
    * Frontier relaxation: round r joins the nodes IMPROVED in round r−1
    * against the edge list, min-combines candidate distances per dst
    * (map-side partial min — the shuffle carries one (id, long) per dst
    * per partition, not per edge), and keeps only strict improvements
    * over the settled best. The strict `<` guarantees termination on
    * cycles; invariant: after round r, best(v) = min cost over paths of
    * ≤ r edges (improvements always re-enter the frontier, so every
    * ≤H-edge path is explored by round H). Early exit when no node
    * improves. Per-round state is checkpointed (best is referenced
    * twice per round — the kCore lineage lesson). Multi-edges keep their
    * distinct weights and the min-relax picks the cheapest; unreachable
    * nodes are absent. Output: (id, dist). */
  def ssspHops(edges: DataFrame, srcCol: String, dstCol: String,
               wCol: String, sources: DataFrame, idCol: String,
               maxHops: Int): DataFrame = {
    require(maxHops >= 0, "ssspHops: maxHops must be >= 0")
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"), col(wCol).cast("long").as("w"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("w").isNotNull)
      .distinct().stagePersist(false)
    val eRows = e.count() // fills e
    val spark = edges.sparkSession
    // loop exchanges sized by the measured edge count — see
    // Sessions.withDerivedPartitions
    val out = Sessions.withDerivedPartitions(spark, eRows, LoopRowsPerPartition) { child =>
      val loopE = Sessions.rebind(e, child)
      var state = Sessions.rebind(sources, child)
        .select(col(idCol).cast("long").as("id"))
        .where(col("id").isNotNull).distinct()
        .withColumn("dist", lit(0L)).stageCheckpoint(true)
      var best = state
      var frontier = state
      var hop = 0
      var frontierSize = frontier.count()
      while (frontierSize > 0 && hop < maxHops) {
        hop += 1
        val cand = loopE.join(frontier.withColumnRenamed("id", "src"), "src")
          .select(col("dst").as("id"), (col("dist") + col("w")).as("__c"))
          .groupBy("id").agg(min(col("__c")).as("__c"))
        // FUSED round state — see topoLayers: one checkpointed frame holds
        // the updated best table and the improved flag, replacing the r16
        // two-checkpoint (improved, then anti-join+union) round. The FULL
        // outer join keeps newly-reached ids (in cand only) and untouched
        // settled ids (in best only); __imp marks exactly the rows the old
        // `improved` frame contained (strict `<` keeps termination on
        // cycles).
        val merged = best.join(cand, Seq("id"), "full")
          .select(col("id"),
            when(col("dist").isNull || col("__c") < col("dist"), col("__c"))
              .otherwise(col("dist")).as("dist"),
            coalesce(col("dist").isNull || col("__c") < col("dist"),
              lit(false)).as("__imp"))
          .stageCheckpoint(true)
        frontierSize = merged.where(col("__imp")).count() // reads the checkpoint
        best = merged.select(col("id"), col("dist"))
        frontier = merged.where(col("__imp")).select(col("id"), col("dist"))
        state.release()
        state = merged
      }
      Sessions.rebind(best, spark)
    }
    e.release()
    out
  }

  /** Topological layering of a DAG: layer(v) = length of the LONGEST
    * path ending at v — the stage number a scheduler / lineage planner
    * assigns (all layer-k nodes can run once layers < k finished).
    * Same frontier-relaxation shape as [[ssspHops]] with max instead of
    * min; on a DAG with depth D it converges in D rounds and the loop
    * exits when nothing improves. A CYCLE never converges — the
    * `maxRounds` require fails loudly rather than returning wrong
    * layers, which doubles as cycle DETECTION for dependency audits.
    * Output: (id, layer); roots (no incoming edges) are layer 0. */
  def topoLayers(edges: DataFrame, srcCol: String, dstCol: String,
                 maxRounds: Int = 40): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct().stagePersist(false)
    val eRows = e.count() // fills e
    val spark = edges.sparkSession
    // loop exchanges sized by the measured edge count — see
    // Sessions.withDerivedPartitions
    val out = Sessions.withDerivedPartitions(spark, eRows, LoopRowsPerPartition) { child =>
      val loopE = Sessions.rebind(e, child)
      var state = loopE.select(col("src").as("id"))
        .union(loopE.select(col("dst").as("id"))).distinct()
        .withColumn("layer", lit(0L)).stageCheckpoint(true)
      var layer = state
      var frontier = state
      var rounds = 0
      var frontierSize = frontier.count()
      while (frontierSize > 0) {
        rounds += 1
        require(rounds <= maxRounds,
          s"topoLayers: not converged after $maxRounds rounds — cycle in edge data?")
        val cand = loopE.join(frontier.withColumnRenamed("id", "src"), "src")
          .select(col("dst").as("id"), (col("layer") + 1L).as("__c"))
          .groupBy("id").agg(max(col("__c")).as("__c"))
        // FUSED round state (r17, guide §1/§5): ONE checkpointed frame per
        // round carrying both the updated layer table and the improved flag.
        // The r16 shape ran TWO eager-checkpoint jobs per round (improved,
        // then anti-join+union layer update); on KB-sized frontiers the wall
        // is per-job fixed latency, so merging them halves the round cost.
        // Equivalence: cand ids are always node ids (dst of some edge), so
        // the left join reaches every candidate; layer' = max(layer, cand)
        // and the __imp rows are exactly the old `improved` set.
        val merged = layer.join(cand, Seq("id"), "left")
          .select(col("id"),
            when(col("__c") > col("layer"), col("__c"))
              .otherwise(col("layer")).as("layer"),
            coalesce(col("__c") > col("layer"), lit(false)).as("__imp"))
          .stageCheckpoint(true)
        frontierSize = merged.where(col("__imp")).count() // reads the checkpoint
        layer = merged.select(col("id"), col("layer"))
        frontier = merged.where(col("__imp")).select(col("id"), col("layer"))
        state.release()
        state = merged
      }
      Sessions.rebind(layer, spark)
    }
    e.release()
    out
  }

  /** Full ancestor closure of a parent-pointer FOREST by relation
    * doubling: round k holds every (node, ancestor) pair at distance
    * ≤ 2^k, so depth D closes in ⌈log₂ D⌉ self-joins — each keyed on
    * the ancestor id, shuffling (long, long) pairs. Output size is
    * Σ depth(v) (every node × each of its proper ancestors) — the
    * closure IS the product, as in any BOM/org expansion; cap abuse
    * with `maxRounds` (non-convergence ⇒ cycle, loud require).
    * Output: (id, anc) — proper ancestors only. */
  def ancestorClosure(nodes: DataFrame, idCol: String, parentCol: String,
                      maxRounds: Int = 20): DataFrame = {
    val spark = nodes.sparkSession
    var pairs = nodes.select(col(idCol).cast("long").as("id"),
        col(parentCol).cast("long").as("anc"))
      .where(col("anc").isNotNull).distinct().stageCheckpoint(true)
    var n = pairs.stagedCount
    var rounds = 0
    var converged = n == 0
    while (!converged) {
      rounds += 1
      require(rounds <= maxRounds,
        s"ancestorClosure: still growing after $maxRounds rounds — cycle in parent data?")
      // per-round partition sizing from the CURRENT pair count (the
      // closure grows round over round, so the derivation is re-taken
      // each round rather than once) — see Sessions.withDerivedPartitions
      val next = Sessions.withDerivedPartitions(spark, n, LoopRowsPerPartition) { child =>
        // the eager checkpoint materializes INSIDE the sized scope
        val p = Sessions.rebind(pairs, child)
        Sessions.rebind(p.unionByName(
            p.as("x").join(p.as("y"), col("y.id") === col("x.anc"))
              .select(col("x.id").as("id"), col("y.anc").as("anc")))
          .distinct().stageCheckpoint(true), spark)
      }
      val nn = next.stagedCount
      pairs.release()
      converged = nn == n
      pairs = next
      n = nn
    }
    pairs
  }

  /** Subtree rollup over a parent-pointer forest: per node, the count of
    * proper descendants and the value total of its subtree INCLUDING
    * itself — the BOM-cost / org-headcount explosion. One
    * [[ancestorClosure]] (log-depth doubling joins) + one aggregate
    * keyed by ancestor + one join back to the node's own value. Values
    * sum in exact decimals. Output: (id, n_desc, subtree_sum). */
  def subtreeRollup(nodes: DataFrame, idCol: String, parentCol: String,
                    valueCol: String): DataFrame = {
    def d(c: Column) = c.cast("string").cast("double")
    val base = nodes.select(col(idCol).cast("long").as("id"),
      col(parentCol).cast("long").as("__p"),
      col(valueCol).cast("decimal(18,2)").as("__v"))
    val anc = ancestorClosure(base, "id", "__p")
    val descAgg = anc.join(base.select(col("id"), col("__v")), Seq("id"))
      .groupBy(col("anc").as("id"))
      .agg(count(lit(1)).as("__nd"), sum(col("__v")).as("__dsum"))
    base.select(col("id"), col("__v"))
      .join(descAgg, Seq("id"), "left")
      .select(col("id"), coalesce(col("__nd"), lit(0L)).as("n_desc"),
        d(col("__v") + coalesce(col("__dsum"),
          lit(0).cast("decimal(18,2)"))).as("subtree_sum"))
  }

  /** One-row graph summary — the profile card a link-graph pipeline
    * prints before anything else: node/edge counts (directed distinct
    * and undirected canonical), self-loops, RECIPROCITY (fraction of
    * directed edges whose reverse also exists — mutual-follow rate),
    * density 2E/(n(n−1)), and max/mean degree. Shapes: two distincts,
    * one self-join on the swapped pair for reciprocity, one degree
    * aggregate — all keyed by edge endpoints. Ratios are fixed dags
    * over exact counts. */
  def graphSummary(edges: DataFrame, srcCol: String,
                   dstCol: String): DataFrame = {
    val raw = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull)
    val selfLoops = raw.where(col("a") === col("b"))
      .agg(count(lit(1)).as("self_loop_rows"))
    val dir = raw.where(col("a") =!= col("b")).distinct()
    val recip = dir.join(dir.select(col("b").as("a"), col("a").as("b")),
      Seq("a", "b"), "left_semi")
    val und = dir.select(least(col("a"), col("b")).as("a"),
      greatest(col("a"), col("b")).as("b")).distinct()
    val sym = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy("a").agg(count(lit(1)).as("__d"))
    val degStats = deg.agg(count(lit(1)).as("n_nodes"),
      max(col("__d")).as("max_degree"))
    val counts = dir.agg(count(lit(1)).as("n_directed"))
      .crossJoin(recip.agg(count(lit(1)).as("n_reciprocated")))
      .crossJoin(und.agg(count(lit(1)).as("n_undirected")))
      .crossJoin(degStats)
      .crossJoin(selfLoops)
    val nd = col("n_nodes").cast("double")
    counts.select(col("n_nodes"), col("n_directed"), col("n_undirected"),
      col("n_reciprocated"), col("self_loop_rows"), col("max_degree"),
      (col("n_reciprocated").cast("double") /
        col("n_directed").cast("double")).as("reciprocity"),
      (lit(2.0) * col("n_undirected").cast("double") /
        (nd * (nd - lit(1.0)))).as("density"),
      (lit(2.0) * col("n_undirected").cast("double") / nd).as("mean_degree"))
  }

  /** Degree assortativity — the Pearson correlation of endpoint degrees
    * over the symmetric edge list ("do hubs link to hubs?"; Newman
    * 2002's r). Self-loops drop, the edge list canonicalizes undirected
    * (least/greatest + distinct), and each edge contributes BOTH
    * orientations so r is symmetric by construction. Degrees are exact
    * integers; the five moment sums ride DECIMAL(38,0) (degree products
    * overflow int64 on hub-heavy graphs), cross the digit-string hop
    * once, and r is the corrExact fixed dag. Shape: one degree
    * aggregate, two degree joins keyed by endpoint, one scalar fold.
    * Output: 1 row (n_edges, n_endpoints, assortativity). */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame = {
    def d(c: Column) = c.cast("string").cast("double")
    val und = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .where(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    val sym = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy("a").agg(count(lit(1)).as("deg"))
    val j = sym
      .join(deg.select(col("a"), col("deg").as("dx")), Seq("a"))
      .join(deg.select(col("a").as("b"), col("deg").as("dy")), Seq("b"))
    val m = j.agg(count(lit(1)).as("n"),
      d(sum(col("dx").cast("decimal(38,0)"))).as("__sx"),
      d(sum(col("dy").cast("decimal(38,0)"))).as("__sy"),
      // cast BEFORE multiplying: a long*long product wraps silently in
      // non-ANSI mode on hub-heavy graphs; decimal products widen
      d(sum(col("dx").cast("decimal(19,0)") *
        col("dy").cast("decimal(19,0)"))).as("__sxy"),
      d(sum(col("dx").cast("decimal(19,0)") *
        col("dx").cast("decimal(19,0)"))).as("__sxx"),
      d(sum(col("dy").cast("decimal(19,0)") *
        col("dy").cast("decimal(19,0)"))).as("__syy"))
    val nd = col("n").cast("double")
    m.select((col("n") / 2).cast("long").as("n_edges"), col("n"),
      ((nd * col("__sxy") - col("__sx") * col("__sy")) /
        (sqrt(nd * col("__sxx") - col("__sx") * col("__sx")) *
         sqrt(nd * col("__syy") - col("__sy") * col("__sy"))))
        .as("assortativity"))
  }
}
