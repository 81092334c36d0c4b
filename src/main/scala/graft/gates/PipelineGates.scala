package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Aggregates, Relational}
import graft.pipeline.Checkpoints.DatasetCheckpointOps
import graft.operators.Aggregates._
import graft.pipeline.{Contamination, Dedup, Multimodal, Profile, Sampling, Scoring, Similarity, TextAnalysis => T}

import GateHelpers.{MinhashAllPairsOracle, NgramPairsCte, asDouble, cleanupAtExit, dec,
  minLabelClustersSql, minhashAllPairsOracle}

/** Training-data pipeline gates: dedup, similarity and ANN, text and
  * multimodal operators. */
object PipelineGates extends GateGroup {

  /** DuckDB VALUES rows `(i, [plane doubles...])` for the LSH oracle —
    * the exact constants Similarity.lshSignature uses (Double.toString is
    * shortest-roundtrip, so DuckDB parses bit-identical values). */
  private def lshPlanesValues(nPlanes: Int, dim: Int, seed: Long): String =
    graft.pipeline.Similarity.planes(nPlanes, dim, seed).zipWithIndex
      .map { case (p, i) => s"($i, [${p.mkString(", ")}])" }
      .mkString(", ")

  /** Shared LSH oracle prelude (planes → signatures → same-signature
    * candidate pairs with exact cosine) — used verbatim by q_ann_lsh and
    * q_dedup_embedding so the two gates provably run one algorithm. */
  private def lshCandidateCtes: String =
    s"""WITH pl(i, p) AS (VALUES ${lshPlanesValues(8, 64, 42L)}),
       |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sg AS (SELECT c.vec_id, CAST(SUM(CASE WHEN list_inner_product(c.v, pl.p) >= 0
       |  THEN (1::BIGINT << pl.i) ELSE 0 END) AS BIGINT) AS s
       |  FROM c CROSS JOIN pl GROUP BY c.vec_id),
       |k AS (SELECT c.vec_id, c.v, sg.s FROM c JOIN sg USING (vec_id)),
       |cand AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
       |  list_inner_product(a.v, b.v) /
       |  (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) AS cos
       |  FROM k a JOIN k b ON a.s = b.s AND a.vec_id < b.vec_id)""".stripMargin

  /** Shared dHash-pair CTE (q_image_phash + q_image_dedup): the full
    * perceptual-hash replay — six-part image corpus, 9x8 grayscale
    * grid from the seed-cycling pixel arithmetic (per-pixel cycling for
    * corpora A/B/C; 8x8 tile-constant for the JPEG↔PNG twins D/E and
    * the round-9 PROGRESSIVE-JPEG twin F, whose decoded pixels are all
    * exact because the flat-tile JPEG round trip is lossless through
    * both codings — see qMultimodalJpeg), 64-bit difference hash
    * (bit 63 added as min-long — DuckDB rejects 1<<63), then ALL-pairs
    * Hamming ≤ 3 as `ip` (the banded Spark join is exact at that radius
    * by pigeonhole). */
  private val ImageDhashPairsCte: String =
    """base AS (SELECT doc_id, text,
      |  CAST(16 + doc_id % 16 AS INTEGER) AS w,
      |  CAST(16 + (doc_id // 16) % 16 AS INTEGER) AS h FROM documents),
      |base2 AS (SELECT doc_id, text,
      |  CAST(64 + doc_id % 64 AS INTEGER) AS w,
      |  CAST(64 + (doc_id // 64) % 64 AS INTEGER) AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |imgs AS (
      |  SELECT doc_id AS img_id, text, w, h, -1 AS pert, 0 AS tiled FROM base
      |  UNION ALL
      |  SELECT doc_id + 100000000, text, w, h, -1, 0 FROM base WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000000, text, w, h, 0, 0 FROM base WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 300000000, text, w, h, -1, 1 FROM base2
      |  UNION ALL
      |  SELECT doc_id + 400000000, text, w, h, -1, 1 FROM base2
      |  UNION ALL
      |  SELECT doc_id + 500000000, text, w, h, -1, 1 FROM base2),
      |gpk AS (SELECT img_id, y, x, pert, tiled, text,
      |  3 * (((y * h) // 8) * w + ((x * w) // 9)) + k AS j,
      |  (((y * h) // 8) // 8) * ((w + 7) // 8) + (((x * w) // 9) // 8) AS t
      |  FROM imgs, (SELECT unnest(range(8)) AS y),
      |    (SELECT unnest(range(9)) AS x), (SELECT unnest(range(3)) AS k)),
      |gpv AS (SELECT img_id, y, x,
      |  SUM(CASE WHEN tiled = 1
      |    THEN ord(substr(text, CAST(t % strlen(text) AS INTEGER) + 1, 1))
      |    WHEN j = pert
      |    THEN (ord(substr(text, CAST(j % strlen(text) AS INTEGER) + 1, 1)) + 1) % 256
      |    ELSE ord(substr(text, CAST(j % strlen(text) AS INTEGER) + 1, 1)) END) AS gray
      |  FROM gpk GROUP BY img_id, y, x),
      |bits AS (SELECT a.img_id, a.y, a.x,
      |  CASE WHEN a.gray > b.gray THEN 1 ELSE 0 END AS bit
      |  FROM gpv a JOIN gpv b ON a.img_id = b.img_id AND a.y = b.y AND b.x = a.x + 1
      |  WHERE a.x < 8),
      |hs AS (SELECT img_id,
      |  CAST(SUM(CASE WHEN bit = 0 THEN 0
      |    WHEN y * 8 + x = 63 THEN (-9223372036854775807 - 1)
      |    ELSE (1::BIGINT << CAST(y * 8 + x AS INTEGER)) END) AS BIGINT) AS dhash
      |  FROM bits GROUP BY img_id),
      |ip AS (SELECT a.img_id AS id1, b.img_id AS id2,
      |  bit_count(xor(a.dhash, b.dhash)) AS hamming
      |FROM hs a JOIN hs b ON a.img_id < b.img_id
      |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3)""".stripMargin

  /** Exact cosine top-k oracle — shared verbatim by q_ann_brute and
    * q_ann_ivf: the IVF gate probes ALL cells, so its expected output IS
    * the brute-force result; one binding makes that equivalence
    * structural rather than copy-paste. */
  private val annExactTopKOracle: String =
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
      |s AS (SELECT qid, vec_id, list_inner_product(qv, cv) /
      |  (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))) AS cos_exact
      |FROM q CROSS JOIN c WHERE vec_id <> qid),
      |r AS (SELECT qid, vec_id, cos_exact,
      |row_number() OVER (PARTITION BY qid ORDER BY cos_exact DESC, vec_id) AS rank FROM s)
      |SELECT qid, vec_id, round(cos_exact, 6) AS cosine, rank FROM r WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin

  /** q_ann_pq oracle: the COMPLETE product-quantization path replayed in
    * SQL — seed selection by the same multiplicative-scatter order,
    * per-subspace codebook slices, L2 code assignment via the identical
    * discriminant dot(c,c) − 2·dot(x,c) (dot = list_inner_product, the
    * proven-parity sequential fold; ties to the lower codebook index),
    * per-query LUTs rounded to 9 dp as DECIMAL, exact decimal ADC sums,
    * and the (adc desc, id) ranking. Gate shape is iters=0 (codebook
    * entries are exact data subvectors), so every arithmetic step is
    * bit-replayable. */
  private def annPqOracle(m: Int, ksub: Int, kq: Int, rerank: Int = 0): String = {
    val scatter = "(id % 2147483648) * 2654435761 % 2147483648"
    s"""WITH c AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sd AS MATERIALIZED (SELECT s, v FROM (
       |  SELECT row_number() OVER (ORDER BY $scatter, id) - 1 AS s, v FROM c) WHERE s < $ksub),
       |js AS (SELECT unnest(range(0, $m)) AS j, len(v) // $m AS d FROM (SELECT v FROM c LIMIT 1)),
       |cb AS MATERIALIZED (SELECT js.j, js.d, sd.s,
       |  sd.v[js.j * js.d + 1 : (js.j + 1) * js.d] AS cv FROM sd CROSS JOIN js),
       |enc AS MATERIALIZED (SELECT id, j, s AS code FROM (
       |  SELECT x.id, cb.j, cb.s, row_number() OVER (PARTITION BY x.id, cb.j ORDER BY
       |      list_inner_product(cb.cv, cb.cv)
       |        - 2 * list_inner_product(x.v[cb.j * cb.d + 1 : (cb.j + 1) * cb.d], cb.cv),
       |      cb.s) AS rn
       |  FROM c x CROSS JOIN cb) WHERE rn = 1),
       |q AS (SELECT id AS qid, v AS qv FROM c WHERE id < 10),
       |lut AS MATERIALIZED (SELECT q.qid, cb.j, cb.s,
       |  CAST(round(list_inner_product(q.qv[cb.j * cb.d + 1 : (cb.j + 1) * cb.d], cb.cv), 9)
       |    AS DECIMAL(20,9)) AS ip
       |  FROM q CROSS JOIN cb),
       |a AS (SELECT l.qid, e.id AS vec_id, sum(l.ip) AS adc
       |  FROM enc e JOIN lut l ON l.j = e.j AND l.s = e.code
       |  WHERE e.id <> l.qid GROUP BY 1, 2),
       |r AS (SELECT qid, vec_id, adc,
       |  row_number() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id) AS rank FROM a)
       |${
        if (rerank <= 0)
          s"""SELECT qid, vec_id, CAST(adc AS DOUBLE) AS adc, rank
             |FROM r WHERE rank <= $kq ORDER BY qid, rank""".stripMargin
        else
          // exact-dot re-rank of the ADC shortlist (q_ann_ivfadc): the
          // shortlist membership is the decimal-exact ADC rank, the final
          // order the bit-parity list_inner_product over raw vectors.
          s""",sh AS (SELECT qid, vec_id FROM r WHERE rank <= $rerank),
             |rr AS (SELECT sh.qid, sh.vec_id,
             |  list_inner_product(q.qv, c.v) AS dot,
             |  row_number() OVER (PARTITION BY sh.qid
             |    ORDER BY list_inner_product(q.qv, c.v) DESC, sh.vec_id) AS rk
             |  FROM sh JOIN q ON sh.qid = q.qid JOIN c ON sh.vec_id = c.id)
             |SELECT qid, vec_id, CAST(dot AS DOUBLE) AS adc, rk AS rank
             |FROM rr WHERE rk <= $kq ORDER BY qid, rank""".stripMargin
      }""".stripMargin
  }

  /** q_ann_ivf_trained oracle: trained-centroid IVF replayed end to end —
    * floor-quantized points, first-k-ids seeds, each Lloyd round
    * unrolled (exact integer d² argmin with ties to the lower cid,
    * floor-divided dimension means, empty cells keep their centroid —
    * the q_kmeans chain verbatim), then corpus assignment + the query's
    * nprobe nearest cells by the SAME argmin, and exact-cosine ranking
    * within the probed cells (the q_ann_brute arithmetic). */
  private def annIvfTrainedOracle(nCells: Int, iters: Int, nprobe: Int,
                                  kq: Int, scale: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH c AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |pts AS MATERIALIZED (SELECT id, CAST(i AS INTEGER) AS dim,
         |  CAST(floor(CAST(v[i + 1] AS DOUBLE) * $scale) AS BIGINT) AS q
         |  FROM c, (SELECT unnest(generate_series(0, 63)) AS i) gs),
         |init AS (SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INTEGER) AS cid
         |  FROM (SELECT DISTINCT id FROM pts ORDER BY id LIMIT $nCells)),
         |c0 AS (SELECT init.cid, p.dim, p.q AS v FROM pts p JOIN init ON p.id = init.id)""".stripMargin)
    (1 to iters).foreach { r =>
      val prev = s"c${r - 1}"
      sb.append(",\n")
      sb.append(
        s"""a$r AS (SELECT id, cid FROM (
           |  SELECT p.id, c.cid,
           |    ROW_NUMBER() OVER (PARTITION BY p.id ORDER BY SUM((p.q - c.v) * (p.q - c.v)) ASC, c.cid ASC) AS rn
           |  FROM pts p JOIN $prev c ON p.dim = c.dim GROUP BY p.id, c.cid) WHERE rn = 1),
           |s$r AS (SELECT a.cid, p.dim, SUM(p.q) AS s, count(*) AS n FROM pts p JOIN a$r a ON p.id = a.id GROUP BY 1, 2),
           |c$r AS MATERIALIZED (SELECT $prev.cid, $prev.dim,
           |  CAST(COALESCE((s$r.s - (((s$r.s % s$r.n) + s$r.n) % s$r.n)) // s$r.n, $prev.v) AS BIGINT) AS v
           |  FROM $prev LEFT JOIN s$r ON $prev.cid = s$r.cid AND $prev.dim = s$r.dim)""".stripMargin)
    }
    val fin = s"c$iters"
    sb.append(",\n")
    sb.append(
      s"""asg AS (SELECT id, cid FROM (
         |  SELECT p.id, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY p.id ORDER BY SUM((p.q - c.v) * (p.q - c.v)) ASC, c.cid ASC) AS rn
         |  FROM pts p JOIN $fin c ON p.dim = c.dim GROUP BY p.id, c.cid) WHERE rn = 1),
         |qp AS (SELECT id AS qid, cid FROM (
         |  SELECT p.id, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY p.id ORDER BY SUM((p.q - c.v) * (p.q - c.v)) ASC, c.cid ASC) AS rn
         |  FROM pts p JOIN $fin c ON p.dim = c.dim WHERE p.id < 10 GROUP BY p.id, c.cid) WHERE rn <= $nprobe),
         |cand AS (SELECT qp.qid, a.id AS vec_id FROM qp JOIN asg a ON a.cid = qp.cid WHERE a.id <> qp.qid),
         |sc AS (SELECT cand.qid, cand.vec_id,
         |  list_inner_product(q.v, x.v) /
         |    (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(x.v, x.v))) AS cos
         |  FROM cand JOIN c q ON q.id = cand.qid JOIN c x ON x.id = cand.vec_id),
         |r AS (SELECT qid, vec_id, cos,
         |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM sc)
         |SELECT qid, vec_id, round(cos, 6) AS cosine, rank
         |FROM r WHERE rank <= $kq ORDER BY qid, rank""".stripMargin)
    sb.toString
  }

  /** q_ann_pq_trained oracle: the trained-codebook PQ path replayed in
    * SQL INCLUDING the training itself — inputs floor-quantized to
    * integers, seed sub-vectors from the scatter order, then each Lloyd
    * round unrolled (integer L2 discriminant assignment with
    * ties-to-lower-index, integer floor-divided dimension means with
    * COALESCE keeping empty codes — the q_kmeans pattern), then the
    * standard encode → integer LUT (exact DECIMAL) → ADC → rank chain
    * against the FINAL trained codebooks. */
  private def annPqTrainedOracle(m: Int, ksub: Int, iters: Int, kq: Int,
                                 scale: Int): String = {
    val scatter = "(id % 2147483648) * 2654435761 % 2147483648"
    val dsub = 64 / m
    val sb = new StringBuilder
    sb.append(
      s"""WITH c AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |pts AS MATERIALIZED (SELECT id, CAST(i // $dsub AS INTEGER) AS j,
         |  CAST(i % $dsub AS INTEGER) AS pos,
         |  CAST(floor(CAST(v[i + 1] AS DOUBLE) * $scale) AS BIGINT) AS q
         |  FROM c, (SELECT unnest(generate_series(0, 63)) AS i) gs),
         |sd AS (SELECT id, s FROM (
         |  SELECT id, row_number() OVER (ORDER BY $scatter, id) - 1 AS s FROM c) WHERE s < $ksub),
         |cb0 AS MATERIALIZED (SELECT p.j, sd.s, p.pos, p.q AS cv
         |  FROM pts p JOIN sd ON p.id = sd.id)""".stripMargin)
    (1 to iters).foreach { r =>
      val p = s"cb${r - 1}"
      sb.append(",\n")
      sb.append(
        s"""a$r AS (SELECT id, j, s FROM (
           |  SELECT p.id, p.j, cb.s, row_number() OVER (PARTITION BY p.id, p.j
           |    ORDER BY SUM(cb.cv * cb.cv - 2 * p.q * cb.cv), cb.s) AS rn
           |  FROM pts p JOIN $p cb ON p.j = cb.j AND p.pos = cb.pos
           |  GROUP BY p.id, p.j, cb.s) WHERE rn = 1),
           |s$r AS (SELECT a.j, a.s, p.pos, SUM(p.q) AS sm, count(*) AS n
           |  FROM pts p JOIN a$r a ON p.id = a.id AND p.j = a.j GROUP BY 1, 2, 3),
           |cb$r AS MATERIALIZED (SELECT cbp.j, cbp.s, cbp.pos,
           |  CAST(COALESCE((s$r.sm - (((s$r.sm % s$r.n) + s$r.n) % s$r.n)) // s$r.n, cbp.cv) AS BIGINT) AS cv
           |  FROM $p cbp LEFT JOIN s$r
           |    ON cbp.j = s$r.j AND cbp.s = s$r.s AND cbp.pos = s$r.pos)""".stripMargin)
    }
    val fin = s"cb$iters"
    sb.append(",\n")
    sb.append(
      s"""enc AS MATERIALIZED (SELECT id, j, s AS code FROM (
         |  SELECT p.id, p.j, cb.s, row_number() OVER (PARTITION BY p.id, p.j
         |    ORDER BY SUM(cb.cv * cb.cv - 2 * p.q * cb.cv), cb.s) AS rn
         |  FROM pts p JOIN $fin cb ON p.j = cb.j AND p.pos = cb.pos
         |  GROUP BY p.id, p.j, cb.s) WHERE rn = 1),
         |lut AS MATERIALIZED (SELECT p.id AS qid, cb.j, cb.s,
         |  CAST(SUM(p.q * cb.cv) AS DECIMAL(20,9)) AS ip
         |  FROM pts p JOIN $fin cb ON p.j = cb.j AND p.pos = cb.pos
         |  WHERE p.id < 10 GROUP BY 1, 2, 3),
         |ad AS (SELECT l.qid, e.id AS vec_id, sum(l.ip) AS adc
         |  FROM enc e JOIN lut l ON l.j = e.j AND l.s = e.code
         |  WHERE e.id <> l.qid GROUP BY 1, 2),
         |r AS (SELECT qid, vec_id, adc,
         |  row_number() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id) AS rank FROM ad)
         |SELECT qid, vec_id, CAST(adc AS DOUBLE) AS adc, rank
         |FROM r WHERE rank <= $kq ORDER BY qid, rank""".stripMargin)
    sb.toString
  }

  /** q_ann_graph oracle: the COMPLETE NN-descent build + beam search
    * replayed round by round — ring init from the same multiplicative
    * scatter, reverse-capped adjacency, shared-neighbor candidate pairs,
    * per-node top-k, then the unrolled beam hops. Cosine is the one
    * shared dag (list_inner_product / norms) proven bit-equal to the
    * Spark side's sequential fold by the other ANN gates. */
  private def annGraphOracle(k: Int, rounds: Int, reverseCap: Int,
                             kq: Int, beamWidth: Int, hops: Int,
                             entries: Int): String = {
    def cos(a: String, b: String) =
      s"list_inner_product($a, $b) / (sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b)))"
    val sb = new StringBuilder
    sb.append(
      s"""WITH c AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |nn AS (SELECT count(*) AS n FROM c),
         |rk AS MATERIALIZED (SELECT id, v, row_number() OVER (
         |  ORDER BY (id % 2147483648) * 2654435761 % 2147483648, id) - 1 AS pos FROM c),
         |e0 AS MATERIALIZED (SELECT DISTINCT a.id, b.id AS nbr, ${cos("a.v", "b.v")} AS cosine
         |  FROM rk a CROSS JOIN nn
         |  CROSS JOIN (SELECT unnest(range(1, ${k + 1})) AS j) js
         |  JOIN rk b ON b.pos = (a.pos + 1 +
         |    ((a.pos * $k + js.j) % 2147483648) * 2654435761 % 2147483648 % (nn.n - 1)) % nn.n)""".stripMargin)
    (1 to rounds).foreach { r =>
      val p = s"e${r - 1}"
      sb.append(",\n")
      sb.append(
        s"""rv$r AS (SELECT id, nbr FROM (
           |  SELECT e.nbr AS id, e.id AS nbr, e.cosine,
           |    row_number() OVER (PARTITION BY e.nbr ORDER BY e.cosine DESC, e.id) AS rr
           |  FROM $p e) WHERE rr <= $reverseCap),
           |adj$r AS MATERIALIZED (SELECT DISTINCT id, nbr FROM (
           |  SELECT id, nbr FROM $p UNION ALL SELECT id, nbr FROM rv$r)),
           |cd$r AS MATERIALIZED (SELECT DISTINCT a.nbr AS x, b.nbr AS y
           |  FROM adj$r a JOIN adj$r b ON a.id = b.id AND a.nbr < b.nbr),
           |sc$r AS (SELECT d.id, d.nbr, ${cos("cv.v", "nv.v")} AS cosine FROM (
           |  SELECT x AS id, y AS nbr FROM cd$r UNION ALL SELECT y, x FROM cd$r) d
           |  JOIN c cv ON cv.id = d.id JOIN c nv ON nv.id = d.nbr),
           |e$r AS MATERIALIZED (SELECT id, nbr, cosine FROM (
           |  SELECT id, nbr, cosine,
           |    row_number() OVER (PARTITION BY id ORDER BY cosine DESC, nbr) AS rr
           |  FROM (SELECT id, nbr, MAX(cosine) AS cosine FROM (
           |    SELECT id, nbr, cosine FROM $p UNION ALL SELECT id, nbr, cosine FROM sc$r)
           |    GROUP BY id, nbr)) WHERE rr <= $k)""".stripMargin)
    }
    val g = s"e$rounds"
    sb.append(",\n")
    sb.append(
      s"""q AS (SELECT id AS qid, v AS qv FROM c WHERE id < 10),
         |b0 AS MATERIALIZED (SELECT q.qid, ent.nbr, ${cos("q.qv", "cv.v")} AS cosine
         |  FROM q CROSS JOIN (SELECT id AS nbr FROM rk WHERE pos < $entries) ent
         |  JOIN c cv ON cv.id = ent.nbr)""".stripMargin)
    (1 to hops).foreach { h =>
      val p = s"b${h - 1}"
      sb.append(",\n")
      sb.append(
        s"""b$h AS MATERIALIZED (SELECT qid, nbr, cosine FROM (
           |  SELECT d.qid, d.nbr, ${cos("q.qv", "cv.v")} AS cosine,
           |    row_number() OVER (PARTITION BY d.qid
           |      ORDER BY ${cos("q.qv", "cv.v")} DESC, d.nbr) AS rr
           |  FROM (SELECT DISTINCT qid, nbr FROM (
           |    SELECT qid, nbr FROM $p
           |    UNION ALL SELECT p.qid, g.nbr FROM $p p JOIN $g g ON g.id = p.nbr
           |    UNION ALL SELECT p.qid, g.id FROM $p p JOIN $g g ON g.nbr = p.nbr
           |    UNION ALL SELECT p.qid, g0.nbr FROM $p p JOIN e0 g0 ON g0.id = p.nbr
           |    UNION ALL SELECT p.qid, g0.id FROM $p p JOIN e0 g0 ON g0.nbr = p.nbr)) d
           |  JOIN q ON q.qid = d.qid JOIN c cv ON cv.id = d.nbr)
           |  WHERE rr <= $beamWidth)""".stripMargin)
    }
    sb.append(
      s"""
         |SELECT qid, nbr AS vec_id, round(cosine, 6) AS cosine, rank FROM (
         |  SELECT qid, nbr, cosine,
         |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nbr) AS rank
         |  FROM b$hops WHERE qid <> nbr)
         |WHERE rank <= $kq ORDER BY qid, rank""".stripMargin)
    sb.toString
  }

  gate("q_dedup_exact", (s, d) => {
    Dedup.exactGroups(Tables.documents(s, d), "text", "doc_id").orderBy("keeper")
  }, oracle =
    """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
      |MIN(doc_id) AS keeper, COUNT(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY keeper""".stripMargin)

  gate("q_dedup_ngram", (s, d) => {
    Dedup.lengthBucketJaccardPairs(Tables.documents(s, d), "doc_id", "text",
      threshold = 0.5, bucketWidth = 8, shingleLen = 2)
      .orderBy("id1", "id2")
  }, oracle =
    s"WITH $NgramPairsCte\nSELECT id1, id2, jac FROM jp ORDER BY id1, id2")

  gate("q_dedup_clusters", (s, d) => {
    // pairs -> transitive clusters (iterative min-label propagation);
    // canonical member = smallest id, verified against a recursive-CTE
    // reachability fixpoint in DuckDB
    val pairs = Dedup.lengthBucketJaccardPairs(Tables.documents(s, d), "doc_id", "text",
      threshold = 0.5, bucketWidth = 8, shingleLen = 2)
    val out = Dedup.duplicateClusters(pairs).orderBy("id")
    pairs.releaseInputs() // duplicateClusters materialized its result
    out
  }, oracle =
    // pairs -> connected components: recursive-CTE reachability fixpoint
    // (each node collects every label reachable over the undirected pair
    // edges; MIN per node = the component's canonical id) — the oracle for
    // the iterative min-label-propagation clustering on the Spark side.
    // Connected components WITHOUT the recursive-closure blowup (round
    // 8): the naive `reach` CTE materializes every (node, reachable
    // smaller label) pair — quadratic in component size, and the sf1
    // replica's dup-dense clusters pushed it past an hour/70 GB. This
    // replay runs 12 unrolled min-label + pointer-jump rounds (each one
    // edge join + one label join, every CTE MATERIALIZED so DuckDB does
    // not re-inline the doubly-referenced previous round), converging to
    // the same min-reachable-id labels; the `conv` guard emits ZERO rows
    // if round 12 differs from round 11, so non-convergence fails the
    // row-count gate loudly instead of passing a wrong fixpoint.
    s"WITH $NgramPairsCte,\n${minLabelClustersSql("jp")}")

  gate("q_dedup_clusters_rep", (s, d) => {
    // Same clustering through the collapsed-representative path: the
    // (shingle set, exact length) groups are pair-machinery-
    // interchangeable, so only one rep per group enters the posting
    // join and member pairs are never expanded — the identical oracle
    // proves output equality with q_dedup_clusters.
    Dedup.lengthBucketJaccardClusters(Tables.documents(s, d), "doc_id", "text",
      threshold = 0.5, bucketWidth = 8, shingleLen = 2)
      .orderBy("id")
  }, oracle =
    // Collapsed-representative clustering path: identical answer to
    // q_dedup_clusters by the (shingle set, length) interchangeability
    // argument, so the identical oracle gates it.
    s"WITH $NgramPairsCte,\n${minLabelClustersSql("jp")}")

  gate("q_dedup_incremental", (s, d) => {
    // Daily-delta dedup: history = even doc_ids (yesterday's corpus),
    // delta = odd (today's batch). Candidates are delta×history plus
    // delta×delta bucket collisions — history×history is never re-paired
    // — and with the q_dedup_minhash recall-complete banding the verified
    // set equals the full-corpus all-pairs join restricted to pairs
    // touching the delta, which is what the oracle hashes.
    val docs = Tables.documents(s, d)
    Dedup.incrementalMinhashNearDups(
      docs.where(col("doc_id") % 2 === 0), docs.where(col("doc_id") % 2 =!= 0),
      "doc_id", "text", threshold = 0.7, numHashes = 48, bands = 24,
      shingleLen = 3)
      .orderBy("id1", "id2")
  }, oracle =
    // Incremental (delta-vs-history) face: the pairs the daily job must
    // find are exactly the full-corpus pairs touching the odd-id delta.
    minhashAllPairsOracle(" AND (id1 % 2 = 1 OR id2 % 2 = 1)"))

  gate("q_dedup_minhash", (s, d) => {
    // bands = 24 (r = 2): P(candidate | J) = 1-(1-J^2)^24 puts the miss
    // probability at the 0.7 threshold at ~1e-7 per pair, so the
    // exact-equality gate vs the recall-complete all-pairs oracle holds
    // deterministically on the fixed corpus. The sf1 sweep caught the
    // old bands=8 (r=6) curve missing 744 of 250k true pairs — 63%
    // recall AT the threshold is the textbook S-curve, fine for
    // approximate production dedup, wrong for an equality gate.
    Dedup.minhashNearDups(Tables.documents(s, d), "doc_id", "text",
      threshold = 0.7, numHashes = 48, bands = 24, shingleLen = 3)
      .orderBy("id1", "id2")
  }, oracle =
    // ALL-pairs exact 3-shingle Jaccard >= 0.7 — a hard LSH recall gate:
    // the Spark side only scores LSH candidate pairs, so any banding miss
    // shows up as a missing row here.
    // Set-logic-complete rewrite of the all-pairs form (round 8, the r7
    // containment-oracle pattern): |A∩B| as an aggregated shared-shingle
    // join — J ≥ 0.7 > 0 forces a shared shingle, so candidate
    // generation via the inverted shingle join loses NOTHING, and the
    // Jaccard arithmetic is unchanged. The naive pairwise list_intersect
    // was quadratic in the corpus (>20 min at the sf1 replica).
    MinhashAllPairsOracle)

  // No DuckDB oracle: the signature is built from Spark's xxhash64, which
  // DuckDB cannot reproduce (unlike the LSH hyperplanes, the constants
  // cannot be embedded — the hash runs per token). Gated instead by the
  // rows-only determinism check + DedupSpec's planted-pair recall spec.
  // Output is "candidates found by 16-bit banding" (guaranteed complete
  // only for Hamming ≤ 3 — see Dedup.simhashCandidates contract).
  gate("q_dedup_simhash", (s, d) => {
    // RECALL GATE with a full oracle for the Spark-internal-hash simhash
    // (the signature values themselves are xxhash64-derived and cannot be
    // replayed in DuckDB — but the banding CONTRACT can still be proved):
    // pairs whose DISTINCT token sets are EQUAL are SQL-expressible, and
    // equal sets => identical bit votes => identical signature =>
    // Hamming 0 => the 4x16-bit banding MUST emit them (pigeonhole, for
    // any radius >= 0). The query runs the entire native pipeline
    // (simhash64_native, banding explode, band self-join, bit_count) and
    // emits one row per provably-required pair with its observed hamming
    // and a found flag; a recall regression anywhere in the native path
    // turns a row into (-1, false) and hash-mismatches the oracle.
    // Precision-side semantics (the exact pair set at Hamming <= 3) are
    // gated by the portable twin q_dedup_simhash_portable, whose whole
    // algorithm DuckDB replays. The expected-pair join runs on a 16-byte
    // md5 of the sorted distinct token set — same shuffle shape as the
    // banding join itself (hashes, never text), so the gate scales.
    val docs = Tables.documents(s, d)
    val cand = Dedup.simhashCandidates(docs, "doc_id", "text")
      .where(col("hamming") <= 3)
    // NULL-text guard: concat_ws would collapse a NULL token array to ""
    // and pair NULL-text docs with empty-text docs, while the DuckDB
    // oracle's array_to_string(NULL) yields a NULL key (no pair). A NULL
    // key on both engines means NULL text never joins — same semantics.
    val keyed = docs.select(col("doc_id"),
      when(col("text").isNotNull,
        md5(concat_ws(" ", sort_array(array_distinct(T.tokens(col("text"))))))).as("__tk"))
    val expected = keyed.as("a").join(keyed.as("b"),
      col("a.__tk") === col("b.__tk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
    expected.join(cand, Seq("id1", "id2"), "left")
      .select(col("id1"), col("id2"),
        coalesce(col("hamming"), lit(-1)).as("hamming"),
        col("hamming").isNotNull.as("found"))
      .orderBy("id1", "id2")
  }, oracle =
    // Recall contract of the xxhash64 simhash banding (see qDedupSimhash):
    // the EXPECTED pair set — equal distinct-token sets — is re-derived
    // independently here; the Spark side must have found every such pair
    // at Hamming 0. (Signature VALUES are Spark-internal and not
    // replayable; the portable twin above oracles those end to end.)
    """WITH k AS (SELECT doc_id,
      |  md5(array_to_string(list_sort(list_distinct(
      |    list_filter(string_split_regex(text, '\s+'), t -> t <> ''))), ' ')) AS tk
      |  FROM documents),
      |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2
      |      FROM k a JOIN k b ON a.tk = b.tk AND a.doc_id < b.doc_id)
      |SELECT id1, id2, CAST(0 AS INTEGER) AS hamming, TRUE AS found
      |FROM p ORDER BY id1, id2""".stripMargin)

  gate("q_dedup_embedding", (s, d) => {
    // Embedding-cosine near-dup: LSH-bucketed candidates (8 hyperplanes,
    // same constants as q_ann_lsh) verified at cosine >= 0.25. True oracle:
    // the algorithm is reimplemented in DuckDB with the planes embedded.
    Dedup.embeddingNearDups(Tables.embeddings(s, d), "vec_id", "embedding",
      threshold = 0.25, nPlanes = 8, seed = 42L, dim = 64)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("id1", "id2")
  }, oracle =
    s"""$lshCandidateCtes
       |SELECT id1, id2, round(cos, 6) AS cosine FROM cand WHERE cos >= 0.25
       |ORDER BY id1, id2""".stripMargin)

  gate("q_ann_brute", (s, d) => {
    val emb = Tables.embeddings(s, d)
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, "qid", "qv", k = 5)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("qid", "rank")
  }, oracle = annExactTopKOracle)

  gate("q_ann_ivf", (s, d) => {
    // Gate config probes ALL cells (nprobe = nCells): the full IVF
    // machinery runs — centroid build, cell assignment, multi-probe cell
    // ranking — and the result is provably the exact top-k, so the
    // brute-force DuckDB oracle is a true gate. Approximate-nprobe recall
    // (the 100 TB operating point) is gated separately in SimilaritySpec.
    val emb = Tables.embeddings(s, d)
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    Similarity.ivfTopK(emb, "vec_id", "embedding", queries, "qid", "qv",
      k = 5, nCells = 16, nprobe = 16)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("qid", "rank")
  }, oracle =
    // IVF gate probes all cells (see qAnnIvf) => result is exactly the
    // brute-force top-k, so the identical oracle binding applies.
    annExactTopKOracle)

  gate("q_ann_graph", (s, d) => {
    // Graph ANN: NN-descent k-NN graph (deterministic ring init + 2
    // refinement rounds) queried by beam search. EVERY step is
    // deterministic (ring arithmetic, reverse cap, tie-breaks, beam
    // ranking), so the oracle replays the full build AND search round by
    // round — this gates the actual approximate path, not a degenerate
    // exact configuration. The recall contract vs exact top-k is gated
    // in SimilaritySpec (the q_ann_ivf pattern).
    val emb = Tables.embeddings(s, d)
    // navigable search graph = refined k-NN edges ∪ the deterministic
    // scatter-init edges (one shared build): the refined graph alone
    // fragments into similarity-cluster islands (exact-twin cliques at
    // the replica SFs) that greedy search cannot reach; the scatter
    // edges are the NSW long links that restore small-world
    // reachability — and they are the oracle's own e0 CTE, so the
    // replay stays exact.
    val nav = Similarity.navigableGraph(emb, "vec_id", "embedding",
      k = AnnGraphK, rounds = AnnGraphRounds, reverseCap = AnnGraphRevCap)
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    Similarity.beamSearchTopK(nav, emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 5,
      beamWidth = AnnGraphBeam, hops = AnnGraphHops, entries = AnnGraphEntries)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("qid", "rank")
  }, oracle =
    // Graph ANN: full NN-descent build + beam search replayed round by
    // round (this gates the approximate path itself; recall vs exact is
    // SimilaritySpec's contract).
    annGraphOracle(AnnGraphK, AnnGraphRounds,
      AnnGraphRevCap, 5, AnnGraphBeam, AnnGraphHops, AnnGraphEntries))

  // Build/search constants shared with the oracle generator so the SQL
  // replay and the Spark run can never drift. Chosen to clear the ≥0.6
  // recall-vs-brute contract (AnnAndSaltSpec) with margin on the random
  // 64-dim corpus — the hardest ANN regime.
  private val AnnGraphK = 8

  private val AnnGraphRounds = 3

  private val AnnGraphRevCap = 8

  private val AnnGraphBeam = 16

  private val AnnGraphHops = 6

  private val AnnGraphEntries = 4

  gate("q_ann_lsh", (s, d) => {
    Similarity.lshTopK(Tables.embeddings(s, d), "vec_id", "embedding", k = 5)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("qid", "rank")
  }, oracle =
    // Independent DuckDB reimplementation of the LSH algorithm itself: the
    // hyperplanes are data-independent seed-derived constants, embedded as
    // literals (lshCandidateCtes), so the signatures / buckets /
    // per-bucket exact ranking are re-derived end to end in SQL.
    s"""$lshCandidateCtes,
       |sym AS (SELECT id1 AS qid, id2 AS nid, cos FROM cand
       |  UNION ALL SELECT id2 AS qid, id1 AS nid, cos FROM cand),
       |r AS (SELECT qid, nid, cos,
       |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM sym)
       |SELECT qid, nid, round(cos, 6) AS cosine, rank FROM r WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin)

  // PQ gate constants, shared with the oracle generator (drift-proof).
  private val AnnPqM = 8

  private val AnnPqKsub = 16

  gate("q_ann_pq", (s, d) => {
    // Product-quantized ANN (ADC inner-product scan over the compressed
    // code table). iters=0: codebook entries are exact data subvectors
    // picked by the deterministic scatter order, so the oracle re-derives
    // seeds → codebooks → codes → per-query LUTs → decimal ADC sums → the
    // ranking, end to end — this gates the full compressed-domain path
    // (slice/encode/LUT/ADC arithmetic), not a degenerate rewrite of
    // brute force. Trained-codebook recall (iters=2, the production
    // operating point) is gated in AnnAndSaltSpec (the q_ann_ivf pattern).
    val emb = Tables.embeddings(s, d)
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    Similarity.pqTopK(emb, "vec_id", "embedding", queries, "qid", "qv",
      k = 5, m = AnnPqM, ksub = AnnPqKsub, iters = 0)
      .orderBy("qid", "rank")
  }, oracle = annPqOracle(AnnPqM, AnnPqKsub, 5))

  gate("q_ann_pq_trained", (s, d) => {
    // TRAINED product quantization in floor-quantized integer space: two
    // Lloyd rounds whose assignment (integer L2 discriminant, ties to the
    // lower code) and update (integer floor-divided dimension means) are
    // exact arithmetic, so the oracle replays the TRAINING itself by
    // unrolling the rounds (the q_kmeans pattern) before the encode →
    // LUT → ADC → rank chain — closing the r13 gap where trained
    // codebooks were spec-gated only.
    val emb = Tables.embeddings(s, d)
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    Similarity.pqTopKQuantized(emb, "vec_id", "embedding", queries, "qid", "qv",
      k = 5, m = AnnPqM, ksub = AnnPqKsub, iters = AnnPqTrainedIters)
      .orderBy("qid", "rank")
  }, oracle = annPqTrainedOracle(AnnPqM, AnnPqKsub, AnnPqTrainedIters, 5, 1000))

  // 4 unrolled Lloyd rounds (r15, was 2): deep enough that codebooks
  // move, settle, and empty-code COALESCE carries across rounds — the
  // oracle pins convergence BEHAVIOR, not just two steps.
  private val AnnPqTrainedIters = 4

  gate("q_ann_ivf_trained", (s, d) => {
    // TRAINED-centroid IVF with a genuine approximation (nprobe 2 of 8
    // cells): centroids from 2 integer Lloyd rounds (kmeansQuantized —
    // the q_kmeans arithmetic), cell assignment and probing by exact
    // integer L2 argmin (ties to the lower cid), exact-cosine ranking
    // within probed cells. The oracle unrolls the TRAINING and replays
    // the approximation itself — the trained index layout is pinned,
    // not a degenerate all-probe rewrite of brute force.
    val emb = Tables.embeddings(s, d)
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    Similarity.ivfTopKQuantized(emb, "vec_id", "embedding", queries, "qid", "qv",
      k = 5, nCells = AnnIvfTrainedCells, nprobe = AnnIvfTrainedProbe,
      iters = AnnIvfTrainedIters)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("qid", "rank")
  }, oracle =
    // Trained-centroid IVF, nprobe 2 of 8: the training AND the
    // approximation replayed (Lloyd unroll + argmin probe + cosine).
    annIvfTrainedOracle(AnnIvfTrainedCells,
      AnnIvfTrainedIters, AnnIvfTrainedProbe, 5, 1000))

  private val AnnIvfTrainedCells = 8

  private val AnnIvfTrainedProbe = 2

  private val AnnIvfTrainedIters = 2

  gate("q_ann_ivfadc", (s, d) => {
    // IVFADC composition (Similarity.ivfPqTopK): coarse IVF cell probe →
    // PQ ADC scan of the probed cells' code rows → exact-dot re-rank of
    // the ADC shortlist. Gate config probes ALL cells (nprobe = nCells),
    // so the cell partition is recall-lossless and every pair is scanned
    // exactly once — the full composed machinery runs (centroid build,
    // cell-keyed code table, per-query cell ranking, LUT/ADC arithmetic,
    // re-rank join) while staying bit-replayable: the oracle is the
    // q_ann_pq decimal ADC chain extended with a list_inner_product
    // re-rank of the ADC top-`rerank`. Approximate-nprobe recall (the
    // billion-scale operating point) stays gated in AnnAndSaltSpec.
    val emb = Tables.embeddings(s, d)
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    Similarity.ivfPqTopK(emb, "vec_id", "embedding", queries, "qid", "qv",
      k = 5, nCells = 16, nprobe = 16, m = AnnPqM, ksub = AnnPqKsub,
      iters = 0, rerank = AnnIvfAdcRerank)
      .orderBy("qid", "rank")
  }, oracle =
    // IVFADC all-probe: cell partition is lossless, so the oracle is the
    // q_ann_pq ADC chain + exact-dot re-rank of the ADC top-20.
    annPqOracle(AnnPqM, AnnPqKsub, 5, rerank = AnnIvfAdcRerank))

  private val AnnIvfAdcRerank = 20

  gate("q_text_stats", (s, d) => {
    Tables.documents(s, d).select(col("doc_id"),
      T.tokenCount(col("text")).as("n_tokens"),
      T.bpeishTokenCount(col("text")).as("n_bpeish"),
      T.punctCount(col("text")).as("n_punct"),
      T.charCount(col("text")).as("n_len"),
      T.meanTokenLen(col("text")).as("mean_tok_len"),
      T.qualityOk(col("text")).as("quality_ok")
    ).orderBy("doc_id")
  }, oracle =
    """SELECT doc_id,
      |len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS n_tokens,
      |len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpeish,
      |len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS n_punct,
      |length(text) AS n_len,
      |CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
      |  / greatest(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')), 1) AS mean_tok_len,
      |(length(text) BETWEEN 50 AND 10000 AND
      | CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) / greatest(length(text), 1) <= 0.2) AS quality_ok
      |FROM documents ORDER BY doc_id""".stripMargin)

  gate("q_text_langid", (s, d) => {
    Tables.documents(s, d).select(col("doc_id"),
      T.langId(col("text")).as("pred_lang"), col("lang")).orderBy("doc_id")
  }, oracle =
    """WITH sc AS (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS p FROM documents),
      |s AS (SELECT doc_id, lang,
      |(CASE WHEN contains(p, ' the ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' a ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' of ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' and ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' is ') THEN 1 ELSE 0 END) AS s_en,
      |(CASE WHEN contains(p, ' der ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' und ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' die ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' das ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' ist ') THEN 1 ELSE 0 END) AS s_de,
      |(CASE WHEN contains(p, ' el ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' la ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' de ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' y ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' es ') THEN 1 ELSE 0 END) AS s_es,
      |(CASE WHEN contains(p, ' le ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' la ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' et ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' les ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' est ') THEN 1 ELSE 0 END) AS s_fr,
      |(CASE WHEN contains(p, ' 的 ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' 是 ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' 了 ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' 在 ') THEN 1 ELSE 0 END + CASE WHEN contains(p, ' 我 ') THEN 1 ELSE 0 END) AS s_zh
      |FROM sc)
      |SELECT doc_id,
      |CASE WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_en > 0 THEN 'en'
      |WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_de > 0 THEN 'de'
      |WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_es > 0 THEN 'es'
      |WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_fr > 0 THEN 'fr'
      |WHEN s_zh = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_zh > 0 THEN 'zh'
      |ELSE 'und' END AS pred_lang, lang
      |FROM s ORDER BY doc_id""".stripMargin)

  gate("q_text_fingerprint", (s, d) => {
    Tables.documents(s, d).select(col("doc_id"),
      T.fingerprint(col("text")).as("fp")).orderBy("doc_id")
  }, oracle =
    """SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin)

  gate("q_dedup_simhash_portable", (s, d) => {
    // EXACT semantics (all pairs within the banding-guaranteed Hamming
    // radius) over the md5-derived portable signature — the full
    // cross-engine simhash oracle that the xxhash64 variant cannot have
    Dedup.simhashPortablePairs(Tables.documents(s, d), "doc_id", "text")
      .orderBy("id1", "id2")
  }, oracle =
    // Full SimHash reimplementation: md5-prefix feature hashes (parsed
    // base-16), 60 bit-votes, sign fold, then ALL-pairs exact Hamming —
    // the banded Spark join has identical output for radius <= 3
    // (pigeonhole over 4x15-bit bands), so this is an exact-semantics
    // oracle, not a recall spot-check.
    """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w FROM documents),
      |sh AS (SELECT doc_id, (CASE WHEN len(w) >= 3
      |  THEN list_distinct(list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')))
      |  ELSE [array_to_string(w, ' ')] END) AS shs FROM tok),
      |f AS (SELECT doc_id, ('0x' || substr(md5(unnest(shs)), 1, 15))::BIGINT AS h FROM sh),
      |bits AS (SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |         FROM f, (SELECT unnest(range(60)) AS j) t GROUP BY doc_id, j),
      |sig AS (SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS sg
      |        FROM bits GROUP BY doc_id)
      |SELECT a.doc_id AS id1, b.doc_id AS id2, bit_count(xor(a.sg, b.sg)) AS hamming
      |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sg, b.sg)) <= 3 ORDER BY id1, id2""".stripMargin)

  gate("q_sample_bernoulli", (s, d) => {
    // hash-based sampling: the kept set is a pure function of the keys, so
    // DuckDB reproduces the EXACT sample from the portable-hash formula
    Sampling.bernoulli(Tables.lineitem(s, d),
      Seq("l_orderkey", "l_linenumber"), rate = 0.25)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy("l_orderkey", "l_linenumber", "l_quantity")
  }, oracle =
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |WHERE ((((l_orderkey % 2147483648) * 2654435761) % 2147483648
      |      + ((l_linenumber % 2147483648) * 2246822519) % 2147483648)
      |      % 2147483648) % 1000000 < 250000
      |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin)

  gate("q_sample_stratified", (s, d) => {
    val sampled = Sampling.stratified(Tables.lineitem(s, d), "l_returnflag",
      Map("A" -> 0.5, "N" -> 0.1), defaultRate = 0.25,
      keyCols = Seq("l_orderkey", "l_linenumber"))
    Relational.sort(col("l_returnflag"))(asDouble("sum_qty")(
      Aggregates.groupAggregate(Seq("l_returnflag"), Seq(
        Agg(COUNT, None, "n"),
        Agg(SUM, Some("qty_dec"), "sum_qty")))(
        sampled.withColumn("qty_dec", dec(col("l_quantity"))))))
  }, oracle =
    """SELECT l_returnflag, COUNT(*) AS n,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE ((((l_orderkey % 2147483648) * 2654435761) % 2147483648
      |      + ((l_linenumber % 2147483648) * 2246822519) % 2147483648)
      |      % 2147483648) % 1000000
      |  < (CASE l_returnflag WHEN 'A' THEN 500000 WHEN 'N' THEN 100000 ELSE 250000 END)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  gate("q_sample_split", (s, d) => {
    // deterministic 80/10/10 split; the gate aggregates per (split, flag)
    // so disjointness + exhaustiveness are hash-checked, not just counted
    Relational.sort(col("split"), col("l_returnflag"))(
      Sampling.assignSplit(Tables.lineitem(s, d),
        Seq("l_orderkey", "l_linenumber"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split", "l_returnflag")
        .agg(count(lit(1)).as("n")))
  }, oracle =
    """SELECT CASE
      |  WHEN bkt < 800000 THEN 'train'
      |  WHEN bkt < 900000 THEN 'val'
      |  WHEN bkt < 1000000 THEN 'test'
      |  ELSE 'rest' END AS split,
      |l_returnflag, COUNT(*) AS n
      |FROM (SELECT l_returnflag,
      |((((l_orderkey % 2147483648) * 2654435761) % 2147483648
      |+ ((l_linenumber % 2147483648) * 2246822519) % 2147483648)
      |% 2147483648) % 1000000 AS bkt FROM lineitem)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  gate("q_chunk", (s, d) => {
    // Context-window chunking (40-token windows, 8-token overlap): every
    // document splits into stride-32 windows; the oracle replays the
    // token list, chunk-count formula and 1-based slices with DuckDB
    // list arithmetic, so an off-by-one in stride/overlap or a dropped
    // short tail breaks the hash.
    graft.pipeline.Packing.chunkTokens(
      Tables.documents(s, d), "doc_id", "text", maxTokens = 40, overlap = 8)
      .orderBy("doc_id", "chunk_id")
  }, oracle =
    // Chunking replay: same tokenization as the text oracles, chunk
    // count 1 + ceil(max(0, n-40)/32), 1-based inclusive list slices.
    """WITH tok AS (SELECT doc_id,
      |  list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
      |  FROM documents),
      |c AS (SELECT doc_id, toks, len(toks) AS n,
      |  1 + CAST(CEIL(GREATEST(0, len(toks) - 40) / 32.0) AS BIGINT) AS nc
      |  FROM tok),
      |e AS (SELECT doc_id, toks, unnest(range(nc)) AS chunk_id FROM c)
      |SELECT doc_id, chunk_id,
      |  len(toks[chunk_id * 32 + 1 : chunk_id * 32 + 40]) AS n_tokens,
      |  array_to_string(toks[chunk_id * 32 + 1 : chunk_id * 32 + 40], ' ')
      |    AS chunk_text
      |FROM e ORDER BY doc_id, chunk_id""".stripMargin)

  gate("q_mix_corpora", (s, d) => {
    // Domain mixing (the LLM data-recipe step): three corpus faces
    // (doc_id mod 3 ~ web/code/books) mixed at 6:3:1 toward 200 rows —
    // exact-integer thresholds from per-source counts, hash membership,
    // and the seeded interleave position all replayed verbatim by the
    // oracle, so a wrong count, a float-rounded rate, or an unstable
    // order all hash-mismatch.
    import graft.pipeline.Sampling
    val docs = Tables.documents(s, d).select("doc_id")
    def face(m: Int) = docs.where(pmod(col("doc_id"), lit(3)) === m)
    val mixed = Sampling.mixCorpora(
      Seq(("web", face(0), 6L), ("code", face(1), 3L), ("books", face(2), 1L)),
      Seq("doc_id"), targetRows = 200, seed = 42L)
    mixed.select(col("pos"), col("source"), col("doc_id")).orderBy("pos")
  }, oracle =
    // Domain-mix replay: per-source counts, exact-integer thresholds
    // least(B, w*T*B // (sumW*n)), the portable key hash for membership,
    // and the seeded shuffle key (as q_shuffle) for the interleave
    // position — the full mixing pipeline recomputed from scratch.
    """WITH src AS (
      |  SELECT doc_id, 'web' AS source, 6 AS w FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id, 'code', 3 FROM documents WHERE doc_id % 3 = 1
      |  UNION ALL
      |  SELECT doc_id, 'books', 1 FROM documents WHERE doc_id % 3 = 2),
      |thr AS (SELECT source, LEAST(1000000, (MAX(w) * 200 * 1000000) // (10 * COUNT(*))) AS t
      |  FROM src GROUP BY source),
      |kept AS (SELECT s.doc_id, s.source,
      |  (((s.doc_id % 2147483648) * ((85 * 2654435761) % 2147483648)) % 2147483648
      |   + (42 * 2246822519) % 2147483648) % 2147483648 AS skey
      |  FROM src s JOIN thr USING (source)
      |  WHERE (((s.doc_id % 2147483648) * 2654435761) % 2147483648) % 1000000 < thr.t)
      |SELECT row_number() OVER (ORDER BY skey, doc_id, source) - 1 AS pos,
      |  source, doc_id
      |FROM kept ORDER BY pos""".stripMargin)

  gate("q_epoch_repeat", (s, d) => {
    // Epoch repetition (up-sampling a small domain 2.25x): whole copies
    // + hash-gated fractional epoch + per-epoch seeded permutation key.
    // 2.25 is binary-exact, so the fractional threshold (0.25 * 1e6) is
    // the same integer in both engines; the oracle replays membership,
    // epoch fan-out and the epoch-seeded key arithmetic verbatim.
    import graft.pipeline.Sampling
    val docs = Tables.documents(s, d).select("doc_id")
    Sampling.withEpochs(docs, Seq("doc_id"), epochs = 2.25, seed = 42L)
      .select(col("doc_id"), col("epoch"), col("epoch_key"))
      .orderBy("doc_id", "epoch")
  }, oracle =
    // Epoch-repetition replay: 2 whole copies + the 0.25-gated extra
    // epoch (threshold 250000 — 2.25 is binary-exact), then the
    // epoch-seeded permutation key ((2(42+7e)+1)-odd-multiplier form).
    """WITH c AS (SELECT doc_id,
      |  2 + CASE WHEN (((doc_id % 2147483648) * 2654435761) % 2147483648)
      |      % 1000000 < 250000 THEN 1 ELSE 0 END AS nc
      |  FROM documents),
      |e AS (SELECT doc_id, unnest(range(nc)) AS epoch FROM c),
      |k AS (SELECT doc_id, epoch,
      |  (42 + epoch * 7) % 2147483648 AS eseed FROM e)
      |SELECT doc_id, epoch,
      |  (((doc_id % 2147483648) * ((((eseed * 2 + 1) % 2147483648)
      |     * 2654435761) % 2147483648)) % 2147483648
      |   + (eseed * 2246822519) % 2147483648) % 2147483648 AS epoch_key
      |FROM k ORDER BY doc_id, epoch""".stripMargin)

  gate("q_tfidf", (s, d) => {
    // corpus stats over ALL documents; top-3 BM25 terms for the first docs
    // (ranking on the ROUNDED score so a last-ulp ln() difference between
    // engines cannot flip ranks; term is the tiebreak)
    val scored = Scoring.tfidfBm25(Tables.documents(s, d), "doc_id", "text")
    Scoring.topTerms(scored.where(col("doc_id") < 40), "doc_id", "bm25", k = 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        round(col("tfidf"), 6).as("tfidf"), round(col("bm25"), 6).as("bm25"))
      .orderBy("doc_id", "rank")
  }, oracle =
    """WITH tok AS (SELECT doc_id,
      |  unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      |st AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
      |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |sc AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
      |  round(tf.tf * (ln((st.n + 1.0) / (dfq.df + 1.0)) + 1.0), 6) AS tfidf,
      |  round(ln(1.0 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
      |        tf.tf * 2.2 / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)), 6) AS bm25
      |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY bm25 DESC, term) AS rank
      |  FROM sc WHERE doc_id < 40)
      |SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tf, df, tfidf, bm25
      |FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)

  gate("q_text_redact", (s, d) => {
    // deterministic synthetic PII spans appended per doc so the scrub has
    // real work at every row; n_pii counts the spans each pattern removes
    val docs = Tables.documents(s, d).select(col("doc_id"),
      concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or 555-123-4567 ssn 123-45-6789")).as("t"))
    docs.select(col("doc_id"),
      T.piiCount(col("t")).cast("long").as("n_pii"),
      T.redact(col("t")).as("redacted"))
      .select(col("doc_id"), col("n_pii"), expr("right(redacted, 64)").as("tail_redacted"))
      .orderBy("doc_id")
  }, oracle =
    """WITH t0 AS (SELECT doc_id,
      |  text || ' contact user' || doc_id || '@example.com or 555-123-4567 ssn 123-45-6789' AS t
      |  FROM documents),
      |r1 AS (SELECT doc_id, t,
      |  regexp_replace(t, '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g') AS t1 FROM t0),
      |r2 AS (SELECT doc_id, t, t1,
      |  regexp_replace(t1, '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g') AS t2 FROM r1),
      |r3 AS (SELECT doc_id, t, t1, t2,
      |  regexp_replace(t2, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g') AS t3 FROM r2)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b'))
      |     + len(regexp_extract_all(t1, '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))
      |     + len(regexp_extract_all(t2, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_pii,
      |  right(t3, 64) AS tail_redacted
      |FROM r3 ORDER BY doc_id""".stripMargin)

  gate("q_profile", (s, d) => {
    Profile.profileColumns(Tables.customer(s, d),
      Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
      .withColumn("avg_len", round(col("avg_len"), 6))
      .orderBy("col_name")
  }, oracle =
    """SELECT 'c_custkey' AS col_name, COUNT(c_custkey) AS n_nonnull,
      |  CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      |  COUNT(DISTINCT c_custkey) AS n_distinct,
      |  CAST(MIN(c_custkey) AS DOUBLE) AS min_num, CAST(MAX(c_custkey) AS DOUBLE) AS max_num,
      |  CAST(NULL AS DOUBLE) AS avg_len FROM customer
      |UNION ALL
      |SELECT 'c_name', COUNT(c_name),
      |  CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  COUNT(DISTINCT c_name), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
      |  round(AVG(length(c_name)), 6) FROM customer
      |UNION ALL
      |SELECT 'c_nationkey', COUNT(c_nationkey),
      |  CAST(SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  COUNT(DISTINCT c_nationkey),
      |  CAST(MIN(c_nationkey) AS DOUBLE), CAST(MAX(c_nationkey) AS DOUBLE),
      |  CAST(NULL AS DOUBLE) FROM customer
      |UNION ALL
      |SELECT 'c_acctbal', COUNT(c_acctbal),
      |  CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  COUNT(DISTINCT c_acctbal),
      |  CAST(MIN(c_acctbal) AS DOUBLE), CAST(MAX(c_acctbal) AS DOUBLE),
      |  CAST(NULL AS DOUBLE) FROM customer
      |UNION ALL
      |SELECT 'c_mktsegment', COUNT(c_mktsegment),
      |  CAST(SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  COUNT(DISTINCT c_mktsegment), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
      |  round(AVG(length(c_mktsegment)), 6) FROM customer
      |ORDER BY col_name""".stripMargin)

  gate("q_pack", (s, d) => {
    // bucketed sequence layout; oracle replays bucket + per-bucket window
    // cumsum + boundary division in plain SQL
    graft.pipeline.Packing.layoutOffsets(Tables.documents(s, d),
      "doc_id", "text", budget = 2048, buckets = 16)
      .orderBy("doc_id")
  }, oracle =
    """WITH t AS (SELECT doc_id, doc_id % 16 AS bucket,
      |  CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |o AS (SELECT doc_id, bucket, n_tokens,
      |  CAST(SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
      |    ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS "offset" FROM t)
      |SELECT doc_id, bucket, n_tokens, "offset",
      |CAST(FLOOR(CAST("offset" AS DOUBLE) / 2048) AS BIGINT) AS seq
      |FROM o ORDER BY doc_id""".stripMargin)

  gate("q_csv_roundtrip", (s, d) => {
    // text-format FileOutput/FileInput face: write CSV, read back with an
    // explicit schema, aggregate — the oracle recomputes from the source
    // parquet, so any value corruption in the text round-trip mismatches
    val out = cleanupAtExit(s"${System.getProperty("java.io.tmpdir")}/graft_csv_${ProcessHandle.current().pid()}")
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
    Relational.csvOutput(c, out)
    val back = Relational.csvInput(s, out, c.schema)
    Relational.sort(col("c_mktsegment"))(asDouble("sum_bal")(
      Aggregates.groupAggregate(Seq("c_mktsegment"), Seq(
        Agg(COUNT, None, "n"),
        Agg(MIN, Some("c_name"), "first_name"),
        Agg(SUM, Some("bal_dec"), "sum_bal")))(
        back.withColumn("bal_dec", dec(col("c_acctbal"))))))
  }, oracle =
    """SELECT c_mktsegment, COUNT(*) AS n, MIN(c_name) AS first_name,
      |CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)

  gate("q_json_roundtrip", (s, d) => {
    val out = cleanupAtExit(s"${System.getProperty("java.io.tmpdir")}/graft_json_${ProcessHandle.current().pid()}")
    val p = Tables.part(s, d).select(col("p_partkey"), col("p_type"), col("p_size"))
    Relational.jsonOutput(p, out)
    val back = Relational.jsonInput(s, out, p.schema)
    Relational.sort(col("p_type"))(
      Aggregates.groupAggregate(Seq("p_type"), Seq(
        Agg(COUNT, None, "n"),
        Agg(SUM, Some("p_size"), "sum_size",
          outType = Some(org.apache.spark.sql.types.LongType)),
        Agg(MAX, Some("p_partkey"), "max_key")))(back))
  }, oracle =
    """SELECT p_type, COUNT(*) AS n, CAST(SUM(p_size) AS BIGINT) AS sum_size,
      |MAX(p_partkey) AS max_key
      |FROM part GROUP BY p_type ORDER BY p_type""".stripMargin)

  gate("q_shard_manifest", (s, d) => {
    // Content-addressed shard manifest over integer/string columns only
    // (double/timestamp-to-string rendering is the one encoding step
    // engines may disagree on, so the canonical encoding contract keeps
    // to exactly-rendered types; the md5-prefix fingerprint and BIT_XOR
    // fold are replayed verbatim in DuckDB).
    graft.pipeline.Shards.shardManifest(Tables.lineitem(s, d),
      keyCols = Seq("l_orderkey", "l_linenumber"),
      valueCols = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_returnflag"),
      nShards = 8)
      .orderBy("shard")
  }, oracle =
    // Shard-manifest replay: same canonical encoding (chr(1) separator),
    // md5-prefix 60-bit fingerprint, shard = fp % nShards, BIT_XOR fold.
    """WITH e AS (SELECT
      |  ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || chr(1)
      |    || CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT AS kfp,
      |  ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || chr(1)
      |    || CAST(l_linenumber AS VARCHAR) || chr(1)
      |    || CAST(l_partkey AS VARCHAR) || chr(1)
      |    || CAST(l_suppkey AS VARCHAR) || chr(1)
      |    || l_returnflag), 1, 15))::BIGINT AS vfp
      |  FROM lineitem)
      |SELECT CAST(kfp % 8 AS INTEGER) AS shard, COUNT(*) AS n_rows,
      |CAST(bit_xor(vfp) AS BIGINT) AS content_fp
      |FROM e GROUP BY 1 ORDER BY shard""".stripMargin)

  gate("q_text_perplexity", (s, d) => {
    // Trigram-LM quality scoring: fit on the train slice (doc_id % 10 <> 0,
    // the contamination split), score the eval slice. Full DuckDB replay:
    // counts and vocabulary are exact integers, per-trigram log-probs are
    // rounded then summed as DECIMAL, one exp at the edge.
    val docs = Tables.documents(s, d)
    Scoring.trigramPerplexity(
      docs.where(col("doc_id") % 10 =!= 0), docs.where(col("doc_id") % 10 === 0),
      "doc_id", "text")
      .orderBy("doc_id")
  }, oracle =
    // Full trigram-LM replay: same tokenization as q_tfidf, lead() windows
    // for trigrams, add-k smoothing with exact integer counts, and the
    // DECIMAL-summed rounded log-prob recipe for cross-engine exactness.
    """WITH tok AS (SELECT doc_id, unnest(ws) AS tw, generate_subscripts(ws, 1) AS pos
      |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ws
      |        FROM documents)),
      |tri AS (SELECT * FROM (
      |  SELECT doc_id, tw || ' ' || lead(tw, 1) OVER win AS ctx, lead(tw, 2) OVER win AS nw
      |  FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
      |  WHERE nw IS NOT NULL),
      |trn AS (SELECT ctx, nw FROM tri WHERE doc_id % 10 <> 0),
      |c3 AS (SELECT ctx, nw, COUNT(*) AS c3 FROM trn GROUP BY 1, 2),
      |c2 AS (SELECT ctx, COUNT(*) AS c2 FROM trn GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT tw) AS v FROM tok WHERE doc_id % 10 <> 0),
      |sc AS (SELECT t.doc_id,
      |  CAST(round(ln((coalesce(c3.c3, 0) + 0.5) / (coalesce(c2.c2, 0) + 0.5 * v.v)), 9) AS DECIMAL(20,9)) AS lp
      |  FROM tri t LEFT JOIN c3 ON t.ctx = c3.ctx AND t.nw = c3.nw
      |  LEFT JOIN c2 ON t.ctx = c2.ctx CROSS JOIN v
      |  WHERE t.doc_id % 10 = 0)
      |SELECT doc_id, COUNT(*) AS n_trigrams,
      |round(exp(CAST(-SUM(lp) AS DOUBLE) / COUNT(*)), 6) AS ppl
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  gate("q_text_repetition", (s, d) => {
    Scoring.repetitionStats(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id")
  }, oracle =
    """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS ws FROM documents),
      |tc AS (SELECT doc_id, w, COUNT(*) AS n
      |  FROM (SELECT doc_id, unnest(ws) AS w FROM tok) GROUP BY 1, 2),
      |ts AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tokens, MAX(n) AS top FROM tc GROUP BY 1),
      |gr AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= 2
      |  THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
      |  ELSE [] END) AS g FROM tok),
      |gc AS (SELECT doc_id, g, COUNT(*) AS n FROM gr GROUP BY 1, 2),
      |gs AS (SELECT doc_id, SUM(n) AS ng,
      |  SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS dup FROM gc GROUP BY 1)
      |SELECT ts.doc_id, ts.n_tokens,
      |round(CAST(ts.top AS DOUBLE) / ts.n_tokens, 6) AS top_token_frac,
      |coalesce(round(CAST(gs.dup AS DOUBLE) / gs.ng, 6), 0.0) AS dup_bigram_frac
      |FROM ts LEFT JOIN gs ON ts.doc_id = gs.doc_id ORDER BY ts.doc_id""".stripMargin)

  gate("q_zorder", (s, d) => {
    // z-order curve values: pure bit arithmetic, replayed exactly in SQL;
    // ties at the limit boundary are identical rows, so the cut is stable
    Tables.lineitem(s, d)
      .select(col("l_suppkey"), col("l_partkey"),
        Relational.zorderValue(col("l_suppkey"), col("l_partkey")).as("z"))
      .orderBy("z", "l_suppkey", "l_partkey").limit(200)
  }, oracle = {
    val z = (0 until 21).map(k =>
      s"(((l_suppkey % 2097152) >> $k) & 1) * ${1L << (2 * k)}" +
        s" + (((l_partkey % 2097152) >> $k) & 1) * ${1L << (2 * k + 1)}")
      .mkString(" + ")
    s"""SELECT l_suppkey, l_partkey, $z AS z FROM lineitem
       |ORDER BY z, l_suppkey, l_partkey LIMIT 200""".stripMargin
  })

  gate("q_zorder_3d", (s, d) => {
    // 3-dimensional Morton curve (zorderValueN, 21 bits per key — bit j of
    // key i at curve position 3j+i): the same disjoint-powers arithmetic
    // as q_zorder, replayed bit-for-bit by the DuckDB oracle
    Tables.lineitem(s, d)
      .select(col("l_suppkey"), col("l_partkey"), col("l_linenumber"),
        Relational.zorderValueN(Seq(
          col("l_suppkey"), col("l_partkey"), col("l_linenumber"))).as("z"))
      .orderBy("z", "l_suppkey", "l_partkey", "l_linenumber").limit(200)
  }, oracle = {
    val z = (0 until 21).map(j =>
      s"(((l_suppkey % 2097152) >> $j) & 1) * ${1L << (3 * j)}" +
        s" + (((l_partkey % 2097152) >> $j) & 1) * ${1L << (3 * j + 1)}" +
        s" + (((l_linenumber % 2097152) >> $j) & 1) * ${1L << (3 * j + 2)}")
      .mkString(" + ")
    s"""SELECT l_suppkey, l_partkey, l_linenumber, $z AS z FROM lineitem
       |ORDER BY z, l_suppkey, l_partkey, l_linenumber LIMIT 200""".stripMargin
  })

  gate("q_winsorize", (s, d) => {
    // clamp to [p05, p95] then aggregate; every emitted double goes
    // through round(.,2)->DECIMAL so an ulp of cross-engine percentile-
    // interpolation difference cannot leak into the hash
    val w = Profile.winsorize(
      Tables.lineitem(s, d).select("l_returnflag", "l_extendedprice"),
      "l_extendedprice", pLo = 0.05, pHi = 0.95)
    Relational.sort(col("l_returnflag"))(asDouble("sum_w")(
      Aggregates.groupAggregate(Seq("l_returnflag"), Seq(
        Agg(COUNT, None, "n"),
        Agg(MIN, Some("w2"), "mn"),
        Agg(MAX, Some("w2"), "mx"),
        Agg(SUM, Some("w_dec"), "sum_w")))(
        w.withColumn("w2", round(col("l_extendedprice"), 2))
          .withColumn("w_dec", dec(round(col("l_extendedprice"), 2))))))
  }, oracle =
    """WITH b AS (SELECT quantile_cont(l_extendedprice, 0.05) AS lo,
      |quantile_cont(l_extendedprice, 0.95) AS hi FROM lineitem),
      |w AS (SELECT l_returnflag,
      |round(least(greatest(l_extendedprice, b.lo), b.hi), 2) AS wv
      |FROM lineitem, b)
      |SELECT l_returnflag, COUNT(*) AS n, MIN(wv) AS mn, MAX(wv) AS mx,
      |CAST(SUM(CAST(wv AS DECIMAL(18,2))) AS DOUBLE) AS sum_w
      |FROM w GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  gate("q_winsorize_approx", (s, d) => {
    // The 100 TB winsorize path (approx_percentile — fixed memory,
    // mergeable partials; exact `percentile` buffers every value), gated
    // with the Sketches accuracy-contract pattern: the approx bounds the
    // OPERATOR actually applied (they surface as min/max of the clamped
    // output — 5% of the data sits at each bound) must land inside the
    // exact-percentile band at p ± 4·(1/accuracy) rank error, asserted
    // in-engine as booleans the DuckDB oracle expects to be TRUE; the
    // row count and a zero out-of-band count ride along exact.
    val acc = 10000
    val eps = 4.0 / acc
    val li = Tables.lineitem(s, d).select("l_extendedprice")
    val w = Profile.winsorize(li, "l_extendedprice", pLo = 0.05, pHi = 0.95,
      exact = false, accuracy = acc)
    // one ARRAY-percentile aggregate: a single value buffer serves all
    // four band points (four scalar percentile aggs would buffer the
    // column four times — measured 11.6 s vs ~4 s at sf0.1)
    val band = li.agg(
      expr(s"percentile(l_extendedprice, array(${0.05 - eps}, ${0.05 + eps}, " +
        s"${0.95 - eps}, ${0.95 + eps}))").as("__b"))
    w.agg(count(lit(1)).as("n"),
      min("l_extendedprice").as("__wmn"), max("l_extendedprice").as("__wmx"))
      .crossJoin(broadcast(band))
      .select(col("n"),
        (col("__wmn") >= col("__b")(0) && col("__wmn") <= col("__b")(1)).as("lo_in_tol"),
        (col("__wmx") >= col("__b")(2) && col("__wmx") <= col("__b")(3)).as("hi_in_tol"))
  }, oracle =
    // Accuracy-contract gate for the approx_percentile winsorize path:
    // the applied bounds must sit inside the exact-percentile band at
    // p ± 4/accuracy rank error.
    """SELECT COUNT(*) AS n, TRUE AS lo_in_tol, TRUE AS hi_in_tol
      |FROM lineitem""".stripMargin)

  gate("q_profile_hll", (s, d) => {
    // The 100 TB profiling breadth path (HyperLogLog++ distinct counts —
    // single pass, no multi-distinct input expansion): every exact metric
    // hash-matches the oracle; the approx n_distinct is gated by its
    // accuracy contract (within 4·rsd of the exact count, computed
    // in-engine) as a boolean the oracle expects TRUE.
    val c = Tables.customer(s, d)
    val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val approx = Profile.profileColumns(c, cols, exactDistinct = false, rsd = 0.02)
      .withColumnRenamed("n_distinct", "__nd_approx")
    val exact = Profile.profileColumns(c, cols)
      .select(col("col_name"), col("n_distinct").as("__nd_exact"))
    approx.join(exact, "col_name")
      .select(col("col_name"), col("n_nonnull"), col("n_null"),
        col("min_num"), col("max_num"), round(col("avg_len"), 6).as("avg_len"),
        (abs(col("__nd_approx") - col("__nd_exact")) <=
          greatest(lit(1.0), lit(0.08) * col("__nd_exact"))).as("nd_ok"))
      .orderBy("col_name")
  }, oracle =
    // Accuracy-contract gate for the HLL profiling path: exact metrics
    // hash-match; the approx distinct count is asserted within tolerance
    // in-engine (nd_ok), which the oracle expects to be TRUE.
    """SELECT 'c_custkey' AS col_name, COUNT(c_custkey) AS n_nonnull,
      |  CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      |  CAST(MIN(c_custkey) AS DOUBLE) AS min_num, CAST(MAX(c_custkey) AS DOUBLE) AS max_num,
      |  CAST(NULL AS DOUBLE) AS avg_len, TRUE AS nd_ok FROM customer
      |UNION ALL
      |SELECT 'c_name', COUNT(c_name),
      |  CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
      |  round(AVG(length(c_name)), 6), TRUE FROM customer
      |UNION ALL
      |SELECT 'c_nationkey', COUNT(c_nationkey),
      |  CAST(SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(MIN(c_nationkey) AS DOUBLE), CAST(MAX(c_nationkey) AS DOUBLE),
      |  CAST(NULL AS DOUBLE), TRUE FROM customer
      |UNION ALL
      |SELECT 'c_acctbal', COUNT(c_acctbal),
      |  CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(MIN(c_acctbal) AS DOUBLE), CAST(MAX(c_acctbal) AS DOUBLE),
      |  CAST(NULL AS DOUBLE), TRUE FROM customer
      |UNION ALL
      |SELECT 'c_mktsegment', COUNT(c_mktsegment),
      |  CAST(SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
      |  round(AVG(length(c_mktsegment)), 6), TRUE FROM customer
      |ORDER BY col_name""".stripMargin)

  gate("q_contamination", (s, d) => {
    // two-table join variant: measured fastest at this doc size (the
    // reduce-by-hash Split variant trades a second tokenization pass for an
    // object-hash collect_list aggregate, which loses here — see
    // Contamination scaladocs for when each shape wins)
    val docs = Tables.documents(s, d)
    Contamination.ngramContamination(
      docs.where(col("doc_id") % 10 =!= 0), docs.where(col("doc_id") % 10 === 0),
      "doc_id", "text", n = 5)
      .withColumn("rate", round(col("rate"), 6))
      .orderBy("doc_id")
  }, oracle =
    """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w FROM documents),
      |sh AS (SELECT doc_id, (CASE WHEN len(w) >= 5
      |  THEN list_distinct(list_transform(range(1, len(w) - 3), i -> array_to_string(w[i:i+4], ' ')))
      |  ELSE [array_to_string(w, ' ')] END) AS shs FROM tok),
      |ex AS (SELECT doc_id, unnest(shs) AS s FROM sh),
      |te AS (SELECT doc_id, s FROM ex WHERE doc_id % 10 = 0),
      |tr AS (SELECT DISTINCT s FROM ex WHERE doc_id % 10 <> 0),
      |agg AS (SELECT te.doc_id, COUNT(*) AS n_shingles,
      |  CAST(SUM(CASE WHEN tr.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      |  FROM te LEFT JOIN tr ON te.s = tr.s GROUP BY te.doc_id)
      |SELECT doc_id, n_shingles, n_hit,
      |  round(CAST(n_hit AS DOUBLE) / n_shingles, 6) AS rate
      |FROM agg ORDER BY doc_id""".stripMargin)

  gate("q_decontaminate", (s, d) => {
    // Curate stage-5 decontamination rule in isolation (Curate.scala):
    // the deterministic 2% portable-bucket sample of the corpus stands in
    // for the eval benchmark (the zero-input demo default; a real run
    // passes its eval set), every doc is scored by 3-gram shingle
    // coverage against the benchmark's distinct shingle set, and kept iff
    // coverage < 0.8 — sampled docs themselves score 1.0 and drop, plus
    // any near-verbatim leak. The oracle replays the bucket arithmetic
    // (the q_sample_bernoulli formula) and the coverage join (the
    // q_contamination pattern at n = 3), INCLUDING the threshold.
    val docs = Tables.documents(s, d)
    val evalSet = Sampling.bernoulli(docs, Seq("doc_id"), 0.02)
    Contamination.ngramContamination(evalSet, docs, "doc_id", "text", n = 3)
      .withColumn("kept", col("rate") < 0.8)
      .withColumn("rate", round(col("rate"), 6))
      .orderBy("doc_id")
  }, oracle =
    // Curate stage-5 rule: 2% portable-bucket eval sample (the
    // q_sample_bernoulli hash formula), 3-gram coverage vs its distinct
    // shingle set, keep iff coverage < 0.8.
    """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w FROM documents),
      |sh AS (SELECT doc_id, (CASE WHEN len(w) >= 3
      |  THEN list_distinct(list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')))
      |  ELSE [array_to_string(w, ' ')] END) AS shs FROM tok),
      |ex AS (SELECT doc_id, unnest(shs) AS s FROM sh),
      |ev AS (SELECT DISTINCT s FROM ex
      |  WHERE (((doc_id % 2147483648) * 2654435761) % 2147483648) % 1000000 < 20000),
      |agg AS (SELECT ex.doc_id, COUNT(*) AS n_shingles,
      |  CAST(SUM(CASE WHEN ev.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      |  FROM ex LEFT JOIN ev ON ex.s = ev.s GROUP BY ex.doc_id)
      |SELECT doc_id, n_shingles, n_hit,
      |  round(CAST(n_hit AS DOUBLE) / n_shingles, 6) AS rate,
      |  (CAST(n_hit AS DOUBLE) / n_shingles) < 0.8 AS kept
      |FROM agg ORDER BY doc_id""".stripMargin)

  gate("q_multimodal", (s, d) => {
    val b = Multimodal.asBinary(Tables.documents(s, d).select("doc_id", "text"),
      "text", "payload").drop("text")
    val meta = Multimodal.decodeMeta(b, "payload")
    val framed = Multimodal.frameSample(meta, "payload", n = 4, frameBytes = 64, out = "frames")
    val resized = Multimodal.resizeStub(framed, "payload", dstLen = 16, out = "thumb")
    resized.select(col("doc_id"), col("media_format"), col("width"), col("height"),
      col("n_bytes"), octet_length(element_at(col("frames"), 1)).as("first_frame_len"),
      octet_length(col("thumb")).as("thumb_len"),
      // 9th sampled byte = in[floor(8·n/16)] = the middle byte — verifies
      // the nearest-neighbor sampling positions, not just the length.
      // Compared as hex of the raw byte (a string cast would re-decode
      // UTF-8 and count characters, wrong for any non-ASCII payload).
      hex(substring(col("thumb"), 9, 1)).as("thumb_mid"))
      .orderBy("doc_id")
  }, oracle =
    """SELECT doc_id, 'fake/raw' AS media_format,
      |(ascii(substr(text, 1, 1)) % 64) + 1 AS width,
      |(ascii(substr(text, 2, 1)) % 64) + 1 AS height,
      |CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |least(64, octet_length(encode(text))) AS first_frame_len,
      |16 AS thumb_len,
      |substring(hex(encode(text)), 2 * CAST(octet_length(encode(text)) // 2 AS INT) + 1, 2) AS thumb_mid
      |FROM documents ORDER BY doc_id""".stripMargin)

  gate("q_multimodal_bmp", (s, d) => {
    // REAL codec gate: a genuine 24-bit BMP file is built per document
    // (dimensions derived from doc_id, pixel bytes seeded from the text),
    // then decodeMeta's magic-byte dispatch routes it through the real
    // BMP header parser. The oracle recomputes width/height/file-size
    // from doc_id arithmetic alone (54-byte header + 4-byte-padded rows),
    // so any off-by-one in the little-endian header layout, the row
    // padding, or the parse mismatches. roundtrip_ok additionally pins
    // decode(encode(w, h)) == (w, h) in-engine.
    val docs = Tables.documents(s, d).select(col("doc_id"),
      (pmod(col("doc_id"), lit(64)) + 1).cast("int").as("w"),
      (pmod(floor(col("doc_id") / 64).cast("long"), lit(64)) + 1).cast("int").as("h"),
      col("text").cast("binary").as("seed"))
    val enc = Multimodal.encodeBmp(docs, "w", "h", "seed", "payload")
    val meta = Multimodal.decodeMeta(enc, "payload")
    meta.select(col("doc_id"), col("media_format"), col("width"), col("height"),
      col("n_bytes"),
      (col("width") === col("w") && col("height") === col("h")).as("roundtrip_ok"))
      .orderBy("doc_id")
  }, oracle =
    // Real-codec round trip: expected metadata re-derived from doc_id
    // arithmetic (BMP file size = 54-byte header + 4-byte-padded
    // 3-byte-per-pixel rows), independent of the encoder/decoder.
    """SELECT doc_id, 'image/bmp' AS media_format,
      |CAST(doc_id % 64 + 1 AS INTEGER) AS width,
      |CAST((doc_id // 64) % 64 + 1 AS INTEGER) AS height,
      |CAST(54 + (3 * (doc_id % 64 + 1)
      |  + (4 - (3 * (doc_id % 64 + 1)) % 4) % 4) * ((doc_id // 64) % 64 + 1) AS BIGINT) AS n_bytes,
      |TRUE AS roundtrip_ok
      |FROM documents ORDER BY doc_id""".stripMargin)

  gate("q_multimodal_ppm", (s, d) => {
    // Same round-trip gate for the SECOND real codec: PPM's header is
    // ASCII with variable-width dimension digits, so the expected file
    // size is 9 fixed header bytes + the digit counts + 3wh — all
    // re-derivable in SQL. Exercises the netpbm parser's whitespace/
    // token scanning rather than BMP's fixed-offset binary fields.
    val docs = Tables.documents(s, d).select(col("doc_id"),
      (pmod(col("doc_id"), lit(64)) + 1).cast("int").as("w"),
      (pmod(floor(col("doc_id") / 64).cast("long"), lit(64)) + 1).cast("int").as("h"),
      col("text").cast("binary").as("seed"))
    val enc = Multimodal.encodePpm(docs, "w", "h", "seed", "payload")
    val meta = Multimodal.decodeMeta(enc, "payload")
    meta.select(col("doc_id"), col("media_format"), col("width"), col("height"),
      col("n_bytes"),
      (col("width") === col("w") && col("height") === col("h")).as("roundtrip_ok"))
      .orderBy("doc_id")
  }, oracle =
    // PPM file size = "P6\n" + w + " " + h + "\n255\n" (9 bytes + digit
    // counts) + 3wh pixel bytes.
    """SELECT doc_id, 'image/ppm' AS media_format,
      |CAST(doc_id % 64 + 1 AS INTEGER) AS width,
      |CAST((doc_id // 64) % 64 + 1 AS INTEGER) AS height,
      |CAST(9 + length(CAST(doc_id % 64 + 1 AS VARCHAR))
      |  + length(CAST((doc_id // 64) % 64 + 1 AS VARCHAR))
      |  + 3 * (doc_id % 64 + 1) * ((doc_id // 64) % 64 + 1) AS BIGINT) AS n_bytes,
      |TRUE AS roundtrip_ok
      |FROM documents ORDER BY doc_id""".stripMargin)

  gate("q_multimodal_png", (s, d) => {
    // Round-trip gate for the THIRD real codec — the first COMPRESSED
    // one: a spec-conformant PNG is built per document (signature, IHDR,
    // a zlib stream assembled from stored deflate blocks with real
    // CRC32/Adler32 checksums, IEND), and decodeMeta's dispatch routes it
    // through the real PNG parser, which verifies the IHDR CRC and
    // INFLATES the IDAT with java.util.zip.Inflater before trusting the
    // geometry. Stored-block deflate keeps the file size a closed form of
    // (w, h) — 63 + raw + 5*ceil(raw/65535), raw = h*(1+3w) — so the
    // oracle pins the exact byte size like the BMP/PPM gates do.
    val docs = Tables.documents(s, d).select(col("doc_id"),
      (pmod(col("doc_id"), lit(64)) + 1).cast("int").as("w"),
      (pmod(floor(col("doc_id") / 64).cast("long"), lit(64)) + 1).cast("int").as("h"),
      col("text").cast("binary").as("seed"))
    // Round 7: the decoder no longer discards the inflated pixels — the
    // per-channel sums/means come from the REAL decompressed+defiltered
    // IDAT bytes, and the oracle re-derives them from the seed-cycling
    // arithmetic (pixel byte j = seed[j % len], channel = j % 3), so a
    // wrong filter reconstruction or channel order breaks the hash.
    val enc = Multimodal.encodePngCol(docs, "w", "h", "seed", "payload")
    val feat = Multimodal.decodeImageFeatures(enc, "payload")
    feat.select(col("doc_id"), col("media_format"), col("width"), col("height"),
      col("n_bytes"),
      (col("width") === col("w") && col("height") === col("h")).as("roundtrip_ok"),
      col("sum_r"), col("sum_g"), col("sum_b"),
      col("mean_r"), col("mean_g"), col("mean_b"))
      .orderBy("doc_id")
  }, oracle =
    // PNG file size (stored-block deflate): raw = h*(1+3w) filtered
    // scanline bytes; 8 signature + 25 IHDR + 12 IDAT framing + 12 IEND
    // + zlib (2 header + 5/block + raw + 4 adler) = 63 + raw + 5*blocks.
    // Pixel stats replay the seed-cycling arithmetic: pixel byte j =
    // seed byte (j mod len), channel = j mod 3 (RGB triples) — the text
    // is ASCII, so ord() IS the byte the encoder cycled. The engine side
    // computes the same sums from the actually-inflated+defiltered IDAT.
    """WITH geo AS (SELECT doc_id, text,
      |  CAST(doc_id % 64 + 1 AS INTEGER) AS w,
      |  CAST((doc_id // 64) % 64 + 1 AS INTEGER) AS h FROM documents),
      |px AS (SELECT doc_id, CAST(j % 3 AS INTEGER) AS c,
      |  ord(substr(text, CAST(j % strlen(text) AS INTEGER) + 1, 1)) AS v
      |  FROM (SELECT doc_id, text, unnest(range(3 * w * h)) AS j FROM geo)),
      |st AS (SELECT doc_id,
      |  CAST(SUM(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
      |  CAST(SUM(CASE WHEN c = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
      |  CAST(SUM(CASE WHEN c = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b
      |  FROM px GROUP BY doc_id)
      |SELECT g.doc_id, 'image/png' AS media_format, g.w AS width, g.h AS height,
      |CAST(63 + g.h * (1 + 3 * g.w)
      |  + 5 * CEIL((g.h * (1 + 3 * g.w)) / 65535.0) AS BIGINT) AS n_bytes,
      |TRUE AS roundtrip_ok,
      |st.sum_r, st.sum_g, st.sum_b,
      |CAST(st.sum_r AS DOUBLE) / (g.w * g.h) AS mean_r,
      |CAST(st.sum_g AS DOUBLE) / (g.w * g.h) AS mean_g,
      |CAST(st.sum_b AS DOUBLE) / (g.w * g.h) AS mean_b
      |FROM geo g JOIN st USING (doc_id) ORDER BY doc_id""".stripMargin)

  gate("q_multimodal_gif", (s, d) => {
    // Round-trip gate for the FIFTH real image codec — the LZW one: a
    // spec-conformant GIF89a is built per document (grayscale palette,
    // 9-bit literal-stream LZW with periodic CLEARs so the byte size is
    // a closed form of w·h), and the FULL LZW decompressor + palette map
    // recovers the pixels; per-channel sums come from the decoded RGB
    // (all three equal — the palette is gray), replayed by the oracle
    // from the seed-cycling arithmetic like the PNG gate.
    val docs = Tables.documents(s, d).select(col("doc_id"),
      (pmod(col("doc_id"), lit(64)) + 1).cast("int").as("w"),
      (pmod(floor(col("doc_id") / 64).cast("long"), lit(64)) + 1).cast("int").as("h"),
      col("text").cast("binary").as("seed"))
    val enc = Multimodal.encodeGifCol(docs, "w", "h", "seed", "payload")
    val feat = Multimodal.decodeImageFeatures(enc, "payload")
    feat.select(col("doc_id"), col("media_format"), col("width"), col("height"),
      col("n_bytes"),
      (col("width") === col("w") && col("height") === col("h")).as("roundtrip_ok"),
      col("sum_r"), col("sum_g"), col("sum_b"))
      .orderBy("doc_id")
  }, oracle =
    // GIF file size: 794 fixed bytes (6 header + 7 LSD + 768 gray GCT +
    // 10 image descriptor + 1 min-code + 1 terminator + 1 trailer) + db
    // data bytes + 1 length byte per 255-byte sub-block, where db =
    // ceil(9*C/8), C = n + (n-1)//254 + 2 LZW codes (literals + periodic
    // CLEARs + initial CLEAR/EOI). The gray palette makes all three
    // channel sums equal the seed-cycled byte sum over n = w*h pixels.
    """WITH geo AS (SELECT doc_id, text,
      |  CAST(doc_id % 64 + 1 AS INTEGER) AS w,
      |  CAST((doc_id // 64) % 64 + 1 AS INTEGER) AS h FROM documents),
      |sz AS (SELECT doc_id, w, h,
      |  (9 * (w * h + (w * h - 1) // 254 + 2) + 7) // 8 AS db FROM geo),
      |st AS (SELECT doc_id,
      |  CAST(SUM(ord(substr(text, CAST(j % strlen(text) AS INTEGER) + 1, 1)))
      |    AS BIGINT) AS s
      |  FROM (SELECT doc_id, text, unnest(range(w * h)) AS j FROM geo)
      |  GROUP BY doc_id)
      |SELECT g.doc_id, 'image/gif' AS media_format, g.w AS width, g.h AS height,
      |CAST(794 + z.db + (z.db + 254) // 255 AS BIGINT) AS n_bytes,
      |TRUE AS roundtrip_ok,
      |st.s AS sum_r, st.s AS sum_g, st.s AS sum_b
      |FROM geo g JOIN sz z USING (doc_id) JOIN st USING (doc_id)
      |ORDER BY doc_id""".stripMargin)

  gate("q_image_phash", (s, d) => {
    qImagePhashPairs(s, d).orderBy("id1", "id2")
  }, oracle =
    // Full dHash replay: 9x8 nearest-neighbor grayscale grid (gray =
    // r+g+b of source pixel ((y*h)//8, (x*w)//9)), bit y*8+x set iff
    // grid(y,x) > grid(y,x+1) — bit 63 added as min-long (DuckDB rejects
    // 1<<63) — then ALL-pairs Hamming <= 3 (the banded Spark join is
    // exact at that radius by pigeonhole). Pixel bytes replay the same
    // seed-cycling arithmetic as the PNG oracle; the C-corpus twin
    // applies the planted +1 (mod 256) at pixel byte 0.
    s"""WITH $ImageDhashPairsCte
       |SELECT id1, id2, hamming FROM ip ORDER BY id1, id2""".stripMargin)

  private def qImagePhashPairs(s: SparkSession, d: String): DataFrame = {
    // IMAGE-CONTENT near-dup (the multimodal counterpart of q_dedup_*):
    // a three-part corpus — (A) every document rendered as a PNG;
    // (B) every 5th document's image RE-ENCODED AS PPM — zero shared
    // payload bytes with its PNG twin, identical pixels, so byte-level
    // dedup can never pair them but the dHash matches exactly;
    // (C) every 7th document's PPM with ONE pixel byte nudged (+1 mod
    // 256) — a near-identical image. dHashes come from the REAL decode
    // path (PNG: inflate + defilter; PPM: header walk), pairs from the
    // Hamming-banded self-join (Dedup.hammingPairs64 — exact for radius
    // <= 3 by pigeonhole). Geometry is >= 16x16 so the perturbed pixel
    // is sampled by at most one 9x8 grid point => the planted near-twin
    // is GUARANTEED within Hamming 1; both plantings are require()d
    // found in-engine, and the oracle replays hash + all-pairs in full.
    val base = Tables.documents(s, d).select(col("doc_id"),
      (pmod(col("doc_id"), lit(16)) + 16).cast("int").as("w"),
      (pmod(floor(col("doc_id") / 16).cast("long"), lit(16)) + 16).cast("int").as("h"),
      col("text").cast("binary").as("seed"))
    val a = Multimodal.encodePngCol(base, "w", "h", "seed", "payload")
      .select(col("doc_id").as("img_id"), col("payload"))
    val bSrc = base.where(pmod(col("doc_id"), lit(5)) === 0)
    val b = Multimodal.encodePpm(bSrc, "w", "h", "seed", "payload")
      .select((col("doc_id") + 100000000L).as("img_id"), col("payload"))
    val cSrc = base.where(pmod(col("doc_id"), lit(7)) === 0)
    val c = Multimodal.perturbPpmPixel(
      Multimodal.encodePpm(cSrc, "w", "h", "seed", "p0"), "p0", 0, "payload")
      .select((col("doc_id") + 200000000L).as("img_id"), col("payload"))
    // (D/E, round 8) every 3rd document ALSO ships as an 8x8-tile-constant
    // grayscale pair: D = REAL entropy-coded baseline JPEG (Huffman +
    // IDCT — the flat-tile construction makes the lossy round trip
    // bit-exact), E = the same pixels as lossless PNG. Zero shared
    // payload bytes, identical decoded pixels ⇒ the JPEG↔PNG twin MUST
    // pair at Hamming 0 through the REAL codecs. Geometry 64..127 keeps
    // the 9x8 dHash grid sampling distinct tiles (full hash entropy).
    val deSrc = Tables.documents(s, d)
      .where(pmod(col("doc_id"), lit(3)) === 0)
      .select(col("doc_id"),
        (pmod(col("doc_id"), lit(64)) + 64).cast("int").as("w"),
        (pmod(floor(col("doc_id") / 64).cast("long"), lit(64)) + 64).cast("int").as("h"),
        col("text").cast("binary").as("seed"))
    val dJ = Multimodal.encodeJpegBaselineCol(deSrc, "w", "h", "seed", "payload")
      .select((col("doc_id") + 300000000L).as("img_id"), col("payload"))
    val eP = Multimodal.encodePngGrayTiledCol(deSrc, "w", "h", "seed", "payload")
      .select((col("doc_id") + 400000000L).as("img_id"), col("payload"))
    // (F, round 9) the same tiled pixels as a PROGRESSIVE (SOF2) JPEG —
    // spectral selection + DC successive approximation through the REAL
    // Annex-G decode path; flat tiles keep it bit-exact, so F must pair
    // with both the baseline-JPEG (D) and PNG (E) twins at Hamming 0
    // through three entirely different codings of identical pixels.
    val fJ = Multimodal.encodeJpegProgressiveCol(deSrc, "w", "h", "seed", "payload")
      .select((col("doc_id") + 500000000L).as("img_id"), col("payload"))
    val corpus = a.unionByName(b).unionByName(c).unionByName(dJ)
      .unionByName(eP).unionByName(fJ)
    val sig = Multimodal.decodeImageFeatures(corpus, "payload")
      .select(col("img_id"), col("dhash"))
    val found = Dedup.hammingPairs64(sig, "img_id", "dhash", maxHamming = 3)
    val pairs = found.stagePersist(false)
    // planted twins MUST pair: cross-format at Hamming 0, perturbed
    // within the banding guarantee
    val nB = bSrc.count()
    val foundB = pairs.where(col("id1") < 100000000L &&
      col("id2") === col("id1") + 100000000L && col("hamming") === 0).count()
    require(foundB == nB,
      s"image dedup: $foundB of $nB cross-format twins paired at Hamming 0")
    val nC = cSrc.count()
    val foundC = pairs.where(col("id1") < 100000000L &&
      col("id2") === col("id1") + 200000000L).count()
    require(foundC == nC,
      s"image dedup: $foundC of $nC perturbed near-twins paired within the band radius")
    val nDE = deSrc.count()
    val foundDE = pairs.where(col("id1") >= 300000000L &&
      col("id1") < 400000000L &&
      col("id2") === col("id1") + 100000000L && col("hamming") === 0).count()
    require(foundDE == nDE,
      s"image dedup: $foundDE of $nDE JPEG<->PNG tile twins paired at Hamming 0")
    val foundDF = pairs.where(col("id1") >= 300000000L &&
      col("id1") < 400000000L &&
      col("id2") === col("id1") + 200000000L && col("hamming") === 0).count()
    require(foundDF == nDE,
      s"image dedup: $foundDF of $nDE progressive<->baseline JPEG twins " +
        "paired at Hamming 0")
    found.releaseInputs() // pairs holds the filled result
    pairs
  }

  gate("q_image_dedup", (s, d) => {
    // the full image-dedup pipeline: dHash pairs -> transitive clusters
    // (the same min-label machinery as text dedup, q_dedup_clusters) —
    // canonical member = smallest img_id, so the original PNG survives
    // and its cross-format/perturbed twins collapse onto it; verified
    // against the recursive-CTE reachability fixpoint over the replayed
    // dHash pairs in DuckDB
    val pairs = qImagePhashPairs(s, d)
    val out = Dedup.duplicateClusters(pairs).orderBy("id")
    pairs.release() // duplicateClusters materialized its result
    out
  }, oracle =
    // The image-dedup CLUSTER face: same replayed pairs, recursive-CTE
    // reachability fixpoint, min label = canonical member (the same
    // oracle shape as q_dedup_clusters over text pairs).
    s"""WITH RECURSIVE $ImageDhashPairsCte,
       |edges AS (SELECT id1 AS a, id2 AS b FROM ip
       |UNION SELECT id2, id1 FROM ip),
       |reach(id, lbl) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.id = e.b)
       |SELECT id, MIN(lbl) AS cluster FROM reach GROUP BY id ORDER BY id""".stripMargin)

  gate("q_multimodal_jpeg", (s, d) => {
    // Round-trip gate for the FOURTH real codec — since round 8 the FULL
    // ENTROPY one: a baseline-sequential JFIF is built per document with
    // real FDCT, quantization, Annex-K Huffman coding and byte stuffing
    // (Jpeg.encodeBaseline via encodeJpegGrayTiled), and the decode side
    // runs the full Huffman + dequant + IDCT pipeline. The image is
    // CONSTANT WITHIN EACH 8x8 TILE (tile value = seed[tile % len]), so
    // the lossy pipeline round-trips BIT-EXACTLY (flat tiles have zero
    // AC energy and the DC quantizer 8 divides 8*(v-128) evenly) and the
    // oracle replays the decoded per-channel sums from the tile
    // arithmetic — a hash-exact gate over a REAL lossy codec. n_bytes is
    // no longer closed-form (Huffman length is content-dependent), so
    // the size law moved to the codec spec; the pixel sums are the
    // stronger check.
    val docs = Tables.documents(s, d).select(col("doc_id"),
      (pmod(col("doc_id"), lit(64)) + 1).cast("int").as("w"),
      (pmod(floor(col("doc_id") / 64).cast("long"), lit(64)) + 1).cast("int").as("h"),
      col("text").cast("binary").as("seed"))
    val enc = Multimodal.encodeJpegBaselineCol(docs, "w", "h", "seed", "payload")
    val feat = Multimodal.decodeImageFeatures(enc, "payload")
    feat.select(col("doc_id"), col("media_format"), col("width"), col("height"),
      (col("width") === col("w") && col("height") === col("h")).as("roundtrip_ok"),
      col("sum_r"), col("sum_g"), col("sum_b"),
      col("mean_r"), col("mean_g"), col("mean_b"))
      .orderBy("doc_id")
  }, oracle =
    // Since round 8 the JPEG gate decodes REAL entropy-coded pixels; the
    // tile-constant construction makes the lossy round trip bit-exact
    // (see qMultimodalJpeg), so the oracle replays the decoded sums from
    // the tile arithmetic: tile t (row-major over ceil(w/8) tiles across)
    // has value seed[t % len] and covers min(8, w-8*tx) * min(8, h-8*ty)
    // pixels; all three channels equal (grayscale).
    """WITH geo AS (SELECT doc_id, text,
      |  CAST(doc_id % 64 + 1 AS INTEGER) AS w,
      |  CAST((doc_id // 64) % 64 + 1 AS INTEGER) AS h FROM documents),
      |tiles AS (SELECT doc_id, text, w, h, (w + 7) // 8 AS ta,
      |  unnest(range(((w + 7) // 8) * ((h + 7) // 8))) AS t FROM geo),
      |tv AS (SELECT doc_id,
      |  ord(substr(text, CAST(t % strlen(text) AS INTEGER) + 1, 1))
      |    * least(8, w - 8 * (t % ta)) * least(8, h - 8 * (t // ta)) AS s
      |  FROM tiles),
      |st AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS s FROM tv GROUP BY doc_id)
      |SELECT g.doc_id, 'image/jpeg' AS media_format,
      |g.w AS width, g.h AS height, TRUE AS roundtrip_ok,
      |st.s AS sum_r, st.s AS sum_g, st.s AS sum_b,
      |CAST(st.s AS DOUBLE) / (g.w * g.h) AS mean_r,
      |CAST(st.s AS DOUBLE) / (g.w * g.h) AS mean_g,
      |CAST(st.s AS DOUBLE) / (g.w * g.h) AS mean_b
      |FROM geo g JOIN st USING (doc_id) ORDER BY doc_id""".stripMargin)

  gate("q_shuffle", (s, d) => {
    // Deterministic training-order shuffle: the row's POSITION in the
    // seeded order is materialized (distributed zipWithIndex, not a
    // global window) and hash-compared against DuckDB's row_number over
    // the replayed key formula — the driver's compare sorts rows before
    // hashing, so carrying the position as DATA is what makes the order
    // itself gate-visible. Same seed ⇒ same order on any engine.
    import graft.pipeline.Sampling
    val o = Tables.orders(s, d).select(col("o_orderkey"))
    val skey = Sampling.shuffleKey(Seq(col("o_orderkey")), seed = 42L)
    val withKey = o.withColumn("skey", skey)
    Relational.withRowidOrdered(withKey, Seq(col("skey"), col("o_orderkey")), "pos")
      .select(col("o_orderkey"), col("skey"), col("pos"))
      .orderBy("o_orderkey")
  }, oracle =
    // Seeded portable shuffle key replayed verbatim: seed-dependent odd
    // multiplier (2·42+1)·prime mod 2^31 on the key, additive seed term,
    // all mod 2^31; the position is row_number over that order.
    """WITH k AS (SELECT o_orderkey,
      |  (((o_orderkey % 2147483648) * ((85 * 2654435761) % 2147483648))
      |     % 2147483648
      |   + (42 * 2246822519) % 2147483648) % 2147483648 AS skey
      |  FROM orders)
      |SELECT o_orderkey, skey,
      |  row_number() OVER (ORDER BY skey, o_orderkey) - 1 AS pos
      |FROM k ORDER BY o_orderkey""".stripMargin)

  gate("q_vocab_encode", (s, d) => {
    // Tokenizer-prep: corpus word counts → top-40 vocabulary with
    // contiguous ids (count desc, token asc — deterministic tie-break) →
    // every document re-encoded as an id sequence via the broadcast
    // vocabulary map, OOV → -1. The oracle replays the whole chain
    // (counts, ranked cut, per-position id join) in DuckDB; the id
    // STRING carries order, so a transposed or mis-assigned id anywhere
    // breaks the hash. V=40 sits below this corpus's distinct-token
    // count, so the OOV path is exercised for real.
    import graft.pipeline.Vocab
    val docs = Tables.documents(s, d)
    val vocab = Vocab.build(docs, "text", size = 40)
    val enc = Vocab.encode(docs, "text", vocab, "ids")
    enc.select(col("doc_id"),
      coalesce(array_join(transform(col("ids"), _.cast("string")), " "), lit(""))
        .as("ids_str"),
      coalesce(size(col("ids")), lit(0)).cast("long").as("n_tokens"),
      coalesce(size(filter(col("ids"), _ === -1)), lit(0)).cast("long").as("n_oov"))
      .orderBy("doc_id")
  }, oracle =
    // Full replay of the vocabulary chain: same tokenization as the
    // text-analysis oracles, counts, ranked top-40 cut (count desc,
    // token asc), per-position id join, OOV -> -1.
    """WITH d AS (SELECT doc_id,
      |  list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS lst
      |  FROM documents),
      |toks AS (SELECT doc_id, unnest(lst) AS tok,
      |  unnest(range(len(lst))) AS pos FROM d),
      |cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
      |voc AS (SELECT tok,
      |  CAST(row_number() OVER (ORDER BY c DESC, tok) - 1 AS INTEGER) AS id
      |  FROM cnt ORDER BY c DESC, tok LIMIT 40),
      |enc AS (SELECT toks.doc_id,
      |  array_to_string(array_agg(CAST(coalesce(voc.id, -1) AS VARCHAR)
      |    ORDER BY toks.pos), ' ') AS ids_str,
      |  count(*) AS n_tokens,
      |  CAST(sum(CASE WHEN voc.id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
      |  FROM toks LEFT JOIN voc USING (tok) GROUP BY toks.doc_id)
      |SELECT d.doc_id, coalesce(enc.ids_str, '') AS ids_str,
      |  coalesce(enc.n_tokens, 0) AS n_tokens,
      |  coalesce(enc.n_oov, 0) AS n_oov
      |FROM d LEFT JOIN enc USING (doc_id)
      |ORDER BY doc_id""".stripMargin)

  gate("q_multimodal_wav", (s, d) => {
    // AUDIO round-trip gate — the RIFF/WAVE chunk walk: a canonical
    // 16-bit PCM WAV is built per document (true RIFF sizes, fmt chunk
    // with derived byte-rate/block-align, data chunk cycling the text
    // bytes), and decodeAudioMeta recovers channels/rate/bits and derives
    // the sample count from the data-chunk size. File size is closed-form
    // (44 header bytes + samples*channels*2), pinned by the oracle like
    // the image gates.
    val docs = Tables.documents(s, d).select(col("doc_id"),
      (pmod(col("doc_id"), lit(2)) + 1).cast("int").as("ch"),
      (lit(8000) + pmod(col("doc_id"), lit(8)) * 1000).cast("int").as("rate"),
      (pmod(col("doc_id"), lit(500)) + 1).cast("int").as("ns"),
      col("text").cast("binary").as("seed"))
    val enc = Multimodal.encodeWavCol(docs, "ch", "rate", "ns", "seed", "payload")
    Multimodal.decodeAudioMeta(enc, "payload")
      .select(col("doc_id"), col("media_format"), col("channels"),
        col("sample_rate"), col("bits_per_sample"), col("n_samples"), col("n_bytes"),
        (col("channels") === col("ch") && col("sample_rate") === col("rate") &&
          col("n_samples") === col("ns")).as("roundtrip_ok"))
      .orderBy("doc_id")
  }, oracle =
    // WAV file size = 44 (RIFF+fmt+data headers) + samples*channels*2
    // (16-bit PCM frames).
    """SELECT doc_id, 'audio/wav' AS media_format,
      |CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
      |CAST(8000 + (doc_id % 8) * 1000 AS INTEGER) AS sample_rate,
      |CAST(16 AS INTEGER) AS bits_per_sample,
      |CAST(doc_id % 500 + 1 AS BIGINT) AS n_samples,
      |CAST(44 + (doc_id % 500 + 1) * (doc_id % 2 + 1) * 2 AS BIGINT) AS n_bytes,
      |TRUE AS roundtrip_ok
      |FROM documents ORDER BY doc_id""".stripMargin)

  gate("q_audio_stats", (s, d) => {
    // Per-channel SAMPLE statistics from the REAL decoded PCM frames —
    // the audio counterpart of q_multimodal_png's pixel stats: the WAV
    // payload is built by cycling text bytes into little-endian int16
    // frames, decodeAudioFeatures re-reads the data chunk as SIGNED
    // samples and folds per-channel sums/means/|amplitude|, and the
    // oracle replays the byte-pair arithmetic (value = hi*256+lo,
    // sign-folded) from the text. One row per (doc, channel) — array
    // columns stay engine-side; the gate surface is plain scalars.
    val docs = Tables.documents(s, d).select(col("doc_id"),
      (pmod(col("doc_id"), lit(2)) + 1).cast("int").as("ch"),
      (lit(8000) + pmod(col("doc_id"), lit(8)) * 1000).cast("int").as("rate"),
      (pmod(col("doc_id"), lit(500)) + 1).cast("int").as("ns"),
      col("text").cast("binary").as("seed"))
    val enc = Multimodal.encodeWavCol(docs, "ch", "rate", "ns", "seed", "payload")
    val feat = Multimodal.decodeAudioFeatures(enc, "payload")
    feat.select(col("doc_id"), col("sample_rate"), col("n_samples"),
        posexplode(arrays_zip(col("sum_ch"), col("mean_ch"), col("sum_abs_ch")))
          .as(Seq("channel", "z")))
      .select(col("doc_id"), col("channel").cast("int").as("channel"),
        col("sample_rate"), col("n_samples"),
        col("z.sum_ch").as("sum_s"), col("z.mean_ch").as("mean_s"),
        col("z.sum_abs_ch").as("sum_abs"))
      .orderBy("doc_id", "channel")
  }, oracle =
    // Per-channel PCM sample stats replayed from the byte-pair
    // arithmetic: interleaved sample i (channel = i mod ch) is the
    // little-endian int16 of seed bytes (2i, 2i+1) cycling the ASCII
    // text; sign folded via (+32768) % 65536 - 32768 (identity for
    // ASCII hi-bytes, kept for form). Means divide the exact sum by
    // frames-per-channel, a deterministic double division.
    """WITH geo AS (SELECT doc_id, text,
      |  CAST(doc_id % 2 + 1 AS INTEGER) AS ch,
      |  CAST(8000 + (doc_id % 8) * 1000 AS INTEGER) AS rate,
      |  CAST(doc_id % 500 + 1 AS BIGINT) AS n FROM documents),
      |sm AS (SELECT doc_id, CAST(i % ch AS INTEGER) AS channel,
      |  ((ord(substr(text, CAST((2 * i + 1) % strlen(text) AS INTEGER) + 1, 1)) * 256
      |    + ord(substr(text, CAST((2 * i) % strlen(text) AS INTEGER) + 1, 1))
      |    + 32768) % 65536) - 32768 AS v
      |  FROM (SELECT doc_id, text, ch, unnest(range(n * ch)) AS i FROM geo)),
      |ag AS (SELECT doc_id, channel,
      |  CAST(SUM(v) AS BIGINT) AS sum_s,
      |  CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs
      |  FROM sm GROUP BY doc_id, channel)
      |SELECT g.doc_id, a.channel, g.rate AS sample_rate, g.n AS n_samples,
      |  a.sum_s, CAST(a.sum_s AS DOUBLE) / g.n AS mean_s, a.sum_abs
      |FROM geo g JOIN ag a USING (doc_id)
      |ORDER BY doc_id, channel""".stripMargin)

  gate("q_audio_phash", (s, d) => {
    // AUDIO-content near-dup, completing the cross-modality dedup story
    // (text: q_dedup_*, image: q_image_phash): a three-part corpus —
    // (A) every document rendered as PCM WAV (>= 200 frames so the
    // 65-window envelope is stable); (B) every 5th doc's SAMPLES
    // re-encoded under a DIFFERENT header (2x sample rate — different
    // payload bytes, same samples, so the envelope hash is IDENTICAL:
    // the re-encoded-container case byte dedup cannot pair);
    // (C) every 7th doc's WAV with the first data byte nudged (+1 mod
    // 256) — one sample changes, one envelope window moves, at most ONE
    // comparison bit flips. Pairs from the same Hamming-banded join as
    // images; both plantings require()d found; the oracle replays
    // samples, windows (k = 65i/n integer division), hash and all-pairs.
    val docs = Tables.documents(s, d).select(col("doc_id"),
      (pmod(col("doc_id"), lit(2)) + 1).cast("int").as("ch"),
      (lit(8000) + pmod(col("doc_id"), lit(8)) * 1000).cast("int").as("rate"),
      (lit(16000)).cast("int").as("rate2"),
      (pmod(col("doc_id"), lit(300)) + 200).cast("int").as("ns"),
      col("text").cast("binary").as("seed"))
    val a = Multimodal.encodeWavCol(docs, "ch", "rate", "ns", "seed", "payload")
      .select(col("doc_id").as("aud_id"), col("payload"))
    val bSrc = docs.where(pmod(col("doc_id"), lit(5)) === 0)
    val b = Multimodal.encodeWavCol(bSrc, "ch", "rate2", "ns", "seed", "payload")
      .select((col("doc_id") + 100000000L).as("aud_id"), col("payload"))
    val cSrc = docs.where(pmod(col("doc_id"), lit(7)) === 0)
    val c = Multimodal.perturbWavSample(
      Multimodal.encodeWavCol(cSrc, "ch", "rate", "ns", "seed", "p0"), "p0", "payload")
      .select((col("doc_id") + 200000000L).as("aud_id"), col("payload"))
    val corpus = a.unionByName(b).unionByName(c)
    val sig = Multimodal.decodeAudioFeatures(corpus, "payload")
      .select(col("aud_id"), col("ahash"))
    val found = Dedup.hammingPairs64(sig, "aud_id", "ahash", maxHamming = 3)
    val pairs = found.stagePersist(false)
    val nB = bSrc.count()
    val foundB = pairs.where(col("id1") < 100000000L &&
      col("id2") === col("id1") + 100000000L && col("hamming") === 0).count()
    require(foundB == nB,
      s"audio dedup: $foundB of $nB re-encoded twins paired at Hamming 0")
    val nC = cSrc.count()
    val foundC = pairs.where(col("id1") < 100000000L &&
      col("id2") === col("id1") + 200000000L).count()
    require(foundC == nC,
      s"audio dedup: $foundC of $nC perturbed near-twins paired within the band radius")
    found.releaseInputs() // pairs holds the filled result
    pairs.orderBy("id1", "id2")
  }, oracle =
    // Full audio-fingerprint replay: samples from the byte-pair
    // arithmetic (as q_audio_stats), 65 envelope windows by integer
    // division k = 65i/n, summed |amplitude| per window, bit k set iff
    // env(k) > env(k+1) (bit 63 as min-long), then ALL-pairs Hamming
    // <= 3. The C-corpus twin applies the planted +1 (mod 256) to the
    // low byte of sample 0; the B twin has a different rate header but
    // identical samples, so it never appears here — only ids differ.
    """WITH geo AS (SELECT doc_id, text,
      |  CAST(doc_id % 2 + 1 AS INTEGER) AS ch,
      |  CAST(doc_id % 300 + 200 AS BIGINT) AS ns FROM documents),
      |auds AS (
      |  SELECT doc_id AS aud_id, text, ns * ch AS n, -1 AS pert FROM geo
      |  UNION ALL
      |  SELECT doc_id + 100000000, text, ns * ch, -1 FROM geo WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000000, text, ns * ch, 0 FROM geo WHERE doc_id % 7 = 0),
      |sm AS (SELECT aud_id, n, i,
      |  ((ord(substr(text, CAST((2 * i + 1) % strlen(text) AS INTEGER) + 1, 1)) * 256
      |    + (ord(substr(text, CAST((2 * i) % strlen(text) AS INTEGER) + 1, 1))
      |       + CASE WHEN i = pert THEN 1 ELSE 0 END) % 256
      |    + 32768) % 65536) - 32768 AS v
      |  FROM (SELECT aud_id, text, n, pert, unnest(range(n)) AS i FROM auds)),
      |env AS (SELECT aud_id, CAST((65 * i) // n AS INTEGER) AS k, SUM(ABS(v)) AS e
      |  FROM sm GROUP BY aud_id, CAST((65 * i) // n AS INTEGER)),
      |bits AS (SELECT a.aud_id, a.k,
      |  CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
      |  FROM env a JOIN env b ON a.aud_id = b.aud_id AND b.k = a.k + 1
      |  WHERE a.k < 64),
      |hs AS (SELECT aud_id,
      |  CAST(SUM(CASE WHEN bit = 0 THEN 0
      |    WHEN k = 63 THEN (-9223372036854775807 - 1)
      |    ELSE (1::BIGINT << k) END) AS BIGINT) AS ahash
      |  FROM bits GROUP BY aud_id)
      |SELECT a.aud_id AS id1, b.aud_id AS id2,
      |  bit_count(xor(a.ahash, b.ahash)) AS hamming
      |FROM hs a JOIN hs b ON a.aud_id < b.aud_id
      |WHERE bit_count(xor(a.ahash, b.ahash)) <= 3 ORDER BY id1, id2""".stripMargin)

  gate("q_multimodal_mp4", (s, d) => {
    // VIDEO round-trip gate — the ISO-BMFF box walk: a minimal MP4
    // (ftyp + moov>mvhd with real timescale/duration + mdat payload) is
    // built per document; decodeVideoMeta must descend the box tree to
    // mvhd and convert duration units to milliseconds through the
    // per-document timescale — the oracle replays that integer
    // arithmetic, so a misread offset or wrong division breaks the hash.
    val docs = Tables.documents(s, d).select(col("doc_id"),
      (lit(600) + pmod(col("doc_id"), lit(5)) * 100).cast("int").as("tsc"),
      pmod(col("doc_id"), lit(100000)).cast("long").as("dur"),
      pmod(col("doc_id"), lit(256)).cast("int").as("len"),
      col("text").cast("binary").as("seed"))
    val enc = Multimodal.encodeMp4Col(docs, "tsc", "dur", "len", "seed", "payload")
    Multimodal.decodeVideoMeta(enc, "payload")
      .select(col("doc_id"), col("media_format"), col("timescale"),
        col("duration_units"), col("duration_ms"), col("n_bytes"),
        (col("timescale") === col("tsc") &&
          col("duration_units") === col("dur")).as("roundtrip_ok"))
      .orderBy("doc_id")
  }, oracle =
    // MP4 file size = 144 (ftyp 20 + moov/mvhd 116 + mdat header 8) +
    // payload bytes; duration_ms replays the units*1000/timescale floor.
    """SELECT doc_id, 'video/mp4' AS media_format,
      |CAST(600 + (doc_id % 5) * 100 AS INTEGER) AS timescale,
      |CAST(doc_id % 100000 AS BIGINT) AS duration_units,
      |CAST((doc_id % 100000) * 1000 // (600 + (doc_id % 5) * 100) AS BIGINT) AS duration_ms,
      |CAST(144 + doc_id % 256 AS BIGINT) AS n_bytes,
      |TRUE AS roundtrip_ok
      |FROM documents ORDER BY doc_id""".stripMargin)

  gate("q_events_window", (s, d) => {
    graft.streaming.Streams.windowedStats(Tables.events(s, d))
      .withColumn("window_start", date_format(graft.functions.Exprs.civilFromMicros(
        unix_micros(col("window_start"))), "yyyy-MM-dd HH:mm:ss"))
      .orderBy("window_start", "event_type")
  }, oracle =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |event_type, COUNT(*) AS n_events,
      |CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)

  gate("q_stream_window", (s, d) => {
    // The TRUE streaming face of q_events_window: readStream → watermark →
    // window agg → parquet sink with checkpoint (AvailableNow), committed
    // files read back through the sink manifest — gated against the SAME
    // oracle as the batch face, so exactly-once sink semantics (no dupes,
    // no losses) are hash-checked, not just spec-checked.
    val work = cleanupAtExit(s"${System.getProperty("java.io.tmpdir")}/graft_stream_${ProcessHandle.current().pid()}")
    graft.streaming.Streams.windowedStreamGate(s, d, work)
      .withColumn("window_start", date_format(graft.functions.Exprs.civilFromMicros(
        unix_micros(col("window_start"))), "yyyy-MM-dd HH:mm:ss"))
      .orderBy("window_start", "event_type")
  }, oracle =
    // The streaming face must commit EXACTLY the batch face's rows — one
    // oracle text shared verbatim with q_events_window.
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |event_type, COUNT(*) AS n_events,
      |CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)

  gate("q_window_rank", (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
      row_number().over(w).as("rn"), rank().over(w).as("rk"), dense_rank().over(w).as("drk"))
      .orderBy("c_custkey")
  }, oracle =
    """SELECT c_custkey, c_mktsegment, c_acctbal,
      |row_number() OVER w AS rn, rank() OVER w AS rk, dense_rank() OVER w AS drk
      |FROM customer WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
      |ORDER BY c_custkey""".stripMargin)

  gate("q_window_analytics", (s, d) => {
    // Full analytic-window surface (lead/lag/ntile/percent_rank/cume_dist/
    // nth_value/first/last) — the distributed generalization of the
    // reference's single-stream stateful expressions (SURVEY §2.7): an
    // explicit partition key shards state; explicit order keys replace
    // stream order.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    val wRows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"),
      lead(col("c_custkey"), 1).over(w).as("next_key"),
      lag(col("c_custkey"), 1).over(w).as("prev_key"),
      ntile(4).over(w).as("quartile"),
      round(percent_rank().over(w), 6).as("pct_rank"),
      round(cume_dist().over(w), 6).as("cume"),
      nth_value(col("c_custkey"), 2).over(wRows).as("second_key"),
      first(col("c_custkey")).over(wRows).as("top_key"))
      .orderBy("c_custkey")
  }, oracle =
    """SELECT c_custkey, c_mktsegment,
      |lead(c_custkey, 1) OVER w AS next_key,
      |lag(c_custkey, 1) OVER w AS prev_key,
      |ntile(4) OVER w AS quartile,
      |round(percent_rank() OVER w, 6) AS pct_rank,
      |round(cume_dist() OVER w, 6) AS cume,
      |nth_value(c_custkey, 2) OVER wr AS second_key,
      |first_value(c_custkey) OVER wr AS top_key
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey),
      |wr AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY c_custkey""".stripMargin)
}
