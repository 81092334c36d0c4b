package graft
package gates

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Oracle-SQL and builder helpers shared by more than one gate file. One
  * instance each: the exit-cleanup registry is process-wide state. */
private[gates] object GateHelpers {

  /** money-exact decimal cast */
  def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Shared CTE chain: length-bucket-blocked 2-shingle Jaccard pairs over
    * `documents` at threshold 0.5 (mirrors Dedup.lengthBucketJaccardPairs
    * with bucketWidth 8) — final CTE `jp` has columns (id1, id2, jac).
    * Used by the q_dedup_ngram and q_dedup_clusters oracles so the pair
    * definition cannot drift between them. */
  // MATERIALIZED throughout (round 8): t is referenced four times and jp
  // twice across the consumers; DuckDB re-inlines un-hinted CTEs, which
  // multiplied the whole pair computation at the sf1 replica.
  // Round 12 tractability rewrite (the q_dedup_minhash pattern): the old
  // form MATERIALIZED the content-free bucket-pair list `p` (quadratic in
  // bucket size — 359M pairs at the sf3 replica) and ran list_intersect
  // per pair (>57 GB spill). This form never materializes a content-free
  // pair: |A∩B| is a grouped COUNT over an inverted (shingle, bucket)
  // equi-join — jac >= 0.5 > 0 forces a shared shingle, so the inverted
  // join loses NOTHING; and a pair shares an expanded bucket iff
  // |b1-b2| <= 1, which the 3-cell expansion of side a against side b's
  // HOME bucket reproduces exactly once per shared shingle. The union
  // size is n1 + n2 - i (shingle lists are list_distinct by
  // construction), so the jac arithmetic is value-identical.
  val NgramPairsCte: String =
    """t AS MATERIALIZED (SELECT doc_id, length(text) AS ln,
      |(CASE WHEN len(toks) >= 2
      |  THEN list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))
      |  ELSE [array_to_string(toks, ' ')] END) AS sh
      |FROM (SELECT doc_id, text, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks FROM documents)),
      |eh AS MATERIALIZED (SELECT doc_id, ln, len(sh) AS nsh,
      |CAST(ln // 8 AS BIGINT) AS b, unnest(sh) AS s FROM t),
      |ex AS MATERIALIZED (SELECT doc_id, ln, nsh, b + d.d AS b, s
      |FROM eh CROSS JOIN (SELECT unnest(range(-1, 2)) AS d) d),
      |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
      |any_value(a.nsh) AS n1, any_value(b.nsh) AS n2, count(*) AS i
      |FROM ex a JOIN eh b ON a.s = b.s AND a.b = b.b AND a.doc_id < b.doc_id
      |AND abs(a.ln - b.ln) <= 8
      |GROUP BY 1, 2),
      |jp AS MATERIALIZED (SELECT id1, id2,
      |CAST(i AS DOUBLE) / greatest(n1 + n2 - i, 1) AS jac FROM inter
      |WHERE CAST(i AS DOUBLE) / greatest(n1 + n2 - i, 1) >= 0.5)""".stripMargin

  /** Connected components of a (id1, id2) pair CTE as iterative
    * min-label propagation (12 unrolled doubling rounds with an explicit
    * convergence check — unconverged ⇒ empty result ⇒ loud row-count
    * mismatch). Shared tail of q_dedup_clusters, q_dedup_clusters_rep
    * and q_setsim_clusters. */
  def minLabelClustersSql(pairs: String): String =
    s"""edges AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM $pairs
       |UNION SELECT id2, id1 FROM $pairs),
       |l0 AS MATERIALIZED (SELECT DISTINCT a AS id, a AS lbl FROM edges),
       |${(1 to 12).map(i =>
           s"""m$i AS MATERIALIZED (SELECT l.id, least(l.lbl, min(ln.lbl)) AS lbl
              |  FROM l${i - 1} l JOIN edges e ON e.a = l.id
              |  JOIN l${i - 1} ln ON ln.id = e.b GROUP BY l.id, l.lbl),
              |l$i AS MATERIALIZED (SELECT m.id, l2.lbl
              |  FROM m$i m JOIN m$i l2 ON l2.id = m.lbl)""".stripMargin)
         .mkString(",\n")},
       |conv AS (SELECT count(*) AS bad FROM l12 n JOIN l11 p USING (id)
       |  WHERE n.lbl <> p.lbl)
       |SELECT id, lbl AS cluster FROM l12 CROSS JOIN conv
       |WHERE conv.bad = 0 ORDER BY id""".stripMargin

  /** All-pairs exact-Jaccard threshold join over the documents table —
    * the recall-complete oracle shared by the batch (q_dedup_minhash),
    * streaming (q_stream_neardedup) and incremental (q_dedup_incremental,
    * restricted to pairs touching the odd-id delta) MinHash gates. */
  def minhashAllPairsOracle(extraWhere: String): String =
    s"""WITH t AS MATERIALIZED (SELECT doc_id,
      |(CASE WHEN len(toks) >= 3
      |  THEN list_distinct(list_transform(range(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
      |  ELSE [array_to_string(toks, ' ')] END) AS sh
      |FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks FROM documents)),
      |sz AS (SELECT doc_id, len(sh) AS n FROM t),
      |e AS MATERIALIZED (SELECT doc_id, unnest(sh) AS s FROM t),
      |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
      |  CAST(count(*) AS BIGINT) AS i
      |  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |j AS (SELECT id1, id2,
      |CAST(i AS DOUBLE) / greatest(s1.n + s2.n - i, 1) AS jac
      |FROM inter JOIN sz s1 ON inter.id1 = s1.doc_id
      |JOIN sz s2 ON inter.id2 = s2.doc_id)
      |SELECT id1, id2, jac FROM j WHERE jac >= 0.7$extraWhere ORDER BY id1, id2""".stripMargin

  val MinhashAllPairsOracle: String = minhashAllPairsOracle("")

  def asDouble(names: String*)(df: DataFrame): DataFrame =
    names.foldLeft(df)((d, n) => d.withColumn(n, col(n).cast("double")))

  /** Directories to delete at JVM exit: bucketed-table data in the
    * shared warehouse (the in-memory catalog dies with the session) and
    * every pid-suffixed scratch dir a gate writes under java.io.tmpdir —
    * without this, repeated Bench/Verify processes accumulate unbounded
    * parquet/ORC scratch in /tmp. */
  val exitCleanupDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()

  lazy val exitCleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      exitCleanupDirs.forEach { p =>
        try graft.streaming.Streams.deleteRecursively(p)
        catch { case _: Throwable => () }
      }))

  /** Register a gate scratch path for deletion at JVM exit (returns it
    * for inline use at the call site). */
  def cleanupAtExit(path: String): String = {
    exitCleanupDirs.add(java.nio.file.Paths.get(path))
    exitCleanupHook
    path
  }

  val BpeNumMerges = 8

  // --- BPE oracle generation: the training loop unrolls into chained
  // CTEs. Token brackets are U+0001/U+0002 (stripped from the text on
  // both sides), word separator U+0003; DuckDB's left-to-right
  // non-overlapping replace() over the bracketed string IS the greedy
  // merge fold, and pair counting is per position (overlapping bigrams),
  // exactly the Spark side's transform+explode.
  val B1 = "\u0001"; val B2 = "\u0002"; val B3 = "\u0003"

  /** Shared CTE chain s0..sM over DISTINCT words with b$i = round-i best
    * pair — used verbatim by both BPE oracles. */
  def bpeTrainCtes(m: Int, strip: String = "", prefix: String = ""): String = {
    val sb = new StringBuilder
    sb.append(
      s"""${prefix}tx AS (SELECT doc_id, regexp_replace(text, '[$strip$B1$B2]', '', 'g') AS text FROM documents),
         |${prefix}wd AS (SELECT unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS word FROM ${prefix}tx),
         |${prefix}s0 AS MATERIALIZED (SELECT '$B1' || array_to_string(regexp_extract_all(word, '.'), '$B2$B1') || '$B2' AS w,
         |  COUNT(*) AS cnt FROM ${prefix}wd GROUP BY 1)""".stripMargin)
    (0 until m).foreach { i =>
      sb.append(",\n")
      sb.append(
        s"""${prefix}p$i AS (SELECT p.a AS a, p.b AS b, CAST(SUM(cnt) AS BIGINT) AS c FROM (
           |  SELECT unnest(list_transform(range(1, len(l)), j -> struct_pack(a := l[j], b := l[j+1]))) AS p, cnt
           |  FROM (SELECT string_split(trim(w, '$B1$B2'), '$B2$B1') AS l, cnt FROM ${prefix}s$i)) GROUP BY 1, 2),
           |${prefix}b$i AS MATERIALIZED (SELECT a, b, c FROM ${prefix}p$i ORDER BY c DESC, a, b LIMIT 1),
           |${prefix}s${i + 1} AS MATERIALIZED (SELECT replace(w,
           |  '$B1' || (SELECT a FROM ${prefix}b$i) || '$B2$B1' || (SELECT b FROM ${prefix}b$i) || '$B2',
           |  '$B1' || (SELECT a FROM ${prefix}b$i) || (SELECT b FROM ${prefix}b$i) || '$B2') AS w, cnt FROM ${prefix}s$i)""".stripMargin)
    }
    sb.toString
  }

  def bpeTrainOracle(m: Int): String =
    s"""WITH ${bpeTrainCtes(m)}
       |SELECT * FROM (
       |${(0 until m).map(i => s"SELECT $i AS merge_rank, a, b, c AS cnt FROM b$i")
           .mkString("\nUNION ALL ")}
       |) ORDER BY merge_rank""".stripMargin
}
