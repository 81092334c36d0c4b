package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Full Lee et al. exact substring dedup: maximal duplicated spans of
  * arbitrary length, plus the longest-repeat escalation ladder. */
class DupSpansFullSpec extends SparkSpec {
  import spark.implicits._

  private def spans(docs: Seq[(Long, String)], k: Int) =
    rows(Dedup.duplicatedSpansMaximal(docs.toDF("id", "text"), "id", "text",
      k).orderBy("id", "span_start"))

  test("whole-document duplicates cover the full token range") {
    val text = (1 to 20).map(i => s"w$i").mkString(" ")
    val out = spans(Seq((1L, text), (2L, text), (3L, "totally different words here right now ok yes")), k = 5)
    assert(out == Seq(Seq(1L, 1L, 20L, 20L), Seq(2L, 1L, 20L, 20L)))
  }

  test("two separated duplicated regions stay two maximal intervals") {
    // doc 1 shares tokens 1-6 with doc 2 and tokens 15-20 with doc 3;
    // the middle (7-14) is unique -> two islands, not one
    val shared1 = "a b c d e f"
    val shared2 = "u v w x y z"
    val mid = "m1 m2 m3 m4 m5 m6 m7 m8"
    val out = spans(Seq(
      (1L, s"$shared1 $mid $shared2"),
      (2L, s"$shared1 p q r s t n1 n2 n3"),
      (3L, s"k1 k2 k3 k4 $shared2")), k = 5)
    val doc1 = out.filter(_.head == 1L)
    assert(doc1 == Seq(Seq(1L, 1L, 6L, 6L), Seq(1L, 15L, 20L, 6L)))
  }

  test("overlapping duplicated windows merge into one maximal interval") {
    // within-doc repetition: 'r1..r6 r1..r6' duplicates every 6-window in
    // the repeated region; windows overlap -> single merged island
    val out = spans(Seq((1L, "r1 r2 r3 r4 r5 r6 r1 r2 r3 r4 r5 r6")), k = 6)
    assert(out == Seq(Seq(1L, 1L, 12L, 12L)))
  }

  test("hash-keyed windows emit the raw-text maximal intervals") {
    val docs = (0L until 40L).map { i =>
      (i, ((i % 7) to (i % 7) + 15).map(j => s"t${(i + j) % 11}").mkString(" "))
    }
    val k = 4
    // raw-text reference: count every k-window's text corpus-wide, then
    // merge duplicated windows whose starts are within k of each other
    val toks = docs.map { case (id, t) => id -> t.split("\\s+").toVector }
    val counts = toks.flatMap { case (_, ws) => ws.sliding(k).map(_.mkString(" ")) }
      .groupBy(identity).map { case (w, ws) => w -> ws.size }
    val want = toks.sortBy(_._1).flatMap { case (id, ws) =>
      val starts = ws.sliding(k).zipWithIndex
        .collect { case (w, i) if counts(w.mkString(" ")) > 1 => i + 1L }.toSeq
      starts.foldLeft(List.empty[(Long, Long)]) {
        case ((s0, e0) :: rest, s) if s <= e0 + 1 => (s0, s + k - 1) :: rest
        case (acc, s) => (s, s + k - 1) :: acc
      }.reverse.map { case (s0, e0) => Seq(id, s0, e0, e0 - s0 + 1) }
    }
    assert(want.nonEmpty)
    assert(spans(docs, k) == want)
  }

  test("ladder finds the exact longest repeated window") {
    // docs 1 and 2 share EXACTLY a 13-token run; everything else unique
    val run = (1 to 13).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 a3 $run b1 b2"),
      (2L, s"c1 $run d1 d2 d3"),
      (3L, "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10")).toDF("id", "text")
    assert(Dedup.longestRepeatedSpanLength(docs, "id", "text", k = 4) == 13L)
  }

  test("ladder: whole-corpus duplicate and the no-duplicate floor") {
    val text = (1 to 30).map(i => s"q$i").mkString(" ")
    val dup = Seq((1L, text), (2L, text)).toDF("id", "text")
    assert(Dedup.longestRepeatedSpanLength(dup, "id", "text", k = 4) == 30L)
    val uniq = Seq((1L, "a b c d e f"), (2L, "g h i j k l")).toDF("id", "text")
    assert(Dedup.longestRepeatedSpanLength(uniq, "id", "text", k = 4) == 0L)
  }

  test("ladder agrees with a brute-force maximum on mixed data") {
    val docs = (0L until 25L).map { i =>
      (i, (0 to 20).map(j => s"v${(i * 3 + j * j) % 17}").mkString(" "))
    }
    val df = docs.toDF("id", "text")
    val got = Dedup.longestRepeatedSpanLength(df, "id", "text", k = 2)
    // brute force over all substrings
    val toks = docs.map { case (_, t) => t.split("\\s+").toVector }
    val counts = scala.collection.mutable.Map.empty[(String, Int), Int]
    for (ws <- toks; i <- ws.indices; l <- 2 to (ws.size - i))
      counts((ws.slice(i, i + l).mkString(" "), l)) =
        counts.getOrElse((ws.slice(i, i + l).mkString(" "), l), 0) + 1
    val want = counts.collect { case ((_, l), c) if c > 1 => l }.maxOption.getOrElse(0)
    assert(got == want.toLong, s"ladder=$got brute=$want")
  }

  test("documents shorter than k emit nothing and break nothing") {
    val out = spans(Seq((1L, "a b"), (2L, "a b")), k = 5)
    assert(out.isEmpty)
  }
}
