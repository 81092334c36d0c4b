package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextKernels

/** Text-analysis operators for large-scale training-data pipelines
  * (beyond-reference surface, SURVEY §7 item 7). Everything runs inside
  * whole-stage codegen — no UDFs — and scales linearly with input splits:
  * per-document computations have no shuffle at all.
  *
  * `tokens`, `tokenCount`, `punctCount`, `markerScore` and `langId` are
  * native byte walks ([[graft.functions.TextKernels]]), one static call
  * per row. The composed forms they replace ran a regex trim and split, a
  * regex count and one `contains` scan per marker word, and graft.Curate's
  * ingest and dedup stages spent their CPU in them. Each walk gives the
  * composed form's value, nulls included (`size(null)` is −1, or null
  * under ANSI), and the marker kernels read Spark's `lower(text)`, so case
  * mapping is Spark's. `tokens` is the one whitespace tokenizer: every
  * operator that splits text into words reads it.
  * The rest is built from codegen'd `org.apache.spark.sql.functions`.
  */
object TextAnalysis {

  /** Whitespace tokenization: the runs of bytes other than 9-13 and 32
    * (Java regex `\s`), in order. An empty or whitespace-only text gives
    * no tokens and a null text null. Equivalent DuckDB form (used by the
    * oracles): list_filter(string_split_regex(text, '\s+'), t -> t <> ''). */
  def tokens(text: Column): Column = TextKernels.tokens(text)

  /** `size(tokens(text))`: whitespace runs counted natively; a null text
    * gives Spark's `size(null)`. */
  def tokenCount(text: Column): Column =
    coalesce(TextKernels.token_count(text), size(lit(null).cast("array<string>")))

  /** BPE-ish token estimate: runs of letters, runs of digits, and single
    * punctuation marks each count as one token. */
  val BpeishPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
  def bpeishTokenCount(text: Column): Column = regexp_count(text, lit(BpeishPattern))

  /** Characters that are neither word characters nor whitespace:
    * `regexp_count(text, '[^a-zA-Z0-9\s]')`, counted natively. */
  def punctCount(text: Column): Column = TextKernels.punct_count(text)

  def charCount(text: Column): Column = length(text)

  /** Stopword hits: how many of `words` occur as ` w ` in
    * `' ' || lower(text) || ' '` (duplicate-insensitive per word; 0 for a
    * null text), found in one walk of the lowered text. */
  def markerScore(text: Column, words: Seq[String]): Column =
    TextKernels.marker_score(lower(text), words)

  /** Language-ID marker words (n-gram-heuristic stand-in): function words
    * that discriminate between the pipeline's languages. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "und", "die", "das", "ist"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "la", "et", "les", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Predict language: highest marker score wins, ties broken by the
    * declaration order above; all-zero scores → "und" (undetermined).
    * Every language's score comes from one walk of the lowered text. */
  def langId(text: Column): Column = TextKernels.lang_id(lower(text), LangMarkers)

  /** Quality heuristics: length bounds, punctuation ratio, stopword ratio,
    * mean token length. Ratios are double divisions of exact integer counts
    * — deterministic across engines. */
  def punctRatio(text: Column): Column =
    punctCount(text).cast("double") / greatest(length(text), lit(1)).cast("double")

  def stopwordRatio(text: Column): Column =
    markerScore(text, LangMarkers.head._2).cast("double") /
      greatest(tokenCount(text), lit(1)).cast("double")

  def meanTokenLen(text: Column): Column =
    length(regexp_replace(trim(text), "\\s+", "")).cast("double") /
      greatest(tokenCount(text), lit(1)).cast("double")

  /** Composite quality gate for pipeline filtering. */
  def qualityOk(text: Column, minChars: Int = 50, maxChars: Int = 10000,
                maxPunctRatio: Double = 0.2): Column =
    length(text).between(minChars, maxChars) && punctRatio(text) <= maxPunctRatio

  /** Normalization used for fingerprinting: collapse whitespace, lowercase. */
  def normalize(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Aggressive canonicalization for near-dup matching — the C4-style
    * preprocessing that lets EXACT dedup catch reformatted copies
    * (punctuation/casing/whitespace edits): lowercase, strip every
    * non-alphanumeric to a space (ASCII classes only — the RE2∩Java
    * dialect subset every engine agrees on, per the q_text_redact
    * convention), collapse runs, trim. Compose with fingerprint-based
    * grouping so shuffles move 16-byte hashes, never text. */
  def normalizeAggressive(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9\\s]", " "),
      "\\s+", " "))

  /** Document fingerprint — md5 of the normalized text (cross-engine
    * deterministic). */
  def fingerprint(text: Column): Column = md5(normalize(text))

  // ===== PII redaction (training-data scrubbing; codegen'd regexp_replace
  // chain — zero shuffle, linear scan) =====

  /** Default scrub patterns, ordered most-specific first (SSN before phone
    * — both are digit-dash shapes and replacement is sequential). The
    * regexes stay inside the RE2 ∩ Java-regex common dialect, so any
    * engine reproduces the scrub byte-for-byte. */
  val RedactionPatterns: Seq[(String, String)] = Seq(
    "\\b\\d{3}-\\d{2}-\\d{4}\\b" -> "[SSN]",
    "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b" -> "[PHONE]",
    "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}" -> "[EMAIL]")

  /** Replace every match of every pattern (applied in order) with its tag. */
  def redact(text: Column, patterns: Seq[(String, String)] = RedactionPatterns): Column =
    patterns.foldLeft(text) { case (t, (pat, tag)) => regexp_replace(t, pat, tag) }

  /** How many PII spans the default patterns would scrub (counted on the
    * progressively-redacted text, so overlapping pattern classes — SSN vs
    * phone — never double-count one span). */
  def piiCount(text: Column, patterns: Seq[(String, String)] = RedactionPatterns): Column =
    patterns.foldLeft((text, lit(0L))) { case ((t, n), (pat, tag)) =>
      (regexp_replace(t, pat, tag), n + regexp_count(t, lit(pat)))
    }._2

  // ===== Web-corpus ingest: markup stripping (codegen'd regexp chain —
  // zero shuffle; the web-crawl → visible-text step every training
  // pipeline runs before quality filtering) =====

  /** HTML character entities decoded by [[stripMarkup]]. `&amp;` MUST be
    * decoded LAST: decoding it first would turn a double-escape like
    * `&amp;lt;` into `&lt;` and then into `<`, inventing markup the
    * author escaped away. None of the search strings contain regex
    * metacharacters, so regexp_replace and plain replace() agree. */
  val HtmlEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** Strip HTML/XML markup to visible text: script and style elements
    * removed with their CONTENT (their text is code, not prose), comments
    * removed, every remaining tag replaced by a space (so `a<br>b` stays
    * two words), common entities decoded, whitespace collapsed. Inline
    * `(?is)` flags and non-greedy `.*?` sit in the RE2 ∩ Java dialect
    * subset (the q_text_redact convention), so any engine replays the
    * chain byte-for-byte. Malformed markup degrades deterministically:
    * an unclosed `<script>` swallows nothing (the block pattern needs the
    * closing tag; the bare tag is then stripped by the tag pass). */
  def stripMarkup(html: Column): Column = {
    val noBlocks = Seq("script", "style").foldLeft(html) { (c, el) =>
      regexp_replace(c, s"(?is)<$el[^>]*>.*?</$el>", " ")
    }
    val noComment = regexp_replace(noBlocks, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    val decoded = HtmlEntities.foldLeft(noTags) { case (c, (e, r)) =>
      regexp_replace(c, e, r)
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Fraction of raw characters that were markup (tags, scripts,
    * entities' overhead) — a crawl-quality signal: boilerplate-heavy
    * pages score high. Exact integer lengths, one double division. */
  def markupRatio(html: Column): Column =
    (length(html) - length(stripMarkup(html))).cast("double") /
      greatest(length(html), lit(1)).cast("double")

  /** The document title, or '' when none ((?is): titles can span lines). */
  def htmlTitle(html: Column): Column =
    regexp_extract(html, "(?is)<title[^>]*>(.*?)</title>", 1)

  // ===== URL canonicalization (the url-level dedup key for web corpora:
  // scheme/host case, default ports, fragments, tracking params and
  // param order must not distinguish two fetches of the same page) =====

  /** Query parameters dropped during canonicalization (analytics
    * attribution state, not page identity). Alternation of literal names
    * — no metacharacters beyond the RE2∩Java subset. */
  val TrackingParamPattern: String = "(?:utm_[a-z0-9]+|ref|fbclid|gclid|mc_eid)"

  private val UrlParts = "^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)(.*)$"

  /** Canonical form of an absolute URL: scheme and host lowercased,
    * default port for the scheme stripped, fragment dropped, tracking
    * params removed, surviving params sorted (param order is transport
    * history, not identity), trailing slash stripped from a non-root
    * path, empty path normalized to "/". Pure regexp/string expressions
    * (no backreference replacements — Java's `$1` and RE2's `\1` differ,
    * so the dialect-portable subset avoids them); codegen, zero shuffle.
    * A string that does not parse as scheme://host... canonicalizes to
    * itself (extract yields '', guarded below). */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, UrlParts, 1))
    val host0 = lower(regexp_extract(url, UrlParts, 2))
    val host = when(scheme === "http", regexp_replace(host0, ":80$", ""))
      .when(scheme === "https", regexp_replace(host0, ":443$", ""))
      .otherwise(host0)
    val rest = regexp_extract(url, UrlParts, 3)
    val noFrag = regexp_replace(rest, "#.*$", "")
    val path0 = regexp_extract(noFrag, "^([^?]*)", 1)
    val path1 = when(path0 =!= "/" && path0.endsWith("/"),
      substring(path0, lit(1), length(path0) - 1)).otherwise(path0)
    val path = when(length(path1) === 0, lit("/")).otherwise(path1)
    val query0 = regexp_extract(noFrag, "\\?(.*)$", 1)
    val query1 = regexp_replace(query0, TrackingParamPattern + "=[^&]*(?:&|$)", "")
    val query2 = regexp_replace(query1, "&+$", "")
    val sorted = array_join(array_sort(split(query2, "&")), "&")
    val canon = concat(scheme, lit("://"), host, path,
      when(length(query2) > 0, concat(lit("?"), sorted)).otherwise(lit("")))
    when(length(scheme) > 0, canon).otherwise(url)
  }

  // ===== Corpus-level line dedup (MassiveText/RefinedWeb boilerplate
  // removal: a line occurring more than `maxOccurrences` times across the
  // corpus is boilerplate — nav text, cookie banners, footers — and is
  // dropped from every document) =====

  /** Remove corpus-frequent lines from every document. Scale shape: the
    * frequency count shuffles 8-byte xxhash64 values (never line text);
    * the heavy-hash set then SEMI-joins back to fetch candidate line
    * texts and re-counts them exactly (candidate set is small — it is
    * the boilerplate dictionary — and the recount makes a hash collision
    * cost a wasted candidate, never a wrong drop); the drop itself is a
    * broadcast anti-join on the line TEXT, so the result is exactly the
    * SQL `line NOT IN heavy` semantics any engine replays. The one
    * corpus-sized shuffle is the per-document reassembly groupBy —
    * inherent, since the operator's output IS the rewritten text.
    * Output: (id, n_lines, n_removed, clean_text) — every input row
    * appears, including documents whose lines were all removed
    * (clean_text = ''). */
  def dedupCorpusLines(docs: DataFrame, idCol: String, textCol: String,
                       maxOccurrences: Long): DataFrame = {
    val id = col(idCol)
    val lines = docs.select(id,
      posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
    val heavyHashes = lines
      .groupBy(xxhash64(col("__line")).as("__h"))
      .agg(count(lit(1)).as("__c")).where(col("__c") > maxOccurrences)
      .select(col("__h"))
    val heavyLines = lines
      .join(broadcast(heavyHashes), xxhash64(col("__line")) === col("__h"))
      .groupBy(col("__line")).agg(count(lit(1)).as("__c"))
      .where(col("__c") > maxOccurrences).select(col("__line").as("__heavy"))
    val kept = lines.join(broadcast(heavyLines),
      col("__line") === col("__heavy"), "left_anti")
    val reassembled = kept.groupBy(id).agg(
      count(lit(1)).as("__n_kept"),
      array_join(transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
        x => x.getField("__line")), "\n").as("clean_text"))
    docs.select(id, size(split(col(textCol), "\n")).cast("long").as("n_lines"))
      .join(reassembled, Seq(idCol), "left")
      .select(id, col("n_lines"),
        (col("n_lines") - coalesce(col("__n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Log-template mining, the parameter-masking half of Drain-style log
    * clustering: every digit run becomes `#`, so lines differing only in
    * ids/counts/timestamps collapse to one template. Per template:
    * occurrence count and the smallest id as a deterministic exemplar.
    * One codegen'd projection + one template-keyed aggregate; template
    * cardinality is the log's schema-diversity, not its volume. */
  def logTemplates(df: DataFrame, idCol: String, lineCol: String): DataFrame =
    df.where(col(lineCol).isNotNull)
      .select(col(idCol), regexp_replace(col(lineCol), "[0-9]+", "#").as("template"))
      .groupBy(col("template"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("example_id"))

  /** Gazetteer entity tagging: lowercase-alphanumeric tokens of each
    * document matched against a dictionary of single-token entity names
    * (the broadcast side — a gazetteer is bounded metadata). Output one
    * row per (doc, entity): mention count and the first (1-based) token
    * position. Multi-word entities would need the shingle table instead
    * of the token table (same join shape, n-gram keys) — single-token
    * names keep the gate's oracle a plain join replay.
    *
    * Shape: posexplode keyed by document (no shuffle — generation is
    * partition-local), one broadcast hash join against the dictionary,
    * one (doc, entity) aggregate. Shuffles carry only matched mentions —
    * at gazetteer selectivity, orders of magnitude below the token
    * stream. */
  def tagEntities(docs: DataFrame, idCol: String, textCol: String,
                  gazetteer: DataFrame, entityCol: String): DataFrame = {
    val toks = docs
      .select(col(idCol), posexplode(Scoring.tokenize(col(textCol)))
        .as(Seq("__pos", "__tok")))
    val dict = gazetteer.select(lower(col(entityCol)).as("__tok")).distinct()
    toks.join(broadcast(dict), "__tok")
      .groupBy(col(idCol), col("__tok").as("entity"))
      .agg(count(lit(1)).as("n_mentions"),
        (min(col("__pos")) + 1).as("first_pos"))
  }

  // ===== Readability (the curriculum / difficulty-bucketing signal a
  // training-data pipeline uses to stage corpora) =====

  /** Word count under the standard tokenization ([a-z0-9]+ runs). */
  def wordCount(text: Column): Column =
    regexp_count(lower(text), lit("[a-z0-9]+")).cast("long")

  /** Sentence count: runs of terminal punctuation, floored at 1 so
    * unpunctuated text counts as one sentence (the Flesch convention
    * for fragments). */
  def sentenceCount(text: Column): Column =
    greatest(regexp_count(text, lit("[.!?]+")).cast("long"), lit(1L))

  /** Syllable estimate: vowel-group runs ([aeiouy]+), the classic
    * heuristic — counted over the whole text in one regexp pass (vowel
    * runs never cross word boundaries, so the doc-level count equals
    * the per-word sum). */
  def syllableCount(text: Column): Column =
    regexp_count(lower(text), lit("[aeiouy]+")).cast("long")

  /** Flesch reading ease: 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words), NULL for wordless text. Integer counts in,
    * one fixed IEEE expression out (engine-independent), 6 dp. */
  def fleschScore(text: Column): Column = {
    val w = wordCount(text).cast("double")
    val s = sentenceCount(text).cast("double")
    val sy = syllableCount(text).cast("double")
    when(w > 0,
      round(lit(206.835) - lit(1.015) * (w / s) - lit(84.6) * (sy / w), 6))
  }

  /** Tokenizer fertility profile per language — the "how expensive is
    * this language to tokenize" card an LLM data pipeline reads before
    * fixing a token budget: per `langCol`, document/char/word/BPE-ish
    * unit counts and the two derived rates (fertility = units per
    * whitespace word; chars per unit). Counts are exact longs from
    * codegen'd regexp counting; rates are fixed dags rounded 6 dp.
    * One aggregation — no shuffle beyond it. */
  def fertilityProfile(docs: DataFrame, textCol: String,
                       langCol: String): DataFrame = {
    val agg = docs.groupBy(col(langCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(charCount(col(textCol)).cast("long")).as("n_chars"),
        sum(tokenCount(col(textCol)).cast("long")).as("n_words"),
        sum(bpeishTokenCount(col(textCol)).cast("long")).as("n_units"))
    agg.select(col(langCol), col("n_docs"), col("n_chars"),
      col("n_words"), col("n_units"),
      round(col("n_units").cast("double") /
        col("n_words").cast("double"), 6).as("fertility"),
      round(col("n_chars").cast("double") /
        col("n_units").cast("double"), 6).as("chars_per_unit"))
  }

  /** Character-level Shannon entropy per language — the compression-
    * ratio proxy that needs no codec (low bits/char ⇒ repetitive or
    * templated text; ~4+ ⇒ diverse natural language): explode to
    * characters, count per (lang, char), entropy = Σ −p·log₂p with
    * 6-dp-rounded decimal terms summed over the tiny char table
    * (order-independent — the q_key_skew entropy convention). One
    * char-cell aggregate; the explode is the only volume.
    * Output: (lang, n_chars, n_distinct_chars, bits_per_char). */
  def charEntropyProfile(docs: DataFrame, textCol: String,
                         langCol: String): DataFrame = {
    val chars = docs.select(col(langCol).as("lang"),
        explode(split(col(textCol), "")).as("__ch"))
      .where(col("__ch") =!= "")
    val cells = chars.groupBy("lang", "__ch").agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    val p = col("__c").cast("double") / sum(col("__c")).over(w).cast("double")
    cells
      .withColumn("__term",
        round(-p * log2(p), 6).cast("decimal(18,6)"))
      .groupBy("lang")
      .agg(sum(col("__c")).as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        sum(col("__term")).cast("string").cast("double").as("bits_per_char"))
  }

  /** Language-ID confusion table against labeled truth — the evaluation
    * every heuristic classifier owes its users: per (true label,
    * predicted) cell the count, the label's total, and the cell's share
    * of it (the diagonal share is per-label recall). One projection +
    * one (label, pred) aggregate + a label-window total. */
  def langIdEval(docs: DataFrame, textCol: String,
                 labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = docs.select(col(labelCol).as("label"),
        langId(col(textCol)).as("pred"))
      .groupBy("label", "pred").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("label"))
    cells.withColumn("label_total", sum(col("n")).over(w))
      .select(col("label"), col("pred"), col("n"), col("label_total"),
        round(col("n").cast("double") /
          col("label_total").cast("double"), 6).as("share"))
  }

  /** Simplified Soundex phonetic code — the record-linkage blocking key
    * that pairs "SMITH" with "SMYTHE" (reference family: fuzzy matching;
    * phonetic blocking is the classic cheap pre-filter before edit
    * distance). Rules, spelled out because variants differ: letters only
    * (upper-cased), classic digit classes (BFPV→1 CGJKQSXZ→2 DT→3 L→4
    * MN→5 R→6, vowels + HWY→0), ADJACENT equal codes collapse once
    * (including across the first letter), then the first LETTER +
    * the first three non-zero digits AFTER the first letter's code,
    * zero-padded. This is the textbook algorithm MINUS the American
    * H/W-separator exception — deliberately, so the whole code is four
    * engine-portable string ops (upper/translate/run-collapse/pad): the
    * run-collapse is one backreference regexp here and an iterated
    * replace chain in RE2-class engines. NULL/letterless input → NULL. */
  def phoneticCode(name: Column): Column = {
    val s = regexp_replace(upper(name), "[^A-Z]", "")
    val codes = translate(s, "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
      "01230120022455012623010202")
    val collapsed = regexp_replace(codes, "(.)\\1+", "$1")
    val digits = regexp_replace(substring(collapsed, 2, 64), "0", "")
    when(length(s) > 0,
      concat(substring(s, 1, 1), rpad(substring(digits, 1, 3), 3, "0")))
  }

  /** Phonetic blocking join over a vocabulary: all unordered pairs of
    * DISTINCT words sharing a phonetic code but differing as strings —
    * the candidate set a linkage pass would verify with edit distance.
    * One code projection + one equi-join keyed by code; the quadratic
    * surface is the block (code) size, the point of phonetic blocking. */
  def phoneticPairs(df: DataFrame, wordCol: String): DataFrame = {
    val coded = df.select(col(wordCol).as("w"))
      .where(col("w").isNotNull && col("w") =!= "")
      .distinct()
      .select(col("w"), phoneticCode(col("w")).as("code"))
      .where(col("code").isNotNull)
    coded.select(col("code"), col("w").as("w1"))
      .join(coded.select(col("code"), col("w").as("w2")), Seq("code"))
      .where(col("w1") < col("w2"))
      .select(col("code"), col("w1"), col("w2"))
  }
}
