package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID heuristics, fingerprinting.
  * All pure `org.apache.spark.sql.functions` compositions — codegen'd,
  * no UDFs, so they stay inside WholeStageCodegen at 100 TB.
  *
  * Cross-engine note: every builder that backs a DuckDB-oracled query
  * uses only constructs with bit-identical DuckDB equivalents (md5 hex,
  * length arithmetic, split on single spaces).
  */
object Text {

  /** Whitespace tokens. The driver corpus is single-space separated. */
  def tokens(text: Column): Column = split(text, " ")

  /** Token count without materializing the array (pure length math —
    * `(len - len(without spaces)) + 1`), so it pushes into codegen and
    * has an exact ANSI-SQL equivalent. */
  def tokenCount(text: Column): Column =
    when(length(text) === 0, lit(0))
      .otherwise(length(text) - length(replace(text, lit(" "), lit(""))) + 1)

  /** BPE-ish token count: alpha runs, digit runs, and individual
    * punctuation marks each count as one token — the classic subword-
    * tokenizer upper-bound estimate, as one codegen'd regex count. The
    * pattern uses only constructs with identical Java-regex / RE2
    * semantics so the DuckDB oracle matches. */
  val bpeIshPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def bpeIshTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeIshPattern), lit(0)))

  /** Characters per token — a simple quality signal (very long "words"
    * flag code/garbage; very short flag boilerplate). */
  def avgTokenLen(text: Column): Column =
    length(replace(text, lit(" "), lit(""))).cast("double") /
      greatest(tokenCount(text).cast("double"), lit(1.0))

  /** Ratio of non-alphanumeric, non-space chars — punctuation/noise load. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[^a-zA-Z0-9 ]", ""))).cast("double") /
      greatest(length(text).cast("double"), lit(1.0))

  /** Common-English stopwords used by the stopword-ratio quality signal. */
  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "on", "for")

  /** Fraction of tokens that are stopwords — the classic
    * natural-language-vs-noise discriminator. Counted via per-stopword
    * occurrence of " w " in the padded text (exact word match without
    * exploding), summed in one expression. Round 16: the occurrence
    * count uses literal `replace` instead of `regexp_replace` — the
    * patterns are metacharacter-free literals, so the left-to-right
    * non-overlapping replacement is IDENTICAL, and literal string
    * search stays out of the regex engine (each stopword was a full
    * regex pass over every document, ~11 passes/doc/use). */
  def stopwordCount(text: Column): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    stopwords.map { w =>
      // non-overlapping count of " w " occurrences; pad step guards ends
      val gap = length(lit(s" $w "))
      (length(padded) - length(replace(padded, lit(s" $w "), lit("")))) / gap
    }.reduce(_ + _)
  }

  def stopwordRatio(text: Column): Column =
    stopwordCount(text).cast("double") /
      greatest(tokenCount(text).cast("double"), lit(1.0))

  /** Composite quality score in [0,1]: rewards natural length, English
    * stopword density, low punctuation noise. Deterministic arithmetic —
    * the exact constants matter less than the monotone shape. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / 50.0, lit(1.0))
    val stopScore = least(stopwordRatio(text) * 4.0, lit(1.0))
    val punctScore = greatest(lit(1.0) - punctRatio(text) * 5.0, lit(0.0))
    (lenScore + stopScore + punctScore) / 3.0
  }

  /** Exact-dup fingerprint: md5 hex of the raw text (identical in DuckDB). */
  def fingerprintMd5(text: Column): Column = md5(text)

  /** Normalized fingerprint: md5 of lowercased, space-collapsed text —
    * catches trivial near-dups (case/whitespace variants). */
  def fingerprintNormalized(text: Column): Column =
    md5(trim(regexp_replace(lower(text), " +", " ")))

  /** Crude n-gram language-ID heuristic: scores text against per-language
    * marker words ([[graft.operators.TextOps.q21LangId]] picks the
    * argmax). Marker lists are tiny and broadcast as literals inside the
    * expression — no join, no shuffle. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of"),
    "es" -> Seq("el", "la", "de"),
    "de" -> Seq("der", "und", "das"),
    "fr" -> Seq("le", "et", "les"),
    "zh" -> Seq("de", "shi", "bu"))

  def langScore(text: Column, markers: Seq[String]): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    markers.map { w =>
      val gap = length(lit(s" $w "))
      // literal replace — same non-overlapping semantics, no regex
      // engine (round 16, see stopwordCount)
      (length(padded) - length(replace(padded, lit(s" $w "), lit("")))) / gap
    }.reduce(_ + _)
  }
}
