package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Tables._

/** Text-analysis operators for large-scale training-data pipelines:
  * token statistics, quality scoring, language-ID, fingerprinting.
  * All are pure per-row expressions (codegen'd, shuffle-free) except the
  * corpus-level aggregations, which are single group-bys.
  *
  * Everything is engine-portable-deterministic: integer token counts,
  * exact ratios, md5-derived hashes — so each op is differentially
  * verifiable against the SQL oracle.
  */
object TextOps {

  /** Whitespace tokens (the fixtures are single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  def nTokens(text: Column): Column = size(tokens(text))

  /** Distinct-token count (vocabulary size per doc). */
  def nTypes(text: Column): Column = size(array_distinct(tokens(text)))

  /** Type-token ratio — lexical diversity quality signal. */
  def typeTokenRatio(text: Column): Column =
    nTypes(text).cast("double") / nTokens(text)

  def nChars(text: Column): Column = length(text)

  /** Mean token length (chars excluding separators / token count). */
  def meanTokenLen(text: Column): Column =
    length(regexp_replace(text, " ", "")).cast("double") / nTokens(text)

  /** Default English stopword sample (public, tiny). */
  val StopwordsEn: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "it", "that", "for")

  /** Fraction of tokens found in a stopword list — classic quality
    * heuristic (high ⇒ natural prose, near 0 ⇒ boilerplate/code). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val hits = filter(tokens(text),
      t => stopwords.map(s => t === s).reduce(_ || _))
    size(hits).cast("double") / nTokens(text)
  }

  /** Composite quality score in [0,1]: blend of stopword ratio, lexical
    * diversity and length band — a Gopher-rules-style heuristic. */
  def qualityScore(text: Column, stopwords: Seq[String] = StopwordsEn): Column = {
    val lenOk = when(nTokens(text).between(20, 500), 1.0).otherwise(0.5)
    (stopwordRatio(text, stopwords) + typeTokenRatio(text) + lenOk) / 3.0
  }

  /** C4/Gopher-style composed keep decision (the quality_filter_decision
    * rule set: token-count bounds, mean token length, stopword ratio,
    * type-token ratio) — shared by the batch audit projection and the
    * streaming ingest gate. */
  def keepDecision(text: Column): Column =
    nTokens(text).between(20, 2000) &&
      meanTokenLen(text).between(3.0, 12.0) &&
      stopwordRatio(text, StopwordsEn) >= 0.05 &&
      typeTokenRatio(text) >= 0.2

  /** Per-language stopword marker lists for n-gram-free language ID.
    * Deterministic argmax (score desc, then language code asc). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein"),
    "en" -> Seq("the", "and", "of", "to", "is", "you", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los"),
    "fr" -> Seq("le", "la", "les", "des", "est", "et", "dans", "une"),
    "zh" -> Seq("的", "是", "不", "我", "了", "人", "在", "有"))

  /** ONE-pass per-language marker counts over a PROJECTED token array:
    * a single interpreted fold carries all five counters in one struct,
    * so each token is examined once. Callers must project the result
    * into a real column before consuming it with [[langIdFromScores]] —
    * getField on a projected struct is free, while every reference to
    * an unprojected aggregate re-runs the fold (the langId query spent
    * ~10 interpreted corpus passes per doc that way: `best` + the
    * argmax chain each re-evaluated every score — 24.3 s of the sf1m
    * sweep for a one-pass projection op). */
  def langScoresFromTokens(ts: Column): Column = aggregate(
    ts,
    struct(LangMarkers.map { case (c, _) => lit(0).as(s"s_$c") }: _*),
    (acc, t) => struct(LangMarkers.map { case (c, ms) =>
      (acc.getField(s"s_$c") +
        when(ms.map(m => t === m).reduce(_ || _), 1).otherwise(0))
        .as(s"s_$c")
    }: _*))

  /** Predicted language from a PROJECTED [[langScoresFromTokens]]
    * struct: highest marker-hit count, 'und' if all zero, ties broken
    * by language-code order (the seq above is sorted). */
  def langIdFromScores(ls: Column): Column = {
    val scores = LangMarkers.map { case (c, _) => c -> ls.getField(s"s_$c") }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldLeft(when(best === 0, "und").otherwise(null)) {
      case (acc, (code, sc)) => when(acc.isNotNull, acc)
        .otherwise(when(sc === best, code))
    }
  }

  /** 32-bit content fingerprint (md5-derived, portable). */
  /** Corpus-normalization pass (the standard pre-dedup cleanup in
    * training-data pipelines): lowercase, control chars → space,
    * whitespace runs collapsed, ends trimmed. Pure codegen'd string
    * expressions — one narrow projection at any scale. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[\\p{Cntrl}]", " "), "\\s+", " "))

  def fingerprint(text: Column): Column = hashVal32(text)

  /** PII redaction for training-corpus scrubbing (the C4/Dolma-style
    * cleanup pass; beyond-reference pipeline op): emails, IPv4 addresses
    * and phone-shaped digit runs become typed placeholder tokens. Pure
    * codegen'd regexp_replace chain — zero shuffle, linear scan. The
    * patterns are deliberately RE2-safe (no backrefs/lookaround) so the
    * Spark (java.util.regex) and DuckDB (RE2) evaluations agree
    * byte-for-byte and the query oracle can hash-compare the output. */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")
    // boundaries on BOTH ends: without the leading \b an 11+-digit run
    // (card/account numbers) would be partially redacted, leaking its
    // leading digits. Delimited phone shapes only; unbroken long digit
    // runs are a different scrub class (no lookbehind — RE2-safe).
    regexp_replace(ip,
      "\\b\\+?\\d{3}[-. ]?\\d{3}[-. ]?\\d{4}\\b", "<PHONE>")
  }

  /** Canonical-form fingerprint: lowercase + collapsed whitespace first,
    * so near-identical formatting variants collide. */
  def canonicalFingerprint(text: Column): Column =
    hashVal32(trim(regexp_replace(lower(text), " +", " ")))

  /** Shingles over an already-materialized token ARRAY column.
    *
    * Callers must project the token array into a real column first:
    * higher-order functions run interpreted, so if `ts` were the
    * expression split(text) it would re-execute once per element_at —
    * O(tokens²) work per document (measured 10× slowdown).
    *
    * Guard: sequence(1, 0) would generate a DESCENDING [1,0] in Spark,
    * so short docs explicitly yield an empty array. */
  def shinglesFromTokens(ts: Column, n: Int): Column =
    when(size(ts) >= n,
      transform(sequence(lit(1), size(ts) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(ts, i + k)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Token n-gram shingles from raw text (n consecutive tokens joined by
    * one space). Basis for MinHash / Jaccard dedup. Prefer the two-step
    * projection in [[graft.text.DedupOps.shingleTable]] on hot paths. */
  def shingles(text: Column, n: Int): Column = shinglesFromTokens(tokens(text), n)
}
