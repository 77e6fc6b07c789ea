package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column expressions for the LLM-data-pipeline surface:
  * tokenization, shingling, language-ID heuristics, quality features,
  * fingerprinting. Pure `org.apache.spark.sql.functions` compositions —
  * everything stays inside whole-stage codegen, no UDFs.
  */
object TextOps {

  /** Whitespace tokenization. */
  def tokens(text: Column): Column = split(text, " ")

  /** Unicode NFC canonical composition (codegen'd JDK Normalizer with an
    * already-normalized fast path) — run BEFORE any hash/shingle/equality
    * step so precomposed and decomposed spellings of the same text dedup
    * together. See [[graft.functions.expressions.NfcNormalize]].
    */
  def nfcNormalize(text: Column): Column =
    org.apache.spark.sql.graftshim.ColumnShim.column(
      graft.functions.expressions.NfcNormalize(
        org.apache.spark.sql.graftshim.ColumnShim.expression(text)))

  /** Contiguous word n-gram shingles (joined with single spaces). For a
    * text shorter than n tokens the whole text is the single shingle —
    * same clipping the oracle's list-slice does.
    */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(n))))
  }

  /** Number of vowels in the text. */
  def vowelCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[aeiou]", ""))

  /** Vowel ratio — the 1-feature n-gram-class language heuristic used by
    * `langId`. On real corpora this would be a char-trigram profile score;
    * the decision structure (featurize → threshold buckets) is the same.
    */
  def vowelRatio(text: Column): Column =
    // try_divide: the empty string is 0/0, which throws under ANSI mode;
    // null here flows through langId's `when` chain to its otherwise-bucket.
    try_divide(vowelCount(text).cast("double"), length(text))

  /** Heuristic language ID over vowel-ratio buckets (deterministic). */
  def langId(text: Column): Column =
    langIdBuckets(vowelRatio(text))

  /** [[langId]] from pre-computed counts (e.g. [[spaceTokenStats]]'
    * `n_vowels`) — identical buckets without re-scanning the text. */
  def langIdFromCounts(nVowels: Column, nChars: Column): Column =
    langIdBuckets(try_divide(nVowels.cast("double"), nChars))

  private def langIdBuckets(vr: Column): Column =
    when(vr < 0.20, "zh").when(vr < 0.26, "de").when(vr < 0.31, "en").otherwise("es")

  /** LLM-corpus text normalization: lowercase, strip tag-like markup,
    * collapse runs of whitespace, trim. Pure codegen'd regexp chain —
    * the standard first cleaning pass before dedup/quality scoring.
    */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "<[^>]*>", " "), "\\s+", " "))

  /** Whole-document fingerprint (content hash). */
  def docFingerprint(text: Column): Column = md5(text.cast("binary"))

  /** `struct(n_tokens, n_stop, n_vowels)` in one compiled byte scan —
    * see [[graft.functions.expressions.SpaceTokenStats]]. Field
    * semantics are exactly `size(split(text, ' '))`, the stopword-segment
    * count, and the `[aeiou]` occurrence count, so declarative oracles
    * replay unchanged.
    */
  def spaceTokenStats(text: Column,
      stopwords: Seq[String] = Seq("the", "a")): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.functions.expressions.SpaceTokenStats(
      ColumnShim.expression(text), stopwords))
  }

  /** Robust-to-local-edit fingerprint: the lexicographic minimum of the
    * md5s of all 8-char shingles (a 1-permutation MinHash over character
    * 8-grams). One compiled pass per row (MinShingleMd5) — the
    * functions-only formulation runs an interpreted lambda per character
    * position and materializes every candidate hex string.
    */
  def minShingleFingerprint(text: Column, n: Int = 8): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.functions.expressions.MinShingleMd5(
      ColumnShim.expression(text), n))
  }

  /** PII patterns shared by [[redactPii]] and [[piiCounts]]. Written to
    * the common subset of Java regex and RE2 (no backreferences, no
    * lookaround, no word boundaries) so a SQL engine scrubbing the same
    * corpus produces byte-identical output — redaction must be auditable
    * across engines. Greedy-only patterns with no alternation make
    * leftmost-first (Java/PCRE) and leftmost-longest (POSIX RE2 mode)
    * agree on every match.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
  val phonePattern = "\\+?\\d[\\d -]{7,}\\d"

  /** Scrub emails, IPv4 addresses and phone-like digit runs to typed
    * placeholders — the standard PII pass a training corpus runs before
    * anything else sees the text. Order matters: emails first (their
    * digits must not feed the phone pattern), then IPs (dots break the
    * phone pattern either way), then phones. Pure codegen'd
    * regexp_replace chain.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        ipv4Pattern, "<IP>"),
      phonePattern, "<PHONE>")

  /** Per-kind PII hit counts on the RAW text (pre-redaction), for the
    * corpus-health report: (n_emails, n_ips, n_phones) as a struct.
    */
  def piiCounts(text: Column): Column = struct(
    regexp_count(text, lit(emailPattern)).cast("long").as("n_emails"),
    regexp_count(text, lit(ipv4Pattern)).cast("long").as("n_ips"),
    regexp_count(text, lit(phonePattern)).cast("long").as("n_phones"))

  /** 64-bit SimHash of a token array: per bit, sign of the sum of ±1
    * votes from each token's hash bit. One compiled pass per row
    * (graft.functions.expressions.SimHash64) — the functions-only
    * formulation (64 interpreted `aggregate` folds) is ~100× slower.
    */
  def simHash(toks: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(
      graft.functions.expressions.SimHash64(ColumnShim.expression(toks)))
  }

  /** Jaro-Winkler similarity (one compiled pass per pair,
    * graft.functions.expressions.JaroWinkler) — textbook semantics,
    * cross-checked against DuckDB's jaro_winkler_similarity.
    */
  def jaroWinkler(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.functions.expressions.JaroWinkler(
      ColumnShim.expression(a), ColumnShim.expression(b)))
  }
}
