package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-quality heuristics as pure Catalyst `Column` expressions — the
  * "fast mode" philosophy of the reference (UDF-free SQL generators,
  * `core/generator/provider/FastDataGenerator.scala:21-128`): everything here
  * stays inside WholeStageCodegen and is portable to the DuckDB oracle SQL.
  *
  * Tokenization contract (shared with the pure-Scala oracle
  * [[graft.pipeline.Oracle]]): tokens = split on runs of whitespace, empty
  * strings removed. Symbols = characters outside [A-Za-z0-9] and whitespace.
  */
object TextFunctions {

  /** Whitespace tokens with empties removed (leading-space artifact of
    * Java's split). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  def distinctTokenCount(text: Column): Column = size(array_distinct(tokens(text)))

  /** Repetition ratio = distinct tokens / tokens ∈ (0,1]; low = spammy
    * repetition. NULL for empty/blank text.
    */
  def distinctTokenRatio(text: Column): Column = {
    val n = tokenCount(text)
    when(n > 0, distinctTokenCount(text).cast("double") / n.cast("double"))
  }

  /** Fraction of non-alphanumeric, non-whitespace characters. NULL for empty
    * text. Portable: implemented as length-difference after regexp_replace,
    * identical in Spark (java.util.regex) and DuckDB (RE2) for this class.
    */
  def symbolRatio(text: Column): Column = {
    val n = length(text)
    val symbols = n - length(regexp_replace(text, "[^A-Za-z0-9 \\t\\n\\r]", ""))
    when(n > 0, symbols.cast("double") / n.cast("double"))
  }

  /** Document fingerprint: 64-bit hex of md5 over whitespace-normalized,
    * lowercased text. md5 is identical across Spark/DuckDB → oracle-portable
    * (unlike xxhash64 which only Spark has).
    */
  def fingerprint(text: Column): Column =
    substring(md5(normalized(text)), 1, 16)

  /** Canonical normalization shared by dedup + fingerprinting: lowercase,
    * collapse whitespace runs to single spaces, trim.
    */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Rabin–Karp-style rolling polynomial hash over the characters of the
    * normalized text: h = fold(0)((a, c) => (a*31 + code(c)) mod (2^31-1)).
    * Pure integer arithmetic → portable to any engine (DuckDB twin uses
    * list_reduce with a prepended 0 sentinel). Base fingerprint for
    * shift-tolerant chunk dedup.
    */
  def rollingHash(text: Column): Column = {
    val f = org.apache.spark.sql.functions.udf((s: String) => rollingHashScala(s))
    f(text)
  }

  /** Pure-Scala twin of the rolling hash: the Column formulation
    * (per-char split → interpreted aggregate fold) paid one interpreted
    * lambda eval per CHARACTER — ~3.4 s per 50k docs in the sf1 noop probe
    * (invisible to the count-based bench, which prunes the column) vs ~0.2 s
    * JIT'd. Semantics identical: normalization = lower, `\s+`-runs → single
    * space, trim; fold is over CODE POINTS (Spark's split("") + ascii()
    * yield code points, not UTF-16 units); empty normalized text folds to
    * 0, null in → null out.
    */
  def rollingHashScala(text: String): java.lang.Long = {
    if (text == null) return null
    val s = text.toLowerCase
    val n = s.length
    @inline def isWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == 11.toChar || c == '\f' || c == '\r'
    val P = 2147483647L
    var h = 0L
    var i = 0
    var pendingSpace = false
    var started = false
    while (i < n) {
      val c = s.charAt(i)
      if (isWs(c)) { pendingSpace = started; i += 1 }
      else {
        if (pendingSpace) { h = (h * 31 + ' '.toInt) % P; pendingSpace = false }
        val cp = s.codePointAt(i)
        h = (h * 31 + cp) % P
        started = true
        i += Character.charCount(cp)
      }
    }
    h
  }
}
