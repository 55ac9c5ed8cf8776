package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** PII / toxicity scrubber, compiled to a chain of `regexp_replace` Columns
  * (codegen-friendly — no UDF), mirroring the reference's regex→pure-SQL
  * compiler philosophy (`FastDataGenerator.scala:21-128`,
  * `provider/regex/RegexNode.scala:9-197`): UDFs only when SQL can't express
  * the transform; here it can.
  *
  * Scrub order is CANONICAL (email → ssn → phone → lexicon) and part of the
  * correctness contract with the oracle: patterns can overlap, so both sides
  * must apply them in the same sequence with leftmost matching. Patterns are
  * restricted to syntax that means the same thing in java.util.regex (Spark),
  * RE2 (DuckDB oracle), and scala (the pure oracle) — no backreferences, no
  * lookaround.
  */
object Scrubber {

  /** (name, pattern, replacement) in canonical order. */
  val patterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ssn", "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b", "[SSN]"),
    ("phone", "\\+?[0-9]{0,2}[ .-]?\\([0-9]{3}\\)[ .-]?[0-9]{3}[ .-]?[0-9]{4}|\\+[0-9]{1,2}[ .-]?[0-9]{3}[ .-]?[0-9]{3}[ .-]?[0-9]{4}|\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b", "[PHONE]"),
  )

  /** Deterministic in-repo toxicity lexicon (stand-in tokens — the real
    * deployment would broadcast a curated list; the mechanism is what
    * matters). Matched case-insensitively on word boundaries.
    */
  val lexicon: Seq[String] = Seq("badword", "slurx", "cursez", "vulgarq")

  private val lexiconPattern: String =
    "(?i)\\b(" + lexicon.mkString("|") + ")\\b"

  /** All (name, pattern, replacement) including the lexicon pass. */
  val allPatterns: Seq[(String, String, String)] =
    patterns :+ ("lexicon", lexiconPattern, "[CENSORED]")

  /** Scrubbed text: canonical-order regexp_replace chain. NULL-safe (NULL in
    * → NULL out, as regexp_replace already is).
    */
  def scrub(text: Column): Column =
    allPatterns.foldLeft(text) { case (c, (_, pat, rep)) => regexp_replace(c, pat, rep) }

  // ---- pure-Scala twin (the oracle path; java.util.regex == Spark's
  //      engine, so behavior is identical by construction) ----

  private lazy val compiled = allPatterns.map { case (n, p, r) =>
    (n, java.util.regex.Pattern.compile(p), r)
  }

  def scrubScala(text: String): String =
    if (text == null) null
    else compiled.foldLeft(text) { case (t, (_, p, r)) =>
      p.matcher(t).replaceAll(java.util.regex.Matcher.quoteReplacement(r))
    }

  /** Per-category match counts. Counted BEFORE any replacement of the same
    * category, but AFTER prior categories' scrubs — identical staging to
    * [[scrubScala]] so counts agree with what was replaced.
    */
  def scrubCountsScala(text: String): Map[String, Int] =
    if (text == null) compiled.map { case (n, _, _) => n -> 0 }.toMap
    else {
      var t = text
      compiled.map { case (n, p, r) =>
        val m = p.matcher(t)
        var c = 0
        while (m.find()) c += 1
        t = p.matcher(t).replaceAll(java.util.regex.Matcher.quoteReplacement(r))
        n -> c
      }.toMap
    }

  /** FUSED single-pass scrub+count — the pipeline hot path. One matcher
    * sweep per category (find + appendReplacement counts and replaces in
    * the same pass), ~2× fewer regex passes than scrubScala +
    * scrubCountsScala. Output is
    * IDENTICAL to (scrubScala, scrubCountsScala) — fuzz-verified by
    * ScrubberSpec.
    *
    * Matchers are ThreadLocal-reused and replacements pre-quoted: at 32
    * executor threads the per-row Matcher/String garbage was a measurable
    * scaling tax (GC pause synchronization scales with thread count).
    */
  private lazy val quotedReplacements: Array[String] =
    allPatterns.map(p => java.util.regex.Matcher.quoteReplacement(p._3)).toArray

  private val matchersLocal: ThreadLocal[Array[java.util.regex.Matcher]] =
    ThreadLocal.withInitial(() => compiled.map(_._2.matcher("")).toArray)

  /** Sound regex pre-gates: email cannot match without '@'; ssn/phone
    * cannot match without a digit (their patterns structurally require
    * those characters), so one cheap char scan skips those engines
    * entirely on clean captions — the common case. Indices follow
    * [[allPatterns]] order (email, ssn, phone, lexicon). Skipping a
    * can't-match stage leaves the text unchanged, so the canonical staging
    * (and parity with the oracles) is exact.
    */
  private val needsAt = Array(true, false, false, false)
  private val needsDigit = Array(false, true, true, false)
  // the gates are POSITIONAL — pin the category order they were derived
  // from, so a pattern reorder/edit fails loudly instead of silently
  // skipping an engine that can match
  require(allPatterns.map(_._1) == Seq("email", "ssn", "phone", "lexicon"),
    "scrub pre-gates are positional; re-derive needsAt/needsDigit after changing patterns")

  def scrubWithCounts(text: String): (String, Array[Int]) = {
    if (text == null) return (null, new Array[Int](compiled.size))
    val counts = new Array[Int](compiled.size)
    val ms = matchersLocal.get()
    var hasAt = false
    var hasDigit = false
    var ci = 0
    while (ci < text.length && !(hasAt && hasDigit)) {
      val ch = text.charAt(ci)
      if (ch == '@') hasAt = true
      else if (ch >= '0' && ch <= '9') hasDigit = true
      ci += 1
    }
    var t = text
    var i = 0
    while (i < ms.length) {
      if ((needsAt(i) && !hasAt) || (needsDigit(i) && !hasDigit)) {
        i += 1
      } else {
      val m = ms(i).reset(t)
      if (m.find()) {
        val sb = new java.lang.StringBuilder(t.length + 16)
        var c = 0
        do {
          c += 1
          m.appendReplacement(sb, quotedReplacements(i))
        } while (m.find())
        m.appendTail(sb)
        counts(i) = c
        t = sb.toString
      }
      i += 1
      }
    }
    (t, counts)
  }

  val categoryNames: Array[String] = allPatterns.map(_._1).toArray
}
