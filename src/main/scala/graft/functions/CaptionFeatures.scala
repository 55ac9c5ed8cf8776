package graft.functions

/** Single-scan caption feature extraction — the engine-side hot path.
  *
  * The declarative rule set needs (length, token count, distinct-token
  * count, symbol count, char-run flag) per caption. Computing each with its
  * own regex Column costs ~6 regex passes/row; profiling the 2M-row pipeline
  * showed ~80% of executor samples inside java.util.regex. This extractor
  * produces all features in ONE allocation-light scan; the rules then become
  * trivial numeric Column comparisons over the struct.
  *
  * Semantics contract (MUST match the oracle's regex definitions, fuzz-
  * verified by CaptionFeaturesSpec):
  *  - whitespace = java regex `\s` = [ \t\n\x0B\f\r] exactly (NOT
  *    Character.isWhitespace, which adds unicode spaces)
  *  - symbol = any char outside [A-Za-z0-9 \t\n\r] (note: \x0B and \f ARE
  *    symbols, matching the rule regex class)
  *  - char run = >= maxRun identical consecutive chars, line terminators
  *    included (regex ([\s\S])\1{n-1,})
  */
final case class CaptionFeatures(
    len: Int,
    ntok: Int,
    ndistinct: Int,
    symbols: Int,
    has_run: Boolean)

object CaptionFeatures {

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 11.toChar || c == '\f' || c == '\r'

  @inline private def isSymbol(c: Char): Boolean =
    !((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
      c == ' ' || c == '\t' || c == '\n' || c == '\r')

  def extract(caption: String, maxRun: Int): CaptionFeatures = {
    if (caption == null) return null
    val len = caption.length
    var symbols = 0
    var ntok = 0
    var run = 1
    var maxRunSeen = if (len > 0) 1 else 0
    val distinct = new java.util.HashSet[String]()
    var i = 0
    var tokStart = -1
    while (i < len) {
      val c = caption.charAt(i)
      if (isSymbol(c)) symbols += 1
      if (i > 0) {
        if (c == caption.charAt(i - 1)) { run += 1; if (run > maxRunSeen) maxRunSeen = run }
        else run = 1
      }
      if (isWs(c)) {
        if (tokStart >= 0) {
          ntok += 1
          distinct.add(caption.substring(tokStart, i))
          tokStart = -1
        }
      } else if (tokStart < 0) tokStart = i
      i += 1
    }
    if (tokStart >= 0) { ntok += 1; distinct.add(caption.substring(tokStart, len)) }
    CaptionFeatures(len, ntok, distinct.size, symbols, maxRunSeen >= maxRun)
  }
}
