package graft.util

object Chars {

  /** java-regex `\s` (the ASCII class, no UNICODE_CHARACTER_CLASS):
    * `[ \t\n\x0B\f\r]` — the tokenizer contract of `TF.tokens` and of every
    * hand-written scan that must agree with it. Takes a char or a code point.
    */
  @inline def isRegexSpace(c: Int): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r'
}
