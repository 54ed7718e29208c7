package graft.core

/** Text normalization primitives.
  *
  * Semantics mirror the reference implementation (cited below) so that the
  * distributed engine and the golden oracle produce byte-identical strings:
  *  - full-width to half-width folding: /root/reference/data/data_utils.py:173-195
  *  - special replacement table (inference superset):
  *    /root/reference/deploy/inference.py:182-203,
  *    /root/reference/data/datasets/rfund.py:95-109
  *  - Python-compatible `str.strip()` used at KV emit:
  *    /root/reference/pipeline/decode.py:360-361
  *
  * Source is ASCII-only on purpose: every non-ASCII code point appears as a
  * \\u escape so the byte-level contract is visible and encoding-proof.
  */
object TextNorm {

  /** Full-width to half-width: U+3000 -> space; U+FF01..U+FF5E -> code - 0xFEE0. */
  def charF2H(c: Char): Char =
    if (c.toInt == 0x3000) ' '
    else if (c.toInt >= 0xFF01 && c.toInt <= 0xFF5E) (c - 0xFEE0).toChar
    else c

  def stringF2H(s: String): String = {
    var i = 0
    var changed = false
    while (i < s.length && !changed) { if (charF2H(s.charAt(i)) != s.charAt(i)) changed = true; i += 1 }
    if (!changed) s
    else {
      val sb = new java.lang.StringBuilder(s.length)
      var j = 0
      while (j < s.length) { sb.append(charF2H(s.charAt(j))); j += 1 }
      sb.toString
    }
  }

  /** Ordered literal replacement chain (order is load-bearing), then f2h.
    * Standardized on the inference-time table (the dataset-time table is a
    * strict subset).
    */
  private val replacements: Array[(String, String)] = Array(
    "☐" -> "", // BALLOT BOX
    "☑" -> "", // BALLOT BOX WITH CHECK
    "\uf702" -> "", // private-use U+F702
    "\uf703" -> "", // private-use U+F703
    "Tοpic" -> "Topic", // Greek omicron homoglyph
    "á" -> "a",
    "é" -> "e",
    "í" -> "i",
    "ó" -> "o",
    "ú" -> "u",
    "ü" -> "u",
    "–" -> "-", // en dash
    "‘" -> "'",
    "’" -> "'",
    "“" -> "\"",
    "—" -> "-", // em dash
    "™" -> "TM",
    "§" -> "",
    "¢" -> ""
  )

  /** The chars that can change a string: every non-ASCII char of a
    * replacement `from` (each `from` has one, incl. the Greek-omicron
    * homoglyph in "Tοpic") and every char charF2H maps.
    */
  private val Triggers: Array[Boolean] = {
    val t = new Array[Boolean](Char.MaxValue + 1)
    replacements.foreach { case (from, _) =>
      require(from.exists(_ >= 0x80), s"replacement '$from' has no trigger char")
      from.foreach(c => if (c >= 0x80) t(c) = true)
    }
    (0 to Char.MaxValue).foreach(c => if (charF2H(c.toChar) != c.toChar) t(c) = true)
    t
  }

  def specialReplace(text: String): String = {
    // fast path: a string without a trigger char is a fixpoint — one scan
    // replaces 19 contains() passes + the f2h pass on the hot path
    var a = 0
    while (a < text.length && !Triggers(text.charAt(a))) a += 1
    if (a == text.length) return text
    var t = text
    var i = 0
    while (i < replacements.length) {
      val (from, to) = replacements(i)
      if (t.contains(from)) t = t.replace(from, to)
      i += 1
    }
    stringF2H(t)
  }

  /** Predicate matching CPython `str.isspace()` per-char semantics: ASCII
    * whitespace, the C0 separators 0x1C-0x1F, NEL, and Unicode Zs/Zl/Zp.
    */
  def pyIsSpace(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r') || (c.toInt >= 0x1C && c.toInt <= 0x1F) ||
      c.toInt == 0x85 || {
        val t = Character.getType(c)
        t == Character.SPACE_SEPARATOR || t == Character.LINE_SEPARATOR ||
        t == Character.PARAGRAPH_SEPARATOR
      }

  /** Python `str.strip()` (no-arg) equivalent. */
  def pyStrip(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && pyIsSpace(s.charAt(a))) a += 1
    while (b > a && pyIsSpace(s.charAt(b - 1))) b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }
}
