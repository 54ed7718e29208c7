package graft.core

/** Deterministic whitespace+punctuation tokenizer with the *fetcher-identity*
  * contract.
  *
  * The reference tokenizes each line with a subword tokenizer and then runs a
  * "tokenizer fetcher" (/root/reference/model/backbone_mapping.py:35-253) to
  * map each subword back to the exact original substring, such that
  * `"".join(fetched_tokens) == original_line_text`. That concatenation
  * invariant is THE mechanism behind byte-identical text reconstruction at
  * decode time (/root/reference/pipeline/decode.py:205-212, 245-246).
  *
  * We own the tokenizer contract (no pretrained vocab exists here), so the
  * tokenizer is built to make fetch the identity partition of the line:
  *   - a token is an optional run of leading whitespace followed by a core,
  *     where a core is either a maximal run of letters/digits or one single
  *     other (non-space) character — mirroring the " word"-prefix shape of
  *     SentencePiece pieces after the fetcher;
  *   - trailing whitespace with no following core attaches to the last token;
  *   - a line with no non-space character tokenizes to the empty list, which
  *     feeds the empty-line filter (/root/reference/data/datasets/sibr.py:128-130).
  *
  * Invariants (property-tested): tokens.mkString == text whenever tokens is
  * non-empty; tokens is empty iff the line has no non-space char.
  */
object Tokenizer {

  private final val Other = 0
  private final val Space = 1
  private final val Word = 2

  /** Every char's class, computed once: [[TextNorm.pyIsSpace]] first, then
    * `Character.isLetterOrDigit`. One array read replaces the two
    * `Character.getType` lookups the predicates cost per char.
    */
  private val CharClass: Array[Byte] = Array.tabulate(Char.MaxValue + 1) { i =>
    val c = i.toChar
    (if (TextNorm.pyIsSpace(c)) Space else if (Character.isLetterOrDigit(c)) Word else Other).toByte
  }

  /** Offset form of [[tokenize]]: token END positions into `text`. Tokens
    * are contiguous and cover the string (token k spans
    * [ends(k-1), ends(k)) with ends(-1) = 0; the last end == text.length by
    * the trailing-whitespace-attach rule), so the end array IS the token
    * list — no per-token String materializes. Empty iff the line has no
    * non-space char. Equivalence with [[tokenize]] is property-tested.
    */
  def tokenizeEnds(text: String): Array[Int] = {
    val n = text.length
    var count = 0
    // first pass: count tokens (cores)
    var i = 0
    while (i < n) {
      val cls = CharClass(text.charAt(i))
      if (cls == Space) i += 1
      else {
        var end = i + 1
        if (cls == Word) {
          while (end < n && CharClass(text.charAt(end)) == Word) end += 1
        }
        count += 1
        i = end
      }
    }
    if (count == 0) return Array.emptyIntArray
    val ends = new Array[Int](count)
    var k = 0
    i = 0
    while (i < n) {
      val cls = CharClass(text.charAt(i))
      if (cls == Space) i += 1
      else {
        var end = i + 1
        if (cls == Word) {
          while (end < n && CharClass(text.charAt(end)) == Word) end += 1
        }
        ends(k) = end
        k += 1
        i = end
      }
    }
    // trailing whitespace attaches to the last token
    ends(count - 1) = n
    ends
  }

  /** Materialized token list, derived from [[tokenizeEnds]] — ONE scanner
    * owns the fetcher-identity contract (a third hand-synchronized loop
    * here could drift from the offset form the engine runs on). Spec/trace
    * path only; the hot path never materializes tokens.
    */
  def tokenize(text: String): Vector[String] = {
    val ends = tokenizeEnds(text)
    val out = Vector.newBuilder[String]
    var k = 0
    while (k < ends.length) {
      out += text.substring(if (k == 0) 0 else ends(k - 1), ends(k))
      k += 1
    }
    out.result()
  }
}
