package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass text statistics (SURVEY.md §2 H9/H10 kernels).
  *
  * Computes in ONE byte-level scan of the UTF-8 payload what the
  * higher-order-function form needed six interpreted lambda evaluations
  * per row for (`filter`/`transform`/`aggregate` are CodegenFallback — see
  * the round-1 measurement in ops/Dedup.scala:shingleRows):
  *
  *   struct(n_words, sum_wlen, alpha_words, hits_en, hits_de, hits_es, hits_fr)
  *
  * Semantics identical to the column form (and the DuckDB oracles):
  *  - words  = split on single space, empties dropped;
  *  - sum_wlen counts CODE POINTS per word (Spark `length`, DuckDB `length`)
  *    = non-continuation UTF-8 bytes;
  *  - alpha_words = words whose every byte is in 'a'..'z';
  *  - hits_XX = words contained in that language's stopword list (a word
  *    can hit several profiles; at most once per profile).
  */
object TextStatsExpression {

  /** Stopword profiles in declaration-priority order; single source shared
    * with the SQL builders via [[graft.ops.TextAnalysis.StopwordProfiles]]
    * (that object references THIS list, not the reverse, so the expression
    * has no dependency on the ops layer).
    */
  val StopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "for", "on", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "es" -> Seq("el", "los", "y", "una", "es", "por", "que", "se", "con", "para"),
    "fr" -> Seq("le", "les", "et", "des", "une", "du", "est", "pour", "dans", "au")
  )

  val Langs: Seq[String] = StopwordProfiles.map(_._1)

  val schema: StructType = StructType(
    (Seq("n_words", "sum_wlen", "alpha_words") ++ Langs.map(l => s"hits_$l"))
      .map(f => StructField(f, LongType, nullable = false)))

  private val profileBytes: Array[Array[Array[Byte]]] =
    StopwordProfiles.map(_._2.map(_.getBytes("UTF-8")).toArray).toArray

  private def isWordEq(s: UTF8String, ws: Int, wl: Int, w: Array[Byte]): Boolean = {
    if (w.length != wl) return false
    var k = 0
    while (k < wl) {
      if (s.getByte(ws + k) != w(k)) return false
      k += 1
    }
    true
  }

  /** One pass over the UTF-8 bytes; allocation-free except the result row. */
  def compute(s: UTF8String): InternalRow = {
    val n = s.numBytes
    var nWords = 0L
    var sumWlen = 0L
    var alphaWords = 0L
    val hits = new Array[Long](profileBytes.length)
    var i = 0
    while (i < n) {
      if (s.getByte(i) == ' ') i += 1
      else {
        val ws = i
        var chars = 0L
        var alpha = true
        while (i < n && s.getByte(i) != ' ') {
          val b = s.getByte(i)
          if ((b & 0xC0) != 0x80) chars += 1 // count non-continuation bytes
          if (b < 'a' || b > 'z') alpha = false
          i += 1
        }
        val wl = i - ws
        nWords += 1
        sumWlen += chars
        if (alpha) alphaWords += 1
        var p = 0
        while (p < profileBytes.length) {
          val prof = profileBytes(p)
          var j = 0
          var hit = false
          while (!hit && j < prof.length) {
            hit = isWordEq(s, ws, wl, prof(j))
            j += 1
          }
          if (hit) hits(p) += 1
          p += 1
        }
      }
    }
    val vals = new Array[Any](3 + hits.length)
    vals(0) = nWords; vals(1) = sumWlen; vals(2) = alphaWords
    var p = 0
    while (p < hits.length) { vals(3 + p) = hits(p); p += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
  }
}
