package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native document fingerprint (SURVEY.md §2 H12): one pass computing
  *
  *   struct(fp, winnow_fp)
  *
  *  - fp: rolling polynomial hash over per-word h32 values mod 1e9+7
  *    (h32 = first 4 md5 bytes as unsigned — ColFns.h32's cross-engine hash);
  *  - winnow_fp: min h32 over 4-word shingles joined by a single space
  *    (null when the doc has fewer than 4 words).
  *
  * Bit-identical to the HOF column form and the DuckDB oracle: the md5
  * inputs are exactly the word / "w1 w2 w3 w4" UTF-8 byte strings. The HOF
  * form paid an interpreted lambda + UTF8String round trip per word AND
  * re-evaluated the shared `words` array per consuming branch; this is one
  * compiled scan with a reused MessageDigest.
  */
object FingerprintExpression {

  val FpMod = 1000000007L
  val ShingleN = 4

  val schema: StructType = StructType(Seq(
    StructField("fp", LongType, nullable = false),
    StructField("winnow_fp", LongType, nullable = true)))

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }
  private val SpaceByte = Array[Byte](' ')

  private def h32(md: MessageDigest): Long = {
    val d = md.digest() // resets the digest for reuse
    ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) | ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
  }

  def compute(s: UTF8String): InternalRow = {
    // one defensive copy of the payload; every md5 runs over slices of it
    val bytes = s.getBytes
    val n = bytes.length
    // collect word offsets
    var cap = 16
    var starts = new Array[Int](cap)
    var lens = new Array[Int](cap)
    var nWords = 0
    var i = 0
    while (i < n) {
      if (bytes(i) == ' ') i += 1
      else {
        val ws = i
        while (i < n && bytes(i) != ' ') i += 1
        if (nWords == cap) {
          cap *= 2
          starts = java.util.Arrays.copyOf(starts, cap)
          lens = java.util.Arrays.copyOf(lens, cap)
        }
        starts(nWords) = ws
        lens(nWords) = i - ws
        nWords += 1
      }
    }
    val md = md5Local.get()
    // rolling fp over word hashes
    var fp = 0L
    var w = 0
    while (w < nWords) {
      md.update(bytes, starts(w), lens(w))
      fp = (fp * 31L + h32(md) % FpMod) % FpMod
      w += 1
    }
    // winnowing min over 4-word shingles
    var winnow: Any = null
    if (nWords >= ShingleN) {
      var best = Long.MaxValue
      var k = 0
      while (k <= nWords - ShingleN) {
        var j = 0
        while (j < ShingleN) {
          if (j > 0) md.update(SpaceByte)
          md.update(bytes, starts(k + j), lens(k + j))
          j += 1
        }
        val h = h32(md)
        if (h < best) best = h
        k += 1
      }
      winnow = best
    }
    new GenericInternalRow(Array[Any](fp, winnow))
  }
}
