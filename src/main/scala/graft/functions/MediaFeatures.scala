package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass media feature kernels (SURVEY.md §2 H14/H15).
  *
  * [[ByteHistExpression]] — 16-bin byte histogram over an (ASCII) payload,
  * rendered as the comma-joined count string the feature column carries.
  * Replaces 16 `regexp_replace` passes (one per alphabet byte: codegen'd
  * but O(16·n) with regex machinery per pass) with ONE scan that bumps a
  * 16-slot array — the same single-pass-struct pattern as
  * [[TextStatsExpression]].
  *
  * [[FrameSampleExpression]] — every k-th payload byte (video frame-sample
  * analogue). Replaces the `transform(sequence(...))` higher-order form:
  * HOFs are CodegenFallback (interpreted per element) and materialize the
  * index array per row; this emits the sampled bytes in one strided copy.
  *
  * Both operate on BYTES of the UTF-8 payload; the media payloads are
  * ASCII ('a'..'p'), so byte and character positions coincide with the
  * DuckDB oracles' string semantics.
  */
object ByteHistExpression {
  val Lo: Byte = 'a'
  val Bins: Int = 16 // 'a'..'p'

  /** One pass: count bytes in 'a'..'p', render "c0,c1,...,c15". */
  def compute(s: UTF8String): UTF8String = {
    val n = s.numBytes
    val counts = new Array[Int](Bins)
    var i = 0
    while (i < n) {
      val b = s.getByte(i) - Lo
      if (b >= 0 && b < Bins) counts(b) += 1
      i += 1
    }
    val sb = new java.lang.StringBuilder(Bins * 5)
    var k = 0
    while (k < Bins) {
      if (k > 0) sb.append(',')
      sb.append(counts(k))
      k += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

object FrameSampleExpression {
  /** Bytes at 1-based positions 1, k+1, 2k+1, ... for floor(n/k) samples;
    * empty when the payload is shorter than k (identical to the prior
    * `transform(sequence(1, floor(n/k)), i -> substr((i-1)*k+1, 1))` form
    * and the DuckDB list_transform oracle).
    */
  def compute(s: UTF8String, k: Int): UTF8String = {
    val n = s.numBytes
    val m = n / k
    if (m == 0) return UTF8String.EMPTY_UTF8
    val out = new Array[Byte](m)
    var i = 0
    while (i < m) {
      out(i) = s.getByte(i * k)
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}
