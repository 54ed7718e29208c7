package graft.core

/** One spot channel: the sparse pairwise relations of one sub-task over
  * token indices, the reference "matrix spot" `(i, j, tag, score)`
  * (/root/reference/data/datasets/sibr.py:261-264,315-347,392-408 and
  * /root/reference/model/peneo_decoder.py:107-115). Each cell is one
  * [[Spots.cell]] long `(i<<40 | j<<20 | tag)` with `i <= j` and tag in
  * {0=none, 1=upper-tri, 2=flipped-lower-tri}, in iteration order.
  * `scores` is parallel to `cells`; null means the canonical score 1.0
  * that every ground-truth cell carries (torch.ones_like), so the engine
  * path allocates no score array.
  */
final class SpotChannel(val cells: Array[Long], val scores: Array[Double] = null) {
  require(scores == null || scores.length == cells.length, "scores not parallel to cells")

  @inline def score(k: Int): Double = if (scores == null) 1.0 else scores(k)

  /** The reference's read-back filter: tag != 0 and score >= thresh. */
  @inline def kept(k: Int, scoreThresh: Double): Boolean =
    (cells(k) & 3L) != 0L && score(k) >= scoreThresh

  override def toString: String = cells.indices
    .map(k => (Spots.iOf(cells(k)), Spots.jOf(cells(k)), cells(k) & 3L, score(k)))
    .mkString("SpotChannel(", ", ", ")")
}

object Spots {

  /** Pack one (i, j, tag) spot with its emission index in the channel:
    * (i:20 | j:20 | seq:18 | tag:2). Sorting these orders cells by (i, j)
    * and, within a cell, by emission — what [[canonicalizePackedRaw]]
    * needs for last-wins.
    */
  @inline def pack(i: Int, j: Int, seq: Int, tag: Int): Long = {
    require(i >= 0 && i <= j && j < (1 << 20) && seq >= 0 && seq < (1 << 18) &&
      tag >= 0 && tag <= 3, s"unpackable spot ($i,$j,$tag) at seq $seq")
    (i.toLong << 40) | (j.toLong << 20) | (seq.toLong << 2) | tag.toLong
  }

  /** A channel cell: the packed layout with no emission index. */
  def cell(i: Int, j: Int, tag: Int): Long = pack(i, j, 0, tag)

  @inline private[core] def iOf(c: Long): Int = (c >>> 40).toInt
  @inline private[core] def jOf(c: Long): Int = ((c >>> 20) & 0xFFFFFL).toInt

  /** Head and tail of a cell: triu mode reads tag 2 as the flipped pair. */
  @inline private[core] def headOf(c: Long, triuMode: Boolean): Int =
    if (triuMode && (c & 3L) == 2L) jOf(c) else iOf(c)
  @inline private[core] def tailOf(c: Long, triuMode: Boolean): Int =
    if (triuMode && (c & 3L) == 2L) iOf(c) else jOf(c)

  /** Emission-order (i, j, tag) tuples of a packed channel (spec/fixture
    * use; the hot path never unpacks).
    */
  def unpack(packed: Array[Long]): Vector[(Int, Int, Int)] =
    packed.iterator.map(l => (iOf(l), jOf(l), (l & 3L).toInt)).toVector

  /** Canonicalize a channel the way the reference's dense shaking-tag round
    * trip does (spots -> dense vector -> sparse spots):
    *  - conflicting writes to the same (i, j) cell resolve last-wins
    *    (/root/reference/model/peneo_decoder.py:68-73);
    *  - the sparse read-back iterates cells in row-major upper-triangle
    *    order, i.e. sorted by (i, j), and drops tag-0 cells
    *    (/root/reference/model/peneo_decoder.py:100-115);
    *  - ground-truth scores are all 1.0, so the result carries none.
    * Sorts a copy (the input stays in emission order) and never
    * materializes the dense L(L+1)/2 vector (SURVEY.md §2 C8).
    */
  def canonicalizePackedRaw(spots: Array[Long]): Array[Long] = {
    if (spots.isEmpty) return Array.emptyLongArray
    val arr = java.util.Arrays.copyOf(spots, spots.length)
    java.util.Arrays.sort(arr)
    val out = new Array[Long](arr.length)
    var m = 0
    var idx = 0
    while (idx < arr.length) {
      val cellKey = arr(idx) >>> 20
      var last = arr(idx)
      idx += 1
      while (idx < arr.length && (arr(idx) >>> 20) == cellKey) { last = arr(idx); idx += 1 }
      val tag = last & 3L
      if (tag != 0L) { out(m) = (cellKey << 20) | tag; m += 1 }
    }
    if (m == out.length) out else java.util.Arrays.copyOf(out, m)
  }

  /** `parse_matrix_spots(top_score_only=False)`:
    * insertion-ordered multimap head -> [tails]
    * (/root/reference/pipeline/decode.py:37-49). Python dict preserves
    * insertion order, which is semantically load-bearing downstream —
    * [[IntMultiOrdered]] keeps it without per-entry boxing.
    */
  def parseMulti(ch: SpotChannel, triuMode: Boolean, scoreThresh: Double = 0.0): IntMultiOrdered = {
    val c = ch.cells
    val m = new IntMultiOrdered(c.length)
    var k = 0
    while (k < c.length) {
      if (ch.kept(k, scoreThresh)) m.append(headOf(c(k), triuMode), tailOf(c(k), triuMode))
      k += 1
    }
    m
  }

  /** `parse_matrix_spots(top_score_only=True)`: per-head argmax by score,
    * then per-tail argmax over those — a mutual-best bipartite assignment
    * ("each element has only one input and only one output"). Ties resolve
    * first-encountered (strict `>` comparisons) in cell order; final map
    * iterates in reverse-map insertion order, and a later duplicate head
    * updates the value in its ORIGINAL position (python dict semantics)
    * (/root/reference/pipeline/decode.py:50-67). Both argmax maps hold the
    * winning cell's index, which carries its head, tail and score.
    */
  def parseTop(ch: SpotChannel, triuMode: Boolean, scoreThresh: Double = 0.0): IntIntOrdered = {
    val c = ch.cells
    val perHead = new IntIntOrdered(c.length)
    var k = 0
    while (k < c.length) {
      if (ch.kept(k, scoreThresh)) {
        val h = headOf(c(k), triuMode)
        val best = perHead.getOrMinus1(h)
        if (best < 0 || ch.score(k) > ch.score(best)) perHead.put(h, k)
      }
      k += 1
    }
    val perTail = new IntIntOrdered(perHead.size)
    perHead.foreachPair { (_, k) =>
      val t = tailOf(c(k), triuMode)
      val best = perTail.getOrMinus1(t)
      if (best < 0 || ch.score(k) > ch.score(best)) perTail.put(t, k)
    }
    val out = new IntIntOrdered(perTail.size)
    perTail.foreachPair((t, k) => out.put(headOf(c(k), triuMode), t))
    out
  }

  /** Ground-truth collapse: multi-map -> first tail per head, preserving
    * insertion order (/root/reference/pipeline/decode.py:191-200).
    */
  def collapseFirst(m: IntMultiOrdered): IntIntOrdered = {
    val out = new IntIntOrdered
    m.foreachKey(k => out.put(k, m.firstOrMinus1(k)))
    out
  }
}
