package graft.core

/** Bounding-box geometry ops.
  *
  * Exact ports of the reference semantics:
  *  - boxTwoPointConvert: /root/reference/data/data_utils.py:7-28
  *  - normalizeBbox (int truncation + clip): /root/reference/data/data_utils.py:31-59
  *  - mergeBbox: /root/reference/data/data_utils.py:62-76
  *  - sortBoxes (reading-order banding): /root/reference/data/data_utils.py:79-119
  */
object Boxes {

  /** 8-value quad -> [min x, min y, max x, max y]; 4-value passes through. */
  def boxTwoPointConvert(box: Seq[Int]): Vector[Int] = {
    if (box.length == 4) return box.toVector
    require(box.length == 8, s"Box should contain 4 or 8 values, got ${box.length}")
    var minX, minY = Int.MaxValue
    var maxX, maxY = Int.MinValue
    var i = 0
    while (i < 8) {
      val v = box(i)
      if (i % 2 == 0) { if (v < minX) minX = v; if (v > maxX) maxX = v }
      else { if (v < minY) minY = v; if (v > maxY) maxY = v }
      i += 1
    }
    Vector(minX, minY, maxX, maxY)
  }

  @inline private def normCoord(v: Int, d: Int): Int = {
    val t = ((v.toDouble / d) * 1000).toInt // Python int() truncation
    math.min(math.max(t, 0), 1000)
  }

  /** Scale to [0,1000] with Python `int()` truncation-toward-zero, then clip. */
  def normalizeBbox(box: Seq[Int], width: Int, height: Int): Vector[Int] = {
    val p = normalizeBboxPacked(box(0), box(1), box(2), box(3), width, height)
    Vector(((p >>> 48) & 0xFFFF).toInt, ((p >>> 32) & 0xFFFF).toInt,
      ((p >>> 16) & 0xFFFF).toInt, (p & 0xFFFF).toInt)
  }

  /** [[normalizeBbox]] without the Vector: coords are clipped to [0,1000]
    * so the four fit 16 bits each — (x0<<48)|(y0<<32)|(x1<<16)|y1. The
    * build hot path unpacks straight into its flat int arrays.
    */
  def normalizeBboxPacked(bx0: Int, by0: Int, bx1: Int, by1: Int,
      width: Int, height: Int): Long = {
    val x0 = normCoord(bx0, width)
    val y0 = normCoord(by0, height)
    val x1 = normCoord(bx1, width)
    val y1 = normCoord(by1, height)
    require(x1 >= x0 && y1 >= y0, s"degenerate normalized box ($x0,$y0,$x1,$y1)")
    (x0.toLong << 48) | (y0.toLong << 32) | (x1.toLong << 16) | y1.toLong
  }

  /** Component-wise min/min/max/max over a non-empty box list. */
  def mergeBbox(boxes: Seq[Seq[Int]]): Vector[Int] = {
    var minX, minY = Int.MaxValue
    var maxX, maxY = Int.MinValue
    boxes.foreach { b =>
      if (b(0) < minX) minX = b(0)
      if (b(1) < minY) minY = b(1)
      if (b(2) > maxX) maxX = b(2)
      if (b(3) > maxY) maxY = b(3)
    }
    Vector(minX, minY, maxX, maxY)
  }

  /** Reading-order sort returning the permutation of input indices.
    *
    * Algorithm (data_utils.py:79-119): sort by center-y (stable argsort); a
    * new visual band starts when the gap between consecutive sorted center-y
    * values is >= m_h, where m_h = sum(heights) / (2N); within each band,
    * re-sort by center-x (stable argsort). numpy's default argsort is
    * unstable on ties; the corpus synthesizer guarantees distinct centers so
    * a stable sort is observationally identical.
    */
  def sortBoxes(boxes: scala.collection.IndexedSeq[Seq[Int]]): Vector[Int] = {
    val n = boxes.length
    if (n == 0) return Vector.empty
    // doubled centers as exact ints: sorting by b0+b2 == sorting by the
    // center-x double (monotone, exact), and (cy2a - cy2b)/2.0 == the
    // reference's py gap (int/2.0 arithmetic is exact) — so the packed-long
    // argsorts below reproduce the double-keyed stable sortBy bit-for-bit
    // without its boxed-Integer/Ordering churn
    val cx2 = new Array[Int](n)
    val cy2 = new Array[Int](n)
    var hSum = 0.0
    var i = 0
    while (i < n) {
      val b = boxes(i)
      cx2(i) = b(0) + b(2)
      cy2(i) = b(1) + b(3)
      hSum += (b(3) - b(1))
      i += 1
    }
    val mH = hSum / (2.0 * n)
    // argsort by center-y: (key << 32) | index; the index low bits make the
    // unstable primitive sort order ties by position == a stable sort
    val keys = new Array[Long](n)
    i = 0
    while (i < n) { keys(i) = (cy2(i).toLong << 32) | i.toLong; i += 1 }
    java.util.Arrays.sort(keys)
    val sortY = new Array[Int](n)
    i = 0
    while (i < n) { sortY(i) = keys(i).toInt; i += 1 }
    // bands are maximal y-sorted runs with consecutive center-y gaps < m_h;
    // within each, stable re-sort by center-x (position low bits again —
    // ties keep the y-sorted order, as the reference's stable argsort did)
    val res = new Array[Int](n)
    var start = 0
    while (start < n) {
      var end = start + 1
      while (end < n && (cy2(sortY(end)) - cy2(sortY(end - 1))) / 2.0 < mH) end += 1
      if (end - start == 1) res(start) = sortY(start)
      else {
        var k = start
        while (k < end) { keys(k) = (cx2(sortY(k)).toLong << 32) | k.toLong; k += 1 }
        java.util.Arrays.sort(keys, start, end)
        k = start
        while (k < end) { res(k) = sortY(keys(k).toInt); k += 1 }
      }
      start = end
    }
    res.toVector
  }
}
