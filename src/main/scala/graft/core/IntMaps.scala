package graft.core

/** Insertion-ordered, open-addressing int-keyed maps for the per-document
  * kernel: decode's spot parses and chain maps, and [[DocBuilder]]'s id
  * bookkeeping. Python dicts (whose insertion-order semantics the decode
  * algebra inherits, see [[Spots]]) were ported in round 1 as
  * LinkedHashMap — key boxing plus an entry object per put measured ~40%
  * of the decode stage's allocation. These replace them with parallel
  * primitive arrays (score-ordered parses keep a winning cell's index as
  * the value, see [[Spots.parseTop]]):
  *
  *  - re-putting an existing key updates the value IN PLACE and keeps the
  *    original insertion position (LinkedHashMap / python dict semantics);
  *  - iteration follows first-insertion order;
  *  - lookups return a sentinel (-1) instead of Option — keys are token
  *    indices, always >= 0.
  *
  * Not general-purpose: keys must be >= 0, no removal.
  */
private[core] object IntMaps {
  @inline def mix(k: Int): Int = {
    val h = k * 0x9E3779B1
    h ^ (h >>> 16)
  }
}

/** int -> int, insertion-ordered. */
final class IntIntOrdered(initCap: Int = 8) {
  private var cap = Integer.highestOneBit(math.max(8, initCap * 2 - 1)) * 2
  private var slotKey = new Array[Int](cap)
  private var slotVal = new Array[Int](cap)
  private var order = new Array[Int](math.max(8, initCap))
  private var n = 0
  java.util.Arrays.fill(slotKey, -1)

  @inline private def slotOf(k: Int): Int = {
    var s = IntMaps.mix(k) & (cap - 1)
    while (slotKey(s) != -1 && slotKey(s) != k) s = (s + 1) & (cap - 1)
    s
  }

  private def grow(): Unit = {
    val oldKeys = slotKey
    val oldVals = slotVal
    cap *= 2
    slotKey = new Array[Int](cap)
    slotVal = new Array[Int](cap)
    java.util.Arrays.fill(slotKey, -1)
    var i = 0
    while (i < oldKeys.length) {
      val k = oldKeys(i)
      if (k != -1) { val s = slotOf(k); slotKey(s) = k; slotVal(s) = oldVals(i) }
      i += 1
    }
  }

  /** Insert or update; original insertion position preserved on update. */
  def put(k: Int, v: Int): Unit = {
    val s = slotOf(k)
    if (slotKey(s) == -1) {
      slotKey(s) = k; slotVal(s) = v
      if (n == order.length) order = java.util.Arrays.copyOf(order, n * 2)
      order(n) = k; n += 1
      if (n * 4 > cap * 3) grow()
    } else slotVal(s) = v
  }

  /** Value for k, or -1 when absent. */
  def getOrMinus1(k: Int): Int = {
    val s = slotOf(k)
    if (slotKey(s) == -1) -1 else slotVal(s)
  }

  def contains(k: Int): Boolean = slotKey(slotOf(k)) != -1
  def size: Int = n

  def foreachPair(f: (Int, Int) => Unit): Unit = {
    var i = 0
    while (i < n) { val k = order(i); f(k, slotVal(slotOf(k))); i += 1 }
  }

  def toVector: Vector[(Int, Int)] = {
    val b = Vector.newBuilder[(Int, Int)]
    foreachPair((k, v) => b += ((k, v)))
    b.result()
  }
}

/** int -> growable int list, insertion-ordered (multimap append). */
final class IntMultiOrdered(initCap: Int = 8) {
  private var cap = Integer.highestOneBit(math.max(8, initCap * 2 - 1)) * 2
  private var slotKey = new Array[Int](cap)
  private var slotList = new Array[Array[Int]](cap) // element 0 = length
  private var order = new Array[Int](math.max(8, initCap))
  private var n = 0
  java.util.Arrays.fill(slotKey, -1)

  @inline private def slotOf(k: Int): Int = {
    var s = IntMaps.mix(k) & (cap - 1)
    while (slotKey(s) != -1 && slotKey(s) != k) s = (s + 1) & (cap - 1)
    s
  }

  private def grow(): Unit = {
    val ok = slotKey; val ol = slotList
    cap *= 2
    slotKey = new Array[Int](cap); slotList = new Array[Array[Int]](cap)
    java.util.Arrays.fill(slotKey, -1)
    var i = 0
    while (i < ok.length) {
      val k = ok(i)
      if (k != -1) { val s = slotOf(k); slotKey(s) = k; slotList(s) = ol(i) }
      i += 1
    }
  }

  def append(k: Int, v: Int): Unit = {
    val s = slotOf(k)
    if (slotKey(s) == -1) {
      slotKey(s) = k
      val arr = new Array[Int](5)
      arr(0) = 1; arr(1) = v
      slotList(s) = arr
      if (n == order.length) order = java.util.Arrays.copyOf(order, n * 2)
      order(n) = k; n += 1
      if (n * 4 > cap * 3) grow()
    } else {
      var arr = slotList(s)
      val len = arr(0)
      if (len + 1 >= arr.length) { arr = java.util.Arrays.copyOf(arr, arr.length * 2); slotList(s) = arr }
      arr(len + 1) = v
      arr(0) = len + 1
    }
  }

  /** True iff key present and v among its values. */
  def containsValue(k: Int, v: Int): Boolean = {
    val s = slotOf(k)
    if (slotKey(s) == -1) false
    else {
      val arr = slotList(s)
      var i = 1
      var found = false
      while (!found && i <= arr(0)) { found = arr(i) == v; i += 1 }
      found
    }
  }

  /** First value for key, or -1 when absent. */
  def firstOrMinus1(k: Int): Int = {
    val s = slotOf(k)
    if (slotKey(s) == -1) -1 else slotList(s)(1)
  }

  def size: Int = n

  def foreachKey(f: Int => Unit): Unit = {
    var i = 0
    while (i < n) { f(order(i)); i += 1 }
  }

  def valuesOf(k: Int): Vector[Int] = {
    val s = slotOf(k)
    if (slotKey(s) == -1) Vector.empty
    else {
      val arr = slotList(s)
      val b = Vector.newBuilder[Int]
      var i = 1
      while (i <= arr(0)) { b += arr(i); i += 1 }
      b.result()
    }
  }

  def toVectorMulti: Vector[(Int, Vector[Int])] = {
    val b = Vector.newBuilder[(Int, Vector[Int])]
    foreachKey(k => b += ((k, valuesOf(k))))
    b.result()
  }
}
