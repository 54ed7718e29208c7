package graft.core

/** One decoded key-value pair (/root/reference/pipeline/decode.py:360-368). */
final case class KvPair(
    key: String,
    value: String,
    keyBox: Vector[Int],
    valueBox: Vector[Int]
)

/** One decoded line (/root/reference/pipeline/decode.py:205-212). */
final case class DecodedLine(text: String, box: Vector[Int])

/** The full per-document decode result: the 7-tuple returned by
  * `sample_decode_peneo` (/root/reference/pipeline/decode.py:370-378), with
  * maps materialized as insertion-ordered pair vectors (Python dicts are
  * insertion-ordered; the order is observable in the metrics and goldens).
  */
final case class DecodedDoc(
    kvPairs: Vector[KvPair],
    lines: Vector[DecodedLine],
    lineExtraction: Vector[(Int, Int)],
    entHead: Vector[(Int, Vector[Int])],
    entTail: Vector[(Int, Vector[Int])],
    groupHead: Vector[(Int, Int)],
    groupTail: Vector[(Int, Int)]
) {
  /** Byte-identity target: the extracted main-content text of the page —
    * decoded lines joined by a single '\n'. Per-url invariant vs goldens.
    */
  def extractedText: String = {
    val sb = new java.lang.StringBuilder
    var first = true
    lines.foreach { l =>
      if (!first) sb.append('\n')
      sb.append(l.text)
      first = false
    }
    sb.toString
  }
}

/** Exact port of the decode algebra in
  * /root/reference/pipeline/decode.py:72-378 (`sample_decode_peneo`): spots
  * -> head/tail memory maps -> chain-following -> validated KV pairs. Pure
  * and Spark-free; shared verbatim between the distributed engine kernel and
  * the golden oracle.
  */
object Decode {

  /** Token content + per-token box view the decode kernel reads — backed
    * either by materialized per-token Vectors (golden/spec path) or by the
    * compact offset arrays [[DocSample]] stores (engine path: token text
    * appends as (CharSequence, start, end) regions of the kept line
    * strings, so no per-token String ever materializes). Both backends are
    * exercised end-to-end by the decodeSampleFast == decodeSample parity
    * gates.
    */
  sealed trait TokView {
    /** Appends the text of tokens s..eIncl. */
    def appendSlice(sb: java.lang.StringBuilder, s: Int, eIncl: Int): Unit
    /** Widens `box` (min x, min y, max x, max y) over tokens s..eIncl. */
    def coverSlice(box: Array[Int], s: Int, eIncl: Int): Unit
  }

  @inline private def cover(box: Array[Int], l: Int, t: Int, r: Int, b: Int): Unit = {
    if (l < box(0)) box(0) = l
    if (t < box(1)) box(1) = t
    if (r > box(2)) box(2) = r
    if (b > box(3)) box(3) = b
  }

  final class SeqTokView(text: IndexedSeq[String], bbox: IndexedSeq[Vector[Int]])
      extends TokView {
    def appendSlice(sb: java.lang.StringBuilder, s: Int, eIncl: Int): Unit = {
      var k = s
      while (k <= eIncl) { sb.append(text(k)); k += 1 }
    }
    def coverSlice(box: Array[Int], s: Int, eIncl: Int): Unit = {
      var k = s
      while (k <= eIncl) {
        val b = bbox(k)
        cover(box, b(0), b(1), b(2), b(3))
        k += 1
      }
    }
  }

  /** @param lineTexts kept-line text buffer; @param sLineText per-sorted-line
    * index into it; @param boxO flat 4-per-sorted-line original boxes;
    * @param tokSLine/@param tokStart/@param tokEnd per-token (sorted line,
    * char range) triple. A line's tokens are consecutive and partition its
    * text, so a slice takes one region append and one box per line.
    */
  final class CompactTokView(
      lineTexts: Array[String], sLineText: Array[Int], boxO: Array[Int],
      tokSLine: Array[Int], tokStart: Array[Int], tokEnd: Array[Int]
  ) extends TokView {
    /** Last token of the line run starting at token k, capped at eIncl. */
    @inline private def runEnd(k: Int, eIncl: Int): Int = {
      var e = k
      while (e < eIncl && tokSLine(e + 1) == tokSLine(k)) e += 1
      e
    }
    def appendSlice(sb: java.lang.StringBuilder, s: Int, eIncl: Int): Unit = {
      var k = s
      while (k <= eIncl) {
        val e = runEnd(k, eIncl)
        sb.append(lineTexts(sLineText(tokSLine(k))), tokStart(k), tokEnd(e))
        k = e + 1
      }
    }
    def coverSlice(box: Array[Int], s: Int, eIncl: Int): Unit = {
      var k = s
      while (k <= eIncl) {
        val o = tokSLine(k) * 4
        cover(box, boxO(o), boxO(o + 1), boxO(o + 2), boxO(o + 3))
        k = runEnd(k, eIncl) + 1
      }
    }
  }

  /** @param text      token-parallel fetched substrings; `"".join` slices of
    *                  it reconstruct source text byte-identically
    * @param bbox      token-parallel boxes (orig_bbox in the reference)
    * @param decodeGt  ground-truth mode: multimap-collapse instead of
    *                  mutual-best top-score assignment
    */
  def decode(
      text: IndexedSeq[String],
      lineExtractionSpots: Seq[Spot],
      entHeadSpots: Seq[Spot],
      entTailSpots: Seq[Spot],
      groupHeadSpots: Seq[Spot],
      groupTailSpots: Seq[Spot],
      bbox: IndexedSeq[Vector[Int]],
      decodeGt: Boolean = false,
      scoreThresh: Double = 0.0
  ): DecodedDoc = {

    // --- parse the three per-line channels (decode.py:170-200) ---
    val lineExtraction: IntIntOrdered =
      if (decodeGt) Spots.collapseFirst(Spots.parseMulti(lineExtractionSpots, triuMode = false, scoreThresh))
      else Spots.parseTop(lineExtractionSpots, triuMode = false, scoreThresh)
    val groupTail: IntIntOrdered =
      if (decodeGt) Spots.collapseFirst(Spots.parseMulti(groupTailSpots, triuMode = true, scoreThresh))
      else Spots.parseTop(groupTailSpots, triuMode = true, scoreThresh)
    val groupHead: IntIntOrdered =
      if (decodeGt) Spots.collapseFirst(Spots.parseMulti(groupHeadSpots, triuMode = true, scoreThresh))
      else Spots.parseTop(groupHeadSpots, triuMode = true, scoreThresh)
    val entTail = Spots.parseMulti(entTailSpots, triuMode = true, scoreThresh)

    decodeCore(new SeqTokView(text, bbox), lineExtraction, groupTail, groupHead, entTail,
      emit => entHeadSpots.foreach { sp =>
        if (sp.tag != 0 && sp.score >= scoreThresh) {
          if (sp.tag == 2) emit(sp.j, sp.i) else emit(sp.i, sp.j)
        }
      })
  }

  /** Fast path over CANONICAL packed channels ([[Spots.canonicalizePackedRaw]]
    * output: sorted unique cells, implicit score 1.0) — byte-identical to
    * `decode` over `Spots.canonicalize`'s Vector[Spot] but with no Spot
    * materialization. The engine runs THIS; the golden oracle path keeps
    * the Vector form, so the x1/x2 golden compares double as a standing
    * two-path parity gate (plus the CoreSpec equivalence property).
    */
  def decodeCanonical(
      view: TokView,
      lineExtractionC: Array[Long],
      entHeadC: Array[Long],
      entTailC: Array[Long],
      groupHeadC: Array[Long],
      groupTailC: Array[Long],
      decodeGt: Boolean = false
  ): DecodedDoc = {
    @inline def iAt(l: Long): Int = (l >>> 40).toInt
    @inline def jAt(l: Long): Int = ((l >>> 20) & 0xFFFFFL).toInt
    // replicas of parseTop/parseMulti over the packed cells (same iteration
    // order as the Vector[Spot] form; canonical scores are all 1.0, so
    // putIfBetter degenerates to first-write-wins == putIfAbsent — no
    // Double score arrays on this path — and the decodeSample scoreThresh
    // is 0, so every cell passes). Maps are capacity-hinted to the channel
    // length: the default-capacity growth chain re-allocated each map's
    // arrays ~2x over on every decode (measured ~1/3 of decode allocation).
    def top(c: Array[Long], triu: Boolean): IntIntOrdered = {
      val perHead = new IntIntOrdered(c.length)
      var k = 0
      while (k < c.length) {
        val l = c(k)
        val swap = triu && (l & 3L) == 2L
        perHead.putIfAbsent(if (swap) jAt(l) else iAt(l),
          if (swap) iAt(l) else jAt(l))
        k += 1
      }
      val perTail = new IntIntOrdered(perHead.size)
      perHead.foreachPair((h, t) => perTail.putIfAbsent(t, h))
      val out = new IntIntOrdered(perTail.size)
      perTail.foreachPair((t, h) => out.put(h, t))
      out
    }
    def multi(c: Array[Long], triu: Boolean): IntMultiOrdered = {
      val m = new IntMultiOrdered(c.length)
      var k = 0
      while (k < c.length) {
        val l = c(k)
        val swap = triu && (l & 3L) == 2L
        m.append(if (swap) jAt(l) else iAt(l), if (swap) iAt(l) else jAt(l))
        k += 1
      }
      m
    }
    val lineExtraction =
      if (decodeGt) Spots.collapseFirst(multi(lineExtractionC, triu = false))
      else top(lineExtractionC, triu = false)
    val groupTail =
      if (decodeGt) Spots.collapseFirst(multi(groupTailC, triu = true))
      else top(groupTailC, triu = true)
    val groupHead =
      if (decodeGt) Spots.collapseFirst(multi(groupHeadC, triu = true))
      else top(groupHeadC, triu = true)
    val entTail = multi(entTailC, triu = true)

    decodeCore(view, lineExtraction, groupTail, groupHead, entTail,
      emit => {
        var k = 0
        while (k < entHeadC.length) {
          val l = entHeadC(k)
          if ((l & 3L) == 2L) emit(jAt(l), iAt(l)) else emit(iAt(l), jAt(l))
          k += 1
        }
      })
  }

  /** Shared decode body: channel maps in, DecodedDoc out. `entHeadIter`
    * abstracts the ent-head channel iteration as (keyHead, valueHead)
    * emissions so both the Spot and the packed forms drive one kernel.
    */
  private def decodeCore(
      view: TokView,
      lineExtraction: IntIntOrdered,
      groupTail: IntIntOrdered,
      groupHead: IntIntOrdered,
      entTail: IntMultiOrdered,
      entHeadIter: ((Int, Int) => Unit) => Unit
  ): DecodedDoc = {
    @inline def sliceText(s: Int, eIncl: Int): String = {
      val sb = new java.lang.StringBuilder
      view.appendSlice(sb, s, eIncl)
      sb.toString
    }
    @inline def sliceBox(s: Int, eIncl: Int): Vector[Int] = {
      val box = Array(Int.MaxValue, Int.MaxValue, Int.MinValue, Int.MinValue)
      view.coverSlice(box, s, eIncl)
      Vector(box(0), box(1), box(2), box(3))
    }

    // --- line assembly (decode.py:205-212) ---
    val lines = Vector.newBuilder[DecodedLine]
    lineExtraction.foreachPair { (s, e) =>
      lines += DecodedLine(sliceText(s, e), sliceBox(s, e))
    }

    // one chain walk (identical for key and value, decode.py:248-350):
    // follow grouping_head; accept a step only if line-extraction's tail for
    // the next head equals grouping_tail's tail for the current tail.
    // Absent keys are the -1 sentinel (token indices are >= 0).
    //
    // The reference appends per-segment text slices / merged boxes to lists
    // and finishes with "".join + merge_bbox; both folds are associative, so
    // the walk accumulates ONE text builder and ONE running min/max box —
    // byte-identical output, none of the per-segment String/Vector wrappers
    // on this hot path.
    final class Walk(headIdx: Int, firstTailIdx: Int) {
      val sb = new java.lang.StringBuilder
      val bounds: Array[Int] = Array(Int.MaxValue, Int.MaxValue, Int.MinValue, Int.MinValue)
      var currHead: Int = headIdx
      var currTail: Int = firstTailIdx
      def addSegment(s: Int, eIncl: Int): Unit = {
        view.appendSlice(sb, s, eIncl)
        view.coverSlice(bounds, s, eIncl)
      }
      def box: Vector[Int] = Vector(bounds(0), bounds(1), bounds(2), bounds(3))
    }
    def walkChain(headIdx: Int, firstTailIdx: Int): Walk = {
      val w = new Walk(headIdx, firstTailIdx)
      w.addSegment(headIdx, firstTailIdx)
      var nextHead = groupHead.getOrMinus1(w.currHead)
      var numOp = 0
      var continue = true
      while (continue && nextHead != -1) {
        numOp += 1
        if (numOp > 1000) continue = false // loop guard (decode.py:259-261)
        else if (nextHead == w.currHead) continue = false // self-loop (decode.py:263-264)
        else {
          val leTail = lineExtraction.getOrMinus1(nextHead)
          if (leTail == -1) continue = false // next head not an extracted line
          else if (groupTail.getOrMinus1(w.currTail) != leTail) {
            continue = false // sub-task cross-validation failed (decode.py:274-276)
          } else {
            w.addSegment(nextHead, leTail)
            w.currHead = nextHead
            w.currTail = leTail
            nextHead = groupHead.getOrMinus1(w.currHead)
          }
        }
      }
      w
    }

    // --- entity-linking heads drive KV emission (decode.py:223-368) ---
    val entHead = new IntMultiOrdered
    val kvPairs = Vector.newBuilder[KvPair]
    entHeadIter { (keyHead, valueHead) =>
      entHead.append(keyHead, valueHead)

      val keyFirstTail = lineExtraction.getOrMinus1(keyHead)
      val valueFirstTail = lineExtraction.getOrMinus1(valueHead)
      if (keyFirstTail != -1 && valueFirstTail != -1) {
        val kw = walkChain(keyHead, keyFirstTail)
        val vw = walkChain(valueHead, valueFirstTail)
        // validation: value chain tail must be a registered ent-tail of
        // the key chain tail (decode.py:352-359)
        if (entTail.containsValue(kw.currTail, vw.currTail)) {
          kvPairs += KvPair(
            key = TextNorm.pyStrip(kw.sb.toString),
            value = TextNorm.pyStrip(vw.sb.toString),
            keyBox = kw.box,
            valueBox = vw.box
          )
        }
      } // else: head not in line-extraction map: skip (decode.py:236-243)
    }

    DecodedDoc(
      kvPairs = kvPairs.result(),
      lines = lines.result(),
      lineExtraction = lineExtraction.toVector,
      entHead = entHead.toVectorMulti,
      entTail = entTail.toVectorMulti,
      groupHead = groupHead.toVector,
      groupTail = groupTail.toVector
    )
  }
}
