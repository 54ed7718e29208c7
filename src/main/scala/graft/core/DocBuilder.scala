package graft.core

import scala.collection.mutable

/** The token-parallel document sample: the output of the pre-processing +
  * label-generation stages (B/C blocks of SURVEY.md §2), mirroring the dict
  * returned by /root/reference/data/datasets/sibr.py:447-460.
  *
  * Storage is COMPACT: tokens are (line, start, end) offset triples into the
  * kept line-text buffer (the fetcher-identity contract makes tokens
  * contiguous slices of their line — see [[Tokenizer.tokenizeEnds]]), and
  * boxes are flat 4-int-per-sorted-line arrays shared by all of a line's
  * tokens — per-token Strings and box Vectors (~10 KB/doc at the corpus
  * token mix) never materialize on the engine path, which reads these
  * arrays through [[Decode.CompactTokView]]. The lazy `tokens` / `bbox` /
  * `origBbox` vals materialize the reference's per-token view for specs,
  * fixtures, and the golden oracle path — whose decodeSample ==
  * decodeSampleFast parity gates pin both representations to the same
  * output.
  *
  * Token-parallel invariant: tokSLine.length == tokStart.length ==
  * tokEnd.length. Spot channels carry [[Spots.pack]]ed (i, j, seq, tag)
  * longs in emission order; canonicalization (dense round-trip order,
  * score 1.0) happens at decode time and [[Spots.unpack]] recovers the
  * tuple view for specs/fixtures.
  */
final class DocSample(
    val uid: String,
    private[core] val lineTextArr: Array[String],
    private[core] val sLineText: Array[Int],
    private[core] val sLineBoxN: Array[Int],
    private[core] val sLineBoxO: Array[Int],
    private[core] val tokSLine: Array[Int],
    private[core] val tokStart: Array[Int],
    private[core] val tokEnd: Array[Int],
    relationsOf: => Vector[(String, String)],
    val lineExtractionSpots: Array[Long],
    val entHeadSpots: Array[Long],
    val entTailSpots: Array[Long],
    val groupHeadSpots: Array[Long],
    val groupTailSpots: Array[Long]
) {
  def nTokens: Int = tokSLine.length

  /** Auxiliary gt relations (sibr.py:410-425) — entity-text pairs. Only
    * specs and fixtures read these: the builder computes them on first
    * read, so the engine path never walks them.
    */
  lazy val relations: Vector[(String, String)] = relationsOf

  lazy val tokens: Vector[String] = {
    val b = Vector.newBuilder[String]
    var k = 0
    while (k < nTokens) {
      b += lineTextArr(sLineText(tokSLine(k))).substring(tokStart(k), tokEnd(k))
      k += 1
    }
    b.result()
  }

  lazy val bbox: Vector[Vector[Int]] = boxView(sLineBoxN)
  lazy val origBbox: Vector[Vector[Int]] = boxView(sLineBoxO)

  private def boxView(flat: Array[Int]): Vector[Vector[Int]] = {
    // one Vector per line, shared by its tokens — the shape the old
    // materialized form had
    val perLine = new Array[Vector[Int]](sLineText.length)
    var i = 0
    while (i < perLine.length) {
      perLine(i) = Vector(flat(4 * i), flat(4 * i + 1), flat(4 * i + 2), flat(4 * i + 3))
      i += 1
    }
    val b = Vector.newBuilder[Vector[Int]]
    var k = 0
    while (k < nTokens) { b += perLine(tokSLine(k)); k += 1 }
    b.result()
  }
}

/** Exact port of the dataset pre-processing pipeline
  * (/root/reference/data/datasets/sibr.py:90-460): tokenize + fetch,
  * empty-line/empty-entity filtering, reading-order sort, truncation with the
  * dataset-side `>=` rule (sibr.py:232-235; the inference-side `>` variant is
  * intentionally NOT used, see SURVEY.md §7.5), in-scope bookkeeping, and the
  * generation of the five spot channels (C1-C3).
  *
  * Known reference quirks preserved exactly (SURVEY.md §7.5):
  *  - `empty_entity` is only populated while the *global* kept-line list is
  *    empty (sibr.py:184-186);
  *  - `entity_last_line_map` records the last *globally kept* line at the
  *    time the entity closes (sibr.py:188-192);
  *  - the line that trips the truncation check is present in
  *    `line_orig_to_sorted_map` but carries no token offsets.
  */
object DocBuilder {

  final val DefaultMaxTokenLen = 511

  private final class LineInfo(
      val coords: Vector[Int],
      val text: String,
      val ends: Array[Int], // token END offsets into text (Tokenizer.tokenizeEnds)
      val textIdx: Int,     // index of text in the kept line-text buffer
      val category: String,
      val origEntityId: Int,
      val origLineId: Int
  ) {
    // -1 = unset (the reference's None); plain ints keep the hot path free
    // of Some() allocations — the trace re-wraps them as Options
    var sortedStartToken: Int = -1
    var sortedEndToken: Int = -1
    /** Materialized token list — trace/spec path only. */
    def tokens: Vector[String] = {
      val b = Vector.newBuilder[String]
      var k = 0
      while (k < ends.length) {
        b += text.substring(if (k == 0) 0 else ends(k - 1), ends(k))
        k += 1
      }
      b.result()
    }
  }

  /** One sorted line's bookkeeping, exposed for the executed-reference
    * comparison (sibr.py's LineInfo dataclass fields the loop mutates).
    */
  final case class TraceLine(origLineId: Int, origEntityId: Int, category: String,
      tokens: Vector[String], coords: Vector[Int],
      start: Option[Int], end: Option[Int])

  /** The builder's internal bookkeeping — exclusion sets, entity maps,
    * orig->sorted map, token offsets — surfaced so RefVectorSpec can pin
    * them against the EXECUTED reference loop (sibr.py:105-263), not just
    * against the observable DocSample.
    */
  final case class BuildTrace(
      emptyLine: Set[Int],
      emptyEntity: Set[Int],
      entityFirstLine: Map[Int, Int],
      entityLastLine: Map[Int, Int],
      entityText: Map[Int, String],
      inScopeEntityId: Set[Int],
      inScopeLineId: Set[Int],
      lineOrigToSorted: Map[Int, Int],
      sortedLines: Vector[TraceLine]
  )

  /** Normalize a raw annotation line text exactly as the engine does before
    * tokenization: ordered replacement table + full-width folding
    * (/root/reference/data/datasets/rfund.py:95-109 applied dataset-side).
    */
  def normalizeLineText(raw: String): String = TextNorm.specialReplace(raw)

  def build(doc: AnnDoc, maxTokenLen: Int = DefaultMaxTokenLen): DocSample =
    buildImpl(doc, maxTokenLen, wantTrace = false)._1

  def buildWithTrace(doc: AnnDoc,
      maxTokenLen: Int = DefaultMaxTokenLen): (DocSample, BuildTrace) = {
    val (sample, trace) = buildImpl(doc, maxTokenLen, wantTrace = true)
    (sample, trace.get)
  }

  /** wantTrace=false keeps the hot extraction path allocation-free: the
    * trace copies every internal set/map, which only the executed-reference
    * spec needs.
    */
  /** Growable packed-long spot channel; seq = emission index within the
    * channel (exactly the k canonicalize's tuple path would assign).
    */
  private final class SpotsBuilder {
    private val b = new mutable.ArrayBuilder.ofLong
    private var n = 0
    def add(i: Int, j: Int, tag: Int): Unit = { b.addOne(Spots.pack(i, j, n, tag)); n += 1 }
    def result(): Array[Long] = b.result()
  }

  private def buildImpl(doc: AnnDoc, maxTokenLen: Int,
      wantTrace: Boolean): (DocSample, Option[BuildTrace]) = {
    // capacity hints: the default-capacity growth chain re-allocated every
    // map's arrays ~2x over per document (geometric churn); line/entity
    // counts are known up front from the annotation
    val nEnt = doc.entities.length
    var nLines = 0
    doc.entities.foreach(e => nLines += e.lines.length)
    val allOrigLines = new mutable.ArrayBuffer[LineInfo](math.max(8, nLines))
    val allOrigBoxes = new mutable.ArrayBuffer[Vector[Int]](math.max(8, nLines))
    // open-addressing primitive maps (value 1 = set membership): the boxed
    // HashMap/HashSet versions cost an entry object + boxed key per put on
    // the per-doc hot path (-1 is the maps' empty sentinel, hence the
    // nonnegative-id requirement — the reference's ids are list indices)
    val emptyLine = new IntIntOrdered(nLines)
    val emptyEntity = new IntIntOrdered(nEnt)
    // entity text is a SLICE of the global kept-line text buffer, built
    // lazily: eagerly mkString-ing every entity cost ~6 KB/doc and only
    // relation endpoints (and the trace) ever read the text
    val lineTexts = new mutable.ArrayBuffer[String](math.max(8, nLines))
    val entityTextStart = new IntIntOrdered(nEnt)
    val entityTextEnd = new IntIntOrdered(nEnt)
    def entityTextOf(id: Int): String = {
      val st = entityTextStart.getOrMinus1(id)
      val en = entityTextEnd.getOrMinus1(id)
      if (st < 0) ""
      else {
        val sb = new java.lang.StringBuilder
        var k = st
        while (k < en) { sb.append(lineTexts(k)); k += 1 }
        sb.toString
      }
    }
    val entityFirstLine = new IntIntOrdered(nEnt)
    val entityLastLine = new IntIntOrdered(nEnt)
    val lineIdToEntityId = new IntIntOrdered(nLines)

    doc.entities.foreach { entity =>
      var firstLineFlag = true
      val entityTextStartIdx = lineTexts.length
      require(entity.id >= 0, s"negative entity id ${entity.id}")
      entity.lines.foreach { line =>
        require(line.id >= 0, s"negative line id ${line.id}")
        val lineText = normalizeLineText(line.text)
        // offset tokenization: per-token Strings never materialize on the
        // hot path (tokens are contiguous slices — Tokenizer.tokenizeEnds)
        val ends = Tokenizer.tokenizeEnds(lineText)
        if (ends.isEmpty) {
          emptyLine.put(line.id, 1)
        } else {
          val tIdx = lineTexts.length
          lineTexts += lineText
          val b = Boxes.boxTwoPointConvert(line.bbox)
          allOrigLines += new LineInfo(b, lineText, ends, tIdx, entity.label, entity.id, line.id)
          allOrigBoxes += b
          if (firstLineFlag) entityFirstLine.put(entity.id, line.id)
          firstLineFlag = false
          lineIdToEntityId.put(line.id, entity.id)
        }
      }
      if (allOrigLines.isEmpty) {
        emptyEntity.put(entity.id, 1)
      } else {
        entityLastLine.put(entity.id, allOrigLines.last.origLineId)
        // reference quirk preserved: ANY entity closing after the first
        // globally-kept line records its text — possibly the empty slice
        entityTextStart.put(entity.id, entityTextStartIdx)
        entityTextEnd.put(entity.id, lineTexts.length)
      }
    }

    val sortedIdx = Boxes.sortBoxes(allOrigBoxes)
    val sortedLines: Vector[LineInfo] = sortedIdx.map(allOrigLines(_))

    // compact sample storage: per-sorted-line (textIdx, norm box, orig box)
    // + per-token (sorted line, char range) — no per-token objects. The
    // builders take addOne, not +=: Growable's += is generic and boxes
    val sLineTextB = new mutable.ArrayBuilder.ofInt
    val sLineBoxNB = new mutable.ArrayBuilder.ofInt
    val sLineBoxOB = new mutable.ArrayBuilder.ofInt
    val tokSLineB = new mutable.ArrayBuilder.ofInt
    val tokStartB = new mutable.ArrayBuilder.ofInt
    val tokEndB = new mutable.ArrayBuilder.ofInt
    var nSLines = 0
    val lineExtractionSpots = new SpotsBuilder
    val entHeadSpots = new SpotsBuilder
    val entTailSpots = new SpotsBuilder
    val groupHeadSpots = new SpotsBuilder
    val groupTailSpots = new SpotsBuilder

    var currTokenIdx = 0
    val lineOrigToSorted = new IntIntOrdered(nLines)
    val inScopeEntityId = new IntIntOrdered(nEnt)
    val inScopeLineId = new IntIntOrdered(nLines)

    var sortedLineIdx = 0
    var truncated = false
    while (sortedLineIdx < sortedLines.length && !truncated) {
      val ln = sortedLines(sortedLineIdx)
      lineOrigToSorted.put(ln.origLineId, sortedLineIdx)
      val lineTokenLen = ln.ends.length
      if (currTokenIdx + lineTokenLen >= maxTokenLen) {
        truncated = true // dataset-side `>=` rule (sibr.py:233)
      } else {
        inScopeEntityId.put(ln.origEntityId, 1)
        inScopeLineId.put(ln.origLineId, 1)
        val c = ln.coords
        val norm = Boxes.normalizeBboxPacked(c(0), c(1), c(2), c(3),
          doc.width, doc.height)
        val sIdx = nSLines
        sLineTextB.addOne(ln.textIdx)
        sLineBoxNB.addOne(((norm >>> 48) & 0xFFFF).toInt)
        sLineBoxNB.addOne(((norm >>> 32) & 0xFFFF).toInt)
        sLineBoxNB.addOne(((norm >>> 16) & 0xFFFF).toInt)
        sLineBoxNB.addOne((norm & 0xFFFF).toInt)
        sLineBoxOB.addOne(ln.coords(0)); sLineBoxOB.addOne(ln.coords(1))
        sLineBoxOB.addOne(ln.coords(2)); sLineBoxOB.addOne(ln.coords(3))
        nSLines += 1
        var k = 0
        while (k < lineTokenLen) {
          tokSLineB.addOne(sIdx)
          tokStartB.addOne(if (k == 0) 0 else ln.ends(k - 1))
          tokEndB.addOne(ln.ends(k))
          k += 1
        }
        val start = currTokenIdx
        ln.sortedStartToken = start
        currTokenIdx += lineTokenLen
        ln.sortedEndToken = currTokenIdx
        if (ln.category == AnnLabels.Question || ln.category == AnnLabels.Answer) {
          lineExtractionSpots.add(start, currTokenIdx - 1, 1)
        }
        sortedLineIdx += 1
      }
    }

    // --- C2: entity-linking spots (sibr.py:266-347) ---
    doc.kvEntity.foreach { rel =>
      val qId = rel.fromId
      val aId = rel.toId
      val skip =
        emptyEntity.contains(qId) || emptyEntity.contains(aId) ||
          !inScopeEntityId.contains(qId) || !inScopeEntityId.contains(aId)
      if (!skip) {
        val qFirst = entityFirstLine.getOrMinus1(qId)
        val aFirst = entityFirstLine.getOrMinus1(aId)
        val qLast = entityLastLine.getOrMinus1(qId)
        val aLast = entityLastLine.getOrMinus1(aId)
        val linesInScope =
          inScopeLineId.contains(qFirst) && inScopeLineId.contains(qLast) &&
            inScopeLineId.contains(aFirst) && inScopeLineId.contains(aLast)
        if (linesInScope) {
          val qFirstStart = sortedLines(lineOrigToSorted.getOrMinus1(qFirst)).sortedStartToken
          val aFirstStart = sortedLines(lineOrigToSorted.getOrMinus1(aFirst)).sortedStartToken
          val qLastEnd = sortedLines(lineOrigToSorted.getOrMinus1(qLast)).sortedEndToken
          val aLastEnd = sortedLines(lineOrigToSorted.getOrMinus1(aLast)).sortedEndToken
          if (qFirstStart < aFirstStart)
            entHeadSpots.add(qFirstStart, aFirstStart, 1)
          else
            entHeadSpots.add(aFirstStart, qFirstStart, 2)
          if (qLastEnd < aLastEnd)
            entTailSpots.add(qLastEnd - 1, aLastEnd - 1, 1)
          else
            entTailSpots.add(aLastEnd - 1, qLastEnd - 1, 2)
        }
      }
    }

    // --- C3: line-grouping spots (sibr.py:349-408) ---
    doc.lineGrouping.foreach { rel =>
      val fromId = rel.fromId
      val toId = rel.toId
      val skip =
        emptyLine.contains(fromId) || emptyLine.contains(toId) || {
          val fromEnt = lineIdToEntityId.getOrMinus1(fromId)
          val toEnt = lineIdToEntityId.getOrMinus1(toId)
          !inScopeEntityId.contains(fromEnt) || !inScopeEntityId.contains(toEnt)
        } || !inScopeLineId.contains(fromId) || !inScopeLineId.contains(toId)
      if (!skip) {
        val fromLn = sortedLines(lineOrigToSorted.getOrMinus1(fromId))
        val toLn = sortedLines(lineOrigToSorted.getOrMinus1(toId))
        val fs = fromLn.sortedStartToken; val fe = fromLn.sortedEndToken
        val ts = toLn.sortedStartToken; val te = toLn.sortedEndToken
        // -1 = unset offsets (the truncation-tripped line quirk): skip, as
        // the reference's None match did
        if (fs >= 0 && fe >= 0 && ts >= 0 && te >= 0) {
          if (fs < ts) groupHeadSpots.add(fs, ts, 1)
          else groupHeadSpots.add(ts, fs, 2)
          if (fe < te) groupTailSpots.add(fe - 1, te - 1, 1)
          else groupTailSpots.add(te - 1, fe - 1, 2)
        }
      }
    }

    // --- auxiliary gt relations list (sibr.py:410-425) ---
    // entity-text pairs, built only when DocSample.relations is first read
    // (specs and fixtures; the engine path never reads them)
    def relations: Vector[(String, String)] = {
      val rels = Vector.newBuilder[(String, String)]
      doc.kvEntity.foreach { rel =>
        val qId = rel.fromId
        val aId = rel.toId
        val ok =
          entityTextStart.contains(qId) && entityTextStart.contains(aId) &&
            !emptyEntity.contains(qId) && !emptyEntity.contains(aId) &&
            inScopeEntityId.contains(qId) && inScopeEntityId.contains(aId)
        if (ok) rels += ((entityTextOf(qId), entityTextOf(aId)))
      }
      rels.result()
    }

    val sample = new DocSample(
      uid = doc.uid,
      lineTextArr = lineTexts.toArray,
      sLineText = sLineTextB.result(),
      sLineBoxN = sLineBoxNB.result(),
      sLineBoxO = sLineBoxOB.result(),
      tokSLine = tokSLineB.result(),
      tokStart = tokStartB.result(),
      tokEnd = tokEndB.result(),
      relationsOf = relations,
      lineExtractionSpots = lineExtractionSpots.result(),
      entHeadSpots = entHeadSpots.result(),
      entTailSpots = entTailSpots.result(),
      groupHeadSpots = groupHeadSpots.result(),
      groupTailSpots = groupTailSpots.result()
    )
    def asSet(m: IntIntOrdered): Set[Int] = m.toVector.iterator.map(_._1).toSet
    def opt(v: Int): Option[Int] = if (v >= 0) Some(v) else None
    val trace = if (!wantTrace) None else Some(BuildTrace(
      emptyLine = asSet(emptyLine),
      emptyEntity = asSet(emptyEntity),
      entityFirstLine = entityFirstLine.toVector.toMap,
      entityLastLine = entityLastLine.toVector.toMap,
      entityText = entityTextStart.toVector.iterator
        .map { case (id, _) => id -> entityTextOf(id) }.toMap,
      inScopeEntityId = asSet(inScopeEntityId),
      inScopeLineId = asSet(inScopeLineId),
      lineOrigToSorted = lineOrigToSorted.toVector.toMap,
      sortedLines = sortedLines.map(ln => TraceLine(ln.origLineId, ln.origEntityId,
        ln.category, ln.tokens, ln.coords, opt(ln.sortedStartToken), opt(ln.sortedEndToken)))
    ))
    (sample, trace)
  }

  /** Canonicalize + decode one sample: the shared kernel body used by the
    * oracle and the engine (pred path: mutual-best; gt path: first-wins).
    */
  /** Engine hot path: canonicalize + decode without Spot materialization
    * ([[Decode.decodeCanonical]]). The golden oracle path keeps
    * [[decodeSample]]'s Vector[Spot] route, so the x1/x2 golden compares
    * double as an end-to-end two-path parity gate (CoreSpec also pins
    * equivalence directly over the corpus).
    */
  def decodeSampleFast(sample: DocSample, decodeGt: Boolean = false): DecodedDoc =
    Decode.decodeCanonical(
      view = new Decode.CompactTokView(sample.lineTextArr, sample.sLineText,
        sample.sLineBoxO, sample.tokSLine, sample.tokStart, sample.tokEnd),
      lineExtractionC = Spots.canonicalizePackedRaw(sample.lineExtractionSpots),
      entHeadC = Spots.canonicalizePackedRaw(sample.entHeadSpots),
      entTailC = Spots.canonicalizePackedRaw(sample.entTailSpots),
      groupHeadC = Spots.canonicalizePackedRaw(sample.groupHeadSpots),
      groupTailC = Spots.canonicalizePackedRaw(sample.groupTailSpots),
      decodeGt = decodeGt
    )

  def decodeSample(sample: DocSample, decodeGt: Boolean = false): DecodedDoc =
    Decode.decode(
      text = sample.tokens,
      lineExtractionSpots = Spots.canonicalizePacked(sample.lineExtractionSpots),
      entHeadSpots = Spots.canonicalizePacked(sample.entHeadSpots),
      entTailSpots = Spots.canonicalizePacked(sample.entTailSpots),
      groupHeadSpots = Spots.canonicalizePacked(sample.groupHeadSpots),
      groupTailSpots = Spots.canonicalizePacked(sample.groupTailSpots),
      bbox = sample.origBbox,
      decodeGt = decodeGt
    )
}
