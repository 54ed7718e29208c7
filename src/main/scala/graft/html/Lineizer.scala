package graft.html

import scala.collection.mutable
import graft.core._

/** DOM lineizer + heuristic classifier: the engine-side replacement for the
  * reference's neural scoring path (SURVEY.md §2 C1-C6). Converts a parsed
  * HTML page into the same annotation algebra the decoder consumes:
  *
  *  - line extraction: positioned block elements become candidate lines;
  *    Boilerpipe/Readability-style *link-density* classification plus
  *    structural tags assign the {other, header, question, answer} category
  *    (reference category list: /root/reference/data/datasets/sibr.py:30-41);
  *  - line grouping: union-find over *adjacent DOM block spans* — consecutive
  *    sibling blocks with the same tag and category merge into one entity
  *    (replaces annotated line_grouping, sibr.py:349-408);
  *  - entity linking: DOM pair idioms `<dl><dt>/<dd>`, `<tr><th>/<td>`, and
  *    `<label for>/<id>` emit key->value relations (replaces annotated
  *    kv_entity, sibr.py:266-347).
  *
  * Output is an [[graft.core.AnnDoc]], so everything downstream (tokenize,
  * sort, spots, decode) is shared verbatim with the golden oracle.
  */
object Lineizer {

  /** link-density threshold above which an unclassified block is boilerplate */
  final val LinkDensityThreshold = 0.5

  private final case class Block(
      docOrder: Int,
      tag: String,
      parentRef: Int,
      dlRef: Int,
      trRef: Int,
      idAttr: String, // null = absent (an Option per block cost ~0.5 KB/doc)
      forAttr: String, // null = absent
      navLike: Boolean,
      headerLike: Boolean,
      cellTag: String, // nearest dt/dd/th/td/label/output ancestor-or-self tag, or ""
      text: String,
      bbox: Vector[Int],
      linkDensity: Double
  )

  private val StyleKeys = Array("left", "top", "width", "height")

  /** ASCII whitespace only — Java regex `\s` = [ \t\n\x0B\f\r]. Using
    * Character.isWhitespace here would accept Unicode whitespace (U+2028
    * etc.) that the original regex rejected.
    */
  @inline private def isAsciiSpace(c: Int): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Hand-rolled equivalent of `(left|top|width|height)\s*:\s*(-?\d+)px`
    * findAllMatchIn over b[from, until) (left-to-right, resume after each
    * match, last match per key wins), run on the raw UTF-8 bytes: keys,
    * digits and "px" are ASCII, and no byte of a multi-byte character is an
    * ASCII byte. The regex was the kernel's top allocation site; this scan
    * allocates only the box. Delimiter characters at `until` can never
    * start a key or "px", so bounded scans are safe.
    *
    * @return the (left, top, right, bottom) box, or null when a key is
    *         missing
    */
  private[html] def parseStyleBoxB(b: Array[Byte], from: Int, until: Int): Vector[Int] = {
    var l, t, w, h = Integer.MIN_VALUE
    var i = from
    while (i < until) {
      // keys start with distinct bytes: dispatch to the one that can match
      val c = b(i)
      val ki = if (c == 'l') 0 else if (c == 't') 1 else if (c == 'w') 2 else if (c == 'h') 3 else -1
      var next = i + 1
      if (ki >= 0) {
        val key = StyleKeys(ki)
        var j = i + 1
        while (j < until && j - i < key.length && b(j) == key.charAt(j - i)) j += 1
        if (j - i == key.length) {
          while (j < until && isAsciiSpace(b(j))) j += 1
          if (j < until && b(j) == ':') {
            j += 1
            while (j < until && isAsciiSpace(b(j))) j += 1
            val neg = j < until && b(j) == '-'
            if (neg) j += 1
            val ds = j
            var v = 0
            while (j < until && b(j) >= '0' && b(j) <= '9') { v = v * 10 + (b(j) - '0'); j += 1 }
            // digit runs that cannot fit an Int are not a match (the regex
            // form threw on toInt; silently wrapping would parse garbage
            // boxes from pathological styles)
            if (j > ds && j - ds <= 9 && j + 1 < until && b(j) == 'p' && b(j + 1) == 'x') {
              if (neg) v = -v
              ki match {
                case 0 => l = v
                case 1 => t = v
                case 2 => w = v
                case _ => h = v
              }
              next = j + 2
            }
          }
        }
      }
      i = next
    }
    if (l != Integer.MIN_VALUE && t != Integer.MIN_VALUE &&
      w != Integer.MIN_VALUE && h != Integer.MIN_VALUE)
      Vector(l, t, l + w, t + h)
    else null
  }

  /** [[parseStyleBoxB]] over a decoded style string's UTF-8 bytes. */
  private def styleBoxOf(style: String): Vector[Int] = {
    val b = style.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    parseStyleBoxB(b, 0, b.length)
  }

  def lineize(root: HtmlParser.Elem, uid: String): AnnDoc = {
    val blocks = mutable.ArrayBuffer.empty[Block]
    var elemCounter = 0

    def walk(
        e: HtmlParser.Elem,
        parentRef: Int,
        dlRef: Int,
        trRef: Int,
        navLike: Boolean,
        headerLike: Boolean,
        cellTag: String
    ): Unit = {
      elemCounter += 1
      val myRef = elemCounter
      val nav2 = navLike || HtmlParser.NavTags(e.tag)
      val hdr2 = headerLike || HtmlParser.HeaderTags(e.tag)
      val cell2 = if (HtmlParser.CellTags(e.tag)) e.tag else cellTag
      val dl2 = if (e.tag == "dl") myRef else dlRef
      val tr2 = if (e.tag == "tr") myRef else trRef

      val isBlock = e.attr("style").flatMap(s => Option(styleBoxOf(s))) match {
        case Some(box) =>
          val (text, linkLen) = HtmlParser.textAndLinkLength(e)
          val ld =
            if (text.isEmpty) 0.0
            else linkLen.toDouble / text.length
          blocks += Block(
            docOrder = blocks.length,
            tag = e.tag,
            parentRef = parentRef,
            dlRef = dl2,
            trRef = tr2,
            idAttr = e.attr("id").filter(_.nonEmpty).orNull,
            forAttr = e.attr("for").filter(_.nonEmpty).orNull,
            navLike = nav2,
            headerLike = hdr2,
            cellTag = cell2,
            text = text,
            bbox = box,
            linkDensity = ld
          )
          true
        case None => false
      }
      // the outermost positioned element is the line: don't descend into it
      if (!isBlock) e.children.foreach {
        case kid: HtmlParser.Elem =>
          walk(kid, myRef, dl2, tr2, nav2, hdr2, cell2)
        case _ => ()
      }
    }
    walk(root, parentRef = 0, dlRef = 0, trRef = 0,
      navLike = false, headerLike = false, cellTag = "")

    // page dimensions from the main/body data attributes, else defaults
    def findDims(e: HtmlParser.Elem): Option[(Int, Int)] = {
      val here = for {
        w <- e.attr("data-w").flatMap(_.toIntOption)
        h <- e.attr("data-h").flatMap(_.toIntOption)
      } yield (w, h)
      if (here.isDefined) here
      else e.children.iterator.collect { case kid: HtmlParser.Elem => findDims(kid) }
        .collectFirst { case Some(d) => d }
    }
    val (width, height) = findDims(root).getOrElse((1000, 1414))
    assemble(blocks, width, height, uid)
  }

  /** Blocks -> AnnDoc: classification, union-find grouping, entity/relation
    * assembly. Shared verbatim by the tree path ([[lineize]]) and the
    * streaming path ([[lineizeStreamBytes]]), so the two parsers can only differ
    * in block extraction — which the parity spec pins.
    */
  private def assemble(
      blocks: scala.collection.IndexedSeq[Block],
      width: Int,
      height: Int,
      uid: String
  ): AnnDoc = {
    // ids referenced by any label[for]: their blocks are answers
    val referencedIds: Set[String] =
      blocks.iterator.map(_.forAttr).filter(_ != null).toSet

    def category(b: Block): String = {
      if (b.headerLike) AnnLabels.Header
      else if (b.cellTag == "dt" || b.cellTag == "th" || b.cellTag == "label")
        AnnLabels.Question
      else if (b.cellTag == "dd" || b.cellTag == "td" || b.cellTag == "output")
        AnnLabels.Answer
      else if (b.idAttr != null && referencedIds.contains(b.idAttr)) AnnLabels.Answer
      else if (b.navLike || b.linkDensity > LinkDensityThreshold) AnnLabels.Other
      else AnnLabels.Answer // main content
    }
    val nB = blocks.length
    val cats = new Array[String](nB)
    var ci = 0
    while (ci < nB) { cats(ci) = category(blocks(ci)); ci += 1 }

    // --- line grouping over adjacent DOM block spans. The merge relation
    // only ever joins NEIGHBORS (k-1, k), so every component is a
    // contiguous run of document order — the general union-find this
    // started as (parent array + root->entity LinkedHashMap + per-entity
    // ArrayBuffers, all boxed) collapses to one run-boundary pass over a
    // primitive array with identical semantics (entity ids in order of
    // first member == run order; members ascending == run interval).
    val entityOf = new Array[Int](nB)
    var nEnt = if (nB == 0) 0 else 1
    var k = 1
    while (k < nB) {
      val prev = blocks(k - 1)
      val curr = blocks(k)
      if (!(prev.parentRef == curr.parentRef && prev.tag == curr.tag &&
        cats(k - 1) == cats(k))) nEnt += 1
      entityOf(k) = nEnt - 1
      k += 1
    }

    // --- entities with their lines (line id = document order) ---
    val entB = Vector.newBuilder[AnnEntity]
    entB.sizeHint(nEnt)
    val lineGrouping = Vector.newBuilder[AnnRelation]
    var start = 0
    while (start < nB) {
      var end = start + 1
      while (end < nB && entityOf(end) == entityOf(start)) end += 1
      val lines = Vector.newBuilder[AnnLine]
      lines.sizeHint(end - start)
      var i = start
      while (i < end) {
        val b = blocks(i)
        lines += AnnLine(id = i, text = b.text, bbox = b.bbox)
        // consecutive lines within an entity are consecutive doc-order ids
        if (i > start) lineGrouping += AnnRelation(i - 1, i)
        i += 1
      }
      entB += AnnEntity(id = entityOf(start), label = cats(start), lines = lines.result())
      start = end
    }
    val entities: Vector[AnnEntity] = entB.result()

    // --- KV links from DOM idioms, entity-level, first-seen order ---
    val kv = Vector.newBuilder[AnnRelation]
    val seen = new IntMultiOrdered
    def link(qEnt: Int, aEnt: Int): Unit =
      if (qEnt != aEnt && !seen.containsValue(qEnt, aEnt)) {
        seen.append(qEnt, aEnt)
        kv += AnnRelation(qEnt, aEnt)
      }

    // dl and tr idioms: inside one container, pair each question-run with
    // the answer-run that follows it. Containers go in the order of their
    // first cell, each one's cells in document order: the cells sort as
    // (container ref, index) longs, then as (container's first index, index)
    def pairRuns(trIdiom: Boolean, qTag: String, aTag: String): Unit = {
      val cells = new Array[Long](nB)
      var m = 0
      var i = 0
      while (i < nB) {
        val b = blocks(i)
        val ref = if (trIdiom) b.trRef else b.dlRef
        if (ref != 0 && (b.cellTag == qTag || b.cellTag == aTag)) {
          cells(m) = (ref.toLong << 32) | i
          m += 1
        }
        i += 1
      }
      java.util.Arrays.sort(cells, 0, m)
      var ref, first = -1L
      var k = 0
      while (k < m) {
        val c = cells(k) & 0xFFFFFFFFL
        if ((cells(k) >>> 32) != ref) { ref = cells(k) >>> 32; first = c }
        cells(k) = (first << 32) | c
        k += 1
      }
      java.util.Arrays.sort(cells, 0, m)
      var pendingQ = -1 // entity of the open question-run, -1 = none
      var lastCell = 0 // 0 = none yet, 1 = question, 2 = answer
      k = 0
      while (k < m) {
        if (k == 0 || (cells(k) >>> 32) != (cells(k - 1) >>> 32)) {
          pendingQ = -1; lastCell = 0
        }
        val c = (cells(k) & 0xFFFFFFFFL).toInt
        if (blocks(c).cellTag == qTag) {
          if (lastCell != 1) pendingQ = entityOf(c)
          lastCell = 1
        } else {
          if (lastCell != 2 && pendingQ >= 0) link(pendingQ, entityOf(c))
          lastCell = 2
        }
        k += 1
      }
    }
    pairRuns(trIdiom = false, "dt", "dd")
    pairRuns(trIdiom = true, "th", "td")

    // label[for] -> id idiom (no for attribute, no link)
    if (referencedIds.nonEmpty) {
      val idToBlock: Map[String, Int] =
        blocks.iterator.filter(_.idAttr != null).map(b => b.idAttr -> b.docOrder).toMap
      blocks.indices.foreach { i =>
        val b = blocks(i)
        if (b.cellTag == "label" && b.forAttr != null) idToBlock.get(b.forAttr).foreach { tgt =>
          link(entityOf(i), entityOf(tgt))
        }
      }
    }

    AnnDoc(
      uid = uid,
      width = width,
      height = height,
      entities = entities,
      kvEntity = kv.result(),
      lineGrouping = lineGrouping.result()
    )
  }

  /** `Character.isLetterOrDigit` and `Character.isWhitespace` of each
    * ASCII char, read per byte by the scanner's tag-name, key and value
    * loops instead of a `Character` type lookup.
    */
  private val AsciiLetterOrDigit: Array[Boolean] = Array.tabulate(128)(c => Character.isLetterOrDigit(c.toChar))
  private val AsciiWhitespace: Array[Boolean] = Array.tabulate(128)(c => Character.isWhitespace(c.toChar))

  /** UTF-8 codepoint classification at a byte offset, for the two places
    * the scanner needs a CHARACTER class on non-ASCII input (tag-name
    * letters, attribute whitespace). Returns (len << 21) | cp; invalid,
    * overlong, surrogate-range, and supplementary (> BMP) sequences come
    * back as one-byte U+FFFD — exactly what the old decode-the-whole-page
    * path produced (Java's decoder replaces invalid input; supplementary
    * chars became surrogate CHARS, which classify as neither letter nor
    * whitespace).
    */
  @inline private def cpAndLen(b: Array[Byte], j: Int, n: Int): Int = {
    val c0 = b(j) & 0xFF
    def bad = (1 << 21) | 0xFFFD
    if (c0 < 0x80) (1 << 21) | c0
    else if (c0 < 0xC2) bad // continuation or overlong-2 lead
    else if (c0 < 0xE0) {
      if (j + 1 >= n || (b(j + 1) & 0xC0) != 0x80) bad
      else (2 << 21) | ((c0 & 0x1F) << 6) | (b(j + 1) & 0x3F)
    } else if (c0 < 0xF0) {
      if (j + 2 >= n || (b(j + 1) & 0xC0) != 0x80 || (b(j + 2) & 0xC0) != 0x80) bad
      else {
        val cp = ((c0 & 0x0F) << 12) | ((b(j + 1) & 0x3F) << 6) | (b(j + 2) & 0x3F)
        if (cp < 0x800 || (cp >= 0xD800 && cp <= 0xDFFF)) bad else (3 << 21) | cp
      }
    } else bad // 4-byte (supplementary) and invalid leads classify as FFFD
  }

  /** Streaming equivalent of `lineize(HtmlParser.parse(html), uid)` over
    * the page's UTF-8 bytes: a single scan producing blocks directly — no
    * DOM, no per-element attr/children collections, text substrings only
    * inside positioned blocks. The tree path stays as the reference
    * implementation.
    *
    * All STRUCTURE characters of html are ASCII and UTF-8 continuation
    * bytes never collide with them, so the scan works on the raw bytes and
    * only text runs / attr values are decoded — the whole-page
    * `new String(bytes)` cost (~a third of the lineize stage's allocation)
    * disappears. Parity with the tree parser is pinned by RoundTripSpec
    * over the corpus (incl. multibyte zh/ja docs), adversarial snippets,
    * and the seeded fuzz.
    */
  def lineizeStreamBytes(b: Array[Byte], uid: String): AnnDoc = {
    import HtmlParser._
    val blocks = mutable.ArrayBuffer.empty[Block]
    val n = b.length

    @inline def u(x: Int): Int = b(x) & 0xFF
    def bIndexOf(ch: Int, from: Int): Int = {
      var k = from
      while (k < n && u(k) != ch) k += 1
      if (k < n) k else -1
    }
    def bStartsWith(lit: String, at: Int): Boolean = {
      if (at + lit.length > n) return false
      var k = 0
      while (k < lit.length) { if (u(at + k) != lit.charAt(k)) return false; k += 1 }
      true
    }
    def bIndexOfStr(lit: String, from: Int): Int = {
      var k = math.max(0, from)
      val max = n - lit.length
      while (k <= max) { if (bStartsWith(lit, k)) return k; k += 1 }
      -1
    }
    def bIndexOfCI(lit: String, from: Int): Int = {
      var k = math.max(0, from)
      val max = n - lit.length
      while (k <= max) {
        var m = 0
        var ok = true
        while (ok && m < lit.length) {
          if (asciiLower(u(k + m)) != lit.charAt(m)) ok = false
          m += 1
        }
        if (ok) return k
        k += 1
      }
      -1
    }
    def bRegionMatchesCI(at: Int, lit: String): Boolean = {
      if (at + lit.length > n) return false
      var k = 0
      while (k < lit.length) {
        if (asciiLower(u(at + k)) != lit.charAt(k)) return false
        k += 1
      }
      true
    }
    def decodeRange(from: Int, until: Int): String =
      new String(b, from, until - from, java.nio.charset.StandardCharsets.UTF_8)
    // whitespace byte-length at j (0 = not whitespace); multibyte BMP
    // whitespace (U+3000 etc.) classifies like the old char-based scan
    def wsLen(j: Int): Int = {
      val c = u(j)
      if (c < 0x80) { if (AsciiWhitespace(c)) 1 else 0 }
      else {
        val pl = cpAndLen(b, j, n)
        val cp = pl & 0x1FFFFF
        if (Character.isWhitespace(cp.toChar)) pl >>> 21 else 0
      }
    }

    // frame stack as parallel primitive arrays (one [[SFrame]]-shaped record
    // per open element; an object per element measured ~8 KB/doc of churn).
    // bits: 1 = isA, 2 = isBlockRoot, 4 = nav, 8 = hdr.
    // 16 covers real nesting depth (corpus max ~10); deep tag-soup grows by
    // doubling. 64 initial slots cost ~1.5 KB/doc across the six arrays.
    var fCap = 16
    var fTag = new Array[String](fCap)
    var fRef = new Array[Int](fCap)
    var fBits = new Array[Int](fCap)
    var fCell = new Array[String](fCap)
    var fDl = new Array[Int](fCap)
    var fTr = new Array[Int](fCap)
    var fLen = 0
    def pushFrame(tag: String, ref: Int, isA: Boolean, isBlockRoot: Boolean,
        nav: Boolean, hdr: Boolean, cell: String, dl: Int, tr: Int): Unit = {
      if (fLen == fCap) {
        fCap *= 2
        fTag = java.util.Arrays.copyOf(fTag, fCap)
        fRef = java.util.Arrays.copyOf(fRef, fCap)
        fBits = java.util.Arrays.copyOf(fBits, fCap)
        fCell = java.util.Arrays.copyOf(fCell, fCap)
        fDl = java.util.Arrays.copyOf(fDl, fCap)
        fTr = java.util.Arrays.copyOf(fTr, fCap)
      }
      fTag(fLen) = tag
      fRef(fLen) = ref
      fBits(fLen) = (if (isA) 1 else 0) | (if (isBlockRoot) 2 else 0) |
        (if (nav) 4 else 0) | (if (hdr) 8 else 0)
      fCell(fLen) = cell
      fDl(fLen) = dl
      fTr(fLen) = tr
      fLen += 1
    }
    pushFrame("#root", 1, isA = false, isBlockRoot = false,
      nav = false, hdr = false, cell = "", dl = 0, tr = 0)

    var elemCounter = 1 // #root consumed ref 1, matching the tree walk

    // open-block capture state (at most one block open at a time: the walk
    // never descends into a block, so nested positioned elements inside it
    // are just text contributors)
    var blockOpen = false
    var bTag: String = null
    var bParentRef, bDlRef, bTrRef = 0
    var bId: String = null
    var bFor: String = null
    var bNav, bHdr = false
    var bCell = ""
    var bBox: Vector[Int] = null
    val bSb = new java.lang.StringBuilder
    var bFirst: String = null // first text run of the open block (fast path)
    var bLink = 0
    var aDepth = 0

    var dimW, dimH = -1

    // per-element attr bounds, DOC-scoped: nested defs capture these as
    // heap refs, and function-local vars would re-allocate the ref cells
    // for every element (measured ~2 KB/doc of IntRef churn)
    var styleVs, styleVe, idVs, idVe, forVs, forVe = -1
    var dwVs, dwVe, dhVs, dhVe = -1
    var selfClose = false

    def retainAttr(kind: Int, vs: Int, ve: Int): Unit =
      kind match {
        case 1 => styleVs = vs; styleVe = ve
        case 2 => idVs = vs; idVe = ve
        case 3 => forVs = vs; forVe = ve
        case 4 => dwVs = vs; dwVe = ve
        case 5 => dhVs = vs; dhVe = ve
        case _ => ()
      }

    def keyKind(ks: Int, ke: Int): Int = {
      val kl = ke - ks
      if (kl == 5 && bRegionMatchesCI(ks, "style")) 1
      else if (kl == 2 && bRegionMatchesCI(ks, "id")) 2
      else if (kl == 3 && bRegionMatchesCI(ks, "for")) 3
      else if (kl == 6 && bRegionMatchesCI(ks, "data-w")) 4
      else if (kl == 6 && bRegionMatchesCI(ks, "data-h")) 5
      else 0
    }

    /** '&' occurs in b[from, until)? Bounded scan — continuation bytes can
      * never read as 0x26, so the byte test is exact.
      */
    def hasAmp(from: Int, until: Int): Boolean = {
      var k = from
      while (k < until && u(k) != '&') k += 1
      k < until
    }

    /** Materialize a recorded attr value (entity-decoded, like the tree
      * parser's attr map) only when actually consumed.
      */
    def matVal(vs: Int, ve: Int): String =
      if (vs < 0) null
      else {
        val raw = decodeRange(vs, ve)
        if (hasAmp(vs, ve)) decodeEntities(raw) else raw
      }

    def emitBlock(): Unit = {
      // single-run fast path: most leaf blocks see exactly one text run —
      // its decoded String IS the block text, no builder round-trip
      val text = if (bFirst != null) bFirst else bSb.toString
      val ld = if (text.isEmpty) 0.0 else bLink.toDouble / text.length
      blocks += Block(
        docOrder = blocks.length, tag = bTag, parentRef = bParentRef,
        dlRef = bDlRef, trRef = bTrRef, idAttr = bId, forAttr = bFor,
        navLike = bNav, headerLike = bHdr, cellTag = bCell,
        text = text, bbox = bBox, linkDensity = ld)
      blockOpen = false
      bFirst = null
    }

    def closeFrame(): Unit = {
      fLen -= 1
      val bits = fBits(fLen)
      if (blockOpen && (bits & 1) != 0) aDepth -= 1
      if ((bits & 2) != 0) emitBlock()
    }

    /** Text run [from, until): appended only while a block is open; link
      * density counts decoded CHARS (same as the char-based scan). The
      * first run of a block is held as-is ([[emitBlock]]'s fast path); the
      * builder only engages from the second run on.
      */
    def flushText(from: Int, until: Int): Unit =
      if (blockOpen && until > from) {
        val raw = decodeRange(from, until)
        val run = if (!hasAmp(from, until)) raw else decodeEntities(raw)
        if (bFirst == null && bSb.length == 0) bFirst = run
        else {
          if (bFirst != null) { bSb.append(bFirst); bFirst = null }
          bSb.append(run)
        }
        if (aDepth > 0) bLink += run.length
      }

    var i = 0
    while (i < n) {
      val lt = bIndexOf('<', i)
      if (lt < 0) { flushText(i, n); i = n }
      else {
        if (lt > i) flushText(i, lt)
        if (lt + 1 >= n) { i = n }
        else if (bStartsWith("<!--", lt)) {
          val end = bIndexOfStr("-->", lt + 4)
          i = if (end < 0) n else end + 3
        } else if (u(lt + 1) == '!' || u(lt + 1) == '?') {
          val end = bIndexOf('>', lt + 1)
          i = if (end < 0) n else end + 1
        } else if (u(lt + 1) == '/') {
          val end = bIndexOf('>', lt + 1)
          // trimmed [ns, ne) name bounds; tagNameOfBytes interns table tags
          var ns = lt + 2
          var ne = if (end < 0) n else end
          while (ns < ne && u(ns) <= ' ') ns += 1
          while (ne > ns && u(ne - 1) <= ' ') ne -= 1
          val name = tagNameOfBytes(b, ns, ne)
          var idx = fLen - 1
          while (idx >= 0 && fTag(idx) != name) idx -= 1
          if (idx > 0) while (fLen > idx) closeFrame()
          i = if (end < 0) n else end + 1
        } else {
          var j = lt + 1
          var nameDone = false
          while (!nameDone && j < n) {
            val c = u(j)
            if (c < 0x80) {
              if (AsciiLetterOrDigit(c)) j += 1 else nameDone = true
            } else {
              val pl = cpAndLen(b, j, n)
              val cp = pl & 0x1FFFFF
              if (Character.isLetterOrDigit(cp.toChar)) j += (pl >>> 21)
              else nameDone = true
            }
          }
          val tagId = tagIdOfBytes(b, lt + 1, j)
          val name = if (tagId >= 0) TagNames(tagId) else offTableTagName(b, lt + 1, j)
          if (name.isEmpty) { flushText(lt, lt + 1); i = lt + 1 }
          else {
            // reset doc-scoped attr bounds for this element
            styleVs = -1; idVs = -1; forVs = -1; dwVs = -1; dhVs = -1
            selfClose = false
            var done = false
            while (!done && j < n) {
              while (j < n && { val w = wsLen(j); if (w > 0) { j += w; true } else false }) ()
              if (j < n && u(j) == '>') { done = true; j += 1 }
              else if (j + 1 < n && u(j) == '/' && u(j + 1) == '>') {
                selfClose = true; done = true; j += 2
              } else if (j < n && u(j) == '/') {
                j += 1 // stray '/' not followed by '>' is tag-soup noise
              } else if (j < n) {
                val ks = j
                var keyDone = false
                while (!keyDone && j < n) {
                  val c = u(j)
                  if (c == '=' || c == '>' || c == '/') keyDone = true
                  else if (c < 0x80) {
                    if (AsciiWhitespace(c)) keyDone = true else j += 1
                  } else if (wsLen(j) > 0) keyDone = true
                  else j += 1
                }
                val kind = if (j > ks) keyKind(ks, j) else 0
                while (j < n && { val w = wsLen(j); if (w > 0) { j += w; true } else false }) ()
                if (j < n && u(j) == '=') {
                  j += 1
                  while (j < n && { val w = wsLen(j); if (w > 0) { j += w; true } else false }) ()
                  if (j < n && (u(j) == '"' || u(j) == '\'')) {
                    val q = u(j)
                    val vs = j + 1
                    val ve = bIndexOf(q, vs)
                    retainAttr(kind, vs, if (ve < 0) n else ve)
                    j = if (ve < 0) n else ve + 1
                  } else {
                    val vs = j
                    var vDone = false
                    while (!vDone && j < n) {
                      val c = u(j)
                      if (c == '>') vDone = true
                      else if (c < 0x80) {
                        if (AsciiWhitespace(c)) vDone = true else j += 1
                      } else if (wsLen(j) > 0) vDone = true
                      else j += 1
                    }
                    retainAttr(kind, vs, j)
                  }
                } else retainAttr(kind, ks, ks) // key with no value -> empty
              }
            }
            i = j
            val bits = if (tagId >= 0) TagBits(tagId) else tagBits(name)
            val isRaw = (bits & RawTextBit) != 0
            val isVoidLike = (bits & VoidBit) != 0 || selfClose || isRaw
            if (isRaw) {
              val close = "</" + name
              val end = bIndexOfCI(close, i)
              val endGt = if (end < 0) n else bIndexOf('>', end)
              i = if (end < 0) n else (if (endGt < 0) n else endGt + 1)
            }
            if (dimW < 0 && dwVs >= 0 && dhVs >= 0) {
              (matVal(dwVs, dwVe).toIntOption, matVal(dhVs, dhVe).toIntOption) match {
                case (Some(w), Some(h)) => dimW = w; dimH = h
                case _                  => ()
              }
            }
            if (blockOpen) {
              // inside a block: frames still mirror the parser, text flows,
              // but no refs and no nested blocks (the walk never descends)
              if (!isVoidLike) {
                val t = fLen - 1
                pushFrame(name, 0, isA = name == "a", isBlockRoot = false,
                  nav = (fBits(t) & 4) != 0, hdr = (fBits(t) & 8) != 0,
                  cell = fCell(t), dl = fDl(t), tr = fTr(t))
                if (name == "a") aDepth += 1
              }
            } else {
              elemCounter += 1
              val myRef = elemCounter
              val t = fLen - 1
              val nav2 = (fBits(t) & 4) != 0 || (bits & NavBit) != 0
              val hdr2 = (fBits(t) & 8) != 0 || (bits & HeaderBit) != 0
              val cell2 = if ((bits & CellBit) != 0) name else fCell(t)
              val dl2 = if (name == "dl") myRef else fDl(t)
              val tr2 = if (name == "tr") myRef else fTr(t)
              // style parsed in place over the raw byte region; entity-
              // bearing styles (never in practice) fall back to the decoded
              // string
              val box =
                if (styleVs < 0) null
                else if (hasAmp(styleVs, styleVe))
                  styleBoxOf(decodeEntities(decodeRange(styleVs, styleVe)))
                else parseStyleBoxB(b, styleVs, styleVe)
              if (box != null) {
                bTag = name; bParentRef = fRef(t)
                bDlRef = dl2; bTrRef = tr2
                bId = { val v = matVal(idVs, idVe); if (v != null && v.nonEmpty) v else null }
                bFor = { val v = matVal(forVs, forVe); if (v != null && v.nonEmpty) v else null }
                bNav = nav2; bHdr = hdr2; bCell = cell2; bBox = box
                bSb.setLength(0); bFirst = null; bLink = 0
                if (isVoidLike) { blockOpen = true; emitBlock() } // childless
                else {
                  blockOpen = true
                  aDepth = if (name == "a") 1 else 0
                  pushFrame(name, myRef, isA = name == "a", isBlockRoot = true,
                    nav = nav2, hdr = hdr2, cell = cell2, dl = dl2, tr = tr2)
                }
              } else if (!isVoidLike)
                pushFrame(name, myRef, isA = name == "a", isBlockRoot = false,
                  nav = nav2, hdr = hdr2, cell = cell2, dl = dl2, tr = tr2)
            }
          }
        }
      }
    }
    while (fLen > 1) closeFrame()
    val (width, height) = if (dimW >= 0) (dimW, dimH) else (1000, 1414)
    assemble(blocks, width, height, uid)
  }
}
