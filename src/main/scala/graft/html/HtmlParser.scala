package graft.html

import scala.collection.mutable

/** Minimal, dependency-free tag-soup HTML parser.
  *
  * Replaces the reference's image-load + OCR front end (SURVEY.md §2 A3/A4):
  * the `html BINARY` column plays the role of the page image and this parser
  * plays OCR. Built for the engine's Common-Crawl-style profile: tolerant of
  * unclosed tags, ignores comments/doctype/script/style content, decodes the
  * standard character entities. No external DOM library exists in this
  * sandbox (zero-egress), and a hand-rolled single-pass parser keeps the
  * per-document kernel allocation-light at scale.
  */
object HtmlParser {

  final val VoidTags: Set[String] = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr"
  )
  private[html] val RawTextTags: Set[String] = Set("script", "style")

  sealed trait Node
  final case class Text(value: String) extends Node
  final case class Elem(
      tag: String,
      attrs: Map[String, String],
      children: Vector[Node]
  ) extends Node {
    def attr(name: String): Option[String] = attrs.get(name)
  }

  def decodeEntities(s: String): String = {
    if (!s.contains('&')) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val ent = s.substring(i + 1, semi)
          val decoded: Option[String] = ent match {
            case "amp"  => Some("&")
            case "lt"   => Some("<")
            case "gt"   => Some(">")
            case "quot" => Some("\"")
            case "apos" => Some("'")
            case "nbsp" => Some(" ")
            case e if e.startsWith("#x") || e.startsWith("#X") =>
              try Some(new String(Character.toChars(Integer.parseInt(e.drop(2), 16))))
              catch { case _: Exception => None }
            case e if e.startsWith("#") =>
              try Some(new String(Character.toChars(Integer.parseInt(e.drop(1)))))
              catch { case _: Exception => None }
            case _ => None
          }
          decoded match {
            case Some(d) => sb.append(d); i = semi + 1
            case None    => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  def escape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      case c   => sb.append(c)
    }
    sb.toString
  }

  /** Lineizer's structural classes: page chrome, headings, and the cells
    * of its key-value idioms (`dl`, `tr`, `label[for]`).
    */
  private[html] val NavTags: Set[String] = Set("nav", "footer", "aside", "header")
  private[html] val HeaderTags: Set[String] = Set("h1", "h2", "h3", "h4", "h5", "h6")
  private[html] val CellTags: Set[String] = Set("dt", "dd", "th", "td", "label", "output")

  /** Class bits of a tag: one bit per class set above. */
  private[html] final val VoidBit = 1
  private[html] final val RawTextBit = 2
  private[html] final val NavBit = 4
  private[html] final val HeaderBit = 8
  private[html] final val CellBit = 16

  private def classBits(name: String): Int =
    (if (VoidTags(name)) VoidBit else 0) | (if (RawTextTags(name)) RawTextBit else 0) |
      (if (NavTags(name)) NavBit else 0) | (if (HeaderTags(name)) HeaderBit else 0) |
      (if (CellTags(name)) CellBit else 0)

  /** The tag table: common tag names, every classed tag among them, with
    * their class bits. The hot path emits the shared constant instead of
    * substring+toLowerCase per element, and reads the classes with one bit
    * test. A tag off the table has no class.
    */
  private[html] val TagNames: Array[String] = (Array(
    "a", "p", "b", "i", "u", "br", "dd", "dt", "dl", "em", "h1", "h2", "h3",
    "h4", "h5", "h6", "hr", "li", "ol", "td", "th", "tr", "ul", "div", "img",
    "nav", "pre", "body", "form", "head", "html", "main", "span", "aside",
    "input", "label", "style", "table", "tbody", "thead", "title", "footer",
    "header", "output", "script", "strong", "article", "section"
  ) ++ VoidTags ++ RawTextTags ++ NavTags ++ HeaderTags ++ CellTags).distinct
  private[html] val TagBits: Array[Int] = TagNames.map(classBits)

  /** Table ids chained per slot `(length << 7) | lowercased first char`:
    * `slotHead` holds a slot's first id, `slotNext` the next id (-1 ends).
    */
  private val MaxTagLen = TagNames.map(_.length).max
  private val slotHead: Array[Int] = Array.fill((MaxTagLen + 1) << 7)(-1)
  private val slotNext: Array[Int] = Array.fill(TagNames.length)(-1)
  TagNames.indices.foreach { id =>
    val s = (TagNames(id).length << 7) | TagNames(id).charAt(0)
    slotNext(id) = slotHead(s)
    slotHead(s) = id
  }

  /** The one lowercasing rule for tag names, in both parsers: HTML folds
    * only ASCII A-Z, so `DİV` and a Kelvin-sign `linK` stay off the table.
    */
  @inline private[html] def asciiLower(c: Int): Int = if (c >= 'A' && c <= 'Z') c + 32 else c

  private[html] def asciiLower(s: String): String =
    if (!s.exists(c => c >= 'A' && c <= 'Z')) s else s.map(c => asciiLower(c.toInt).toChar)

  /** Table id of the tag named html[start, end), or -1: each char matches
    * after [[asciiLower]].
    */
  private def tagIdOf(html: String, start: Int, end: Int): Int = {
    val len = end - start
    if (len <= 0 || len > MaxTagLen) return -1
    val c0 = asciiLower(html.charAt(start).toInt)
    if (c0 >= 0x80) return -1
    var id = slotHead((len << 7) | c0)
    while (id >= 0) {
      val cand = TagNames(id)
      var m = 1
      while (m < len && asciiLower(html.charAt(start + m).toInt) == cand.charAt(m)) m += 1
      if (m == len) return id
      id = slotNext(id)
    }
    -1
  }

  /** Lowercased tag name for html[start, end), interning table tags. */
  private[html] def tagNameOf(html: String, start: Int, end: Int): String = {
    val id = tagIdOf(html, start, end)
    if (id >= 0) TagNames(id) else asciiLower(html.substring(start, end))
  }

  /** Byte form of [[tagIdOf]] for the streaming scanner: only ASCII names
    * are on the table, so a non-ASCII byte is a miss.
    */
  private[html] def tagIdOfBytes(b: Array[Byte], start: Int, end: Int): Int = {
    val len = end - start
    if (len <= 0 || len > MaxTagLen) return -1
    @inline def lower(x: Int): Int = asciiLower(b(x) & 0xFF)
    val c0 = lower(start)
    if (c0 >= 0x80) return -1
    var id = slotHead((len << 7) | c0)
    while (id >= 0) {
      val cand = TagNames(id)
      var m = 1
      while (m < len && lower(start + m) == cand.charAt(m)) m += 1
      if (m == len) return id
      id = slotNext(id)
    }
    -1
  }

  /** Lowercased name of a tag off the table, by the String form's rule. */
  private[html] def offTableTagName(b: Array[Byte], start: Int, end: Int): String =
    asciiLower(new String(b, start, end - start, java.nio.charset.StandardCharsets.UTF_8))

  /** Lowercased tag name for b[start, end), interning table tags. */
  private[html] def tagNameOfBytes(b: Array[Byte], start: Int, end: Int): String = {
    val id = tagIdOfBytes(b, start, end)
    if (id >= 0) TagNames(id) else offTableTagName(b, start, end)
  }

  /** Class bits of a lowercased tag name. */
  private[html] def tagBits(name: String): Int = {
    val id = tagIdOf(name, 0, name.length)
    if (id >= 0) TagBits(id) else 0
  }

  /** First index of a lowercase ASCII `target` in s at or after `from`,
    * s read through [[asciiLower]] (so `</ſcript` does not close a script).
    */
  private[html] def indexOfIgnoreCase(s: String, target: String, from: Int): Int = {
    var i = math.max(0, from)
    val max = s.length - target.length
    while (i <= max) {
      var m = 0
      while (m < target.length && asciiLower(s.charAt(i + m).toInt) == target.charAt(m)) m += 1
      if (m == target.length) return i
      i += 1
    }
    -1
  }

  /** Parse to a synthetic root element `#root`. */
  def parse(html: String): Elem = {
    // mutable frame: (tag, attrs, children under construction)
    final class Frame(val tag: String, val attrs: Map[String, String]) {
      val children = mutable.ArrayBuffer.empty[Node]
    }
    val stack = mutable.ArrayBuffer(new Frame("#root", Map.empty))
    val n = html.length
    var i = 0

    def closeFrame(): Unit = {
      val f = stack.remove(stack.length - 1)
      stack.last.children += Elem(f.tag, f.attrs, f.children.toVector)
    }

    def flushText(text: String): Unit =
      if (text.nonEmpty) stack.last.children += Text(decodeEntities(text))

    while (i < n) {
      val lt = html.indexOf('<', i)
      if (lt < 0) { flushText(html.substring(i)); i = n }
      else {
        if (lt > i) flushText(html.substring(i, lt))
        if (lt + 1 >= n) { i = n }
        else if (html.startsWith("<!--", lt)) {
          val end = html.indexOf("-->", lt + 4)
          i = if (end < 0) n else end + 3
        } else if (html.charAt(lt + 1) == '!' || html.charAt(lt + 1) == '?') {
          val end = html.indexOf('>', lt + 1)
          i = if (end < 0) n else end + 1
        } else if (html.charAt(lt + 1) == '/') {
          val end = html.indexOf('>', lt + 1)
          val name = asciiLower(html.substring(lt + 2, if (end < 0) n else end).trim)
          // close the nearest matching open frame (tolerate mis-nesting)
          val idx = stack.lastIndexWhere(_.tag == name)
          if (idx > 0) while (stack.length > idx) closeFrame()
          i = if (end < 0) n else end + 1
        } else {
          // open tag
          var j = lt + 1
          while (j < n && (html.charAt(j).isLetterOrDigit)) j += 1
          val name = tagNameOf(html, lt + 1, j)
          if (name.isEmpty) { flushText("<"); i = lt + 1 }
          else {
            // attributes until '>' — accumulated as a small immutable Map
            // (Map1..Map4 for the common cases; no mutable map + toMap copy)
            var attrs: Map[String, String] = Map.empty
            var selfClose = false
            var done = false
            while (!done && j < n) {
              while (j < n && html.charAt(j).isWhitespace) j += 1
              if (j < n && html.charAt(j) == '>') { done = true; j += 1 }
              else if (j + 1 < n && html.charAt(j) == '/' && html.charAt(j + 1) == '>') {
                selfClose = true; done = true; j += 2
              } else if (html.charAt(j) == '/') {
                j += 1 // stray '/' not followed by '>' is tag-soup noise
              } else if (j < n) {
                val ks = j
                while (j < n && html.charAt(j) != '=' && html.charAt(j) != '>' &&
                  html.charAt(j) != '/' && !html.charAt(j).isWhitespace) j += 1
                val key = asciiLower(html.substring(ks, j))
                while (j < n && html.charAt(j).isWhitespace) j += 1
                if (j < n && html.charAt(j) == '=') {
                  j += 1
                  while (j < n && html.charAt(j).isWhitespace) j += 1
                  if (j < n && (html.charAt(j) == '"' || html.charAt(j) == '\'')) {
                    val q = html.charAt(j)
                    val vs = j + 1
                    val ve = html.indexOf(q, vs)
                    val v = html.substring(vs, if (ve < 0) n else ve)
                    if (key.nonEmpty) attrs = attrs.updated(key, decodeEntities(v))
                    j = if (ve < 0) n else ve + 1
                  } else {
                    val vs = j
                    while (j < n && html.charAt(j) != '>' && !html.charAt(j).isWhitespace) j += 1
                    if (key.nonEmpty) attrs = attrs.updated(key, decodeEntities(html.substring(vs, j)))
                  }
                } else if (key.nonEmpty) attrs = attrs.updated(key, "")
              }
            }
            i = j
            if (RawTextTags.contains(name)) {
              // skip raw content to the matching close tag (case-insensitive
              // scan — NEVER lowercase the whole document here)
              val close = "</" + name
              val end = indexOfIgnoreCase(html, close, i)
              val endGt = if (end < 0) n else html.indexOf('>', end)
              stack.last.children += Elem(name, attrs, Vector.empty)
              i = if (end < 0) n else (if (endGt < 0) n else endGt + 1)
            } else if (VoidTags.contains(name) || selfClose) {
              stack.last.children += Elem(name, attrs, Vector.empty)
            } else {
              stack += new Frame(name, attrs)
            }
          }
        }
      }
    }
    while (stack.length > 1) closeFrame()
    val root = stack.head
    Elem("#root", Map.empty, root.children.toVector)
  }

  /** Concatenated text content of a subtree. */
  def textContent(node: Node): String = {
    val sb = new java.lang.StringBuilder
    def rec(nd: Node): Unit = nd match {
      case Text(v)          => sb.append(v)
      case Elem(_, _, kids) => kids.foreach(rec)
    }
    rec(node)
    sb.toString
  }

  /** Total text length inside `<a>` descendants (link-density numerator). */
  def linkTextLength(node: Node): Int = {
    var total = 0
    def rec(nd: Node, inLink: Boolean): Unit = nd match {
      case Text(v) => if (inLink) total += v.length
      case Elem(tag, _, kids) =>
        val now = inLink || tag == "a"
        kids.foreach(rec(_, now))
    }
    rec(node, inLink = false)
    total
  }

  /** textContent + linkTextLength in ONE traversal (the lineizer calls both
    * for every block; the DOM walk is the hot path).
    */
  def textAndLinkLength(node: Node): (String, Int) = {
    val sb = new java.lang.StringBuilder
    var link = 0
    def rec(nd: Node, inLink: Boolean): Unit = nd match {
      case Text(v) =>
        sb.append(v); if (inLink) link += v.length
      case Elem(tag, _, kids) =>
        val now = inLink || tag == "a"
        kids.foreach(rec(_, now))
    }
    rec(node, inLink = false)
    (sb.toString, link)
  }
}
