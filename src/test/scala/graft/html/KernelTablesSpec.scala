package graft.html

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

/** Pins the streaming scanner's lookup tables directly: the byte-level
  * style parser against the regex it replaced, and the tag table's
  * interning and class bits against the class sets. Stream-vs-tree parity
  * cannot catch a fault here, since both paths share the style parser.
  */
class KernelTablesSpec extends AnyFunSuite {
  import HtmlParser._

  private val StyleRegex = """(left|top|width|height)\s*:\s*(-?\d+)px""".r

  /** The regex form: matches left to right, the last match per key wins,
    * and a digit run longer than 9 is no match.
    */
  private def regexBox(style: String): Option[Vector[Int]] = {
    val got = StyleRegex.findAllMatchIn(style)
      .filter(_.group(2).stripPrefix("-").length <= 9)
      .map(m => m.group(1) -> m.group(2).toInt).toMap
    for (l <- got.get("left"); t <- got.get("top"); w <- got.get("width"); h <- got.get("height"))
      yield Vector(l, t, l + w, t + h)
  }

  private def byteBox(style: String): Option[Vector[Int]] = {
    val b = style.getBytes(UTF_8)
    Option(Lineizer.parseStyleBoxB(b, 0, b.length))
  }

  test("parseStyleBoxB == the style regex on edge-case styles") {
    val styles = Seq(
      "left:1px;top:2px;width:3px;height:4px",
      "position:absolute;left:20px;top:40px;width:900px;height:22px",
      "LEFT:1px;top:2px;width:3px;height:4px", // upper-case key
      "Left:1px;top:2px;width:3px;height:4px;left:9px",
      "leftx:1px;top:2px;width:3px;height:4px", // key must reach the colon
      "xleft:1px;top:2px;width:3px;height:4px", // no word boundary
      "left:1px;left:7px;top:2px;width:3px;height:4px;top:8px", // repeats
      "left:1px;top:2px;width:3px;height:4", // missing px
      "left:1px;top:2px;width:3px;height:4PX",
      "left:1234567890px;top:2px;width:3px;height:4px", // 10 digits
      "left:123456789px;top:2px;width:3px;height:4px", // 9 digits
      "left:-1234567890px;top:2px;width:3px;height:4px",
      "left:-5px;top:-6px;width:3px;height:4px", // negatives
      "left:--5px;top:2px;width:3px;height:4px",
      "left: \t-5px;top :\n2px;width\u000B:\f3px;height\r:4px",
      "left:1px;東京top:2px;é width:3px;–height:4px😀", // non-ASCII between
      "left\u2028:1px;top:2px;width:3px;height:4px", // U+2028 before a colon
      "left:\u20281px;top:2px;width:3px;height:4px",
      "left:1px;top:2px;width:3px;heigh",
      "",
      "l", "left", "left:", "left:1", "left:1p"
    )
    styles.foreach(s => assert(byteBox(s) == regexBox(s), s"style: $s"))
  }

  test("parseStyleBoxB == the style regex on random styles") {
    val rng = new java.util.Random(20261019L)
    val keys = Array("left", "top", "width", "height", "LEFT", "Top", "leftx", "xtop",
      "heigh", "widt", "l", "")
    val colons = Array(":", " : ", "\t:", "\u2028:", ":\u2028", "", "::")
    val values = Array("1", "-5", "0", "42", "999999999", "1234567890", "-123456789",
      "-", "", "007")
    val units = Array("px", "PX", "p", "", "px;", "pxpx")
    val fillers = Array(";", " ", "東京", "é", "–", "😀", "px", "-", "9")
    (0 until 3000).foreach { _ =>
      val sb = new StringBuilder
      (0 until rng.nextInt(7)).foreach { _ =>
        sb ++= keys(rng.nextInt(keys.length)) ++= colons(rng.nextInt(colons.length)) ++=
          values(rng.nextInt(values.length)) ++= units(rng.nextInt(units.length)) ++=
          fillers(rng.nextInt(fillers.length))
      }
      val s = sb.toString
      assert(byteBox(s) == regexBox(s), s"style: $s")
    }
  }

  /** A tag's classes as the sets define them. */
  private def setBits(name: String): Int =
    (if (VoidTags(name)) VoidBit else 0) | (if (RawTextTags(name)) RawTextBit else 0) |
      (if (NavTags(name)) NavBit else 0) | (if (HeaderTags(name)) HeaderBit else 0) |
      (if (CellTags(name)) CellBit else 0)

  private def mixedCase(s: String): String =
    s.zipWithIndex.map { case (c, i) => if (i % 2 == 0) c.toUpper else c }.mkString

  test("tag table: every classed tag is on it, with the sets' class bits") {
    (VoidTags ++ RawTextTags ++ NavTags ++ HeaderTags ++ CellTags).foreach { t =>
      assert(TagNames.contains(t), t)
    }
    assert(TagNames.distinct.length == TagNames.length)
    TagNames.indices.foreach(id => assert(TagBits(id) == setBits(TagNames(id)), TagNames(id)))
  }

  test("tag table: interning is case-insensitive and returns the shared name") {
    TagNames.indices.foreach { id =>
      val name = TagNames(id)
      Seq(name, name.toUpperCase, mixedCase(name)).foreach { raw =>
        val b = s"<$raw>".getBytes(UTF_8)
        assert(tagIdOfBytes(b, 1, b.length - 1) == id, raw)
        assert(tagNameOfBytes(b, 1, b.length - 1) eq name, raw)
        assert(tagNameOf(s"<$raw>", 1, raw.length + 1) eq name, raw)
        assert(tagBits(name) == setBits(name), raw)
      }
    }
  }

  test("tag table: names off it lowercase, carry the sets' bits, and agree across forms") {
    val names = Seq(
      "blockquote", "figcaption", "Noscript", "SECTIONS", "articles", // 8+ bytes
      "zz", "x1", "H7", "tbodyx", "s", "1", // ASCII, off the table
      "木", "Ünïcode", "aſide", "lin\u212A", "Сcript" // non-ASCII
    )
    names.foreach { raw =>
      val b = raw.getBytes(UTF_8)
      val name = tagNameOfBytes(b, 0, b.length)
      assert(name == raw.toLowerCase, raw)
      assert(tagNameOf(raw, 0, raw.length) == name, raw)
      assert(tagBits(name) == setBits(name), raw)
      if (raw.exists(_ >= 0x80)) assert(tagIdOfBytes(b, 0, b.length) == -1, raw)
    }
    // the Kelvin sign lowercases onto the table: a void tag by the sets
    val kelvin = "lin\u212A".getBytes(UTF_8)
    assert(tagBits(tagNameOfBytes(kelvin, 0, kelvin.length)) == VoidBit)
    assert(tagNameOfBytes(Array.emptyByteArray, 0, 0) == "")
  }
}
