package graft.html

import org.scalatest.funsuite.AnyFunSuite
import graft.app.Corpus
import graft.core._
import graft.engine.{Eval, Pipeline}
import graft.synth.CorpusGen

/** The engine-side mirror of the reference's GT round-trip invariant
  * (/root/reference/pipeline/decode.py:496-508): synthesized annotation ->
  * rendered HTML -> parse -> lineize must reproduce the annotation, and the
  * decoded engine output must equal the oracle's decode of the original
  * annotation — including byte-identical extracted text.
  */
class RoundTripSpec extends AnyFunSuite {

  private val nDocs = 300

  test("lineize(render(ann)) reproduces the annotation structurally") {
    (0L until nDocs.toLong).foreach { idx =>
      val synth = CorpusGen.annFor(idx)
      val html = CorpusGen.render(synth, "en")
      val got = Lineizer.lineize(HtmlParser.parse(html), synth.ann.uid)
      // CSS styles carry only the 4-value ltrb form, so the lineized result
      // is compared against the quad-converted canonical annotation
      val canonEntities = synth.ann.entities.map(e =>
        e.copy(lines = e.lines.map(l => l.copy(bbox = Boxes.boxTwoPointConvert(l.bbox)))))
      assert(got.width == synth.ann.width && got.height == synth.ann.height, s"doc $idx dims")
      assert(got.entities == canonEntities, s"doc $idx entities")
      assert(got.lineGrouping == synth.ann.lineGrouping, s"doc $idx grouping")
      // kv order may differ by idiom scan order; compare as sets
      assert(got.kvEntity.toSet == synth.ann.kvEntity.toSet, s"doc $idx kv")
      assert(got.kvEntity.length == synth.ann.kvEntity.length, s"doc $idx kv dupes")
    }
  }

  test("engine extract == oracle decode, byte-identical text per url") {
    (0L until nDocs.toLong).foreach { idx =>
      val (_, page) = CorpusGen.pageFor(idx)
      val engine = Pipeline.extractDoc(page.url, page.html, page.lang, Pipeline.DefaultBuckets)
      val oracle = Corpus.goldenFor(idx, Pipeline.DefaultBuckets)
      assert(engine.text == oracle.text, s"doc $idx text")
      // every column but kernelUs, a timing
      assert(engine.copy(kernelUs = oracle.kernelUs) == oracle, s"doc $idx")
    }
  }

  test("pred decode == gt decode on clean pages (self-consistency)") {
    (0L until 50L).foreach { idx =>
      val (ann, _) = CorpusGen.pageFor(idx)
      val sample = DocBuilder.build(ann)
      val pred = DocBuilder.decodeSample(sample)
      val gt = DocBuilder.decodeSample(sample, decodeGt = true)
      def out(d: DecodedDoc) = Pipeline.docOut(ann.uid, "en", Pipeline.DefaultBuckets, 0, d, 0L)
      val m = Eval.metricRow(ann.uid, out(pred), out(gt))
      val field = m.productElementNames.zip(m.productIterator).toMap
      Eval.Granularities.foreach { g =>
        val Seq(p, t, c) = Eval.countColumns(g.name).map(field)
        assert(p == c && t == c, s"doc $idx ${g.name} $m")
      }
    }
  }

  test("streaming lineizer == tree lineizer over the corpus and adversarial markup") {
    // corpus pages (full real rendering surface)
    (0L until nDocs.toLong).foreach { idx =>
      val synth = CorpusGen.annFor(idx)
      val html = CorpusGen.render(synth, "en")
      val tree = Lineizer.lineize(HtmlParser.parse(html), synth.ann.uid)
      val stream = Lineizer.lineizeStream(html, synth.ann.uid)
      assert(stream == tree, s"doc $idx")
    }
    // adversarial snippets: mis-nesting across a block boundary, block
    // closed by a mismatched ancestor tag, a-link text, nested positioned
    // element inside a block, void styled element, raw-text inside block,
    // entities in text and attrs, self-closing block
    val bx = "left:1px;top:2px;width:30px;height:4px"
    val by = "left:1px;top:40px;width:30px;height:4px"
    val snippets = Seq(
      s"""<table><tr><td style="$bx">c1</td><td style="$by">c2</table>""",
      s"""<b><div style="$bx">bold A</b> tail</div><p style="$by">B</p>""",
      s"""<div style="$bx">x<a href="/u">link</a>y<span style="$by">inner</span></div>""",
      s"""<nav><div style="$bx"><a href="/">all link</a></div></nav><img style="$by">""",
      s"""<div style="$bx">keep<script>ignore<me></script>after</div>""",
      s"""<dl><dt style="$bx">A&amp;B</dt><dd style="$by" id="i&quot;1">v</dd></dl>""",
      s"""<div style="$bx"/><label style="$by" for="f1">L</label>""",
      s"""<main data-w="800" data-h="600"><div style="$bx">t</div></main>""",
      s"""<a style="$bx">self link text</a>""",
      s"""<div style="$bx">open never closed<p style="$by">second""",
      // multibyte edges for the byte-level scanner: CJK text with entities,
      // a non-ASCII (BMP letter) tag name, U+3000 as attribute whitespace,
      // and a supplementary (non-BMP) char terminating a tag name
      s"""<div style="$bx">東京&amp;項目</div><木>t</木>""",
      s"""<div　style="$bx">　sp　</div>""",
      s"""<p😀 style="$bx">emoji-cut</p😀><div style="$by">ok</div>"""
    )
    snippets.zipWithIndex.foreach { case (h, i) =>
      val html = s"<html><body>$h</body></html>"
      val tree = Lineizer.lineize(HtmlParser.parse(html), "u")
      val stream = Lineizer.lineizeStream(html, "u")
      assert(stream == tree, s"snippet $i:\n$h")
    }
  }

  test("fuzz: streaming lineizer == tree lineizer on 500 random tag soups") {
    val rng = new java.util.Random(20260816L)
    val tags = Array("div", "p", "span", "dl", "dt", "dd", "table", "tr", "th",
      "td", "a", "nav", "h2", "label", "output", "b", "script", "img", "br", "zz")
    val words = Array("x", "A&amp;B", "t&lt;u", "&#65;", "key:", "v", " ", "–", "ｘ",
      "東京", "😀", "　")
    def soup(): String = {
      val sb = new StringBuilder("<html><body>")
      var depth = 0
      (0 until 5 + rng.nextInt(60)).foreach { _ =>
        rng.nextInt(7) match {
          case 0 | 1 =>
            val t = tags(rng.nextInt(tags.length))
            sb ++= s"<$t"
            if (rng.nextInt(3) == 0)
              sb ++= s""" style="left:${rng.nextInt(900)}px;top:${rng.nextInt(900)}px;width:${1 + rng.nextInt(200)}px;height:${1 + rng.nextInt(40)}px""""
            if (rng.nextInt(4) == 0) sb ++= s""" id="i${rng.nextInt(9)}""""
            if (rng.nextInt(5) == 0) sb ++= s""" for="i${rng.nextInt(9)}""""
            if (rng.nextInt(6) == 0) sb ++= " /"
            sb ++= ">"
            depth += 1
          case 2 =>
            // close a RANDOM tag (often mismatched)
            sb ++= s"</${tags(rng.nextInt(tags.length))}>"
            depth -= 1
          case 3 => sb ++= words(rng.nextInt(words.length))
          case 4 => sb ++= s"<!-- c ${rng.nextInt(9)} -->"
          case 5 => sb ++= words(rng.nextInt(words.length)) + words(rng.nextInt(words.length))
          case _ => sb ++= s"<${words(rng.nextInt(words.length))}" // garbage after '<'
        }
      }
      sb ++= "</body></html>"
      sb.toString
    }
    (0 until 500).foreach { t =>
      val html = soup()
      val tree = Lineizer.lineize(HtmlParser.parse(html), "u")
      val stream = Lineizer.lineizeStream(html, "u")
      assert(stream == tree, s"soup $t diverged:\n$html")
      // the packed decode fast path must agree with the Spot path on
      // whatever degenerate structures the soup produced
      val sample = DocBuilder.build(stream)
      assert(DocBuilder.decodeSampleFast(sample) == DocBuilder.decodeSample(sample),
        s"soup $t decode paths diverged:\n$html")
    }
  }

  test("byte scanner survives invalid UTF-8 in crawl bytes (replacement, no crash)") {
    // real crawl data contains broken encodings; structure chars are ASCII
    // so the scan proceeds, and text decodes with U+FFFD replacements
    val bx = "left:1px;top:2px;width:30px;height:4px"
    val good = s"""<html><body><div style="$bx">ok _ tail</div></body></html>"""
      .getBytes("UTF-8")
    // corrupt the text run: lone continuation byte, truncated 3-byte lead,
    // and a stray 0xFF
    val bad = good.clone()
    val at = new String(good, "UTF-8").indexOf('_')
    bad(at - 1) = 0x85.toByte
    bad(at) = 0xE3.toByte
    bad(at + 1) = 0xFF.toByte
    def extract(html: Array[Byte]) = Pipeline.extractDoc("u", html, "en", Pipeline.DefaultBuckets)
    val doc = extract(bad)
    assert(doc.lines.nonEmpty, "block must still be extracted")
    val text = doc.lines.head.text
    assert(text.startsWith("ok") && text.contains('�'),
      s"invalid bytes must decode to replacements, got: $text")
    // truncated multibyte at end-of-buffer must not crash either
    val cut = java.util.Arrays.copyOf(good, good.length - 20)
    cut(cut.length - 1) = 0xE4.toByte
    extract(cut) // no exception = pass
    // a page without positioned (styled) blocks has no lines
    assert(extract("<html><body><p>hello world</p></body></html>".getBytes("UTF-8")).lines.isEmpty)
  }

  test("style box parse: unicode whitespace and overlong digit runs are not matches") {
    def lineTexts(d: AnnDoc): Vector[String] = d.entities.flatMap(_.lines.map(_.text))
    // U+2028 between key and colon: regex \s never matched it; nor do we
    val u2028 = "left\u2028:1px;top:2px;width:3px;height:4px"
    // 12-digit run wraps Int; must be treated as no-match, not garbage
    val overlong = "left:999999999999px;top:2px;width:3px;height:4px"
    val good = "left:1px;top:2px;width:3px;height:4px"
    val html =
      s"""<html><body><div style="$u2028">BAD1</div>
         |<div style="$overlong">BAD2</div>
         |<div style="$good">GOOD</div></body></html>""".stripMargin
    assert(lineTexts(Lineizer.lineize(HtmlParser.parse(html), "u")) == Vector("GOOD"))
    // the engine's byte scanner has its own style parser
    assert(lineTexts(Lineizer.lineizeStreamBytes(html.getBytes("UTF-8"), "u")) == Vector("GOOD"))
  }

  test("stray slash inside a tag terminates (round-1 parser hung on <x</b>)") {
    // '/' at attribute-key position NOT followed by '>' must be skipped as
    // tag-soup noise, not loop forever
    Seq("<div><x</div>ok",
        "<br/ >after",
        """<a /href="u">t</a>""",
        "<p / / />x",
        "<<<>>>not html &&& <div").foreach { h =>
      val html = s"<html><body>$h</body></html>"
      val tree = Lineizer.lineize(HtmlParser.parse(html), "u")
      val stream = Lineizer.lineizeStream(html, "u")
      assert(stream == tree, h)
    }
  }

  test("html parser handles entities, comments, void and raw-text tags") {
    val root = HtmlParser.parse(
      """<!DOCTYPE html><html><body><!-- c --><script>if(a<b){}</script>
        |<div style="left:1px;top:2px;width:3px;height:4px">A&amp;B &lt;x&gt; &#65;&#x42;</div>
        |<br><img src=x><p>un&nbsp;closed</body></html>""".stripMargin)
    val txt = HtmlParser.textContent(root)
    assert(txt.contains("A&B <x> AB"))
    assert(txt.contains("un closed")) // &nbsp; decodes to U+00A0
    assert(!txt.contains("if(a<b)"))
  }
}
