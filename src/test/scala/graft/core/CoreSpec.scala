package graft.core

import org.scalatest.funsuite.AnyFunSuite

class TokenizerSpec extends AnyFunSuite {

  private def randomLine(rng: java.util.Random): String = {
    val pieces = Array(
      "Name", "Date", "Total", "2024", "N/A", "　", "１２", "word", "x9",
      " ", "  ", "\t", ":", ".", ",", "-", "(", ")", "/", "$", "é", "–", "☑"
    )
    (0 until rng.nextInt(12)).map(_ => pieces(rng.nextInt(pieces.length))).mkString
  }

  test("fetcher-identity: concat(tokens) == text for any line with content") {
    val rng = new java.util.Random(20260816L)
    (0 until 2000).foreach { _ =>
      val raw = randomLine(rng)
      val text = TextNorm.specialReplace(raw)
      val toks = Tokenizer.tokenize(text)
      if (text.exists(c => !TextNorm.pyIsSpace(c))) {
        assert(toks.nonEmpty)
        assert(toks.mkString == text, s"raw=${raw.map(_.toInt)}")
      } else {
        assert(toks.isEmpty)
      }
    }
  }

  test("tokenizeEnds: end-offset form derives exactly tokenize over random lines") {
    val rng = new java.util.Random(20260817L)
    (0 until 2000).foreach { _ =>
      val text = TextNorm.specialReplace(randomLine(rng))
      val toks = Tokenizer.tokenize(text)
      val ends = Tokenizer.tokenizeEnds(text)
      val derived = ends.indices.map(k =>
        text.substring(if (k == 0) 0 else ends(k - 1), ends(k))).toVector
      assert(derived == toks, s"text=${text.map(_.toInt)}")
      if (ends.nonEmpty) assert(ends.last == text.length)
    }
  }

  test("empty and whitespace-only lines tokenize to empty (empty-line filter input)") {
    assert(Tokenizer.tokenize("") == Vector.empty)
    assert(Tokenizer.tokenize("   \t ") == Vector.empty)
    assert(Tokenizer.tokenize(" 　") == Vector.empty)
  }

  test("token shapes: leading space attaches, punct splits, trailing space attaches to last") {
    assert(Tokenizer.tokenize("Name: John  Doe ") ==
      Vector("Name", ":", " John", "  Doe "))
    assert(Tokenizer.tokenize(" a-b") == Vector(" a", "-", "b"))
  }
}

class TextNormSpec extends AnyFunSuite {
  test("pyStrip strips python whitespace incl NBSP and ideographic space") {
    assert(TextNorm.pyStrip("  a b  ") == "a b")
    assert(TextNorm.pyStrip(" x　") == "x")
    assert(TextNorm.pyStrip("x") == "x")
    assert(TextNorm.pyStrip("") == "")
    assert(TextNorm.pyStrip(" \t\n") == "")
  }

  test("specialReplace applies ordered table then f2h") {
    assert(TextNorm.specialReplace("☑done? – yés™") == "done? - yesTM")
    assert(TextNorm.specialReplace("ＡＢ　！") == "AB !")
    assert(TextNorm.specialReplace("Tοpic §¢") == "Topic ")
  }
}

class DecodeSpec extends AnyFunSuite {
  // 6 tokens over 3 lines: line A = [0,1], line B = [2,3], line C = [4,5]
  private val text = Vector("Key", ":1", " v", "al", " x", "tra")
  private val box = Vector.tabulate(6)(i => Vector(i * 10, 0, i * 10 + 9, 10))

  private val view = Decode.CompactTokView.ofTokens(text, box)
  private val none = new SpotChannel(Array.emptyLongArray)

  private def spots(ts: (Int, Int, Int)*): SpotChannel =
    new SpotChannel(Spots.canonicalizePackedRaw(
      ts.zipWithIndex.map { case ((i, j, t), k) => Spots.pack(i, j, k, t) }.toArray))

  test("single-line KV pair decodes with strip and merged boxes") {
    val d = Decode.decode(
      view = view,
      lineExtractionSpots = spots((0, 1, 1), (2, 3, 1)),
      entHeadSpots = spots((0, 2, 1)),
      entTailSpots = spots((1, 3, 1)),
      groupHeadSpots = none,
      groupTailSpots = none
    )
    assert(d.lines.map(_.text) == Vector("Key:1", " val"))
    assert(d.kvPairs == Vector(KvPair("Key:1", "val", Vector(0, 0, 19, 10), Vector(20, 0, 39, 10))))
  }

  test("multi-line value follows grouping chain validated against line extraction") {
    val d = Decode.decode(
      view = view,
      lineExtractionSpots = spots((0, 1, 1), (2, 3, 1), (4, 5, 1)),
      entHeadSpots = spots((0, 2, 1)),
      entTailSpots = spots((1, 5, 1)), // key tail 1 -> value chain-tail 5
      groupHeadSpots = spots((2, 4, 1)), // value line B head -> line C head
      groupTailSpots = spots((3, 5, 1)) // value line B tail -> line C tail
    )
    assert(d.kvPairs.map(p => (p.key, p.value)) == Vector(("Key:1", "val xtra")))
  }

  test("chain breaks when grouping tail disagrees with line extraction") {
    val d = Decode.decode(
      view = view,
      lineExtractionSpots = spots((0, 1, 1), (2, 3, 1), (4, 5, 1)),
      entHeadSpots = spots((0, 2, 1)),
      entTailSpots = spots((1, 3, 1)), // valid only if chain stops at B
      groupHeadSpots = spots((2, 4, 1)),
      groupTailSpots = spots((3, 4, 1)) // grouping says tail 4, extraction says 5 -> break
    )
    // chain broke after line B, so value tail = 3 which IS registered
    assert(d.kvPairs.map(p => (p.key, p.value)) == Vector(("Key:1", "val")))
  }

  test("validation failure emits nothing") {
    val d = Decode.decode(
      view = view,
      lineExtractionSpots = spots((0, 1, 1), (2, 3, 1)),
      entHeadSpots = spots((0, 2, 1)),
      entTailSpots = none,
      groupHeadSpots = none,
      groupTailSpots = none
    )
    assert(d.kvPairs.isEmpty)
    assert(d.lines.nonEmpty)
    // a page with no entities: zero tokens, and pred and gt decode nothing
    val empty = DocBuilder.build(AnnDoc("u", 1000, 1414, Vector.empty, Vector.empty, Vector.empty))
    assert(empty.nTokens == 0)
    Seq(false, true).foreach { gt =>
      val e = DocBuilder.decodeSample(empty, decodeGt = gt)
      assert(e.lines.isEmpty && e.kvPairs.isEmpty && e.extractedText.isEmpty, s"empty gt=$gt")
    }
  }

  test("triu flip (tag=2) swaps key and value heads") {
    val d = Decode.decode(
      view = view,
      lineExtractionSpots = spots((0, 1, 1), (2, 3, 1)),
      entHeadSpots = spots((0, 2, 2)), // key head is 2, value head is 0
      entTailSpots = spots((1, 3, 2)), // key tail 3 -> value tail 1
      groupHeadSpots = none,
      groupTailSpots = none
    )
    assert(d.kvPairs.map(p => (p.key, p.value)) == Vector(("val", "Key:1")))
  }

  test("self-loop in grouping head map terminates") {
    // grouping head 2 -> 2 would loop; reference breaks on equality
    val d = Decode.decode(
      view = view,
      lineExtractionSpots = spots((0, 1, 1), (2, 3, 1)),
      entHeadSpots = spots((0, 2, 1)),
      entTailSpots = spots((1, 3, 1)),
      groupHeadSpots = spots((2, 2, 1)),
      groupTailSpots = none
    )
    assert(d.kvPairs.map(p => (p.key, p.value)) == Vector(("Key:1", "val")))
  }

  test("gt decode collapses multimaps to first tail per head") {
    val le = spots((0, 1, 1), (2, 3, 1))
    val gh = new SpotChannel(Array(Spots.cell(0, 2, 1), Spots.cell(0, 4, 1))) // head 0 -> tails 2 then 4
    val pred = Decode.decode(view, le, none, none, gh, none, decodeGt = false)
    val gt = Decode.decode(view, le, none, none, gh, none, decodeGt = true)
    assert(gt.groupHead == Vector((0, 2))) // first wins
    assert(pred.groupHead == Vector((0, 2))) // top-score: first at equal score wins
  }
}

class CanonicalizeSpec extends AnyFunSuite {
  test("canonicalizePackedRaw == the map+sort model on random spot streams") {
    val rng = new java.util.Random(17)
    (0 until 200).foreach { trial =>
      val l = 1 + rng.nextInt(40)
      val spots = (0 until rng.nextInt(60)).map { _ =>
        val i = rng.nextInt(l)
        val j = i + rng.nextInt(l - i)
        (i, j, rng.nextInt(4)) // incl. tag 0 (dropped) and duplicate cells
      }
      // the dense round trip: a cell keeps its last write, cells read back
      // in (i, j) order, and tag-0 cells read back as nothing
      val model = spots.foldLeft(Map.empty[(Int, Int), Int]) { case (m, (i, j, t)) => m.updated((i, j), t) }
        .toVector.sortBy(_._1).collect { case ((i, j), t) if t != 0 => (i, j, t) }
      val packed = spots.zipWithIndex.map { case ((i, j, t), k) => Spots.pack(i, j, k, t) }.toArray
      val input = packed.clone()
      assert(Spots.unpack(Spots.canonicalizePackedRaw(packed)) == model, s"trial $trial")
      assert(packed.sameElements(input), s"trial $trial: input reordered")
    }
  }
}

class IntMapsSpec extends AnyFunSuite {
  // model-based checks vs LinkedHashMap: random key/value streams across
  // several sizes force collision probes and the grow path
  test("IntIntOrdered matches LinkedHashMap semantics incl. update-in-place order") {
    val rng = new java.util.Random(11)
    (0 until 50).foreach { trial =>
      val nOps = 1 + rng.nextInt(300)
      val keyRange = 1 + rng.nextInt(80) // duplicates guaranteed
      val m = new IntIntOrdered
      val model = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
      (0 until nOps).foreach { _ =>
        val k = rng.nextInt(keyRange)
        val v = rng.nextInt(1000)
        m.put(k, v); model.put(k, v)
      }
      assert(m.toVector == model.toVector, s"trial $trial")
      assert(m.size == model.size)
      model.foreach { case (k, v) => assert(m.getOrMinus1(k) == v) }
      assert(m.getOrMinus1(keyRange + 5) == -1)
    }
  }

  test("IntMultiOrdered append order, membership, first") {
    val rng = new java.util.Random(13)
    (0 until 50).foreach { trial =>
      val m = new IntMultiOrdered
      val model = scala.collection.mutable.LinkedHashMap.empty[Int, scala.collection.mutable.ArrayBuffer[Int]]
      (0 until 1 + rng.nextInt(250)).foreach { _ =>
        val k = rng.nextInt(50)
        val v = rng.nextInt(40)
        m.append(k, v)
        model.getOrElseUpdate(k, scala.collection.mutable.ArrayBuffer.empty) += v
      }
      assert(m.toVectorMulti == model.toVector.map { case (k, vs) => (k, vs.toVector) }, s"trial $trial")
      model.foreach { case (k, vs) =>
        assert(m.firstOrMinus1(k) == vs.head)
        (0 until 40).foreach(v => assert(m.containsValue(k, v) == vs.contains(v)))
      }
      assert(m.firstOrMinus1(99) == -1 && !m.containsValue(99, 0))
    }
  }
}

class QuadCorpusSpec extends AnyFunSuite {
  test("synth corpus emits 8-value quad boxes and build() collapses them to the 4-value result") {
    var quads = 0
    (0L until 40L).foreach { i =>
      val ann = graft.synth.CorpusGen.annFor(i).ann
      val annLines = ann.entities.flatMap(_.lines)
      quads += annLines.count(_.bbox.length == 8)
      // converting every box up front must give the identical DocSample
      // (spot channels are Array[Long] — compare them structurally, the
      // case-class == is reference equality for arrays)
      val converted = ann.copy(entities = ann.entities.map(e =>
        e.copy(lines = e.lines.map(l => l.copy(bbox = Boxes.boxTwoPointConvert(l.bbox))))))
      val (a, b) = (DocBuilder.build(ann), DocBuilder.build(converted))
      assert(a.uid == b.uid && a.tokens == b.tokens && a.bbox == b.bbox &&
        a.origBbox == b.origBbox && a.relations == b.relations, s"doc $i")
      assert(a.lineExtractionSpots.sameElements(b.lineExtractionSpots) &&
        a.entHeadSpots.sameElements(b.entHeadSpots) &&
        a.entTailSpots.sameElements(b.entTailSpots) &&
        a.groupHeadSpots.sameElements(b.groupHeadSpots) &&
        a.groupTailSpots.sameElements(b.groupTailSpots), s"doc $i spots")
    }
    assert(quads > 20, s"corpus must exercise the 8-coord path (got $quads quad lines)")
  }
}

class PairMetricsSpec extends AnyFunSuite {
  import PairMetrics._

  test("duplicate predictions each count as correct (membership quirk)") {
    val c = membershipCounts(Seq(("a", "b"), ("a", "b")), Seq(("a", "b")))
    assert(c == Counts(2, 1, 2))
    val (p, r, f1) = prf(c)
    assert(p == 1.0 && r == 2.0)
    assert(math.abs(f1 - 2 * 1.0 * 2.0 / 3.0) < 1e-12)
  }

  test("detail emits TP/FP in pred order then FN for unmatched gt") {
    val d = detail(Seq(1, 9), Seq(1, 7))
    assert(d == Vector(("TP", 1), ("FP", 9), ("FN", 7)))
  }
}
