package graft.core

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Pins this engine's pure core against vectors produced by RUNNING the
  * actual reference functions (tools/gen_reference_vectors.py executes
  * /root/reference/data/data_utils.py and the extracted
  * pipeline/decode.py:parse_matrix_spots on seeded random + adversarial
  * inputs). Committed at src/test/resources/refvec/vectors.json.
  */
class RefVectorSpec extends AnyFunSuite {

  private val root: JsonNode = {
    val in = getClass.getResourceAsStream("/refvec/vectors.json")
    require(in != null, "missing refvec/vectors.json")
    new ObjectMapper().readTree(in)
  }

  private def intSeq(n: JsonNode): Vector[Int] = n.elements.asScala.map(_.asInt).toVector

  /** A `[[i, j, tag, score], ...]` spot list as the packed channel the
    * engine decodes, scores kept.
    */
  private def channel(n: JsonNode): SpotChannel = {
    val rows = n.elements.asScala.map(_.elements.asScala.toVector).toVector
    new SpotChannel(rows.map(v => Spots.cell(v(0).asInt, v(1).asInt, v(2).asInt)).toArray,
      rows.map(_(3).asDouble).toArray)
  }

  test("sort_boxes matches reference permutation") {
    root.get("sort_boxes").elements.asScala.foreach { c =>
      val boxes = c.get("boxes").elements.asScala.map(intSeq).toVector
      val expected = intSeq(c.get("perm"))
      assert(Boxes.sortBoxes(boxes) == expected, s"boxes=$boxes")
    }
  }

  test("special_text_replace matches the executed reference (inference variant)") {
    root.get("special_text_replace").elements.asScala.foreach { c =>
      assert(TextNorm.specialReplace(c.get("in").asText) == c.get("out").asText,
        s"in=${c.get("in").asText}")
    }
  }

  test("string_f2h matches reference") {
    root.get("string_f2h").elements.asScala.foreach { c =>
      assert(TextNorm.stringF2H(c.get("in").asText) == c.get("out").asText)
    }
  }

  test("normalize_bbox matches reference int-truncation semantics") {
    root.get("normalize_bbox").elements.asScala.foreach { c =>
      val got = Boxes.normalizeBbox(intSeq(c.get("box")), c.get("w").asInt, c.get("h").asInt)
      assert(got == intSeq(c.get("out")))
    }
  }

  test("box_two_point_convert matches reference (4-value and 8-coord quad)") {
    root.get("box_two_point_convert").elements.asScala.foreach { c =>
      val box = intSeq(c.get("box"))
      assert(Boxes.boxTwoPointConvert(box) == intSeq(c.get("out")), s"box=$box")
    }
  }

  test("merge_bbox matches reference") {
    root.get("merge_bbox").elements.asScala.foreach { c =>
      val boxes = c.get("boxes").elements.asScala.map(intSeq).toVector
      assert(Boxes.mergeBbox(boxes) == intSeq(c.get("out")))
    }
  }

  test("sample_decode_peneo full chain matches executed reference") {
    def pairs(n: JsonNode): Vector[(Int, Int)] =
      n.elements.asScala.map(e => (e.get(0).asInt, e.get(1).asInt)).toVector
    def multi(n: JsonNode): Vector[(Int, Vector[Int])] =
      n.elements.asScala.map(e => (e.get(0).asInt, intSeq(e.get(1)))).toVector

    var nKv = 0
    root.get("sample_decode").elements.asScala.zipWithIndex.foreach { case (c, ci) =>
      val text = c.get("text").elements.asScala.map(_.asText).toVector
      val bbox = c.get("bbox").elements.asScala.map(intSeq).toVector
      val got = Decode.decode(
        view = Decode.CompactTokView.ofTokens(text, bbox),
        lineExtractionSpots = channel(c.get("le")),
        entHeadSpots = channel(c.get("eh")),
        entTailSpots = channel(c.get("et")),
        groupHeadSpots = channel(c.get("gh")),
        groupTailSpots = channel(c.get("gtl")),
        decodeGt = c.get("gt").asBoolean,
        scoreThresh = c.get("thresh").asDouble
      )
      val expKv = c.get("kv").elements.asScala.map { e =>
        KvPair(e.get(0).asText, e.get(1).asText, intSeq(e.get(2)), intSeq(e.get(3)))
      }.toVector
      val expLines = c.get("lines").elements.asScala.map { e =>
        DecodedLine(e.get(0).asText, intSeq(e.get(1)))
      }.toVector
      assert(got.kvPairs == expKv, s"case $ci kv")
      assert(got.lines == expLines, s"case $ci lines")
      assert(got.lineExtraction == pairs(c.get("le_map")), s"case $ci le_map")
      assert(got.entHead == multi(c.get("eh_map")), s"case $ci eh_map")
      assert(got.entTail == multi(c.get("et_map")), s"case $ci et_map")
      assert(got.groupHead == pairs(c.get("gh_map")), s"case $ci gh_map")
      assert(got.groupTail == pairs(c.get("gt_map")), s"case $ci gt_map")
      nKv += expKv.size
    }
    assert(nKv >= 20, s"vectors must exercise kv emission (got $nKv pairs)")
  }

  test("sibr dataset loop: DocBuilder matches the executed reference preprocessing") {
    // vectors come from EXECUTING sibr.py's unmodified __getitem__ over
    // synthetic annotation fixtures (tokenizer mocked with this engine's
    // contract, texts pre-normalized by the executed _special_text_replace);
    // internals were captured from the reference frame via sys.settrace.
    def strSeq(n: JsonNode): Vector[String] = n.elements.asScala.map(_.asText).toVector
    def spots3(n: JsonNode): Vector[(Int, Int, Int)] =
      n.elements.asScala.map(e => (e.get(0).asInt, e.get(1).asInt, e.get(2).asInt)).toVector
    def intSet(n: JsonNode): Set[Int] = n.elements.asScala.map(_.asInt).toSet
    def intMap(n: JsonNode): Map[Int, Int] =
      n.elements.asScala.map(e => e.get(0).asInt -> e.get(1).asInt).toMap
    def strMap(n: JsonNode): Map[Int, String] =
      n.elements.asScala.map(e => e.get(0).asInt -> e.get(1).asText).toMap

    var nTruncated = 0
    root.get("sibr_dataset").elements.asScala.zipWithIndex.foreach { case (c, ci) =>
      val d = c.get("doc")
      val doc = AnnDoc(
        uid = d.get("uid").asText,
        width = d.get("width").asInt,
        height = d.get("height").asInt,
        entities = d.get("entities").elements.asScala.map { e =>
          AnnEntity(e.get("id").asInt, e.get("label").asText,
            e.get("lines").elements.asScala.map { l =>
              AnnLine(l.get("id").asInt, l.get("text").asText, intSeq(l.get("bbox")))
            }.toVector)
        }.toVector,
        kvEntity = d.get("kv").elements.asScala
          .map(r => AnnRelation(r.get(0).asInt, r.get(1).asInt)).toVector,
        lineGrouping = d.get("grouping").elements.asScala
          .map(r => AnnRelation(r.get(0).asInt, r.get(1).asInt)).toVector
      )
      val (sample, trace) = DocBuilder.buildWithTrace(doc, c.get("max_token_len").asInt)
      val tag = s"case $ci (${doc.uid}, mtl=${c.get("max_token_len").asInt})"

      // observable sample
      assert(sample.tokens == strSeq(c.get("text")), s"$tag tokens")
      assert(sample.bbox == c.get("bbox").elements.asScala.map(intSeq).toVector, s"$tag bbox")
      assert(sample.origBbox == c.get("orig_bbox").elements.asScala.map(intSeq).toVector, s"$tag origBbox")
      assert(sample.relations == c.get("relations").elements.asScala
        .map(e => (e.get(0).asText, e.get(1).asText)).toVector, s"$tag relations")
      assert(graft.core.Spots.unpack(sample.lineExtractionSpots) == spots3(c.get("le")), s"$tag le")
      assert(graft.core.Spots.unpack(sample.entHeadSpots) == spots3(c.get("eh")), s"$tag eh")
      assert(graft.core.Spots.unpack(sample.entTailSpots) == spots3(c.get("et")), s"$tag et")
      assert(graft.core.Spots.unpack(sample.groupHeadSpots) == spots3(c.get("gh")), s"$tag gh")
      assert(graft.core.Spots.unpack(sample.groupTailSpots) == spots3(c.get("gtl")), s"$tag gtl")

      // internal bookkeeping: exclusion-set timing, entity maps, offsets
      assert(trace.emptyLine == intSet(c.get("empty_line")), s"$tag empty_line")
      assert(trace.emptyEntity == intSet(c.get("empty_entity")), s"$tag empty_entity")
      assert(trace.entityFirstLine == intMap(c.get("entity_first_line")), s"$tag first_line")
      assert(trace.entityLastLine == intMap(c.get("entity_last_line")), s"$tag last_line")
      assert(trace.entityText == strMap(c.get("entity_text")), s"$tag entity_text")
      assert(trace.inScopeEntityId == intSet(c.get("in_scope_entity")), s"$tag in_scope_entity")
      assert(trace.inScopeLineId == intSet(c.get("in_scope_line")), s"$tag in_scope_line")
      assert(trace.lineOrigToSorted == intMap(c.get("line_orig_to_sorted")), s"$tag orig_to_sorted")

      // the sorted LineInfo array with per-line token offsets (None past cut)
      val expLines = c.get("sorted_lines").elements.asScala.map { ln =>
        DocBuilder.TraceLine(
          ln.get("line_id").asInt, ln.get("entity_id").asInt,
          ln.get("category").asText, strSeq(ln.get("tokens")), intSeq(ln.get("coords")),
          if (ln.get("start").isNull) None else Some(ln.get("start").asInt),
          if (ln.get("end").isNull) None else Some(ln.get("end").asInt))
      }.toVector
      assert(trace.sortedLines == expLines, s"$tag sorted_lines")
      if (expLines.exists(_.start.isEmpty)) nTruncated += 1
    }
    assert(nTruncated >= 4, s"vectors must exercise truncation (got $nTruncated truncated docs)")
  }

  test("parse_matrix_spots matches reference dict-order and tie semantics") {
    root.get("parse_matrix_spots").elements.asScala.foreach { c =>
      val spots = channel(c.get("spots"))
      val top = c.get("top").asBoolean
      val triu = c.get("triu").asBoolean
      val thresh = c.get("thresh").asDouble
      val expected: Vector[(Int, Either[Int, Vector[Int]])] =
        c.get("result").elements.asScala.map { item =>
          val k = item.get(0).asInt
          val v = item.get(1)
          if (v.isArray) (k, Right(intSeq(v))) else (k, Left(v.asInt))
        }.toVector
      if (top) {
        val got = Spots.parseTop(spots, triu, thresh).toVector
        assert(got == expected.map { case (k, Left(v)) => (k, v); case x => fail(s"$x") },
          s"spots=$spots top=$top triu=$triu")
      } else {
        val got = Spots.parseMulti(spots, triu, thresh).toVectorMulti
        assert(got == expected.map { case (k, Right(v)) => (k, v); case x => fail(s"$x") },
          s"spots=$spots top=$top triu=$triu")
      }
    }
  }
}
