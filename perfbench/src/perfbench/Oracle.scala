package perfbench

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.{array, col, concat, explode, lit, struct, when}

import graft.core.{AnnDoc, DocBuilder}
import graft.engine.{DocOut, KvOut, LineOut, MultiOut, PairOut, Pipeline}
import graft.synth.PageRow

/** One output row as the checker sees it: url, a 128-bit fingerprint of
  * every `DocOut` column except `kernelUs` (a timing), and the decoded
  * bytes the row carries.
  */
final case class FpRow(url: String, hi: Long, lo: Long, bytes: Long)

/** What a check found: `failed` counts expected docs that are missing,
  * duplicated or different from the oracle, plus unexpected urls.
  */
final case class CheckResult(expected: Long, failed: Long) {
  def +(o: CheckResult): CheckResult = CheckResult(expected + o.expected, failed + o.failed)
}

/** The oracle side of the benchmark: goldens from the annotation path
  * (`DocBuilder.build` -> `decodeSample`, which never touches HTML) and a
  * per-url checker over fingerprints of the engine's output rows.
  */
object Oracle {

  /** Two independent 64-bit lanes over a length-prefixed field stream. */
  final class Fp {
    var hi: Long = 0x243F6A8885A308D3L
    var lo: Long = 0x13198A2E03707344L
    var bytes: Long = 0L
    @inline private def mix(v: Long): Unit = {
      hi = java.lang.Long.rotateLeft((hi ^ v) * 0x9E3779B97F4A7C15L, 29)
      lo = java.lang.Long.rotateLeft((lo + v) * 0xC2B2AE3D27D4EB4FL, 31) ^ hi
    }
    def int(v: Int): Unit = { mix(v.toLong); bytes += 4 }
    def str(s: String): Unit = {
      mix(0x5354L << 32 | s.length)
      var i = 0
      while (i < s.length) { mix(s.charAt(i).toLong); i += 1 }
      bytes += s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    }
    def ints(xs: Seq[Int]): Unit = { mix(xs.length.toLong); xs.foreach(int) }
    def pairs(xs: Seq[PairOut]): Unit = {
      mix(xs.length.toLong); xs.foreach { p => int(p.head); int(p.tail) }
    }
  }

  def fingerprint(d: DocOut): FpRow = {
    val f = new Fp
    f.str(d.url); f.str(d.host); f.str(d.lang)
    f.int(d.bucket); f.int(d.nTokens); f.int(d.nLines); f.int(d.nKv)
    f.str(d.text)
    f.int(d.lines.length)
    d.lines.foreach { l => f.str(l.text); f.ints(l.box) }
    f.int(d.kv.length)
    d.kv.foreach { k => f.str(k.key); f.str(k.value); f.ints(k.keyBox); f.ints(k.valueBox) }
    f.pairs(d.lineExtraction)
    f.int(d.entHead.length)
    d.entHead.foreach { m => f.int(m.head); f.ints(m.tails) }
    f.int(d.entTail.length)
    d.entTail.foreach { m => f.int(m.head); f.ints(m.tails) }
    f.pairs(d.groupHead)
    f.pairs(d.groupTail)
    // kernelUs is a timing: consumed (counted in bytes) but not compared
    FpRow(d.url, f.hi, f.lo, f.bytes + 8)
  }

  /** Golden `DocOut` for a synthesized page, from its annotation. */
  def golden(ann: AnnDoc, page: PageRow, buckets: Int): DocOut = {
    val sample = DocBuilder.build(ann)
    val d = DocBuilder.decodeSample(sample)
    DocOut(
      url = page.url,
      host = Pipeline.hostOf(page.url),
      lang = page.lang,
      bucket = Pipeline.bucketOf(page.url, buckets),
      nTokens = sample.tokens.length,
      nLines = d.lines.length,
      nKv = d.kvPairs.length,
      kernelUs = 0L,
      text = d.extractedText,
      lines = d.lines.map(l => LineOut(l.text, l.box)),
      kv = d.kvPairs.map(p => KvOut(p.key, p.value, p.keyBox, p.valueBox)),
      lineExtraction = d.lineExtraction.map(p => PairOut(p._1, p._2)),
      entHead = d.entHead.map(m => MultiOut(m._1, m._2)),
      entTail = d.entTail.map(m => MultiOut(m._1, m._2)),
      groupHead = d.groupHead.map(p => PairOut(p._1, p._2)),
      groupTail = d.groupTail.map(p => PairOut(p._1, p._2))
    )
  }

  /** Fingerprints of an engine output's rows, computed where the rows
    * are, each with the value of the integer column `tag` (0 if none).
    */
  def fingerprints(out: DataFrame, tag: String = ""): Array[(Int, FpRow)] = {
    val spark = out.sparkSession
    import spark.implicits._
    val docCols = Encoders.product[DocOut].schema.fieldNames.toIndexedSeq.map(col)
    out.select((if (tag.isEmpty) lit(0) else col(tag)).as("_1"), struct(docCols: _*).as("_2"))
      .as[(Int, DocOut)]
      .map { case (t, d) => (t, fingerprint(d)) }.collect()
  }

  /** Per-url compare against the goldens: each expected url that is
    * missing, duplicated or different counts once, and so does each url
    * that was not expected at all.
    */
  def check(got: Array[FpRow], expected: java.util.HashMap[String, FpRow]): CheckResult = {
    val byUrl = got.groupBy(_.url)
    var failed = 0L
    expected.forEach { (u, g) =>
      byUrl.get(u) match {
        case Some(Array(r)) if r.hi == g.hi && r.lo == g.lo =>
        case _ => failed += 1
      }
    }
    failed += byUrl.keysIterator.count(u => !expected.containsKey(u))
    CheckResult(expected.size.toLong, failed)
  }

  /** `out` with three defects the checker must count: the `text` of
    * `urls(0)` altered, `urls(1)` dropped and `urls(2)` duplicated.
    */
  def tamper(out: DataFrame, urls: Seq[String]): DataFrame = {
    val Seq(alter, drop, dup) = urls
    // one pass over `out`: the duplicate comes from exploding its row twice
    out
      .filter(col("url") =!= drop)
      .withColumn("text", when(col("url") === alter, concat(col("text"), lit("!")))
        .otherwise(col("text")))
      .withColumn("_copy", explode(when(col("url") === dup, array(lit(0), lit(1)))
        .otherwise(array(lit(0)))))
      .drop("_copy")
  }
}
