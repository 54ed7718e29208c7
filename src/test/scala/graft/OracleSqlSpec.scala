package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite
import graft.app.Corpus

/** Snapshot of every DuckDB oracle's SQL text: one `name sha256` line per
  * [[SparkEntry.oracleSql]] entry, committed at
  * src/test/resources/oracle_sql.sha256. Identical text means identical
  * oracle answers, so a refactor that must not move any result proves it
  * here. A deliberate SQL change regenerates the file — a failing run
  * writes the recomputed one to target/oracle_sql.sha256 — and the diff of
  * that file names exactly the queries whose text changed. The corpus root
  * is masked before hashing: it depends on where the checkout lives.
  * Every text is also bound at a second corpus directory, which it must
  * follow: [[SparkEntry.oracleSqlFor]] builds each text from the paths of
  * the corpus it is given, never from sf0.01's.
  */
class OracleSqlSpec extends AnyFunSuite {

  private val corpusRoot =
    Corpus.corpusDir("sf0.01").stripSuffix(s"/${Corpus.Version}/sf0.01")

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  test("every oracle SQL text matches its committed sha256") {
    val actual = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (n, sql) => n -> sha256(sql.replace(corpusRoot, "<corpus>")) }
    val in = getClass.getResourceAsStream("/oracle_sql.sha256")
    val expected =
      if (in == null) Map.empty[String, String]
      else try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map { l => val Array(n, d) = l.split(' '); n -> d }.toMap
      finally in.close()
    val got = actual.toMap
    val changed = actual.collect { case (n, d) if expected.get(n).exists(_ != d) => n }
    val added = actual.map(_._1).filterNot(expected.contains)
    val removed = expected.keys.toSeq.sorted.filterNot(got.contains)
    if (changed.nonEmpty || added.nonEmpty || removed.nonEmpty) {
      val out = Paths.get("target", "oracle_sql.sha256")
      Files.createDirectories(out.getParent)
      Files.write(out, actual.map { case (n, d) => s"$n $d\n" }.mkString.getBytes(UTF_8))
      fail(s"oracle SQL text changed: ${changed.mkString(", ")}; " +
        s"added: ${added.mkString(", ")}; removed: ${removed.mkString(", ")}. " +
        s"If on purpose, copy $out to src/test/resources/ and declare the change.")
    }
  }

  test("every oracle text follows the corpus it is bound to") {
    // building the registry rejects a repeated query name, so any such
    // entry fails here before a single text is compared
    val alt = SparkEntry.oracleSqlFor("sf-alt")
    assert(alt.keySet == SparkEntry.queries.keySet)
    val (altDir, baseDir) = (Corpus.corpusDir("sf-alt"), Corpus.corpusDir("sf0.01"))
    val pinned = alt.collect { case (n, sql) if sql.contains(s"$baseDir/") => n }
    assert(pinned.isEmpty, s"oracle texts pinned to sf0.01: ${pinned.toSeq.sorted.mkString(", ")}")
    val base = SparkEntry.oracleSql
    val moved = alt.collect { case (n, sql) if sql.replace(altDir, baseDir) != base(n) => n }
    assert(moved.isEmpty, s"texts that differ beyond the corpus directory: ${moved.toSeq.sorted.mkString(", ")}")
  }
}
