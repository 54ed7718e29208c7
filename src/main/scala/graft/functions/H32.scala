package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.unsafe.types.UTF8String

/** Native h32 — the engine's cross-engine 32-bit hash (first 4 md5 bytes of
  * the UTF-8 string as an unsigned value in a LONG), bit-identical to the
  * former column form `conv(substring(md5(s),1,8),16,10)` and to the DuckDB
  * mirror `CAST(('0x' || substring(md5(s),1,8)) AS BIGINT)`.
  *
  * The column form paid, per call: a 16-byte digest -> 32-char lowercase
  * hex STRING allocation (md5()), a substring copy, and a radix-16 string
  * re-parse (conv). h32 sits under every minhash slot (8 calls per
  * shingle), every simhash word, every band-bucket cap priority and every
  * deterministic sampling gate — the hottest scalar in the dedup/prep
  * family — so this expression computes the value straight from the digest
  * bytes with a thread-local reused MessageDigest (the
  * [[FingerprintExpression]] discipline).
  */
object H32Expression {

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  def compute(s: UTF8String): Long = ofBytes(s.getBytes)

  /** The same hash of a JVM string, for code outside Catalyst expressions. */
  def compute(s: String): Long = ofBytes(s.getBytes(StandardCharsets.UTF_8))

  private def ofBytes(b: Array[Byte]): Long = {
    val d = md5Local.get().digest(b) // digest() resets for reuse
    ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
      ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
  }
}
