package graft.functions

import java.security.MessageDigest

import org.apache.spark.unsafe.types.UTF8String

/** Native 16-byte md5 digest — bit-identical to `unhex(md5(s))` (the
  * engine's content-hash key in the exact-dedup / line-dedup / shingle
  * inverted-index family) without md5()'s 32-char hex string allocation
  * and unhex()'s re-parse per call. On shingle/line-sized inputs the hex
  * round trip costs as much as the digest itself.
  */
object Md5BinExpression {

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  def compute(s: UTF8String): Array[Byte] =
    md5Local.get().digest(s.getBytes) // digest() resets for reuse
}
