package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.engine.Pipeline

/** Cross-engine column building blocks shared by the training-data pipeline
  * operators (dedup / similarity / text analysis).
  *
  * Every primitive here has an exact DuckDB equivalent so the driver's
  * oracle compare is bit-exact:
  *   - [[h32]]   <->  `CAST(('0x' || substring(md5(x),1,8)) AS BIGINT)`
  *   - [[dot]]   <->  `list_reduce(list_transform(...), (x,y) -> x+y)`
  *   - [[micro]] <->  `CAST(floor(x * 1000000.0) AS BIGINT)`
  *   - [[urlHost]] <-> [[sqlUrlHost]]: the same `regexp_extract` of
  *     [[graft.engine.Pipeline.UrlHostRegex]]
  * (the word/shingle primitives live in the typed kernels —
  * Dedup.shingleRows — since the higher-order column forms are
  * CodegenFallback; only their DuckDB mirrors remain here.)
  *
  * md5 is the one hash both engines implement identically; all derived
  * hashes (minhash, simhash, fingerprints, LSH planes) are built on its
  * first 8 hex chars -> unsigned 32-bit value in a LONG. Everything stays
  * inside whole-stage codegen (no UDFs).
  */
object ColFns {

  /** Cross-engine 32-bit hash in [0, 2^32): first 8 hex chars of md5 —
    * since r6 the native codegen [[graft.functions.H32Expression]]
    * (bit-identical to the former `conv(substring(md5(s),1,8),16,10)`
    * column form, minus the hex-string round trip per call; requires
    * GraftExtensions on the session, which every entry point registers).
    */
  def h32(s: Column): Column = call_function("graft_h32", s)

  /** Sequential-fold double dot product of two float/double vectors —
    * the native codegen'd [[graft.functions.DotExpression]] (identical
    * accumulation order and double-promotion to the DuckDB `list_reduce`
    * mirror, so cosines stay bit-exact; requires GraftExtensions on the
    * session, which every library entry point registers).
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** An embedding in integer micro units, `floor(x * 1e6)` per component
    * as ARRAY<DOUBLE> — the native [[graft.functions.MicroVecExpression]]
    * (exact in both engines, so sums and dots over it are order-free).
    */
  def microVec(v: Column): Column = call_function("graft_micro_vec", v)

  /** A url's host, [[graft.engine.Pipeline.UrlHostRegex]]: the column
    * form of [[graft.engine.Pipeline.hostOf]]; OpsSpec pins the two equal.
    */
  def urlHost(url: Column): Column = regexp_extract(url, Pipeline.UrlHostRegex, 1)

  /** floor(x * 1e6) as BIGINT — the hash-stable way to emit a double:
    * floor is exact given identical IEEE inputs, unlike round (HALF_UP in
    * Spark, bankers-ish in some engines).
    */
  def micro(x: Column): Column = floor(x * lit(1000000.0)).cast("long")

  // ----- DuckDB-side fragments (kept beside the Spark forms so the two
  // ----- dialects evolve together; used by SparkEntry's oracle texts) -----

  /** DuckDB equivalent of [[h32]] applied to SQL fragment `s`. */
  def sqlH32(s: String): String =
    s"CAST(('0x' || substring(md5($s),1,8)) AS BIGINT)"

  /** DuckDB equivalent of [[words]] on column `text`. */
  def sqlWords(text: String): String =
    s"list_filter(string_split($text, ' '), w -> w <> '')"

  /** DuckDB equivalent of [[shingles]] over a words column `w`. */
  def sqlShingles(w: String, n: Int): String = {
    val parts = (0 until n).map(k => s"$w[i+$k]").mkString(" || ' ' || ")
    s"CASE WHEN len($w) >= $n THEN list_transform(generate_series(1, len($w)-${n - 1}), i -> $parts) ELSE [] END"
  }

  /** DuckDB sequential-fold dot product over 1..dim (mirror of [[dot]]). */
  def sqlDot(a: String, b: String, dim: Int): String =
    s"list_reduce(list_transform(generate_series(1,$dim), i -> CAST($a[i] AS DOUBLE)*CAST($b[i] AS DOUBLE)), (x,y) -> x+y)"

  def sqlCosine(a: String, b: String, dim: Int): String =
    s"(${sqlDot(a, b, dim)} / (sqrt(${sqlDot(a, a, dim)}) * sqrt(${sqlDot(b, b, dim)})))"

  /** DuckDB equivalent of [[urlHost]] on SQL fragment `url`. */
  def sqlUrlHost(url: String): String =
    s"regexp_extract($url, '${Pipeline.UrlHostRegex}', 1)"

  def sqlMicro(x: String): String = s"CAST(floor(($x) * 1000000.0) AS BIGINT)"
}
