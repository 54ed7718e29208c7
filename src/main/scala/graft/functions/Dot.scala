package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Native sequential-fold dot product over float/double array columns.
  *
  * Replaces the `aggregate(zip_with(...))` higher-order form (CodegenFallback
  * — interpreted per ELEMENT, with the intermediate product array
  * materialized per row) on the ANN hot paths. The accumulation order and
  * double-promotion are identical to the HOF form and the DuckDB
  * `list_reduce` oracle, so cosines are bit-identical. A null ELEMENT in
  * either array yields a null result — also matching the HOF form, which
  * propagated element nulls through the fold (ArrayData.getFloat on a null
  * slot would otherwise silently read 0.0).
  *
  * Unequal-length inputs are an error (the HOF form silently yielded null);
  * embeddings are fixed-dimension, so a length mismatch is data corruption.
  */
object DotExpression {
  @inline private def check(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    require(n == b.numElements(),
      s"graft_dot: length mismatch ${a.numElements()} vs ${b.numElements()}")
    n
  }
  def dotFF(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = check(a, b); var acc = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1
    }
    acc
  }
  def dotFD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = check(a, b); var acc = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getDouble(i); i += 1
    }
    acc
  }
  def dotDF(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = check(a, b); var acc = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getFloat(i).toDouble; i += 1
    }
    acc
  }
  def dotDD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = check(a, b); var acc = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i); i += 1
    }
    acc
  }
}
