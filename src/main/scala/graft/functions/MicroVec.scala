package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Native micro-quantization of an embedding vector:
  * `out[i] = floor(double(in[i]) * 1e6)` as an ARRAY<DOUBLE> of
  * integer-valued elements.
  *
  * This is the entry ticket to ORDER-FREE exact arithmetic over embeddings
  * (SURVEY.md §2 H7c k-means): float sums depend on reduction order, so a
  * grouped mean over raw embeddings can never be compared bit-exactly
  * against another engine. Quantized to integer micro units, every sum is
  * an integer; with |x| <= ~2 and Dim = 64, dot products stay below 2^53,
  * so even the sequential double fold of [[DotExpression]] over two
  * micro-vectors is EXACT integer arithmetic — identical in Spark and the
  * DuckDB `list_transform(e, x -> floor(CAST(x AS DOUBLE)*1e6))` mirror
  * regardless of evaluation order.
  *
  * float→double promotion is exact, `* 1e6` is one correctly-rounded IEEE
  * multiply, and floor is exact — so both engines see the same integer.
  * A native expression (not `transform(...)`) because higher-order
  * functions are CodegenFallback and materialize a lambda frame per
  * element; this is one strided pass. Null ELEMENTS map to null elements
  * (matching the DuckDB lambda's NULL propagation).
  */
object MicroVecExpression {
  val Scale = 1000000.0

  def computeF(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) out(i) = math.floor(a.getFloat(i).toDouble * Scale)
      i += 1
    }
    new GenericArrayData(out)
  }

  def computeD(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) out(i) = math.floor(a.getDouble(i) * Scale)
      i += 1
    }
    new GenericArrayData(out)
  }
}
