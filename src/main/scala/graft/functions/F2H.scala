package graft.functions

import org.apache.spark.unsafe.types.UTF8String
import graft.core.TextNorm

/** Full-width -> half-width folding, the kernel of `graft_f2h`
  * (reference semantics: PEneo's data/data_utils.py:173-195;
  * U+3000 -> space, U+FF01..U+FF5E -> code-0xFEE0).
  *
  * A native function (see [[GraftExtensions]]), not a Scala UDF: the
  * generated code is a single static call, so the projection it appears in
  * stays inside WholeStageCodegen with no closure serialization or
  * row boxing. Shares [[graft.core.TextNorm.stringF2H]] with the pure
  * decode kernel and the golden oracle, so all three paths are
  * byte-identical by construction.
  */
object F2HExpression {
  /** Static entry point shared by interpreted eval and generated code. */
  def f2h(s: UTF8String): UTF8String = {
    val in = s.toString
    val out = TextNorm.stringF2H(in)
    if (out eq in) s else UTF8String.fromString(out)
  }
}
