package graft.functions

import org.apache.spark.unsafe.types.UTF8String
import graft.core.UrlBucket

/** The kernel of `graft_bucket`, the engine's url -> bucket assignment
  * (FNV-1a 64 mod buckets, graft.core.UrlBucket — the exchange and sort
  * key of Pipeline.runFrom's write and the resume anti-join key).
  *
  * A native function (see [[GraftExtensions]]), not a Scala UDF: the
  * resume path scans the FULL input table at 10^12-doc scale, and a
  * row-at-a-time interpreted UDF there breaks whole-stage codegen exactly
  * where throughput matters most.
  * The generated code is a single static call.
  */
object FnvBucketExpression {
  /** Static entry point shared by interpreted eval and generated code. */
  def bucket(s: UTF8String, buckets: Int): Int = UrlBucket.of(s.toString, buckets)
}
