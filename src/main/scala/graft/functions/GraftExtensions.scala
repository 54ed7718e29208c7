package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.expr

/** Session extension registering graft's native Catalyst functions.
  *
  * Two ways in, both public API:
  *  - `--conf spark.sql.extensions=graft.functions.GraftExtensions` on
  *    spark-submit (the cluster path), or
  *  - `SparkSession.builder.withExtensions(new GraftExtensions)` (the
  *    in-process path used by Verify/Bench/tests).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_f2h"),
      new ExpressionInfo(classOf[F2HExpression].getName, "graft_f2h"),
      (children: Seq[Expression]) => F2HExpression(children.head)
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_text_stats"),
      new ExpressionInfo(classOf[TextStatsExpression].getName, "graft_text_stats"),
      (children: Seq[Expression]) => TextStatsExpression(children.head)
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_fingerprint"),
      new ExpressionInfo(classOf[FingerprintExpression].getName, "graft_fingerprint"),
      (children: Seq[Expression]) => FingerprintExpression(children.head)
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_md5bin"),
      new ExpressionInfo(classOf[Md5BinExpression].getName, "graft_md5bin"),
      (children: Seq[Expression]) => Md5BinExpression(children.head)
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_h32"),
      new ExpressionInfo(classOf[H32Expression].getName, "graft_h32"),
      (children: Seq[Expression]) => H32Expression(children.head)
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotExpression].getName, "graft_dot"),
      (children: Seq[Expression]) => DotExpression(children(0), children(1))
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_byte_hist"),
      new ExpressionInfo(classOf[ByteHistExpression].getName, "graft_byte_hist"),
      (children: Seq[Expression]) => ByteHistExpression(children.head)
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_frame_sample"),
      new ExpressionInfo(classOf[FrameSampleExpression].getName, "graft_frame_sample"),
      (children: Seq[Expression]) => {
        require(children.length == 2 && children(1).foldable,
          "graft_frame_sample(payload, k) requires a literal stride")
        FrameSampleExpression(children.head,
          children(1).eval().asInstanceOf[Number].intValue())
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_bucket"),
      new ExpressionInfo(classOf[FnvBucketExpression].getName, "graft_bucket"),
      (children: Seq[Expression]) => {
        require(children.length == 2 && children(1).foldable,
          "graft_bucket(url, buckets) requires a literal bucket count")
        FnvBucketExpression(children.head,
          children(1).eval().asInstanceOf[Number].intValue())
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_micro_vec"),
      new ExpressionInfo(classOf[MicroVecExpression].getName, "graft_micro_vec"),
      (children: Seq[Expression]) => MicroVecExpression(children.head)
    ))
    // Spark's own runtime-filter bloom pair (BloomFilterAggregate /
    // BloomFilterMightContain, the expressions InjectRuntimeFilter plants
    // under shuffle joins) exposed as callable functions — they are NOT in
    // the public FunctionRegistry. Both sides key on xxhash64(value), the
    // same symmetry the optimizer rule uses; callers must hash identically
    // on build and probe (see ops.Dedup.contaminationBloom).
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "graft_bloom_agg"),
      (children: Seq[Expression]) => children match {
        case Seq(c)        => new BloomFilterAggregate(c)
        case Seq(c, n, b)  => new BloomFilterAggregate(c, n, b)
        case _ => throw new IllegalArgumentException(
          "graft_bloom_agg(xxhash64_col[, est_items, num_bits])")
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "graft_might_contain"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_might_contain(bloom_binary, xxhash64_value) takes exactly 2 args")
        BloomFilterMightContain(children(0), children(1))
      }
    ))
  }
}

object GraftFunctions {
  /** Apply graft_f2h via the SQL surface (requires GraftExtensions). */
  def f2hExpr(sqlFragment: String): Column = expr(s"graft_f2h($sqlFragment)")

  /** Bucket-of-url via the SQL surface (requires GraftExtensions — the
    * library's sessions all register it; spark-submit users pass
    * `--conf spark.sql.extensions=graft.functions.GraftExtensions`).
    */
  def bucketExpr(colName: String, buckets: Int): Column =
    expr(s"graft_bucket($colName, $buckets)")
}
