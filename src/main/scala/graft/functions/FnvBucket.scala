package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.core.UrlBucket

/** Native Catalyst expression for the engine's url -> bucket assignment
  * (FNV-1a 64 mod buckets, graft.core.UrlBucket — the exchange and sort
  * key of Pipeline.runFrom's write and the resume anti-join key).
  *
  * Codegen'd `UnaryExpression`, not a Scala UDF: the resume path scans the
  * FULL input table at 10^12-doc scale, and a row-at-a-time interpreted UDF
  * there breaks whole-stage codegen exactly where throughput matters most.
  * The generated code is a single static call.
  */
case class FnvBucketExpression(child: Expression, buckets: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (!child.dataType.isInstanceOf[StringType])
      TypeCheckResult.TypeCheckFailure(
        s"graft_bucket requires a STRING argument, got ${child.dataType.sql}")
    else if (buckets <= 0)
      TypeCheckResult.TypeCheckFailure(s"graft_bucket requires buckets > 0, got $buckets")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_bucket"

  override def nullSafeEval(input: Any): Any =
    FnvBucketExpression.bucket(input.asInstanceOf[UTF8String], buckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FnvBucketExpression.bucket($c, $buckets)")

  override protected def withNewChildInternal(newChild: Expression): FnvBucketExpression =
    copy(child = newChild)
}

object FnvBucketExpression {
  /** Static entry point shared by interpreted eval and generated code. */
  def bucket(s: UTF8String, buckets: Int): Int = UrlBucket.of(s.toString, buckets)
}
