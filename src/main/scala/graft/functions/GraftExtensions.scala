package graft.functions

import org.apache.spark.SPARK_DOC_ROOT
import org.apache.spark.sql.{AnalysisException, Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types._

/** Session extension registering graft's native Catalyst functions.
  *
  * Two ways in, both public API:
  *  - `--conf spark.sql.extensions=graft.functions.GraftExtensions` on
  *    spark-submit (the cluster path), or
  *  - `SparkSession.builder.withExtensions(new GraftExtensions)` (the
  *    in-process path used by Verify/Bench/tests).
  *
  * Every `graft_*` kernel function is one [[NativeFn]] row of
  * [[GraftExtensions.Native]], and one loop registers them all. A row holds
  * the SQL name, the arguments (their count is the arity), the result type,
  * whether the kernel itself can return null, and the kernel object's
  * static method. A call is a [[NativeCall]]: plans print `name(args)`, and
  * generated code is one static call such as
  * `graft.functions.F2HExpression.f2h(...)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.Native.foreach { fn =>
      ext.injectFunction((FunctionIdentifier(fn.name),
        new ExpressionInfo(classOf[NativeCall].getName, fn.name), fn.call _))
    }
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

object GraftExtensions {
  import NativeFn.{Count, Str, Vec}

  /** The graft kernel functions, one row each. */
  val Native: Seq[NativeFn] = Seq(
    NativeFn("graft_f2h", F2HExpression.getClass, "f2h", Seq(Str), StringType),
    NativeFn("graft_h32", H32Expression.getClass, "compute", Seq(Str), LongType),
    NativeFn("graft_md5bin", Md5BinExpression.getClass, "compute", Seq(Str), BinaryType),
    NativeFn("graft_text_stats", TextStatsExpression.getClass, "compute", Seq(Str),
      TextStatsExpression.schema),
    NativeFn("graft_fingerprint", FingerprintExpression.getClass, "compute", Seq(Str),
      FingerprintExpression.schema),
    // dotFF, dotFD, dotDF or dotDD; null for non-null arrays holding a null element
    NativeFn("graft_dot", DotExpression.getClass, "dot", Seq(Vec, Vec), DoubleType,
      nullable = true),
    NativeFn("graft_micro_vec", MicroVecExpression.getClass, "compute", Seq(Vec),
      ArrayType(DoubleType, containsNull = true)),
    NativeFn("graft_byte_hist", ByteHistExpression.getClass, "compute", Seq(Str), StringType),
    NativeFn("graft_frame_sample", FrameSampleExpression.getClass, "compute",
      Seq(Str, Count("graft_frame_sample(payload, k) requires a literal stride",
        "graft_frame_sample stride must be >= 1")), StringType),
    NativeFn("graft_bucket", FnvBucketExpression.getClass, "bucket",
      Seq(Str, Count("graft_bucket(url, buckets) requires a literal bucket count",
        "graft_bucket requires buckets > 0")), IntegerType))
}

/** One graft kernel function: `name(args)` is `method(args)`, a static
  * method of the kernel object `target`, returning `result`. A [[NativeFn.Vec]]
  * argument appends its element type's letter (F or D) to `method`, so
  * `graft_dot` over a float and a double array calls `dotFD`. `nullable`
  * says the kernel can return null for non-null arguments; a null argument
  * always yields null.
  */
final case class NativeFn(name: String, target: Class[_], method: String,
    args: Seq[NativeFn.Arg], result: DataType, nullable: Boolean = false) {
  import NativeFn._

  /** The function builder: checks the arity and folds each [[NativeFn.Count]]
    * argument to an INT literal (checked by [[check]]).
    */
  def call(children: Seq[Expression]): NativeCall = {
    if (children.length != args.length)
      throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
        "functionName" -> s"`$name`", "expectedNum" -> args.length.toString,
        "actualNum" -> children.length.toString, "docroot" -> SPARK_DOC_ROOT))
    NativeCall(this, args.zip(children).map {
      case (_: Count, c) if c.foldable => c.eval() match {
        case n: Number => Literal(n.intValue)
        case _         => c
      }
      case (_, c) => c
    })
  }

  private[functions] def check(children: Seq[Expression]): TypeCheckResult = {
    val columns = args.zip(children).collect { case (a: Col, c) => (a, c.dataType) }
    if (!columns.forall { case (a, t) => a.accepts(t) }) {
      val a = columns.head._1
      val wants = if (columns.size == 1) s"${a.article} ${a.sql} argument" else s"${a.sql} arguments"
      TypeCheckFailure(s"$name requires $wants, got ${columns.map(_._2.sql).mkString(" and ")}")
    } else args.zip(children).collect {
      case (a: Count, Literal(k: Int, IntegerType)) =>
        if (k < 1) Some(s"${a.notPositive}, got $k") else None
      case (a: Count, _) => Some(a.notLiteral)
    }.flatten.headOption.fold[TypeCheckResult](TypeCheckSuccess)(TypeCheckFailure)
  }

  private[functions] def methodFor(children: Seq[Expression]): String =
    method + args.zip(children).collect { case (Vec, c) => letter(c.dataType) }.mkString
}

object NativeFn {
  sealed trait Arg
  /** A column argument of one SQL type. */
  sealed abstract class Col(val sql: String, val article: String) extends Arg {
    def accepts(t: DataType): Boolean
  }
  case object Str extends Col("STRING", "a") {
    def accepts(t: DataType): Boolean = t.isInstanceOf[StringType]
  }
  case object Vec extends Col("ARRAY<FLOAT|DOUBLE>", "an") {
    def accepts(t: DataType): Boolean = letter(t).nonEmpty
  }
  /** A literal count >= 1, passed to the kernel as an `Int`. */
  final case class Count(notLiteral: String, notPositive: String) extends Arg

  private def letter(t: DataType): String = t match {
    case ArrayType(FloatType, _)  => "F"
    case ArrayType(DoubleType, _) => "D"
    case _                        => ""
  }
}

/** A call of a [[NativeFn]]. It type-checks, prints and plans as
  * `name(args)`, and evaluates and generates code through Spark's
  * `StaticInvoke` of the kernel's static method. It is foldable when its
  * arguments are, deterministic, and not null-intolerant.
  */
case class NativeCall(fn: NativeFn, children: Seq[Expression]) extends Expression {
  override def prettyName: String = fn.name
  override protected def stringArgs: Iterator[Any] = children.iterator
  override def dataType: DataType = fn.result
  override def nullable: Boolean = fn.nullable || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def checkInputDataTypes(): TypeCheckResult = fn.check(children)
  // StaticInvoke reuses one argument buffer: interpreted projections copy it
  override def stateful: Boolean = true

  @transient private lazy val invoke = StaticInvoke(fn.target, fn.result,
    fn.methodFor(children), children, returnNullable = fn.nullable)

  override def eval(input: InternalRow): Any = invoke.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    invoke.doGenCode(ctx, ev)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): NativeCall =
    copy(children = newChildren)
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
