package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.core.PairMetrics

/** Distributed evaluation (SURVEY.md §2 E-block): per-document membership
  * cores run in the join kernel; the micro-aggregation that the reference
  * does with `torch.distributed.all_gather_object` + a driver loop
  * (/root/reference/pipeline/evaluation.py:415-513) is a plain hash
  * aggregate here — partial+final combine comes free from Catalyst, and the
  * fname-dedupe (evaluation.py:483-487) is `dropDuplicates("url")`.
  *
  * [[Granularities]] is the one table of the reference's six granularities
  * (evaluation.py:227-334): [[metricRow]], [[detailRows]] and [[aggregate]]
  * all walk it, so counts, detail records and the report cannot disagree
  * on what an item is.
  */
object Eval {

  /** One granularity: its name (the [[MetricRow]] column prefix and
    * [[DetailRow]]`.granularity`), a doc's items, and how an item prints in
    * [[DetailRow]]`.item`. Membership compares the items themselves, so a kv
    * pair matches on the (key, value) tuple as in the reference.
    */
  final case class Granularity[A](name: String, items: DocOut => Seq[A], show: A => String) {
    def counts(p: DocOut, g: DocOut): PairMetrics.Counts =
      PairMetrics.membershipCounts(items(p), items(g))
    def detail(p: DocOut, g: DocOut): Seq[(String, String)] =
      PairMetrics.detail(items(p), items(g)).map { case (v, a) => (v, show(a)) }
  }

  /** How a kv item and a (head, tail) item print; the perturbed-eval
    * queries build their item strings with the same two functions.
    */
  def showKv(key: String, value: String): String = key + "\u0001" + value
  def showPair(head: Int, tail: Int): String = s"$head:$tail"

  private def flat(m: Seq[MultiOut]): Seq[(Int, Int)] = m.flatMap(x => x.tails.map(t => (x.head, t)))
  private def pairs(s: Seq[PairOut]): Seq[(Int, Int)] = s.map(x => (x.head, x.tail))
  private val showHt: ((Int, Int)) => String = { case (h, t) => showPair(h, t) }

  val Granularities: Seq[Granularity[_]] = Seq(
    Granularity[(String, String)]("kv", _.kv.map(x => (x.key, x.value)), { case (k, v) => showKv(k, v) }),
    Granularity[String]("line", _.lines.map(_.text), identity),
    Granularity[(Int, Int)]("entHead", d => flat(d.entHead), showHt),
    Granularity[(Int, Int)]("entTail", d => flat(d.entTail), showHt),
    Granularity[(Int, Int)]("groupHead", d => pairs(d.groupHead), showHt),
    Granularity[(Int, Int)]("groupTail", d => pairs(d.groupTail), showHt))

  def metricRow(url: String, p: DocOut, g: DocOut): MetricRow = {
    val Seq(kv, ln, eh, et, gh, gl) = Granularities.map(_.counts(p, g))
    MetricRow(url,
      kv.pred, kv.gt, kv.correct, ln.pred, ln.gt, ln.correct,
      eh.pred, eh.gt, eh.correct, et.pred, et.gt, et.correct,
      gh.pred, gh.gt, gh.correct, gl.pred, gl.gt, gl.correct)
  }

  /** Inner join pred x golden on url, per-doc membership cores in the map. */
  def metricRows(pred: Dataset[DocOut], golden: Dataset[DocOut]): Dataset[MetricRow] = {
    val spark = pred.sparkSession
    import spark.implicits._
    pred.joinWith(golden, pred("url") === golden("url"), "inner")
      .map { case (p, g) => metricRow(p.url, p, g) }
  }

  /** Per-sample TP/FP/FN detail records at all six granularities — the
    * reference's `--save_eval_detail` detail.json
    * (run_rfund.py:294-300, evaluation.py:72-93) as a queryable table.
    * Runs the real [[PairMetrics.detail]] kernel inside the join map.
    */
  def detailRows(pred: Dataset[DocOut], golden: Dataset[DocOut]): Dataset[DetailRow] = {
    val spark = pred.sparkSession
    import spark.implicits._
    pred.joinWith(golden, pred("url") === golden("url"), "inner")
      .flatMap { case (p, g) =>
        Granularities.flatMap(gr => gr.detail(p, g).map { case (v, item) => DetailRow(p.url, gr.name, v, item) })
      }
  }

  /** Granularity `g`'s three count columns, as [[MetricRow]] and the
    * perturbed-eval reports name them.
    */
  def countColumns(g: String): Seq[String] = Seq(s"${g}Pred", s"${g}Gt", s"${g}Correct")

  /** [[PairMetrics.prf]] as columns over the summed [[countColumns]] of
    * `g`: (precision, recall, F1).
    */
  def prf(g: String): (Column, Column, Column) = {
    val Seq(pred, gt, correct) = countColumns(g).map(c => col(c).cast("double"))
    val p = when(pred > 0, correct / pred).otherwise(lit(0.0))
    val r = when(gt > 0, correct / gt).otherwise(lit(0.0))
    (p, r, when(p + r > 0, lit(2.0) * p * r / (p + r)).otherwise(lit(0.0)))
  }

  /** Micro-aggregate to the six-granularity P/R/F1 report (one row). */
  def aggregate(metrics: Dataset[MetricRow]): DataFrame = {
    val names = Granularities.map(_.name)
    val sums = names.flatMap(countColumns).map(c => sum(c).as(c))
    val agged = metrics.dropDuplicates("url").agg(count(lit(1)).as("numSamples"), sums: _*)
    names.foldLeft(agged) { (df, g) =>
      val (p, r, f1) = prf(g)
      df.withColumn(s"${g}Precision", p).withColumn(s"${g}Recall", r).withColumn(s"${g}F1", f1)
    }
  }
}
