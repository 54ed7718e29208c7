package graft.core

/** Per-document evaluation cores, exact ports of
  * /root/reference/pipeline/evaluation.py:6-95.
  *
  * Quirk preserved on purpose (it defines the metric, SURVEY.md §7.5): both
  * cores use list *membership* (`pred_item in gt`), so duplicate predictions
  * of one ground-truth item each count as correct.
  *
  * The six granularities these kernels run over are defined once, in
  * [[graft.engine.Eval.Granularities]].
  */
object PairMetrics {

  final case class Counts(pred: Long, gt: Long, correct: Long) {
    def +(o: Counts): Counts = Counts(pred + o.pred, gt + o.gt, correct + o.correct)
  }
  object Counts { val zero: Counts = Counts(0L, 0L, 0L) }

  /** `_calculate_linking_metric_core` / `_calculate_KV_metric_core` counting
    * semantics (evaluation.py:24-33, 67-75).
    */
  def membershipCounts[A](pred: Seq[A], gt: Seq[A]): Counts = {
    var correct = 0L
    pred.foreach { p => if (gt.contains(p)) correct += 1 }
    Counts(pred.length.toLong, gt.length.toLong, correct)
  }

  /** TP/FP/FN detail records (evaluation.py:72-93): TP/FP per prediction in
    * order, then FN for every gt item never matched (matched-list membership).
    */
  def detail[A](pred: Seq[A], gt: Seq[A]): Vector[(String, A)] = {
    val out = Vector.newBuilder[(String, A)]
    val matched = scala.collection.mutable.ArrayBuffer.empty[A]
    pred.foreach { p =>
      if (gt.contains(p)) { out += (("TP", p)); matched += p }
      else out += (("FP", p))
    }
    gt.foreach { g => if (!matched.contains(g)) out += (("FN", g)) }
    out.result()
  }

  /** P/R/F1 from micro counts (evaluation.py:34-42 and 515-592). */
  def prf(c: Counts): (Double, Double, Double) = {
    val p = if (c.pred > 0) c.correct.toDouble / c.pred else 0.0
    val r = if (c.gt > 0) c.correct.toDouble / c.gt else 0.0
    val f1 = if (p + r > 0) 2 * p * r / (p + r) else 0.0
    (p, r, f1)
  }
}
