package graft.eval

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Internal classification metrics with false-negative-aware accounting
  * (SURVEY.md A6 — reference: relation_extraction_pipeline.py:545-684 and
  * the FN-aware variant relation_extraction_pipeline_pt.py:478-638).
  *
  * The reference's key subtlety, preserved here: gold-positive pairs that
  * did not fit max_seq_len never reach the classifier, and are appended to
  * y_true with an all-negative y_pred before aggregating (pt:489-501) —
  * otherwise silently dropped examples inflate recall.
  *
  * Everything is one `groupBy(gold, pred).count()` confusion-matrix
  * aggregation plus column math — no per-class driver loops.
  */
object InternalMetrics {

  case class ClassMetrics(label: String, tp: Long, fp: Long, fn: Long,
                          precision: Double, recall: Double, f1: Double)
  case class Report(confusion: Map[(String, String), Long],
                    perClass: Seq[ClassMetrics], accuracy: Double)

  /** @param scored   (doc_id, e1, e2, gold_label, pred_label) for every
    *                 pair that reached the classifier
    * @param unfitted (doc_id, e1, e2, gold_label) for pairs dropped by the
    *                 window-fit predicate — unioned as pred="neg" rows
    */
  def compute(scored: DataFrame, unfitted: DataFrame)
             (implicit spark: SparkSession): Report = {
    val all = scored.select(col("gold_label"), col("pred_label"))
      .unionByName(unfitted.select(col("gold_label"),
        lit("neg").as("pred_label")))
    val conf = all.groupBy("gold_label", "pred_label").count()
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val labels = conf.keys.flatMap(k => Seq(k._1, k._2)).toSeq.distinct.sorted
    val total = conf.values.sum
    val correct = conf.filter { case ((g, p), _) => g == p }.values.sum
    val perClass = labels.map { l =>
      val tp = conf.getOrElse((l, l), 0L)
      val fp = conf.collect { case ((g, p), n) if p == l && g != l => n }.sum
      val fn = conf.collect { case ((g, p), n) if g == l && p != l => n }.sum
      val prec = if (tp + fp == 0) 0.0 else tp.toDouble / (tp + fp)
      val rec = if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn)
      val f1 = if (prec + rec == 0) 0.0 else 2 * prec * rec / (prec + rec)
      ClassMetrics(l, tp, fp, fn, prec, rec, f1)
    }
    Report(conf, perClass, if (total == 0) 0.0 else correct.toDouble / total)
  }
}
