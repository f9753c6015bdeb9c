package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's per-batch evaluation metrics (SURVEY §2.5 A3) as
  * distributed DataFrame aggregates — never a driver-side label collect.
  *
  * The reference computes these with sklearn on collected numpy arrays
  * (`SGDC/sgdc.py:102-113`): confusion matrix, accuracy, F1, precision,
  * recall, and `mean_squared_error` logged under the wrong name "rmse" —
  * we name it `mse` (SURVEY §2.11.1).
  */
object Metrics {

  /** Confusion counts: one row per (label, prediction) pair. */
  def confusion(scored: DataFrame,
                labelCol: String = "target",
                predCol: String = "prediction"): DataFrame =
    scored.groupBy(col(labelCol).as("label"), col(predCol).as("prediction"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("label"), col("prediction"))

  /** Multiclass accuracy + per-class precision/recall/F1 (one row per
    * class, macro-averageable), all from a single confusion aggregation —
    * A3 generalized past the binary label set. */
  def multiclass(scored: DataFrame,
                 labelCol: String = "target",
                 predCol: String = "prediction"): DataFrame = {
    val cm = confusion(scored, labelCol, predCol).cache()
    val tp = cm.where(col("label") === col("prediction"))
      .select(col("label").as("cls"), col("cnt").as("tp"))
    val perLabel = cm.groupBy(col("label").as("cls"))
      .agg(sum(col("cnt")).as("n_true"))
    val perPred = cm.groupBy(col("prediction").as("cls"))
      .agg(sum(col("cnt")).as("n_pred"))
    perLabel.join(perPred, Seq("cls"), "full")
      .join(tp, Seq("cls"), "left")
      .select(col("cls"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        (coalesce(col("tp"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_pred"), lit(0L)), lit(1L))).as("precision"),
        (coalesce(col("tp"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_true"), lit(0L)), lit(1L))).as("recall"))
      .withColumn("f1",
        when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall"))).otherwise(0.0))
      .orderBy(col("cls"))
  }

  case class BinaryMetrics(accuracy: Double, precision: Double,
                           recall: Double, f1: Double, mse: Double)

  /** Confusion counts collected to the driver as (label, prediction,
    * count) cells, at most four for a binary label set. Unordered: no
    * sort job, unlike [[confusion]]. */
  def confusionCells(scored: DataFrame,
                     labelCol: String = "target",
                     predCol: String = "prediction"): Seq[(Double, Double, Long)] =
    scored.groupBy(col(labelCol).cast("double"), col(predCol).cast("double"))
      .agg(count(lit(1)))
      .collect().toSeq
      .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))

  /** Accuracy, precision, recall, f1 and mse for the positive class (1.0)
    * from confusion cells: ratios of conditional counts, with 0/0 → 0 for
    * precision, recall and f1. With no cells (an empty holdout) accuracy
    * and mse, the means over no rows, are NaN. */
  def binaryFromConfusion(cells: Seq[(Double, Double, Long)]): BinaryMetrics = {
    def cnt(keep: (Double, Double) => Boolean): Long =
      cells.iterator.collect { case (l, p, c) if keep(l, p) => c }.sum
    val n = cells.iterator.map(_._3).sum
    val tp = cnt((l, p) => l == 1.0 && p == 1.0)
    val fp = cnt((l, p) => l == 0.0 && p == 1.0)
    val fn = cnt((l, p) => l == 1.0 && p == 0.0)
    val sqErr = cells.iterator.map { case (l, p, c) => math.pow(l - p, 2) * c }.sum
    BinaryMetrics(
      accuracy = cnt(_ == _).toDouble / n,
      precision = tp.toDouble / math.max(tp + fp, 1L),
      recall = tp.toDouble / math.max(tp + fn, 1L),
      f1 = 2.0 * tp / math.max(2L * tp + fp + fn, 1L),
      mse = sqErr / n)
  }

  /** Binary metrics of a scored frame from one confusion aggregation (the
    * driver receives at most four cells — the only data that ever leaves
    * the executors). */
  def binaryCollect(scored: DataFrame,
                    labelCol: String = "target",
                    predCol: String = "prediction"): BinaryMetrics =
    binaryFromConfusion(confusionCells(scored, labelCol, predCol))
}
