package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one-row SQL aggregate `Metrics.binaryCollect` computed before it
  * read confusion cells, kept as the reference arm of the bit-equality
  * specs. It fails on an empty frame (the averages are null). */
object BinaryReference {
  def collect(scored: DataFrame,
              labelCol: String = "target",
              predCol: String = "prediction"): Metrics.BinaryMetrics = {
    val l = col(labelCol); val p = col(predCol)
    val tp = sum(when(l === 1.0 && p === 1.0, 1L).otherwise(0L))
    val fp = sum(when(l === 0.0 && p === 1.0, 1L).otherwise(0L))
    val fn = sum(when(l === 1.0 && p === 0.0, 1L).otherwise(0L))
    val r = scored.agg(
      avg(when(l === p, 1.0).otherwise(0.0)),
      tp.cast("double") / greatest(tp + fp, lit(1L)),
      tp.cast("double") / greatest(tp + fn, lit(1L)),
      lit(2.0) * tp / greatest(lit(2L) * tp + fp + fn, lit(1L)),
      avg(pow(l - p, 2))).head()
    Metrics.BinaryMetrics(r.getDouble(0), r.getDouble(1), r.getDouble(2),
      r.getDouble(3), r.getDouble(4))
  }

  /** `m`'s fields as raw bits, for exact comparison. */
  def bits(m: Metrics.BinaryMetrics): Seq[Long] =
    Seq(m.accuracy, m.precision, m.recall, m.f1, m.mse)
      .map(java.lang.Double.doubleToRawLongBits)
}
