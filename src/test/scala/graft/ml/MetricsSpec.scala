package graft.ml

import graft.SparkSpec

class MetricsSpec extends SparkSpec {
  import spark.implicits._

  // labels:      1  1  1  0  0  0
  // predictions: 1  1  0  1  0  0   → tp=2 fp=1 fn=1 tn=2
  private lazy val scored = Seq(
    (1.0, 1.0), (1.0, 1.0), (1.0, 0.0),
    (0.0, 1.0), (0.0, 0.0), (0.0, 0.0)).toDF("target", "prediction")

  test("binary metrics match hand computation") {
    val m = Metrics.binaryCollect(scored)
    assert(math.abs(m.accuracy - 4.0 / 6) < 1e-12)
    assert(math.abs(m.precision - 2.0 / 3) < 1e-12)
    assert(math.abs(m.recall - 2.0 / 3) < 1e-12)
    assert(math.abs(m.f1 - 2.0 / 3) < 1e-12)   // 2tp/(2tp+fp+fn) = 4/6
    assert(math.abs(m.mse - 2.0 / 6) < 1e-12)
  }

  test("confusion matrix counts every (label, prediction) cell") {
    val cm = Metrics.confusion(scored).as[(Double, Double, Long)].collect().toSet
    assert(cm == Set((0.0, 0.0, 2L), (0.0, 1.0, 1L), (1.0, 0.0, 1L), (1.0, 1.0, 2L)))
  }

  test("multiclass per-class metrics match hand computation") {
    // 3 classes; class 2 never predicted
    val d = Seq((0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 1.0),
      (2.0, 0.0), (2.0, 1.0)).toDF("target", "prediction")
    val rows = Metrics.multiclass(d)
      .select("cls", "tp", "n_true", "n_pred", "precision", "recall")
      .as[(Double, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(rows(0.0) == (0.0, 1L, 2L, 2L, 0.5, 0.5))
    assert(rows(1.0) == (1.0, 2L, 2L, 4L, 0.5, 1.0))
    assert(rows(2.0) == (2.0, 0L, 2L, 0L, 0.0, 0.0))
  }

  test("q121 calibration buckets equal a brute recomputation from q41's scores") {
    val cal = graft.SparkEntry.queries("q121_score_calibration")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // independent path: re-derive buckets from q41's emitted scores
    val scored41 = graft.SparkEntry.queries("q41_linear_score")(spark, sfDir)
      .selectExpr("score", "label").collect()
      .map(r => (math.floor(r.getDouble(0) * 1000000.0).toLong,
        if (r.getInt(1) == 0) 0L else 1L))
    val mn = scored41.map(_._1).min
    val mx = scored41.map(_._1).max
    val brute = scored41
      .groupBy { case (sc, _) => ((sc - mn) * 10) / (mx - mn + 1) }
      .toSeq.sortBy(_._1)
      .map { case (b, rs) => (b, rs.length.toLong, rs.map(_._2).sum,
        rs.map(_._1).min, rs.map(_._1).max) }
    assert(cal.toSeq == brute, s"calibration mismatch:\n${cal.toSeq}\n$brute")
    // totals must cover the table; both classes must appear somewhere
    assert(cal.map(_._2).sum == scored41.length.toLong)
    assert(cal.map(_._3).sum > 0 && cal.map(_._3).sum < scored41.length.toLong,
      "calibration is vacuous without both classes")
  }

  test("binaryCollect equals the one-row SQL aggregate bit for bit") {
    val rnd = new scala.util.Random(17)
    val frames = for {
      n <- Seq(1, 3, 50, 1001)
      pPos <- Seq(0.0, 0.4, 1.0)
      agree <- Seq(0.0, 0.7, 1.0)
    } yield Seq.fill(n) {
      val y = if (rnd.nextDouble() < pPos) 1.0 else 0.0
      (y, if (rnd.nextDouble() < agree) y else 1.0 - y)
    }.toDF("target", "prediction").repartition(1 + rnd.nextInt(4))
    for (d <- frames) {
      val (got, want) = (Metrics.binaryCollect(d), BinaryReference.collect(d))
      assert(BinaryReference.bits(got) == BinaryReference.bits(want), s"$got != $want")
    }
  }

  test("an empty holdout has NaN accuracy and mse and zero precision, recall and f1") {
    val m = Metrics.binaryCollect(Seq.empty[(Double, Double)].toDF("target", "prediction"))
    assert(m.accuracy.isNaN && m.mse.isNaN, m)
    assert(m.precision == 0.0 && m.recall == 0.0 && m.f1 == 0.0, m)
  }

  test("degenerate all-negative predictions do not divide by zero") {
    val d = Seq((1.0, 0.0), (0.0, 0.0)).toDF("target", "prediction")
    val m = Metrics.binaryCollect(d)
    assert(m.precision == 0.0 && m.recall == 0.0 && m.f1 == 0.0)
  }
}
