package graft.ml

import org.apache.spark.ml.linalg.SparseVector
import graft.SparkSpec

class FeaturizeSpec extends SparkSpec {
  import spark.implicits._

  private def rec(label: String, tweet: String) = (label, tweet)

  test("cleaning chain strips mentions/urls/non-letters and normalizes") {
    val df = Seq(
      rec("4", "@user loving this!! http://t.co/xyz #spark 100%"),
      rec("0", "  MiXeD   Case\tand\nnumbers 42  ")).toDF("Label", "Tweet")
    val out = Featurize.featurize(df).select("Label", "Tweet").as[(String, String)]
      .collect().toMap
    assert(out("4") == "loving this")
    assert(out("0") == "mixed case and numbers")
  }

  test("null tweets are dropped (F1)") {
    val df = Seq(("4", "ok"), ("0", null)).toDF("Label", "Tweet")
    assert(Featurize.featurize(df).count() == 1)
  }

  test("hashingTF produces 2500-dim sparse vectors with term counts") {
    val df = Seq(rec("4", "spark spark streaming")).toDF("Label", "Tweet")
    for (f <- Seq(FeaturizeReference.featurize(df, stem = false),
                  Featurize.featurize(df, stem = false))) {
      val v = f.select("tf").head().getAs[SparseVector](0)
      assert(v.size == 2500)
      // "spark" appears twice, "streaming" once → values {2.0, 1.0}
      assert(v.values.sorted.toSeq == Seq(1.0, 2.0))
    }
  }

  test("fixed label map: 4 -> 1.0, everything else -> 0.0") {
    val df = Seq(rec("4", "a b"), rec("0", "c d"), rec("junk", "e f"))
      .toDF("Label", "Tweet")
    val targets = Featurize.featurize(df, stem = false)
      .select("Label", "target").as[(String, Double)].collect().toMap
    assert(targets == Map("4" -> 1.0, "0" -> 0.0, "junk" -> 0.0))
  }

  test("stemming folds inflected forms into one bucket") {
    val a = Featurize.featurize(
      Seq(rec("4", "running runs")).toDF("Label", "Tweet"), stem = true)
      .select("tf").head().getAs[SparseVector](0)
    // run + run → a single index with count 2
    assert(a.indices.length == 1 && a.values.head == 2.0)
  }

  test("reference dynamic pipeline (T6) fits and transforms") {
    val raw = Seq(rec("4", "good great"), rec("0", "bad sad"), rec("0", "worse"))
      .toDF("Label", "Tweet")
    val df = FeaturizeReference.features(FeaturizeReference.cleaned(raw), stem = false)
      .drop("tf")
    val out = FeaturizeReference.dynamicLabelPipeline().fit(df).transform(df)
    // majority class "0" gets index 0.0 (frequency order)
    val m = out.select("Label", "target").as[(String, Double)].collect().toMap
    assert(m("0") == 0.0 && m("4") == 1.0)
    // the kernel with the refit indexes the same way
    val k = Featurize.withDynamicTarget(Featurize.featurize(raw, stem = false).drop("target"))
    assert(k.select("Label", "target").as[(String, Double)].collect().toMap == m)
  }
}
