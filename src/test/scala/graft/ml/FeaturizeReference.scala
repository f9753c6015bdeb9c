package graft.ml

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.feature.{HashingTF, StopWordsRemover, StringIndexer, Tokenizer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.{Clean, Tokenize}

/** The MLlib featurization chain `Featurize` ran before its one-pass
  * kernel, kept as the reference arm of the kernel's differential specs:
  * `Clean.clean` → `Tokenizer` → `StopWordsRemover` → `transform(graft_stem)`
  * → `HashingTF(2500)`, each stage its own array-valued column. */
object FeaturizeReference {

  /** F1 + P1–P6 on the raw (Label, Tweet) frame. */
  def cleaned(df: DataFrame): DataFrame =
    df.na.drop(Seq("Tweet")).withColumn("Tweet", Clean.clean(col("Tweet")))

  /** T1–T4 (+T3 if `stem`): adds `words_token`, `filtered`, `stemmed`
    * (if `stem`) and `tf` (2500-dim SparseVector). */
  def features(df: DataFrame, stem: Boolean): DataFrame = {
    val tok = new Tokenizer().setInputCol("Tweet").setOutputCol("words_token")
    val stop = new StopWordsRemover().setInputCol("words_token").setOutputCol("filtered")
    val base = stop.transform(tok.transform(df))
    val withStem =
      if (stem) base.withColumn("stemmed", Tokenize.stemTokens(col("filtered")))
      else base
    new HashingTF().setNumFeatures(Featurize.NumFeatures)
      .setInputCol(if (stem) "stemmed" else "filtered").setOutputCol("tf")
      .transform(withStem)
  }

  /** The full chain's wider frame: (Label, Tweet, words_token, filtered,
    * [stemmed,] tf, target). */
  def featurize(df: DataFrame, stem: Boolean = true): DataFrame =
    Featurize.withTarget(features(cleaned(df), stem))

  /** The reference's exact 2-stage Pipeline (T6) with per-batch
    * StringIndexer refit (`SGDC/sgdc.py:68-72`), hashing `tokensCol`. */
  def dynamicLabelPipeline(tokensCol: String = "filtered"): Pipeline = {
    val tf = new HashingTF().setNumFeatures(Featurize.NumFeatures)
      .setInputCol(tokensCol).setOutputCol("tf")
    val idx = new StringIndexer().setInputCol("Label").setOutputCol("target")
    new Pipeline().setStages(Array(tf, idx))
  }
}
