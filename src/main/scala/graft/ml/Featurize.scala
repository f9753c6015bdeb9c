package graft.ml

import java.util.regex.Pattern

import org.apache.spark.ml.feature.{HashingTF, StringIndexer}
import org.apache.spark.ml.linalg.SparseVector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.{Clean, Porter2, Tokenize}

/** The reference's featurization chain (SURVEY §2.3–2.4) as one per-row
  * kernel: null-drop (F1) → regex cleaning (P1–P6) → Tokenizer (T1) →
  * StopWordsRemover (T2) → optional Porter2 stem (T3) →
  * HashingTF(2500) (T4), then the label index (T5).
  *
  * Each tweet is featurized in one pass by [[kernel]], applied through one
  * UDF call per row; no per-token array column is materialized. Bucketing
  * uses MLlib's own `HashingTF.indexOf` (murmur3, seed 42). The kernel's
  * output equals the MLlib chain the reference drove from Python
  * (`SGDC/sgdc.py:51-72`), kept in the tests as `FeaturizeReference`;
  * `FeaturizeKernelSpec` pins the two equal on adversarial strings, every
  * sf0.01 document and stream records.
  *
  * The label map is FIXED (`"0"→0.0, "4"→1.0`) instead of per-batch
  * StringIndexer refit — the reference's refit can flip the mapping
  * between micro-batches when class frequencies flip (SURVEY §2.11.2),
  * which poisons incremental training; the refit is still available via
  * [[withDynamicTarget]].
  */
object Featurize {

  val NumFeatures = 2500

  /** One row's features: the cleaned text (P1–P6) and its term counts. */
  case class Features(Tweet: String, tf: SparseVector)

  private val hashing = new HashingTF().setNumFeatures(NumFeatures)
  private val mention = Pattern.compile(Clean.MentionRe)
  private val url = Pattern.compile(Clean.UrlRe)
  private lazy val stopWords = new java.util.HashSet[String](
    java.util.Arrays.asList(Tokenize.stopWords: _*))

  /** P1–T4 on one non-null raw tweet. P1 and P2 are the chain's own
    * regexes, each skipped when the text lacks a character (`@#&`) or the
    * `://` every match needs. After P3 only ASCII letters and spaces
    * remain, so P3–P6 and the Tokenizer reduce to one scan: the cleaned
    * text is the maximal `[A-Za-z]` runs, lowercased and joined by single
    * spaces, and the tokens are those runs. Empty cleaned text keeps the
    * Tokenizer's single `""` token. */
  def kernel(tweet: String, stem: Boolean): Features = {
    var s = tweet
    if (s.indexOf('@') >= 0 || s.indexOf('#') >= 0 || s.indexOf('&') >= 0)
      s = mention.matcher(s).replaceAll(" ")
    if (s.contains("://")) s = url.matcher(s).replaceAll(" ")
    val text = new java.lang.StringBuilder(s.length)
    var buckets = new Array[Int](16)
    var n = 0
    def add(token: String): Unit =
      if (!stopWords.contains(token)) {
        if (n == buckets.length) buckets = java.util.Arrays.copyOf(buckets, 2 * n)
        buckets(n) = hashing.indexOf(if (stem) Porter2.stem(token) else token)
        n += 1
      }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) {
        val start = text.length
        if (start > 0) text.append(' ')
        val from = text.length
        while (i < s.length && { val d = s.charAt(i); (d >= 'a' && d <= 'z') || (d >= 'A' && d <= 'Z') }) {
          text.append((s.charAt(i) | 0x20).toChar)
          i += 1
        }
        add(text.substring(from))
      } else i += 1
    }
    if (text.length == 0) add("")
    java.util.Arrays.sort(buckets, 0, n)
    val indices = new Array[Int](n)
    val counts = new Array[Double](n)
    var k = 0
    var j = 0
    while (j < n) {
      if (k > 0 && indices(k - 1) == buckets(j)) counts(k - 1) += 1.0
      else { indices(k) = buckets(j); counts(k) = 1.0; k += 1 }
      j += 1
    }
    Features(text.toString,
      new SparseVector(NumFeatures, java.util.Arrays.copyOf(indices, k),
        java.util.Arrays.copyOf(counts, k)))
  }

  /** F1–T4: drops null tweets, replaces `Tweet` with its cleaned text and
    * appends `tf` (2500-dim SparseVector), one `kernel` call per row. The
    * struct the UDF returns is referenced twice, so `CollapseProject`
    * keeps it in its own projection instead of inlining the call twice. */
  private[graft] def features(df: DataFrame, kernel: String => Features): DataFrame = {
    val k = df.na.drop(Seq("Tweet")).withColumn("_k", udf(kernel).apply(col("Tweet")))
    k.select(df.columns.toSeq.map(c => if (c == "Tweet") col("_k.Tweet").as(c) else col(c)) :+
      col("_k.tf").as("tf"): _*)
  }

  /** T5 with the fixed label map (quirk fix, SURVEY §2.11.2). */
  def withTarget(df: DataFrame): DataFrame =
    df.withColumn("target",
      when(col("Label") === "4", 1.0).otherwise(0.0))

  /** The reference's T5 (`SGDC/sgdc.py:65,71`): a StringIndexer refit on
    * `Label` over this batch, so the index follows class frequency. */
  def withDynamicTarget(df: DataFrame): DataFrame =
    new StringIndexer().setInputCol("Label").setOutputCol("target").fit(df).transform(df)

  /** Full chain: (Label, Tweet) → (Label, Tweet, tf, target). */
  def featurize(df: DataFrame, stem: Boolean = true): DataFrame =
    withTarget(features(df, kernel(_, stem)))
}
