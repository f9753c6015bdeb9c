package graft.ml

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.feature.HashingTF
import org.apache.spark.ml.linalg.SparseVector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Differential spec: the one-pass `Featurize.kernel` against
  * [[FeaturizeReference]], the MLlib chain it replaced (`Clean.clean` →
  * `Tokenizer` → `StopWordsRemover` → `transform(graft_stem)` →
  * `HashingTF`). Every input must give the same cleaned `Tweet` and the
  * same `tf` indices and counts, with stemming on and off. */
class FeaturizeKernelSpec extends SparkSpec {
  import spark.implicits._

  /** (id, Tweet, tf indices, tf values as raw bits) per row. */
  private def rows(f: DataFrame): Map[Long, (String, Seq[Int], Seq[Long])] =
    f.select("id", "Tweet", "tf").collect().map { r =>
      val v = r.getAs[SparseVector](2)
      r.getLong(0) -> ((r.getString(1), v.indices.toSeq,
        v.values.toSeq.map(java.lang.Double.doubleToRawLongBits)))
    }.toMap

  private def assertSameAsReference(texts: Seq[String]): Unit = {
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, "0", t) }
      .toDF("id", "Label", "Tweet").repartition(2)
    for (stem <- Seq(false, true)) {
      val (want, got) = (rows(FeaturizeReference.featurize(df, stem)),
        rows(Featurize.featurize(df, stem)))
      assert(got.size == want.size, s"stem=$stem: ${got.size} rows, reference ${want.size}")
      val diff = want.keys.toSeq.sorted.filter(k => got.get(k) != want.get(k))
      assert(diff.isEmpty, s"stem=$stem: ${diff.size} of ${want.size} rows differ " +
        "(input, reference, kernel): " + diff.take(10).map { k =>
          (texts(k.toInt), want(k), got.get(k)) }.mkString("; "))
    }
  }

  /** Pieces that each stress one cleaning rule: mention and URL
    * delimiters, `\w` characters P1 and P2 treat differently, every
    * `\s` character, non-ASCII letters, a surrogate pair, stop words in
    * both cases, and words the stemmer folds. */
  private val pieces: IndexedSeq[String] = IndexedSeq(
    "@", "#", "&", "://", "_", "-", "0", "7", "42", " ", "  ", "\t", "\u000B", "\f",
    "\r", "\n", "é", "café", "😀", "𝐀", "foo_bar://baz", "&amp;",
    "http://t.co/x", "www.x.y", "@user", "#tag", "A", "I", "The", "THE", "the", "and",
    "don't", "don", "t", "s", "running", "Runs", "happiness", "ski's", "ponies",
    "generously", "x", "yy", "Spark", "fast", ".", ",", "!", "'", "\"")

  private def adversarial(rnd: scala.util.Random): String = {
    val sb = new StringBuilder
    for (_ <- 0 until rnd.nextInt(13)) {
      sb ++= pieces(rnd.nextInt(pieces.length))
      if (rnd.nextInt(4) == 0) sb += ('a' + rnd.nextInt(26)).toChar
    }
    sb.toString
  }

  test("kernel equals the MLlib chain on >=200k seeded adversarial strings") {
    val rnd = new scala.util.Random(20261019L)
    val texts = Seq("", " ", "   ", "\t", "\t \r\n\f\u000B", "://", " :// ", "foo_bar://baz",
      "&amp;", "@u http://x.y", "__", "a", "the") ++ pieces ++
      Seq.fill(200000)(adversarial(rnd))
    assert(texts.size >= 200000)
    assertSameAsReference(texts)
  }

  test("kernel equals the MLlib chain on every sf0.01 document text") {
    val docs = graft.Tables.documents(spark, sfDir.stripSuffix("sf0.001") + "sf0.01")
    val texts = docs.select(col("text")).as[String].collect().toSeq.filter(_ != null)
    assert(texts.nonEmpty)
    assertSameAsReference(texts)
  }

  test("kernel equals the MLlib chain on stream records") {
    // perfbench/gen.py's stream vocabulary: 10-100 words a record
    val words = ("spark window merge table column vector stream value data small join " +
      "filter big group hash customer sort order slow line part fast row the " +
      "agg key query a scan batch").split(" ")
    val rnd = new scala.util.Random(801)
    assertSameAsReference(Seq.fill(5000)(
      Seq.fill(10 + rnd.nextInt(91))(words(rnd.nextInt(words.length))).mkString(" ")))
  }

  test("an all-removed tweet keeps MLlib's single empty token") {
    val f = Featurize.featurize(Seq(("4", "@u http://x.y")).toDF("Label", "Tweet"))
    val (tweet, v) = f.select("Tweet", "tf").as[(String, SparseVector)].head()
    val empty = new HashingTF().setNumFeatures(Featurize.NumFeatures).indexOf("")
    assert(tweet == "")
    assert(v.indices.toSeq == Seq(empty) && v.values.toSeq == Seq(1.0), v)
  }

  test("featurize returns Label, Tweet, tf, target from one kernel call per row") {
    // repartitioned, so the optimizer cannot fold the call into a local relation
    val f = Featurize.featurize(Seq(("4", "running fast")).toDF("Label", "Tweet").repartition(2))
    assert(f.columns.toSeq == Seq("Label", "Tweet", "tf", "target"))
    // the struct's two fields must not inline the call twice
    val plan = f.queryExecution.optimizedPlan
    val udfs = plan.flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u }))
    assert(udfs.size == 1, plan)
  }

  test("src/main runs no Tokenizer, StopWordsRemover or HashingTF.transform in featurize") {
    val walk = Files.walk(Paths.get("src/main"))
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .map(p => p.getFileName.toString -> Files.readString(p))
      finally walk.close()
    def hits(re: String) = sources.filter(s => re.r.findFirstIn(s._2).isDefined).map(_._1).sorted
    assert(hits("""new (Regex)?Tokenizer\b""").isEmpty)
    assert(hits("""new StopWordsRemover\b""").isEmpty)
    // q54 (MLlib MinHashLSH over document tokens) is the one HashingTF
    // transform in main source; featurize hashes through indexOf only
    assert(hits("""new HashingTF\(\)[^\n]*setInputCol""") == Seq("DedupQueries.scala"))
  }
}
