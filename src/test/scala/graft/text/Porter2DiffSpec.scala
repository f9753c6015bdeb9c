package graft.text

import org.apache.spark.sql.functions.{col, explode, lower, split}

import graft.SparkSpec
import graft.ml.FeaturizeReference

/** Differential spec: the buffer-based `Porter2.stem` against
  * [[Porter2Reference]], the straightforward implementation it replaced.
  * Any word on which the two differ is a regression of the rewrite, so
  * both word sets must show zero differences.
  */
class Porter2DiffSpec extends SparkSpec {

  /** Every suffix a step tests, the suffixes the steps leave behind, and
    * both exception lists (as whole words and as endings). */
  private val suffixes: Seq[String] = Seq(
    "",
    // step 0
    "'s'", "'s", "'",
    // step 1a
    "sses", "ied", "ies", "us", "ss", "s",
    // step 1b, and what it leaves for the e-restoration and undoubling
    "eedly", "eed", "ingly", "edly", "ing", "ed", "at", "bl", "iz",
    "bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt", "hop", "ap",
    // step 1c
    "y", "ay", "by",
    // step 2
    "ization", "ational", "fulness", "ousness", "iveness", "tional",
    "biliti", "lessli", "entli", "ation", "alism", "aliti", "ousli",
    "iviti", "fulli", "enci", "anci", "abli", "izer", "ator", "alli",
    "bli", "ogi", "logi", "li", "cli", "kli", "wli",
    // step 3
    "alize", "icate", "iciti", "ical", "ness", "ful", "ative",
    // step 4
    "ement", "ance", "ence", "able", "ible", "ment", "ant", "ent", "ism",
    "ate", "iti", "ous", "ive", "ize", "al", "er", "ic", "ion", "sion",
    "tion", "xion",
    // step 5
    "e", "l", "ll", "le", "we", "xe",
    // exception list 1
    "skis", "skies", "dying", "lying", "tying", "idly", "gently", "ugly",
    "early", "only", "singly", "sky", "news", "howe", "atlas", "cosmos",
    "bias", "andes",
    // exception list 2
    "inning", "outing", "canning", "herring", "earring", "proceed",
    "exceed", "succeed")

  /** Seeded random word over a y- and apostrophe-heavy alphabet. */
  private def randomWord(rnd: scala.util.Random, maxLen: Int): String = {
    val alphabet = "abcdefghijklmnopqrstuvwxyzaeiouyyy''"
    val n = rnd.nextInt(maxLen + 1)
    val sb = new StringBuilder(n)
    for (_ <- 0 until n) sb += alphabet(rnd.nextInt(alphabet.length))
    sb.toString
  }

  private def differences(words: Iterable[String]): Seq[(String, String, String)] =
    words.iterator.flatMap { w =>
      val (want, got) = (Porter2Reference.stem(w), Porter2.stem(w))
      if (want == got) None else Some((w, want, got))
    }.toSeq

  private def assertNoDifferences(words: Iterable[String]): Unit = {
    val diff = differences(words)
    assert(diff.isEmpty,
      s"${diff.size} of ${words.size} words differ (word, reference, new): " +
        diff.take(20).mkString(", "))
  }

  test("Porter2 equals Porter2Reference on >=500k seeded words") {
    val rnd = new scala.util.Random(20240501L)
    val heads = (Seq("", "a", "e", "y", "ab", "ya", "ey", "yy", "'", "'y",
      "y'", "gener", "commun", "arsen", "nat", "rat", "cond", "happ", "run",
      "agr", "fl", "cri", "sk", "dy", "ly", "ty", "bo", "oy", "by", "sayy",
      "hope", "feed", "electr", "organ", "abil", "logic", "geolog",
      "radic") ++ suffixes ++ suffixes.map("'" + _) ++
      Seq.fill(2000)(randomWord(rnd, 6))).distinct
    val products = for (h <- heads; s <- suffixes) yield h + s
    val random = Seq.fill(480000)(randomWord(rnd, 14))
    val words = (products ++ random).toSet
    assert(words.size >= 500000, s"only ${words.size} distinct words")
    assertNoDifferences(words)
  }

  test("Porter2 equals Porter2Reference on every distinct sf0.01 document token") {
    val docs = graft.Tables.documents(spark, sfDir.stripSuffix("sf0.001") + "sf0.01")
    // raw whitespace tokens (punctuation and apostrophes kept) and the
    // featurize chain's own tokens
    val raw = docs.select(explode(split(lower(col("text")), "\\s+")).as("t"))
    val chain = FeaturizeReference.features(
      FeaturizeReference.cleaned(docs.select(col("text").as("Tweet"))), stem = false)
      .select(explode(col("words_token")).as("t"))
    val tokens = raw.union(chain).distinct().collect().map(_.getString(0)).toSeq
    assert(tokens.nonEmpty)
    assertNoDifferences(tokens)
  }
}
