package graft.text

import org.apache.spark.ml.feature.StopWordsRemover
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Tokenization + stop-word removal (SURVEY §2.4 T1/T2).
  *
  * Reference: `Tokenizer` then `StopWordsRemover` in every pipeline
  * (`SGDC/sgdc.py:51-56`, `TESTING .py:52-57`). Both are re-expressed as
  * builtin column functions so they stay inside whole-stage codegen, for the
  * text queries. `graft.ml.Featurize` runs neither these nor the MLlib
  * wrapper classes: its one-pass kernel reads only [[stopWords]].
  */
object Tokenize {
  /** MLlib's default English stop list — the exact list the reference's
    * `StopWordsRemover` used. Loaded from the Spark resource, so the Spark
    * path and the generated oracle SQL literal can never drift apart.
    */
  lazy val stopWords: Seq[String] =
    StopWordsRemover.loadDefaultStopWords("english").toSeq

  /** The stop list as a SQL `IN`-list literal (single quotes escaped). */
  lazy val stopWordsSqlList: String =
    stopWords.map(w => "'" + w.replace("'", "''") + "'").mkString(", ")

  /** T1 — MLlib `Tokenizer` semantics: lowercase, split on whitespace runs.
    * Tokenizer uses `String.split("\\s")` which can emit empty leading
    * tokens; we split on `\s+` and drop empties — the cleaned text (already
    * single-spaced, trimmed) makes the two identical.
    */
  def tokenize(c: Column): Column =
    filter(split(lower(c), "\\s+"), t => length(t) > 0)

  /** T2 — drop stop words, preserving token order and duplicates
    * (`array_except` would dedupe — wrong; `filter` matches MLlib).
    */
  def removeStopWords(c: Column): Column = {
    val stop = array(stopWords.map(lit): _*)
    filter(c, t => !array_contains(stop, t))
  }

  /** T3 — Porter2-stem every token via the engine's `graft_stem`
    * expression (graft.functions.StemWord); mirrors the reference's
    * per-token NLTK stemmer UDF (`SGDC/sgdc.py:59-61`) without leaving
    * the JVM.
    */
  def stemTokens(c: Column): Column =
    transform(c, t => call_function("graft_stem", t))
}
