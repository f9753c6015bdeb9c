package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Document quality heuristics (length / stop-word / type-token ratios)
  * as pure codegen'd column expressions — shared verbatim by the batch
  * q34 oracle query and the streaming quality gate
  * (graft.streaming.StreamQuality), so a document scores identically
  * whether curated in batch or in flight.
  */
object Quality {

  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def nTokens(w: Column): Column = size(w).cast(LongType)

  /** Type-token ratio: distinct / total. */
  def uniqRatio(w: Column): Column =
    size(array_distinct(w)).cast(DoubleType) / size(w)

  /** Stop-word fraction of all tokens. ONE native O(tokens) pass
    * (graft_stop_len) instead of an interpreted higher-order filter
    * scanning the 180-word literal array per token — same counts,
    * same division, bit-identical ratios (the expression's doc). */
  def stopRatio(w: Column): Column =
    element_at(call_function("graft_stop_len", w), 1)
      .cast(DoubleType) / size(w)

  /** Bounded composite: rewards vocabulary diversity, penalizes
    * stop-word soup, saturates the length reward at 100 tokens. */
  def score(w: Column): Column =
    lit(0.3) * uniqRatio(w) + lit(0.3) * (lit(1.0) - stopRatio(w)) +
      lit(0.4) * least(lit(1.0), size(w).cast(DoubleType) / lit(100.0))
}
