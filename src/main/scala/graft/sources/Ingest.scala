package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

/** Stream ingestion for the reference's record format (SURVEY §2.1).
  *
  * The reference reads one UTF-8 line per socket payload
  * (`ssc.socketTextStream('localhost',6100)` — `SGDC/sgdc.py:166`), JSON
  * decodes it and flattens the container (`:167`), then splits each
  * `"label,text"` record at the FIRST comma only (`x.split(',', 1)` —
  * `:168`) so commas inside the tweet survive.
  *
  * Here: graft's replayable socket line source → `from_json` +`explode`
  * (S2) → 3-arg `split` with limit 2 (S3) → fixed 2-column schema (S4,
  * replacing the reference's infer-then-rename).
  */
object Ingest {

  /** The engine's stream record schema (explicit, never inferred). */
  val RecordSchema: StructType = StructType(Seq(
    StructField("Label", StringType), StructField("Tweet", StringType)))

  /** S1 — raw socket line stream: one `value` string row per line, read
    * by [[graft.sources.v2.LineSocketStream]]. Each received line is
    * also written to a segment file under the query's checkpoint, so a
    * restarted query replays its last logged batch with the same lines.
    * An offset is the index of the last line taken (`-1` before the
    * first), and record i of a batch sits in partition
    * `i mod defaultParallelism`, in order: the layout `randomSplit`
    * samples over. */
  def socketLines(spark: SparkSession, host: String, port: Int): DataFrame =
    spark.readStream.format(classOf[graft.sources.v2.LineSocketProvider].getName)
      .option("host", host).option("port", port).load()

  /** S2+S3+S4 — decode a JSON-array-of-strings envelope per line and
    * split records at the first comma into (Label, Tweet). Works on any
    * DataFrame with a string `value` column (socket, memory, file). */
  def decodeEnvelope(lines: DataFrame): DataFrame = {
    val rec = split(col("rec"), ",", 2)
    lines
      .select(explode(from_json(col("value"), ArrayType(StringType))).as("rec"))
      // `get` (not getItem): a record without a comma yields a NULL Tweet
      // instead of an ANSI index error; F1's null-drop then removes it.
      .select(get(rec, lit(0)).as("Label"), get(rec, lit(1)).as("Tweet"))
  }
}
