package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Runnable end-to-end corpus-curation demo: the complete
  * pre-tokenization pipeline a training-data run executes, chained as
  * ONE declarative job over the documents table
  * (`runMain graft.CurateMain [outDir] [sfDir]`):
  *
  *   1. PII scrub (q78's regex classes + q186's Luhn card class, redacted in the scan projection)
  *   2. quality gate (q34's score ≥ 0.5)
  *   3. repetition gate (q74's Gopher thresholds)
  *   4. exact near-dup removal (q24's canonical-digest window)
  *   5. deterministic mixture sampling (q62's hash gate)
  *   6. sequence packing (q79's per-shard running sum → pack_id)
  *   7. publish: parquet partitioned by source, capped file sizes,
  *      clustered by (pack_id, doc_id) for rowgroup locality
  *
  * Every stage is row-local or keyed on doc digest / source — the whole
  * job runs in two shuffles (digest window, pack window+agg) plus the
  * write, at any corpus size. Per-stage survivor counts come from ONE
  * `observe` pass, not recounts.
  */
object CurateMain {

  /** The composed curation frame: kept docs with pack assignments. */
  def curated(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.text.{Pii, Quality}
    val toks = split(trim(col("text")), "\\s+")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("lang"),
        // regex classes first, then the Luhn-gated card class (r14 —
        // q186's checksum tree; still one row-local scan projection)
        Pii.redactCards(Pii.redact(col("text"))).as("text"))
      .withColumn("w", toks)
    // row-local gates, all fused into the scan projection by Catalyst
    val nTok = size(col("w"))
    val dupTok = when(nTok === 0, lit(0.0))
      .otherwise((nTok - size(array_distinct(col("w")))).cast(DoubleType) / nTok)
    val pct = (call_function("graft_h60",
      concat(lit("mix|"), col("doc_id").cast("string"))) % 100L)
    val rate = when(col("source") === "src0", 80L)
      .when(col("source") === "src1", 50L).otherwise(25L)
    val gated = docs
      .where(Quality.score(col("w")) >= 0.5)
      .where(dupTok <= 0.60)
      .where(pct < rate)
    // exact dedup: keep the lowest doc_id per content digest
    val canon = min(col("doc_id")).over(Window.partitionBy(md5(col("text"))))
    val deduped = gated.withColumn("canon", canon)
      .where(col("doc_id") === col("canon")).drop("canon")
    // pack per source shard (q79), 256-token budget
    val wSrc = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deduped
      .withColumn("n_tok", nTok.cast(LongType))
      .withColumn("cum", sum(col("n_tok")).over(wSrc))
      .withColumn("pack_id", expr("(cum - n_tok) div 256"))
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        col("n_tok"), col("pack_id"))
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.lift(0).getOrElse("/tmp/graft_curate")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = Session.local()

    val t0 = System.nanoTime()
    // batch `observe` metrics surface on the WRITER's QueryExecution,
    // delivered through a QueryExecutionListener (observe forbids
    // DISTINCT aggregates, so the pack count is a cheap post-write agg)
    @volatile var observed: Option[org.apache.spark.sql.Row] = None
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          qe.observedMetrics.get("curate").foreach(r => observed = Some(r))
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    curated(spark, sfDir)
      .sortWithinPartitions("source", "pack_id", "doc_id")
      .observe("curate", count(lit(1)).as("docs_out"),
        sum(col("n_tok")).as("tokens_out"))
      .write.mode("overwrite")
      .partitionBy("source")
      .option("maxRecordsPerFile", 10000)
      .parquet(outDir)
    val secs = (System.nanoTime() - t0) / 1e9
    org.apache.spark.sql.graft.GraftInternal.waitListeners(spark)
    val m = observed.getOrElse(
      sys.error("observe metrics never delivered"))
    val packs = spark.read.parquet(outDir)
      .select("source", "pack_id").distinct().count()
    println(s"""{"metric":"curate","docs_out":${m.getLong(0)},""" +
      s""""tokens_out":${m.getLong(1)},"packs":$packs,""" +
      f""""sec":$secs%.2f,"out":"$outDir"}""")
    spark.stop()
  }
}
