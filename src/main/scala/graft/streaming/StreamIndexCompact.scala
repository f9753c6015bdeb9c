package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.LongType

/** The batch/stream index halves MEETING ON DISK (r7 verdict item 4):
  * [[StreamIndex]] maintains the bounded per-term METADATA; this
  * foreachBatch compaction (a [[BucketStore]] family) maintains the
  * SERVE artifacts — the full postings (doc_id, t, tf) and doc-length
  * frames in exactly the shape q153's scorer reads — so a long-running
  * ingest keeps a live index that `CurationQueries.bm25Over` serves
  * from identically to the batch-built ArtifactStore postings
  * (StreamIndexCompactSpec proves postings, lengths, and the scored
  * top-10 all agree).
  *
  * Per micro-batch: arriving docs tokenize row-locally with batch
  * q151/q153's exact whitespace split (postings drop empty tokens,
  * lengths count the unfiltered split — q86's length convention),
  * bucket by doc_id, eagerly load ONLY the touched buckets of the
  * existing targets, dedup per key, and rewrite just those buckets
  * with dynamic partition overwrite.
  *
  * Idempotence: the delivery contract is StreamIndex's — each doc
  * arrives whole, append-only corpus — so a REDELIVERED doc re-derives
  * byte-identical rows and the per-key max() dedup leaves the bucket
  * unchanged; checkpoint replay after restart is a no-op rewrite.
  * Scale posture: per batch the work is the touched buckets' size, not
  * the index; the term-pruned q153 read path is untouched (the `In`
  * filter still pushes into the parquet scan).
  */
object StreamIndexCompact {

  /** Merge one batch of (doc_id, text) docs into the index target
    * through [[BucketStore.ingest]]: the whole read-modify-write — gate
    * read through compacted-bucket merge — runs under the target's
    * mutation lease ([[graft.sources.MutationLease]], r12 ADVICE), so a
    * takedown scrub cannot interleave between this batch's gate read and
    * its bucket merge and leave victim rows re-inserted into
    * postings/doclens (the per-key max() merge has no version to
    * outrank them); [[graft.sources.TakedownApply.scrubIndex]]/
    * `scrubIndexLog` take the same lease. The replay gate drops the
    * ids a scrub already erased from a replayed batch at entry, which
    * covers every write below. */
  def compactBatch(target: String, buckets: Int)(batch: DataFrame, batchId: Long): Unit =
    BucketStore.ingest(target, buckets, "doc_id", batch, batchId) { live =>
      val docs = live
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
        .withColumn("bucket", pmod(col("doc_id"), lit(buckets.toLong)))
        .localCheckpoint()
      val newPostings = docs
        .select(col("doc_id"), col("bucket"), explode(col("w")).as("t"))
        .where(col("t") =!= "")
        .groupBy(col("doc_id"), col("bucket"), col("t"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint()
      val newLens = docs
        .select(col("doc_id"), col("bucket"),
          size(col("w")).cast(LongType).as("dl"))
      // per-batch delta log — the index's time-travel half: each batch's
      // postings/length rows land in their own batch_id partition, so
      // replay rewrites identical rows and `asOfPostings` can
      // reconstruct the index as served at ANY historical batch
      // boundary (relevance-regression debugging: "what did last week's
      // index score for this query"). LOGS WRITE FIRST (r12 review
      // finding): the index scrub bounds its replay window by the logs'
      // batch_id partitions as well as the high-water note (a target
      // written before the note has only the logs), so every batch that
      // has touched the compacted buckets must already be visible there. A batch
      // of blank docs has no postings rows: its postings log and merge
      // are skipped, never written empty.
      BucketStore.appendLog(s"$target/log/postings", batchId,
        newPostings.drop("bucket"), "doc_id")
      BucketStore.appendLog(s"$target/log/doclens", batchId,
        newLens.drop("bucket"), "doc_id")
      def mergeMax(sub: String, incoming: DataFrame, keys: Seq[String],
                   valueCol: String): Unit =
        BucketStore.merge(s"$target/$sub", "bucket", incoming)(
          _.groupBy((col("bucket") +: keys.map(col)): _*)
            .agg(max(col(valueCol)).as(valueCol))
            .select(incoming.columns.map(col): _*))
      mergeMax("postings", newPostings, Seq("doc_id", "t"), "tf")
      mergeMax("doclens", newLens, Seq("doc_id"), "dl")
    }

  /** docs(doc_id, text) stream → continuously compacted index target,
    * pinned to one checkpoint lineage ([[BucketStore.start]]). */
  def start(docs: DataFrame, target: String, checkpoint: String,
            buckets: Int = 16): StreamingQuery =
    BucketStore.start(docs, checkpoint, Some(target))(compactBatch(target, buckets) _)

  /** The compacted artifacts in the exact frames bm25Over consumes. */
  def postings(s: org.apache.spark.sql.SparkSession, target: String): DataFrame =
    s.read.parquet(s"$target/postings").select(col("doc_id"), col("t"), col("tf"))

  def doclens(s: org.apache.spark.sql.SparkSession, target: String): DataFrame =
    s.read.parquet(s"$target/doclens").select(col("doc_id"), col("dl"))

  /** The index AS OF log batch `b` (inclusive): `batch_id ≤ b` is a
    * partition filter (later batches pruned, never read); the max()
    * dedup mirrors the compact merge so a doc redelivered across
    * batches counts once. Feed both frames to `bm25Over` to reproduce
    * exactly what the index served at that boundary. */
  def asOfPostings(s: org.apache.spark.sql.SparkSession, target: String,
                   b: Long): DataFrame =
    s.read.parquet(s"$target/log/postings").where(col("batch_id") <= b)
      .groupBy(col("doc_id"), col("t")).agg(max(col("tf")).as("tf"))
      .select(col("doc_id"), col("t"), col("tf"))

  def asOfDoclens(s: org.apache.spark.sql.SparkSession, target: String,
                  b: Long): DataFrame =
    s.read.parquet(s"$target/log/doclens").where(col("batch_id") <= b)
      .groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
      .select(col("doc_id"), col("dl"))
}
