package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The DISK half of the CDC merge path (r6 verdict item 7): StreamMerge
  * materializes per-key current state to a sink; this writes it into a
  * bucket-partitioned parquet MERGE TARGET via foreachBatch, completing
  * the q122 lakehouse write path — change log in, queryable table on
  * storage out.
  *
  * Per micro-batch: bucket the batch's rows by key hash, eagerly load
  * ONLY the touched buckets of the existing target (localCheckpoint —
  * materialized before the overwrite so the job never reads files it is
  * replacing; a table format's transaction log does this atomically at
  * scale), merge per key by highest version (q122's max(struct)
  * arg-max), and rewrite just those buckets with DYNAMIC partition
  * overwrite ([[BucketStore.merge]]). Tombstones ('D') are KEPT as rows, not deleted —
  * that is what makes replay and out-of-order delivery safe: a late v1
  * for a deleted key loses to the v3 tombstone by version comparison,
  * where physical deletion would resurrect it. [[liveView]] is the
  * consumer-facing filter.
  *
  * Idempotence: re-merging any batch re-derives identical bucket
  * contents (max-ver per key is replay-invariant), so at-least-once
  * delivery and checkpoint-replay after restart both leave the target
  * byte-equal. Scale posture: work per batch is proportional to the
  * TOUCHED buckets' size, not the table; buckets bound file counts and
  * give the overwrite its partition granularity.
  */
object StreamMergeSink {

  /** Merge one batch of per-key current rows into the parquet target.
    * With `log` set, the batch's rows are ALSO appended to a change log
    * partitioned by batch_id — the raw material for [[graft.sources
    * .TimeTravel]]'s VERSION AS OF reads and history audit. The log
    * write uses dynamic partition overwrite on batch_id, so a replayed
    * batch rewrites its own partition with identical rows instead of
    * duplicating them (the same idempotence contract as the merge). */
  def mergeBatch(target: String, buckets: Int, log: Option[String] = None)
                (batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    if (batch.isEmpty) return
    // the whole RMW under the target's mutation lease (graft.sources
    // .MutationLease — in-JVM and cross-process single writer), the log
    // leg additionally under the LOG's lease so a replayed batch's gate
    // read cannot interleave with scrubMergeLog's registry-append +
    // partition rewrite (lease order is always target → log, never the
    // reverse — no inversion with the scrub legs, which take one each)
    graft.sources.MutationLease.withLease(s, target) {
    val incoming = batch
      .select(col("docId"), col("ver"), col("op"), col("text"))
      .withColumn("bucket", pmod(col("docId"), lit(buckets.toLong)))
      .localCheckpoint()
    log.foreach { lp => graft.sources.MutationLease.withLease(s, lp) {
      // replay gate (graft.sources.ScrubRegistry): a checkpoint replay
      // of a batch that a takedown scrub already rewrote must re-apply
      // the tombstone form, or the dynamic partition overwrite would
      // resurrect the erased text. Only batches inside a registered
      // erasure window are touched — new batches (higher ids) write
      // verbatim, so a post-takedown re-add keeps its history. The
      // MERGE target needs no gate: versioning handles replay there
      // (the takedown's 'D' row at ver+1 outranks replayed old rows).
      val gated = graft.sources.ScrubRegistry.gatedIds(s, lp, batchId)
      val logRows =
        if (gated.isEmpty) incoming.drop("bucket")
        else {
          val hit = col("docId").isin(gated: _*)
          incoming.drop("bucket").select(col("docId"), col("ver"),
            when(hit, lit("D")).otherwise(col("op")).as("op"),
            when(hit, lit("")).otherwise(col("text")).as("text"))
        }
      // the per-batch doc-id bloom is the takedown scrub's
      // partition-pruning certificate (graft.sources.LogBloom)
      BucketStore.appendLog(lp, batchId, logRows, "docId")
    }}
    // first-batch detection is BucketStore's HAS-DATA rule, not a catch
    // (r7 verdict item 7): a genuine analysis error on a present target
    // — schema drift, corrupted footer — fails the batch loudly instead
    // of silently re-initializing the table from one batch's rows
    BucketStore.merge(target, "bucket", incoming)(
      _.groupBy(col("docId"), col("bucket"))
        .agg(max(struct(col("ver"), col("op"), col("text"))).as("m"))
        .select(col("docId"), col("m.ver").as("ver"), col("m.op").as("op"),
          col("m.text").as("text"), col("bucket")))
    }
  }

  /** changes(doc_id, ver, op, text) stream → continuously merged
    * parquet target, checkpointed (restart-safe, replay-idempotent).
    * The change LOG accepts batches from exactly one checkpoint
    * lineage ([[LineageEpoch]], r12 ADVICE): its ScrubRegistry erasure
    * windows key on batch ids, so a redeploy with a fresh checkpoint
    * (ids restart at 0) against a used log fails loudly here instead
    * of having its new content silently tombstoned by old windows.
    * The merge TARGET needs no pin — version-superseding makes it
    * lineage-agnostic. Callers invoking [[mergeBatch]] directly own
    * the single-lineage invariant themselves. */
  def start(changes: DataFrame, target: String, checkpoint: String,
            buckets: Int = 16, log: Option[String] = None): StreamingQuery =
    BucketStore.start(StreamMerge(changes).toDF(), checkpoint, log)(
      mergeBatch(target, buckets, log) _)

  /** The merge target as consumers see it: tombstones filtered out. */
  def liveView(s: SparkSession, target: String): DataFrame =
    s.read.parquet(target).where(col("op") =!= "D")
      .select(col("docId"), col("ver"), col("op"), col("text"))
}
