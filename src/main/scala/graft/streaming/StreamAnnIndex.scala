package graft.streaming

import graft.llm.{Pq, ServeBooks, VectorOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance of the ANN code index — the vector analogue
  * of [[StreamIndexCompact]] (batch/stream halves meeting on disk):
  * vectors arriving on a stream are IVFADC-encoded (coarse cell + 8
  * residual codeword ids) against books FROZEN AT STREAM START (the
  * StreamEmbedDedupPq snapshot convention — a retrain is a new stream,
  * not a mid-stream book swap, which would silently mix
  * incommensurable codes in one index) and compacted into a
  * bucket-partitioned parquet target in exactly the frame q164's
  * serve tail reads — so a long-running ingest keeps a live ANN index
  * that `SimilarityQueries.knnIvfPqResOver` serves from identically
  * to the batch-built ArtifactStore codes (StreamAnnIndexSpec proves
  * rows and served top-K both agree).
  *
  * Per micro-batch: encode row-locally (assignment + residual are the
  * serve expressions; the per-subspace argmin reads the
  * localCheckpoint-materialized residual, the pqResCodes build's
  * anti-duplication discipline), bucket by vec_id, load ONLY touched
  * buckets of the target, dedup per key, dynamic-overwrite those
  * buckets. Idempotence: a redelivered vector re-encodes to
  * byte-identical codes (the encode is deterministic row-local
  * arithmetic), so the per-key max(struct) dedup leaves the bucket
  * unchanged; checkpoint replay is a no-op rewrite.
  *
  * Scale posture: per batch the work is touched-buckets-sized; codes
  * are 8 ids + a cell per vector (the 8-byte-code economics), so the
  * maintained index stays ~32× smaller than the raw vectors it
  * serves for.
  */
object StreamAnnIndex {

  /** Encode + merge one batch of (vec_id, embedding) vectors through
    * [[BucketStore.ingest]] — under the target's mutation lease and
    * behind the replay gate: a checkpoint replay of a batch the
    * takedown scrub already covered would re-encode the victims and the
    * per-key max() merge would re-insert their codes with nothing left
    * to re-scrub (r13 self-review finding 4); new batches pass through,
    * so a post-takedown re-add of a vec id indexes normally. */
  def compactBatch(target: String, coarse: Array[Array[Double]],
                   resBooks: Array[Array[Array[Double]]], buckets: Int)
                  (batch: DataFrame, batchId: Long): Unit =
    BucketStore.ingest(target, buckets, "vec_id", batch, batchId) { live =>
      val bookArr = array(coarse.map(c =>
        array(c.toSeq.map(lit(_)): _*)).toSeq: _*)
      val assigned = live
        .select(col("vec_id"), VectorOps.toDoubleArr(col("embedding")).as("v"))
        .select(col("vec_id"), col("v"),
          ServeBooks.cell(coarse, col("v")).as("cell"))
        .withColumn("cent", element_at(bookArr, (col("cell") + 1).cast("int")))
        .select(col("vec_id"), col("cell"),
          zip_with(col("v"), col("cent"), (a, b) => a - b).as("rv"))
        .withColumn("bucket", pmod(col("vec_id"), lit(buckets.toLong)))
        .localCheckpoint()
      // the target co-locates the `_` notes with the bucket partitions:
      // BucketStore's has-data rule reads a notes-only dir as empty
      BucketStore.merge(target, "bucket", assigned.select(col("vec_id"),
        col("bucket"), col("cell"), Pq.encodeWith(resBooks)(col("rv")).as("codes")))(
        _.groupBy(col("bucket"), col("vec_id"))
          .agg(max(struct(col("cell"), col("codes"))).as("m"))
          .select(col("vec_id"), col("bucket"),
            col("m.cell").as("cell"), col("m.codes").as("codes")))
    }

  /** vectors(vec_id, embedding) stream → continuously maintained code
    * index at `target`, checkpointed and pinned to one checkpoint
    * lineage ([[BucketStore.start]]). */
  def start(vectors: DataFrame, target: String, checkpoint: String,
            coarse: Array[Array[Double]],
            resBooks: Array[Array[Array[Double]]],
            buckets: Int = 16): StreamingQuery =
    BucketStore.start(vectors, checkpoint, Some(target))(
      compactBatch(target, coarse, resBooks, buckets) _)

  /** The maintained index in the exact frame knnIvfPqResOver consumes. */
  def codes(s: org.apache.spark.sql.SparkSession, target: String): DataFrame =
    s.read.parquet(target).select(col("vec_id"), col("cell"), col("codes"))

  /** Vector takedown over the LIVE index (TakedownApply's leg-2 shape
    * for the ANN target): drop flagged vec_ids, rewriting only the
    * buckets that held them — including dropping a bucket whose every
    * vector was flagged, which dynamic overwrite alone would leave
    * behind. Serving through [[codes]] excludes the flagged vectors
    * immediately (the deleted-set-before-reindex pattern of production
    * ANN deployments); the ARTIFACT families need no action here —
    * they are fingerprint-keyed to the source corpus, so regenerating
    * the corpus without the flagged vectors retrains and re-encodes
    * transparently (ArtifactStore's staleness contract). Registry
    * first and bounded lease retry ([[BucketStore.scrubbing]]); the
    * discovery scan prunes to the flagged ids' buckets
    * ([[BucketStore.doomed]]). Idempotent: a second pass finds no
    * flagged rows and rewrites nothing. */
  def scrub(s: org.apache.spark.sql.SparkSession, target: String,
            flagged: Seq[Long]): Unit =
    BucketStore.scrubbing(s, target, "annIndex.scrub", flagged) {
      if (BucketStore.hasData(s, target))
        graft.sources.PartitionScrub.dropRows(s, target, "bucket",
          BucketStore.doomed(s, target, "vec_id", flagged))
    }
}
