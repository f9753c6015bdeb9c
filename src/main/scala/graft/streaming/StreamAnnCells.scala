package graft.streaming

import graft.llm.{ServeBooks, VectorOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming ingest maintainer for the serve-cells artifact — the
  * vector-side twin of [[StreamVerdictFlags]] (and the raw-vector
  * sibling of [[StreamAnnIndex]]'s code index): vectors arriving on a
  * stream are assigned to their coarse cell ROW-LOCALLY with the book
  * FROZEN AT STREAM START (a retrain is a new stream — the
  * StreamEmbedDedupPq snapshot convention) and merged into the same
  * cell-partitioned artifact [[StreamAnnServe]] pins, so a live serve
  * stream answers over a corpus that GROWS while it runs: ingest
  * writes a cell's directory, the next serve batch that probes the
  * cell reads the new vectors. Together the two streams are the full
  * production ANN loop — train → publish → ingest → serve — with
  * takedown reaching both (scrubAnnCells rewrites the same files).
  *
  * Semantics are APPEND-ONLY, the standard embedding-store contract:
  * a vector is immutable once ingested (re-embedding is a new vec_id,
  * removal is a takedown); redelivery of a batch re-derives
  * byte-identical rows (deterministic row-local assignment), so the
  * per-cell distinct merge makes checkpoint replay a no-op.
  *
  * Scale posture: per batch the work is (batch rows) + (touched cell
  * directories read back for the distinct merge) — the touched-cell
  * read is itself partition-pruned, so a batch touching 3 of 32 cells
  * reads 3 directories, never the corpus. Cell sizes bound the merge
  * granularity exactly as bucket counts do for [[StreamDupEdges]].
  */
object StreamAnnCells {

  /** Merge one batch of (vec_id, embedding float[]) vectors into the
    * pinned cells artifact at `dataPath`. `fp` is the generation id and
    * `corpusFp` the corpus fingerprint — stamped onto rows ONLY for
    * legacy (pre-r14) generations whose layout carries them as data
    * columns; r14 cell-carried generations record identity in the
    * directory name and the `corpus` note, and rows grown here are
    * UNCERTIFIED (absent from the `vecs` carry certificate), which is
    * what makes their cell read as dirty to a successor build — grown
    * rows are re-derived when ops appends them to the corpus, never
    * hard-link-carried. `dir` names the corpus
    * whose tombstone set gates the merge: a checkpoint REPLAY of an
    * in-flight batch after a takedown (or redelivery of a taken-down
    * vector) would otherwise re-insert the erased vector's raw bytes
    * into the published generation — the serve path's anti-join hides
    * it from answers, but the erasure contract ("no published
    * generation holds the deleted vector's bytes") would be violated
    * with nothing left to re-scrub it, since scrubAnnCells ran at flag
    * time. The tombstone set is re-read per batch (StreamAnnServe's
    * discipline — bounded by deletion volume, broadcasts) and the whole
    * read-merge-write is serialized per generation against flag-time
    * scrubs — in-JVM and ACROSS PROCESSES (ServeBooks.withCellsLock,
    * now backed by the graft.sources.MutationLease on-disk lease). */
  def compactBatch(dataPath: String, book: Array[Array[Double]],
                   fp: Long, corpusFp: Long, dir: String)
                  (batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    if (batch.isEmpty) return
    val live = batch.join(
      broadcast(graft.sources.VecTakedown.tombstones(s, dir)),
      Seq("vec_id"), "left_anti")
    if (live.isEmpty) return
    // r14 generations carry no fp/corpus_fp data columns (the directory
    // name and the `corpus` note are the identity; hard-linked carried
    // files would disagree with a per-row stamp) — match the pinned
    // generation's actual layout, legacy or current (one footer read)
    val legacy = s.read.parquet(dataPath).columns.contains("corpus_fp")
    val assigned0 = live
      .select(col("vec_id"), VectorOps.toDoubleArr(col("embedding")).as("v"))
      .withColumn("nrm", VectorOps.norm(col("v")))
      .withColumn("cell", ServeBooks.cell(book, col("v")))
    val assigned =
      (if (legacy) assigned0.withColumn("corpus_fp", lit(corpusFp))
        .withColumn("fp", lit(fp))
       else assigned0).localCheckpoint()
    ServeBooks.withCellsLock(s, dataPath) {
      BucketStore.merge(dataPath, "cell", assigned)(_.distinct())
    }
  }

  /** (vec_id, embedding) stream → the current generation's serve-cells
    * artifact, continuously grown, checkpointed. Book, artifact id,
    * and data path freeze at stream start (the same triple
    * [[StreamAnnServe.start]] freezes, so a paired ingest+serve deploy
    * agrees on the generation). */
  def start(vectors: DataFrame, dir: String,
            checkpoint: String): StreamingQuery = {
    val s = vectors.sparkSession
    val book = ServeBooks.coarse(s, dir)
    val fp = ServeBooks.annCellsFp(s, dir)
    val corpusFp = graft.ArtifactStore.embeddingsFp(s, dir)
    val dataPath = ServeBooks.annCellsPath(s, dir)
    BucketStore.start(vectors, checkpoint, None)(
      compactBatch(dataPath, book, fp, corpusFp, dir) _)
  }
}
