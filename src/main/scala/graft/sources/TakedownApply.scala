package graft.sources

import graft.ArtifactStore
import graft.streaming.{BatchHighWater, BucketStore, StreamMergeSink}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The takedown cascade as an ACTION over the on-disk state (r7 verdict
  * item 5) — q144 is the audit REPORT (how much would a takedown
  * touch); this applies it: flagged docs are tombstoned out of the
  * StreamMergeSink live table, scrubbed from the compacted index
  * artifacts, and every corpus-derived ArtifactStore family is
  * invalidated so no stale edge list or postings file keeps serving
  * severed documents. Each leg is replay-idempotent — running the
  * cascade twice leaves byte-identical state — because erasure
  * pipelines re-run on failure and a cascade that double-applies is a
  * cascade nobody dares re-run.
  *
  * Legs:
  *  1. Live table: a version-superseding tombstone ('D' at ver+1) per
  *     flagged, not-yet-deleted doc, merged through
  *     [[StreamMergeSink.mergeBatch]] — the SAME merge path the CDC
  *     stream uses, so ordering/replay semantics are inherited, and
  *     the second pass finds only tombstones and writes nothing.
  *  2. Index target ([[graft.streaming.StreamIndexCompact]] layout):
  *     the flagged docs' postings and doc-length rows are dropped and
  *     only their buckets rewritten (dynamic partition overwrite —
  *     work scales with touched buckets, not the index).
  *  3. Derived artifacts: every documents-derived ArtifactStore family
  *     ([[DocArtifactKeys]]) is invalidated for this corpus's
  *     fingerprint — the edge lists and postings were pure functions
  *     of a corpus that no longer exists, so they must die with it;
  *     the next consumer rebuilds from the post-takedown corpus.
  */
object TakedownApply {

  /** The documents-derived artifact families a takedown invalidates.
    * cluster_labels_v1 derives FROM minhash_pairs_v1 and
    * lpa_labels_v1 FROM dup_edges_v1 (same fingerprint): each pair
    * must die together or the labels would keep serving severed-edge
    * clusters. */
  val DocArtifactKeys: Seq[String] =
    Seq("minhash_pairs_v1", "cluster_labels_v1", "dup_edges_v1",
      "lpa_labels_v1", "kcore_deg_v1", "bfs_hops_v1",
      "postings_v1", "doclens_v1", "verdict_flags_v1",
      "text_stats_v1", "lm_doc_scores_v1", "lm_quality_scores_v1",
      "brute_pair_stats_v1", "minhash_sig3_v1", "shingle_hashes3_v1",
      "banded_cand_nmatch_v1", "band_sweep_cand_v1",
      "shingle_hashes8_v1", "winnow_fp_v1",
      "winnow_pairs_v1", "simjoin_pairs_v1",
      "gram_occ8_v1", "gram_stats8_v1")

  /** Leg 1: tombstone flagged docs in the merge target. Returns the
    * number of newly tombstoned docs (0 on a re-run — idempotent). */
  def tombstoneMerged(s: SparkSession, target: String, buckets: Int,
                      flagged: Seq[Long]): Long = {
    val live = s.read.parquet(target)
      .where(col("docId").isin(flagged: _*) && col("op") =!= "D")
      .groupBy(col("docId")).agg(max(col("ver")).as("ver"))
      .select(col("docId"), (col("ver") + 1L).as("ver"),
        lit("D").as("op"), lit("").as("text"))
      .localCheckpoint()
    val n = live.count()
    if (n > 0) StreamMergeSink.mergeBatch(target, buckets)(live, -1L)
    n
  }

  /** Leg 2: drop flagged docs from the compacted index target,
    * rewriting only the buckets that held them; the discovery scan
    * prunes to the flagged ids' buckets when the target's `_buckets`
    * note names them ([[BucketStore.doomed]]). Under the index's
    * mutation lease, serialized against
    * [[graft.streaming.StreamIndexCompact.compactBatch]] in-JVM and
    * cross-process so the scrub cannot interleave a batch's gate read
    * and its compacted-bucket merge (r12 ADVICE); the registry entry is
    * [[scrubIndexLog]]'s. */
  def scrubIndex(s: SparkSession, target: String, flagged: Seq[Long]): Unit =
    BucketStore.scrubbing(s, target, "scrubIndex", flagged, register = false) {
      val doomed = BucketStore.doomed(s, target, "doc_id", flagged)
      Seq("postings", "doclens").foreach { sub =>
        PartitionScrub.dropRows(s, s"$target/$sub", "bucket", doomed)
      }
    }

  /** Leg 4 (erasure beats time travel): the merge sink's change LOG
    * keeps every historical row, so [[TimeTravel.asOf]] would
    * resurrect a taken-down document's content at old batch
    * boundaries. Rewrite every log partition holding a flagged doc,
    * replacing its rows with their TOMBSTONE form (content blanked,
    * version and op='D' kept) — erasure is retroactive: the doc reads
    * as deleted at EVERY boundary, while version-suppression of late
    * upserts still works and unflagged history is byte-unchanged.
    * Idempotent: a second pass rewrites tombstones to themselves.
    * Discovery is pruned to the [[LogBloom]] candidate batches (the
    * batch_id conjunct partition-prunes the scan), so deep-history
    * logs pay per-candidate-partition, not per-log; batches without a
    * readable bloom stay candidates — legacy logs scrub exactly as
    * before. */
  def scrubMergeLog(s: SparkSession, log: String, flagged: Seq[Long]): Unit =
    // under the LOG's mutation lease: a replayed batch's gate read + log
    // write (StreamMergeSink) cannot interleave this registry append +
    // partition rewrite (r12 ADVICE's lost-update class). Registry FIRST
    // at the log's newest batch: a checkpoint replay of any pre-scrub
    // batch re-applies the tombstone form at write time — without it
    // the replay's dynamic partition overwrite would resurrect the
    // erased content with nothing left to re-scrub — and a rerun after
    // a crash completes the partition rewrites
    BucketStore.scrubbing(s, log, "scrubMergeLog", flagged,
        upto = ScrubRegistry.maxBatchId) {
      val cands = LogBloom.candidateBatches(s, log, flagged)
      // touch = a flagged doc's row not yet in tombstone form (so a
      // second pass rewrites nothing — idempotent)
      if (cands.nonEmpty)
        PartitionScrub.rewriteTouched(s, log, "batch_id",
          col("batch_id").isin(cands: _*) && col("docId").isin(flagged: _*) &&
            (col("op") =!= "D" || col("text") =!= "")) { rows =>
          rows.select(col("docId"), col("ver"),
            when(col("docId").isin(flagged: _*), lit("D"))
              .otherwise(col("op")).as("op"),
            when(col("docId").isin(flagged: _*), lit(""))
              .otherwise(col("text")).as("text"),
            col("batch_id"))
        }
    }

  /** Leg 5: same retroactive erasure for the search index's
    * time-travel log ([[graft.streaming.StreamIndexCompact]]'s
    * `log/` layout) — index rows ARE content-derived (the terms), so
    * flagged docs' rows are DROPPED from every touched batch
    * partition: retroactively the doc was never indexed. Discovery is
    * [[LogBloom]]-pruned like [[scrubMergeLog]]. */
  def scrubIndexLog(s: SparkSession, target: String, flagged: Seq[Long]): Unit =
    // same lease as scrubIndex/compactBatch (one writer per index
    // target). Registry FIRST (scrubMergeLog's rationale): gates
    // checkpoint replays of pre-scrub batches in
    // StreamIndexCompact.compactBatch — the compacted-bucket merge AND
    // the log partition rewrite would both re-insert the victims' rows
    // otherwise. One registry at the target root covers both sub-logs
    // and the compacted merge; its window is the higher of the
    // high-water note and the logs' newest batch (a target written
    // before the note has only the logs).
    BucketStore.scrubbing(s, target, "scrubIndexLog", flagged,
        upto = (s, t) => (BatchHighWater.read(s, t) +:
          IndexLogs.map(sub => ScrubRegistry.maxBatchId(s, s"$t/$sub"))).max) {
      IndexLogs.foreach { sub =>
        val log = s"$target/$sub"
        val cands = LogBloom.candidateBatches(s, log, flagged)
        if (cands.nonEmpty)
          PartitionScrub.dropRows(s, log, "batch_id",
            col("batch_id").isin(cands: _*) && col("doc_id").isin(flagged: _*))
      }
    }

  private val IndexLogs = Seq("log/postings", "log/doclens")

  /** Leg 3: invalidate every documents-derived artifact family for the
    * corpus at `dir` (they encode pre-takedown content). */
  def invalidateArtifacts(s: SparkSession, dir: String,
                          keys: Seq[String] = DocArtifactKeys): Unit = {
    val fp = ArtifactStore.documentsFp(s, dir)
    keys.foreach(ArtifactStore.invalidate(_, fp))
  }

  /** The full cascade over a deployment's state. Any leg whose target
    * does not apply can be skipped by passing None/Nil. */
  def cascade(s: SparkSession, flagged: Seq[Long],
              mergeTarget: Option[String] = None, mergeBuckets: Int = 16,
              indexTarget: Option[String] = None,
              corpusDir: Option[String] = None,
              mergeLog: Option[String] = None,
              dupEdgesTarget: Option[String] = None): Unit = {
    mergeTarget.foreach(tombstoneMerged(s, _, mergeBuckets, flagged))
    indexTarget.foreach { t =>
      scrubIndex(s, t, flagged)
      scrubIndexLog(s, t, flagged)
    }
    mergeLog.foreach(scrubMergeLog(s, _, flagged))
    dupEdgesTarget.foreach(
      graft.streaming.StreamDupEdges.scrub(s, _, flagged))
    corpusDir.foreach(invalidateArtifacts(s, _))
  }
}
