package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.queries.AnalyticsQueries

/** The winnowed (MOSS) fingerprint index's streaming maintainer (r14
  * verdict item 1): `winnow_fp_v1` is the SAMPLED dup index a 100 TB
  * corpus persists instead of the every-gram q88/q98 store, and like
  * its shingle/signature siblings ([[StreamDupEdges]]) it needs a live
  * twin — a curation dashboard reads dup pressure over everything
  * ingested SO FAR without waiting for the nightly artifact rebuild.
  *
  * Per micro-batch (foreachBatch compactor, a [[BucketStore]] family):
  *  1. the batch's docs winnow through the IDENTICAL doc-local plan
  *     fragment the batch artifact builds with
  *     ([[AnalyticsQueries.winnowSelFor]]: k-gram h60 % 2⁴⁰, PosPack,
  *     one windowed min) — selection windows never span documents, so
  *     batch splits cannot change a doc's fingerprints and the
  *     stream-merged store equals the batch artifact row-for-row
  *     however ingestion batched (the spec asserts it);
  *  2. (doc_id, wmin) rows merge distinct into the doc_id-bucketed
  *     `fps` store (replay rewrites identical rows — idempotent);
  *  3. (doc_id, n_grams) rows merge into the `lens` store — the gram
  *     denominators q188's density needs, doc-local like the packs.
  *
  * Readers serve the SAME scorer tails as the batch queries
  * ([[AnalyticsQueries.winnowFingerprintOver]] /
  * [[AnalyticsQueries.winnowMatchesOver]] — one scorer, two feeds), so
  * live board and nightly audit can disagree only on recency.
  *
  * Scale posture: per batch, work is the new docs' grams plus the
  * touched doc_id buckets — never the accumulated corpus; takedown
  * erasure partition-prunes to the flagged ids' buckets.
  */
object StreamWinnow {

  /** Merge one batch of (doc_id, text) docs into the fingerprint
    * target through [[BucketStore.ingest]] — under the target's mutation
    * lease (no interleave with a takedown scrub in another JVM) and
    * behind the replay gate: a checkpoint replay of a batch an erasure
    * pass already covered must not resurrect the victims' fingerprints.
    * An all-short batch selects zero fingerprints; its empty merge is a
    * no-op. */
  def compactBatch(target: String, buckets: Int)
                  (batch: DataFrame, batchId: Long): Unit =
    BucketStore.ingest(target, buckets, "doc_id", batch, batchId) { live =>
      val docs = live.select(col("doc_id"), col("text")).localCheckpoint()
      val bucket = pmod(col("doc_id"), lit(buckets.toLong))
      // 1+2. the selection — the batch artifact's exact plan fragment
      BucketStore.merge(s"$target/fps", "bucket",
        AnalyticsQueries.winnowSelFor(docs).withColumn("bucket", bucket))(_.distinct())
      // 3. gram denominators (doc-local, replay rewrites identical rows)
      BucketStore.merge(s"$target/lens", "bucket",
        AnalyticsQueries.winnowGramsFor(docs).withColumn("bucket", bucket))(_.distinct())
    }

  /** (doc_id, text) document stream → continuously maintained winnow
    * fingerprint target, checkpointed (restart-safe,
    * replay-idempotent) and pinned to one checkpoint lineage
    * ([[BucketStore.start]]). */
  def start(docs: DataFrame, target: String, checkpoint: String,
            buckets: Int = 16): StreamingQuery =
    BucketStore.start(docs, checkpoint, Some(target))(compactBatch(target, buckets) _)

  /** The live selection as `winnow_fp_v1` serves it — (doc_id, wmin);
    * a stream that has ingested nothing reads as the empty selection,
    * not an AnalysisException. */
  def selection(s: SparkSession, target: String): DataFrame =
    BucketStore.readOrEmpty(s, s"$target/fps", Seq("doc_id", "wmin"))

  /** The live gram denominators — (doc_id, n_grams). */
  def grams(s: SparkSession, target: String): DataFrame =
    BucketStore.readOrEmpty(s, s"$target/lens", Seq("doc_id", "n_grams"))

  /** q188's fingerprint board off the LIVE store — identical scorer
    * tail as the batch query, fed by the stream-maintained selection
    * and lens stores (spec-pinned row-for-row batch parity at a
    * quiesced boundary). */
  def fingerprintBoard(s: SparkSession, target: String): DataFrame =
    AnalyticsQueries.winnowFingerprintOver(grams(s, target),
      selection(s, target))

  /** q191's match report off the LIVE store. */
  def matchesBoard(s: SparkSession, target: String): DataFrame =
    AnalyticsQueries.winnowMatchesOver(
      AnalyticsQueries.winnowUnpackH(selection(s, target)))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Takedown leg: both stores hold content-derived rows of the
    * flagged docs; erasure partition-prunes to the flagged ids'
    * buckets ([[BucketStore.doomed]] — legacy/torn meta falls back to
    * the unpruned predicate). Idempotent; scrub-side bounded lease
    * retry ([[BucketStore.scrubbing]]). */
  def scrub(s: SparkSession, target: String, flagged: Seq[Long]): Unit =
    scrubImpl(s, target, flagged, register = true)

  private def scrubImpl(s: SparkSession, target: String, flagged: Seq[Long],
                        register: Boolean): Unit =
    BucketStore.scrubbing(s, target, "winnow.scrub", flagged, register) {
      val doomed = BucketStore.doomed(s, target, "doc_id", flagged)
      Stores.foreach(sub => graft.sources.PartitionScrub.dropRows(s,
        s"$target/$sub", "bucket", doomed))
    }

  private val Stores = Seq("fps", "lens")

  /** Retention janitor ([[BucketStore.janitor]]): evict docs the
    * upstream already removed and compact buckets fragmented past
    * `maxFilesPerBucket` by merge rewrites. Eviction keys on the UNION
    * of both stores' doc sets: a doc shorter than k+w−1 tokens has a
    * lens row but selects ZERO fingerprints, so an fps-only diff would
    * never evict it and the live q188 board would keep serving the
    * removed doc forever. Both passes preserve the served relation
    * exactly; idempotent. */
  def janitor(s: SparkSession, target: String, live: DataFrame,
              maxFilesPerBucket: Int = 4): Unit =
    BucketStore.janitor(s, target, Stores, Stores, live,
      maxFilesPerBucket)(scrubImpl(s, target, _, register = false))
}
