package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintainer for the curation VERDICT FLAGS (r10 verdict
  * item 2) — the batch-artifact + streaming-maintainer + takedown
  * pattern ([[StreamDupEdges]], [[StreamAnnIndex]]) closed for the
  * `verdict_flags_v1` family: the batch artifact is fingerprint-keyed
  * to the corpus, so in a pipeline that appends documents continuously
  * every append forces a FULL recompute of every flag; this maintainer
  * updates per-document flags incrementally from a document stream,
  * and [[flagsFromStore]] serves rows equal to the batch
  * `buildVerdictFlags` over the same corpus (the spec proves it
  * row-for-row, out-of-order arrival included).
  *
  * The split that makes incremental maintenance correct: every flag
  * except `is_canonical` is ROW-LOCAL
  * ([[graft.queries.TextStatsQueries.verdictRowFlags]] — the same
  * expressions the batch build evaluates, shared by construction), so
  * a document's flags row is computed once, in the batch that carries
  * it, and never rewritten. The one cross-document decision — exact-dup
  * canonical = "am I the min doc_id of my md5 digest" — reduces to a
  * digest → min(doc_id) store, merged per batch with an associative
  * min (idempotent under replay, order-independent across batches:
  * min is min whatever the arrival order). Serving joins the two
  * stores, so a later-arriving smaller doc_id DEMOTES an
  * earlier-arrived canonical without touching its stored row.
  *
  * Scale posture: per batch the work is (batch rows) + (touched
  * buckets); the canonical state is one row per distinct digest —
  * bounded by corpus content, 8+32 bytes each, and only the buckets
  * the batch's digests hash into are read or rewritten. A third store,
  * `members` (digest → doc_id, digest-hash-bucketed), exists solely so
  * the takedown leg can find an erased canonical's surviving members
  * by reading its digest's bucket. Nothing corpus-sized is scanned
  * after ingest — the scrub leg included (see [[scrub]]).
  */
object StreamVerdictFlags {

  /** Merge one batch of (doc_id, lang, source, text) docs through
    * [[BucketStore.ingest]] — under the target's mutation lease and
    * behind the replay gate: a checkpoint replay of a batch the
    * takedown scrub already covered would re-score the victims and the
    * distinct/min merges would re-insert their rows (and could steal
    * back a reassigned canonical slot) with nothing left to re-scrub
    * (r13 self-review finding 4). New batches pass through: erasure
    * stays retroactive. */
  def compactBatch(target: String, buckets: Int)
                  (batch: DataFrame, batchId: Long): Unit =
    BucketStore.ingest(target, buckets, "doc_id", batch, batchId) { live =>
      val b = lit(buckets.toLong)
      val rf = graft.queries.TextStatsQueries.verdictRowFlags(live)
        .localCheckpoint()
      // per-doc row-local flags: replay rewrites identical rows
      BucketStore.merge(s"$target/flags", "bucket",
        rf.withColumn("bucket", pmod(col("doc_id"), b)))(_.distinct())
      // digest → member doc ids (digest-hash-bucketed): the scrub leg's
      // locality index — an erased canonical's surviving members are
      // found in its digest's bucket, never by scanning the flags store
      BucketStore.merge(s"$target/members", "bucket",
        rf.select(col("digest"), col("doc_id"))
          .withColumn("bucket", pmod(xxhash64(col("digest")), b)))(_.distinct())
      // digest → min(doc_id): the associative canonical state
      BucketStore.merge(s"$target/canon", "bucket", rf
        .groupBy(col("digest")).agg(min(col("doc_id")).as("min_doc_id"))
        .withColumn("bucket", pmod(xxhash64(col("digest")), b)))(
        _.groupBy(col("bucket"), col("digest"))
          .agg(min(col("min_doc_id")).as("min_doc_id"))
          .select(col("digest"), col("min_doc_id"), col("bucket")))
    }

  /** (doc_id, lang, source, text) stream → continuously maintained
    * flag stores, checkpointed (restart-safe, replay-idempotent) and
    * pinned to one checkpoint lineage ([[BucketStore.start]]). */
  def start(docs: DataFrame, target: String, checkpoint: String,
            buckets: Int = 16): StreamingQuery =
    BucketStore.start(docs, checkpoint, Some(target))(compactBatch(target, buckets) _)

  /** The verdict flags over everything ingested so far — the exact
    * frame `buildVerdictFlags` computes over the same corpus:
    * row-local columns from the flags store, `is_canonical` decided
    * against the canon store at READ time (a digest's min may have
    * arrived after any given member). */
  def flagsFromStore(s: SparkSession, target: String): DataFrame =
    s.read.parquet(s"$target/flags")
      .join(s.read.parquet(s"$target/canon")
        .select(col("digest"), col("min_doc_id")), Seq("digest"))
      .select(col("doc_id"), col("source"), col("n_tok"),
        (col("doc_id") === col("min_doc_id")).as("is_canonical"),
        col("lang_ok"), col("quality_ok"), col("rep_keep"),
        col("sample_keep"))

  /** q75's per-document verdict served live from the stores — the
    * exact tail batch q75 runs over the artifact, over [[flagsFromStore]]
    * (whose parity with the batch flags the spec proves). */
  def verdictFromStore(s: SparkSession, target: String): DataFrame =
    graft.queries.TextStatsQueries.verdictOver(flagsFromStore(s, target))

  /** q140's funnel report served live from the stores — same sharing. */
  def funnelFromStore(s: SparkSession, target: String): DataFrame =
    graft.queries.TextStatsQueries.funnelOver(flagsFromStore(s, target))

  /** Takedown leg: erase the flagged docs' rows and REASSIGN any
    * canonical slot they held — a digest whose min doc is erased must
    * fall to its smallest surviving member (or vanish with its last
    * member), exactly what a batch rebuild over the post-takedown
    * corpus would decide. Every partition this touches is NAMED
    * driver-side before any read — flags buckets from the flagged ids
    * (`pmod(doc_id, b)`), members/canon buckets from the carried
    * digests (`pmod(xxhash64(digest), b)`, a local job over the digest
    * list) — so scrub work is O(touched buckets), never a store scan
    * (r11 ROADMAP item 5: the survivor recompute previously read the
    * whole flags store because digest → members didn't map to its
    * doc_id bucketing; the members sidecar gives the lookup its own
    * digest-oriented partitioning). Idempotent — a second pass finds
    * no flagged rows and rewrites nothing.
    *
    * CRASH-SAFE ORDERING (r11 ADVICE): the flags store is scrubbed
    * LAST. The flagged docs' digests — the only state the members/canon
    * legs need — are derivable only while the flags rows still exist,
    * so a crash after any leg leaves a rerun able to re-derive them and
    * complete idempotently (members rewrite: doomed rows already gone,
    * no-op; canon rewrite: replaces the touched digests with the same
    * survivor minima). Scrubbing flags first would make a crash before
    * the other legs PERMANENTLY unrecoverable: the rerun would find no
    * flagged rows, derive no digests, and return with the victim's
    * members rows live and its canon slot still pointing at the erased
    * doc. The spec proves rerun-completes from every intermediate crash
    * point via [[scrubSteps]]' abort seam.
    *
    * The bucket count comes from the target's `_buckets` meta file
    * ([[BucketMeta]] — authoritative). When the meta is ABSENT or TORN
    * the scrub falls back to DISCOVERY (predicate-touched partitions,
    * store-scan pricing) rather than trusting the caller-passed
    * `buckets` default: a wrong count would name the wrong partitions
    * and flagged rows would silently survive erasure — the exact
    * failure the meta exists to prevent ([[BucketStore.doomed]] makes
    * the same absent-meta choice for the other stores). */
  def scrub(s: SparkSession, target: String, flagged: Seq[Long]): Unit =
    scrubSteps(s, target, flagged, abortAfter = Int.MaxValue)

  /** [[scrub]] with a crash-injection seam: stop after `abortAfter`
    * store rewrites (1 = members, 2 = canon, 3 = flags) — the spec's
    * handle for proving a rerun completes from every crash point. */
  private[graft] def scrubSteps(s: SparkSession, target: String,
                                flagged: Seq[Long], abortAfter: Int): Unit =
   // registry FIRST (BucketStore.scrubbing), even before the crash-seam
   // store rewrites: once recorded, a checkpoint replay of any pre-scrub
   // batch drops the victims at merge entry — without it the replay
   // re-scores them into flags/members and can steal back a reassigned
   // canonical slot, with nothing left to re-scrub.
   BucketStore.scrubbing(s, target, "verdictFlags.scrub", flagged) {
    val flagsPath = s"$target/flags"
    if (!BucketStore.hasData(s, flagsPath)) return
    val doomed = col("doc_id").isin(flagged: _*)
    BucketMeta.read(s, target) match {
      case Some(b) =>
        // the flags store is doc_id-bucketed: its touched partitions
        // come straight off the flagged list, no discovery scan
        val fBuckets = flagged.map(java.lang.Math.floorMod(_, b)).distinct
        // digests the flagged docs carried — read only their buckets,
        // while the rows still exist (flags is scrubbed last)
        val dg = s.read.parquet(flagsPath)
          .where(col("bucket").isin(fBuckets: _*) && doomed)
          .select(col("digest")).distinct()
          .collect().map(_.getString(0)).toSeq
        if (dg.isEmpty) return
        val inDg = col("digest").isin(dg: _*)
        // members/canon share the digest-hash bucketing: name the
        // touched buckets with a local job over the digest list
        val dgBuckets = {
          import s.implicits._
          dg.toDF("digest")
            .select(pmod(xxhash64(col("digest")), lit(b)).as("bk"))
            .distinct().as[Long].collect().toSeq
        }
        graft.sources.PartitionScrub.rewriteKnown(s, s"$target/members",
          "bucket", dgBuckets)(_.where(!doomed))
        if (abortAfter <= 1) return
        // recompute the touched digests' minima from surviving members
        val survivors = s.read.parquet(s"$target/members")
          .where(col("bucket").isin(dgBuckets: _*) && inDg && !doomed)
          .groupBy(col("digest")).agg(min(col("doc_id")).as("min_doc_id"))
          .withColumn("bucket", pmod(xxhash64(col("digest")), lit(b)))
        graft.sources.PartitionScrub.rewriteKnown(s, s"$target/canon",
          "bucket", dgBuckets) { part =>
          part.where(!inDg)
            .unionByName(survivors.select(part.columns.map(col): _*))
        }
        if (abortAfter <= 2) return
        graft.sources.PartitionScrub.rewriteKnown(s, flagsPath, "bucket",
          fBuckets)(_.where(!doomed))
      case None =>
        // meta absent/torn: the true modulus is unknowable — discovery
        // scrub (touched partitions found by predicate scan; survivor
        // buckets carried from the members rows' own partition column)
        val dg = s.read.parquet(flagsPath).where(doomed)
          .select(col("digest")).distinct()
          .collect().map(_.getString(0)).toSeq
        if (dg.isEmpty) return
        val inDg = col("digest").isin(dg: _*)
        graft.sources.PartitionScrub.rewriteTouched(s, s"$target/members",
          "bucket", doomed)(_.where(!doomed))
        if (abortAfter <= 1) return
        val survivors = s.read.parquet(s"$target/members")
          .where(inDg && !doomed)
          .groupBy(col("bucket").cast("long").as("bucket"), col("digest"))
          .agg(min(col("doc_id")).as("min_doc_id"))
        graft.sources.PartitionScrub.rewriteTouched(s, s"$target/canon",
          "bucket", inDg) { part =>
          part.where(!inDg)
            .unionByName(survivors.select(part.columns.map(col): _*))
        }
        if (abortAfter <= 2) return
        graft.sources.PartitionScrub.rewriteTouched(s, flagsPath, "bucket",
          doomed)(_.where(!doomed))
    }
  }
}
