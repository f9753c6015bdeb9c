package graft.streaming

import graft.llm.Dedup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The near-dup EDGE artifact's streaming maintainer (r8 verdict
  * item 5) — the one serve artifact that had a batch builder
  * (`minhash_pairs_v1`, q27's banded-MinHash + exact-Jaccard pair
  * join) but no stream compactor. [[StreamNearDup]] finds cross-batch
  * pairs as ESTIMATES (signature agreement) for live alerting; the
  * queries that act on edges (q73's clustering, q141's ROI, q142's
  * audit, q145's canonical pick) need the batch definition exactly:
  * banded candidates VERIFIED by true shingle Jaccard ≥ 0.5. This
  * foreachBatch compactor (a [[BucketStore]] family) maintains that
  * edge set on disk from a document stream, bit-compatible with the
  * batch artifact by construction — it applies the SAME
  * [[Dedup]] hash-family plan fragments to each micro-batch.
  *
  * Per micro-batch:
  *  1. the batch's docs shingle (distinct word-3-grams) and hash ONCE
  *     per shingle — x (minhash 60-bit md5 prefix) for signatures, an
  *     8-byte xxhash64 for verification joins;
  *  2. the doc→shingle-hash store merges the touched doc_id buckets
  *     (replay rewrites identical rows — idempotent);
  *  3. per-doc 16-component signatures merge into the sigs store —
  *     the corpus-LINEAR serve state (`minhash_sig3_v1`'s live twin;
  *     signatures are row-local per doc, so batch splits can't change
  *     them);
  *  4. banded bucket keys merge into the bands store, partitioned by
  *     BAND-VALUE hash, so candidate probes read only colliding
  *     partitions, never the full history;
  *  5. candidates = the new docs' bands joined against the merged
  *     store (new×new and new×old pairs; old×old edges already
  *     exist), verified by exact shingle-set Jaccard via the store —
  *     `3c ≥ na+nb` is the integer form of j ≥ 0.5;
  *  6. verified pairs merge (min,max)-oriented and distinct into the
  *     edges target.
  *
  * Union over batches = the batch artifact: for any qualifying pair,
  * whichever doc arrived later probed its band buckets while the other
  * was already stored. Replay of any batch re-derives identical rows
  * into every store, so at-least-once delivery and checkpoint replay
  * leave all three targets byte-equal (the spec proves it).
  *
  * Scale posture: per batch, work is (new docs' shingles) + (touched
  * band partitions) + (candidate pairs × their two shingle buckets) —
  * never the accumulated corpus; bucket counts bound file sizes and
  * give the dynamic partition overwrite its granularity.
  */
object StreamDupEdges {

  /** Merge one batch of (doc_id, text) docs into the edge target
    * through [[BucketStore.ingest]] — under the target's mutation lease
    * (a takedown scrub in another JVM cannot interleave this
    * read-merge-write) and behind the replay gate: a checkpoint replay
    * of a batch the scrub already covered re-derives the victims' rows
    * and the distinct merge would re-insert them with nothing left to
    * re-scrub (r13 self-review finding 4). */
  def compactBatch(target: String, buckets: Int)
                  (batch: DataFrame, batchId: Long): Unit =
    BucketStore.ingest(target, buckets, "doc_id", batch, batchId) { live =>
      // 1. hash each distinct shingle once (q27's discipline)
      val dt = Dedup.shingles(live.select(col("doc_id"), col("text")), 3)
        .select(col("doc_id"), Dedup.minhashTokenX(col("s")).as("x"),
          xxhash64(col("s")).as("h"))
        .localCheckpoint()
      // a batch of only sub-3-token docs contributes no shingles, no
      // bands, no candidates — and must not trip the first-batch store
      // reads below
      if (!dt.isEmpty) compactShingles(target, lit(buckets.toLong), dt)
    }

  private def compactShingles(target: String, b: Column, dt: DataFrame): Unit = {
    val s = dt.sparkSession
    // every merge is idempotent-distinct; an empty one (the common
    // no-near-dup batch verifies ZERO edges) is a no-op
    def mergeDistinct(sub: String, incoming: DataFrame): Unit =
      BucketStore.merge(s"$target/$sub", "bucket", incoming)(_.distinct())

    // 2. doc → shingle-hash store (doc_id-bucketed)
    mergeDistinct("shingles", dt
      .select(col("doc_id"), col("h"),
        pmod(col("doc_id"), b).as("bucket")))

    // 3. per-doc signatures (doc_id-bucketed) — the corpus-LINEAR
    // serve state (`minhash_sig3_v1`'s live twin): signatures are
    // row-local per doc, so the stream-merged store equals the batch
    // artifact regardless of how ingestion split into batches
    val sigsNew = Dedup.minhashSigFromX(dt).localCheckpoint()
    mergeDistinct("sigs", sigsNew
      .withColumn("bucket", pmod(col("doc_id"), b)))

    // 4. banded bucket keys (band-value-bucketed: probes prune)
    val bandsNew = Dedup.minhashBands(sigsNew)
      .localCheckpoint()
    mergeDistinct("bands", bandsNew
      .select(col("doc_id"), col("band"), col("bv"),
        pmod(xxhash64(col("bv")), b).as("bucket")))

    // 5. candidates: new docs' bands vs the merged store — read ONLY
    // the band partitions the new docs collide into
    val bandBuckets = bandsNew
      .select(pmod(xxhash64(col("bv")), b).as("bucket")).distinct()
      .collect().map(_.getLong(0))
    val store = s.read.parquet(s"$target/bands")
      .where(col("bucket").isin(bandBuckets: _*))
    val cand = bandsNew.as("n")
      .join(store.as("o"),
        col("n.band") === col("o.band") && col("n.bv") === col("o.bv") &&
          col("n.doc_id") =!= col("o.doc_id"))
      .select(least(col("n.doc_id"), col("o.doc_id")).as("da"),
        greatest(col("n.doc_id"), col("o.doc_id")).as("db"))
      .distinct()
      .localCheckpoint()

    // exact verification via the shingle store (touched doc buckets)
    val docBuckets = cand.select(pmod(col("da"), b).as("bk"))
      .unionByName(cand.select(pmod(col("db"), b).as("bk")))
      .distinct().collect().map(_.getLong(0))
    val ss = s.read.parquet(s"$target/shingles")
      .where(col("bucket").isin(docBuckets: _*))
      .select(col("doc_id"), col("h"))
    val sz = ss.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = cand
      .join(ss.as("sa"), col("sa.doc_id") === col("da"))
      .join(ss.as("sb"), col("sb.doc_id") === col("db") &&
        col("sb.h") === col("sa.h"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("c"))
    // the exact-Jaccard ingredients (c, |A|, |B|) per candidate pair —
    // deterministic facts of the pair (shingle sets are fixed per doc),
    // stored so threshold analytics (q180's sweep) serve from the
    // store without re-deriving candidates or re-counting overlaps
    val exact = common
      .join(sz.as("na"), col("da") === col("na.doc_id"))
      .join(sz.as("nb"), col("db") === col("nb.doc_id"))
      .select(col("da"), col("db"), col("c"),
        col("na.n").as("na"), col("nb.n").as("nb"))
      .localCheckpoint()
    val verified = exact
      .where(col("c") * 3 >= col("na") + col("nb"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"))

    // 6. merge the exact-pair facts and the verified edges
    mergeDistinct("cand", exact
      .withColumn("bucket", pmod(col("da"), b)))
    mergeDistinct("edges", verified
      .withColumn("bucket", pmod(col("doc_a"), b)))
  }

  /** (doc_id, text) document stream → continuously maintained edge
    * target, checkpointed (restart-safe, replay-idempotent) and pinned
    * to one checkpoint lineage ([[BucketStore.start]]). */
  def start(docs: DataFrame, target: String, checkpoint: String,
            buckets: Int = 16): StreamingQuery =
    BucketStore.start(docs, checkpoint, Some(target))(compactBatch(target, buckets) _)

  /** The edge set as q73/q141/q142/q145's consumers read it — the
    * same (doc_a, doc_b) shape as the `minhash_pairs_v1` artifact.
    * A stream whose every batch verified zero edges has no edges dir
    * (empty merges are skipped) — consumers read that as the empty edge
    * set, not an AnalysisException. */
  def edges(s: SparkSession, target: String): DataFrame =
    BucketStore.readOrEmpty(s, s"$target/edges", Seq("doc_a", "doc_b"))

  /** The per-doc MinHash signatures as the batch `minhash_sig3_v1`
    * artifact serves them — (doc_id, h0..h15), the corpus-linear state
    * every banding consumer reads. Signatures are row-local per doc
    * and the merges idempotent-distinct, so the stream-maintained
    * store equals the batch artifact row-for-row however ingestion
    * batched (the spec asserts it); a live pipeline re-dials its LSH
    * banding (q182's sweep) over everything ingested so far without
    * re-hashing a single shingle. */
  def sigsFromStore(s: SparkSession, target: String): DataFrame =
    s.read.parquet(s"$target/sigs")
      .select(col("doc_id") +: (0 until Dedup.MinHashK)
        .map(i => col(s"h$i")): _*)

  /** q177's novelty audit served from the stream-maintained shingle
    * store instead of a corpus scan: the store holds exactly the
    * distinct (doc_id, shingle-hash) rows batch q177 derives — its
    * merges are idempotent-distinct and the batch pipeline hashes the
    * same xxhash64 — so the df table and the per-doc rollup are the
    * same aggregation over the same rows, row-for-row equal by
    * construction (the spec asserts it). This is what a live curation
    * dashboard reads: novelty over everything ingested SO FAR, without
    * re-shingling the corpus. */
  def noveltyFromStore(s: SparkSession, target: String): DataFrame = {
    val dt = s.read.parquet(s"$target/shingles")
      .select(col("doc_id"), col("h"))
    val dfreq = dt.groupBy(col("h")).agg(count(lit(1)).as("df"))
    dt.join(dfreq, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2L, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        expr("((n_shingles - n_shared) * 1000) div n_shingles")
          .as("novelty_milli"))
      .orderBy(col("doc_id"))
  }

  /** q180's threshold sweep served from the stream-maintained
    * exact-pair store (r10 verdict item 5): the stored (da, db, c, na,
    * nb) rows are exactly the pair facts batch q180 derives from its
    * candidate stage — same hash family, same distinct discipline, and
    * the values are deterministic per pair — so the shared sweep tail
    * ([[graft.queries.DedupQueries.sweepOver]]) over the store equals
    * the batch sweep row-for-row (the spec asserts it). A live
    * curation dashboard re-dials its merge threshold over everything
    * ingested so far without recomputing a single signature. */
  def sweepFromStore(s: SparkSession, target: String): DataFrame =
    // a stream that never surfaced a candidate has no cand dir (empty
    // merges are skipped) — that is the empty pair set, and the sweep
    // must answer its 6 zero rows exactly like batch q180 would
    graft.queries.DedupQueries.sweepOver(s, BucketStore.readOrEmpty(s,
      s"$target/cand", Seq("da", "db", "c", "na", "nb")))

  /** Retention janitor for the five stores (r9 verdict item 5,
    * [[BucketStore.janitor]]): a long-lived ingest stream accretes
    * upstream-removed docs — their shingle hashes, band keys and edges
    * stay in the stores forever, no later batch rewrites them away —
    * and buckets fragmented by merge rewrites (a touched bucket is
    * rewritten from whatever partitioning `distinct()` left). The
    * shingle store's doc set against the caller's `live` list routes
    * the removed ids through the [[scrub]] leg without the registry;
    * fragmented buckets of all five stores are rewritten one file per
    * bucket. Both passes preserve the served relation exactly;
    * idempotent (the spec snapshots byte counts to prove it). */
  def janitor(s: SparkSession, target: String, live: DataFrame,
              maxFilesPerBucket: Int = 4): Unit =
    BucketStore.janitor(s, target, Seq("shingles"), Stores, live,
      maxFilesPerBucket)(scrubImpl(s, target, _, register = false))

  private val Stores = Seq("shingles", "sigs", "bands", "cand", "edges")

  /** Takedown leg for the edge target: every store holds
    * content-derived rows of the flagged docs — shingle hashes,
    * signatures, band keys, and the pair facts and edges that cite
    * them — so erasure must reach all five
    * ([[graft.sources.TakedownApply]]'s cascade shape, one
    * [[graft.sources.PartitionScrub]] call per store). Idempotent:
    * a second pass touches no partition.
    *
    * The two corpus-LINEAR stores (shingles, sigs) bucket on
    * `pmod(doc_id, b)`, so their touched partitions come straight off
    * the flagged list once `b` is known — the `_buckets` meta file the
    * stream wrote at start supplies it, and those legs' doomed
    * predicate gains a bucket IN-list conjunct that partition-prunes
    * the discovery scan to the named buckets (r11 ROADMAP item 6:
    * takedown cost on the big stores is O(flagged buckets), never a
    * store scan). A target predating the meta file — or one whose
    * meta is unreadable — falls back to the unpruned predicate. The
    * bands/cand/edges legs keep full discovery: their buckets key on
    * the band-value hash / the pair's smaller id, neither computable
    * from the flagged list alone. */
  def scrub(s: SparkSession, target: String, flagged: Seq[Long]): Unit =
    scrubImpl(s, target, flagged, register = true)

  private def scrubImpl(s: SparkSession, target: String, flagged: Seq[Long],
                        register: Boolean): Unit =
    BucketStore.scrubbing(s, target, "dupEdges.scrub", flagged, register) {
      // the doc_id-bucketed stores prune to the flagged ids' buckets
      val byDoc = BucketStore.doomed(s, target, "doc_id", flagged)
      graft.sources.PartitionScrub.dropRows(s, s"$target/shingles", "bucket", byDoc)
      graft.sources.PartitionScrub.dropRows(s, s"$target/sigs", "bucket", byDoc)
      graft.sources.PartitionScrub.dropRows(s, s"$target/bands", "bucket",
        col("doc_id").isin(flagged: _*))
      graft.sources.PartitionScrub.dropRows(s, s"$target/cand", "bucket",
        col("da").isin(flagged: _*) || col("db").isin(flagged: _*))
      graft.sources.PartitionScrub.dropRows(s, s"$target/edges", "bucket",
        col("doc_a").isin(flagged: _*) || col("doc_b").isin(flagged: _*))
    }
}
