package graft.sources

import java.io.ByteArrayInputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.sketch.BloomFilter

/** Per-batch doc-id BLOOM SIDECARS for the batch_id-partitioned change
  * logs (r11 verdict item 7): the merge log and the index time-travel
  * log partition on batch_id — not derivable from a doc id — so their
  * takedown scrubs kept FULL-STORE discovery scans: at deep history
  * (years of batches) every rare takedown re-read the whole log to
  * find the handful of partitions holding the victim. Each batch write
  * now also publishes a small bloom of its doc ids under
  * `<log>/_blooms/<batchId>`; the scrub probes the flagged ids against
  * every batch's bloom (driver-side, KB per batch — metadata work,
  * O(#batches), never row work) and prunes its discovery predicate to
  * the candidate partitions. One-sided like every bloom: a false
  * positive costs one needlessly-read partition; "definitely absent"
  * partitions are never read.
  *
  * Safety of the fallback: a batch with NO readable bloom (pre-sidecar
  * history, torn write) is always a candidate — pruning can only
  * remove partitions a bloom PROVES clean, so legacy logs scrub
  * exactly as before, gaining pruning batch by batch as new writes
  * land. Blooms are never rewritten by the scrub itself: the merge-log
  * scrub keeps the victim's docId (tombstone form — the bloom stays
  * exact); the index-log scrub drops rows, leaving the bloom a
  * harmless over-approximation.
  *
  * Replay-idempotent: a replayed batch finds its bloom present and
  * writes nothing — its row set carries the same doc ids (a replay
  * after a takedown rewrites them in ERASURE form via
  * [[ScrubRegistry]]'s gate, which keeps the docId, so the bloom
  * stays exact); writes are temp-then-rename so a torn file reads
  * as absent, never as an authoritative empty bloom. */
object LogBloom {

  val Fpp = 0.01

  private def bloomsDir(log: String) =
    new org.apache.hadoop.fs.Path(s"$log/_blooms")

  /** Publish the batch's doc-id bloom (write-if-absent; no-op for an
    * empty frame). `ids` is a one-column BIGINT frame of the batch's
    * doc ids — bounded by the micro-batch; the bloom aggregates
    * distributed and only the KB-ish bitset comes to the driver. */
  def record(s: SparkSession, log: String, batchId: Long,
             ids: DataFrame): Unit = {
    val dir = bloomsDir(log)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(dir, batchId.toString)
    if (fs.exists(p)) return
    // nothing to certify, and Spark's bloom aggregate over zero rows
    // fails; a batch without a bloom stays a candidate (safe fallback)
    val n = ids.count()
    if (n == 0L) return
    val bloom = ids.stat.bloomFilter(ids.columns.head, math.max(n, 64L), Fpp)
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s".${batchId}-tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    val out = fs.create(tmp, true)
    try bloom.writeTo(out) finally out.close()
    AtomicFiles.publishOrThrow(fs, tmp, p, recursiveTmp = false)
  }

  /** The batch ids of `log` that MAY hold any of `flagged` — batches
    * whose bloom hits, plus every batch without a readable bloom (the
    * safe fallback). Enumerates the log's batch_id partitions from the
    * directory listing (metadata-priced). */
  def candidateBatches(s: SparkSession, log: String,
                       flagged: Seq[Long]): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(log)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(root) || flagged.isEmpty) return Seq.empty
    val batches = fs.listStatus(root).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong)
    batches.filter { b =>
      val p = new org.apache.hadoop.fs.Path(bloomsDir(log), b.toString)
      readBloom(fs, p) match {
        case Some(bloom) => flagged.exists(bloom.mightContainLong)
        case None => true // no certificate — must stay a candidate
      }
    }
  }

  private def readBloom(fs: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path): Option[BloomFilter] =
    if (!fs.exists(p)) None
    else try {
      val in = fs.open(p)
      val bytes = try in.readAllBytes() finally in.close()
      Some(BloomFilter.readFrom(new ByteArrayInputStream(bytes)))
    } catch { case _: Exception => None } // torn write — not authoritative
}
