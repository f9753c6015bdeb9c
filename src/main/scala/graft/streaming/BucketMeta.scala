package graft.streaming

import org.apache.spark.sql.SparkSession

/** The `_buckets` meta file shared by the stream-maintained store
  * families — [[StreamDupEdges]], [[StreamVerdictFlags]],
  * [[StreamWinnow]], [[StreamAnnIndex]] and [[StreamIndexCompact]]
  * publish it through [[BucketStore.ingest]], and
  * [[graft.sources.TakedownApply.scrubIndex]] reads it through
  * [[BucketStore.doomed]]: a store's bucket count is a property of the
  * TARGET — every partition under it keys on `pmod(key, b)` — so it is
  * persisted once at stream start and maintenance passes (takedown
  * scrub, janitors) read it to NAME touched partitions driver-side
  * instead of trusting a caller-passed count, which would silently miss
  * flagged rows if it ever disagreed with the stream's.
  *
  * Contract:
  *  - [[ensure]] fails LOUD when a restart passes a different count
  *    (rows merged under the new modulus would sit in partitions the
  *    named scrub never visits, silently surviving erasure);
  *  - the file publishes temp-then-rename
  *    ([[graft.sources.AtomicFiles]], a UUID temp name) so a crash
  *    mid-write cannot leave a half-file later reads treat as
  *    authoritative — [[read]] returns None for an unparseable file
  *    (torn write), consumers fall back to their unpruned/discovery
  *    path, and the next [[ensure]] replaces it.
  */
private[graft] object BucketMeta {

  private def metaPath(target: String) =
    new org.apache.hadoop.fs.Path(s"$target/_buckets")

  /** The target's persisted bucket count, or None when absent or
    * unparseable (never authoritative on a torn write). */
  def read(s: SparkSession, target: String): Option[Long] = {
    val p = metaPath(target)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in).mkString.trim
                finally in.close()
      txt.toLongOption
    }
  }

  /** Validate-or-publish at stream start: requires the caller's count
    * to equal the stored one; publishes when the file is absent or
    * torn. A torn file is deleted first — it reads as absent either
    * way — so the rename can land; when a concurrent publisher wins the
    * rename, its count is the stored one. */
  def ensure(s: SparkSession, target: String, buckets: Int): Unit = {
    val stored = read(s, target).getOrElse {
      val p = metaPath(target)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, false)
      val tmp = new org.apache.hadoop.fs.Path(
        s"$target/._buckets.tmp-${java.util.UUID.randomUUID.toString.take(8)}")
      val out = fs.create(tmp, true)
      try out.write(buckets.toString.getBytes("UTF-8")) finally out.close()
      graft.sources.AtomicFiles.publishOrThrow(fs, tmp, p, recursiveTmp = false)
      read(s, target).getOrElse(buckets.toLong)
    }
    require(stored == buckets.toLong,
      s"store target $target is partitioned pmod(key, $stored); " +
        s"restart the stream with buckets=$stored, not $buckets")
  }
}
