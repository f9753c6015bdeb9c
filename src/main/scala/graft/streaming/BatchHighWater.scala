package graft.streaming

import org.apache.spark.sql.SparkSession

/** The highest batch id that may have touched a stream-maintained
  * store — the `upto` its takedown scrub records in the
  * [[graft.sources.ScrubRegistry]] (r13 self-review finding 4): the
  * merge/index LOGS derive that bound from their batch_id partitions,
  * but the bucket-merged stores (dup-edges, verdict flags, the ANN
  * code index) keep no per-batch state, so without this note a scrub
  * cannot bound its erasure window and a checkpoint REPLAY of a
  * pre-scrub batch re-derives the victims' rows into the distinct/max
  * merge with nothing left to re-scrub them.
  *
  * Recorded FIRST in every batch, before any data write: a crash
  * after the note but before the data means the note over-counts by
  * one — and gating that batch's replay is retroactively CORRECT (its
  * content predates the scrub decision) — while note-last would
  * under-count and let an in-flight batch's replay resurrect erased
  * content.
  *
  * Durability (r13 ADVICE, medium): the note is a SET of uniquely
  * named `_maxbatch*` files and [[read]] takes the MAX — a raise
  * writes a NEW file and only then sweeps the lower ones, so there is
  * no instant at which the published bound is absent or lowered (the
  * previous delete-then-rename had a crash window in which [[read]]
  * returned -1 on a store full of data, and a scrub registering
  * upto=-1 gates nothing). A torn newest file parses as absent and the
  * older notes still carry the prior bound. Scrubs go through
  * [[uptoForScrub]], which REFUSES a note-less store that holds data
  * (a pre-note legacy store, or a manually damaged one) instead of
  * silently registering an empty erasure window — the operator
  * backfills with [[record]] (any id ≥ the store's true max batch)
  * and re-runs.
  */
private[graft] object BatchHighWater {

  private val Prefix = "_maxbatch"

  private def fsOf(s: SparkSession, target: String) =
    new org.apache.hadoop.fs.Path(target)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  private def notes(s: SparkSession, target: String)
      : Seq[(org.apache.hadoop.fs.Path, Option[Long])] = {
    val fs = fsOf(s, target)
    val dir = new org.apache.hadoop.fs.Path(target)
    if (!fs.exists(dir)) return Seq.empty
    fs.globStatus(new org.apache.hadoop.fs.Path(dir, s"$Prefix*")).toSeq
      .map { st =>
        val txt = try {
          val in = fs.open(st.getPath)
          try scala.io.Source.fromInputStream(in).mkString.trim
          finally in.close()
        } catch { case _: java.io.IOException => "" }
        (st.getPath, txt.toLongOption)
      }
  }

  /** The recorded bound: max over all note files; -1 when none parse
    * (no batch recorded). */
  def read(s: SparkSession, target: String): Long = {
    val vs = notes(s, target).flatMap(_._2)
    if (vs.isEmpty) -1L else vs.max
  }

  /** [[read]] for a SCRUB's erasure window: refuses when no note
    * parses but the store already holds data — registering upto=-1
    * there would gate nothing and a checkpoint replay could resurrect
    * the victims, the exact class the note exists to close. */
  def uptoForScrub(s: SparkSession, target: String): Long = {
    val v = read(s, target)
    if (v >= 0L) return v
    if (BucketStore.hasData(s, target))
      throw new IllegalStateException(
        s"store $target holds data but no $Prefix note parses — its " +
          "erasure window cannot be bounded and a checkpoint replay " +
          "could resurrect the scrubbed rows. Backfill with " +
          "BatchHighWater.record(target, <max batch id the store has " +
          "ever merged, or the checkpoint's committed batch id>) and " +
          "re-run the scrub.")
    -1L
  }

  /** Raise the note to `batchId` (monotone; replays never lower it).
    * Publish-new-then-sweep: the new bound lands under a fresh unique
    * name before any lower note is deleted, so a crash at any point
    * leaves [[read]] ≥ the previous bound. */
  def record(s: SparkSession, target: String, batchId: Long): Unit = {
    val existing = notes(s, target)
    if (existing.flatMap(_._2).exists(_ >= batchId)) return
    val fs = fsOf(s, target)
    val dir = new org.apache.hadoop.fs.Path(target)
    fs.mkdirs(dir)
    val uuid = java.util.UUID.randomUUID.toString.take(8)
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$Prefix.tmp-$uuid")
    val out = fs.create(tmp, true)
    try out.write(s"$batchId\n".getBytes("UTF-8")) finally out.close()
    graft.sources.AtomicFiles.publishOrThrow(fs, tmp,
      new org.apache.hadoop.fs.Path(dir, s"$Prefix-$batchId-$uuid"),
      recursiveTmp = false)
    // sweep the superseded notes (best-effort: leftovers only add
    // lower values to a max)
    existing.foreach { case (p, _) => fs.delete(p, false) }
  }
}
