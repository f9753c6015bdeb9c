package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sources.{LogBloom, MutationLease, PartitionScrub, ScrubRegistry, ScrubRetry}

/** The bucket-merge store protocol, once: the per-micro-batch sinks
  * ([[StreamMergeSink]], [[StreamIndexCompact]], [[StreamWinnow]],
  * [[StreamVerdictFlags]], [[StreamDupEdges]], [[StreamAnnIndex]],
  * [[StreamAnnCells]]) merge each batch into partitioned parquet, and
  * the five scrub-gated ones share an erasure protocol around that
  * merge. Each family keeps only its own derive, combine and scrub
  * steps; the ordering and the idempotence argument live here.
  *
  *  - [[ingest]]: empty batch → mutation lease → batch high-water note
  *    ([[BatchHighWater]], recorded FIRST) → replay gate
  *    ([[graft.sources.ScrubRegistry]]) → `_buckets` note
  *    ([[BucketMeta]]) → the family's body. The gate is read INSIDE the
  *    lease: a snapshot taken before a concurrent scrub's registry
  *    append would miss its victims, and a replayed pre-scrub batch
  *    would re-insert them into a merge that has no version to outrank
  *    them.
  *  - [[merge]]: read ONLY the touched partitions, materialize them
  *    (localCheckpoint — the job never reads files it is replacing),
  *    union the incoming rows, apply the family's combine, and rewrite
  *    those partitions with dynamic overwrite. Replaying a batch
  *    re-derives identical rows, so at-least-once delivery and
  *    checkpoint replay leave the target byte-equal. An empty incoming
  *    frame is a no-op: writing it would seed a parquet-less dir that
  *    fails every later schema-inferring read, checkpoint replay
  *    included.
  *  - [[appendLog]]: a batch_id partition (dynamic overwrite, so a
  *    replay rewrites its own partition) plus its doc-id bloom
  *    ([[graft.sources.LogBloom]]).
  *  - [[scrubbing]]: bounded lease retry ([[graft.sources.ScrubRetry]])
  *    → lease → registry append FIRST (a crash after it leaves replays
  *    gated and a rerun completes the rewrites).
  *  - [[janitor]]: evict upstream-removed docs, then compact buckets
  *    fragmented by merge rewrites.
  */
private[graft] object BucketStore {

  /** The one "does the target hold data" rule: any entry not prefixed
    * `_` or `.` counts. The lease, lineage, bucket, high-water and
    * registry files all create the directory before any parquet lands,
    * so they read as "no table yet"; anything else (partition dirs,
    * even a corrupt stray file) takes the read path and fails loudly
    * there if unreadable — a damaged target must never be silently
    * re-initialized from one batch. */
  def hasData(s: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** The store at `path` as all-BIGINT `cols`; a store that was never
    * written (every merge so far was empty) reads as the empty frame,
    * not an AnalysisException. */
  def readOrEmpty(s: SparkSession, path: String, cols: Seq[String]): DataFrame =
    if (hasData(s, path)) s.read.parquet(path).select(cols.map(col): _*)
    else s.createDataFrame(s.sparkContext.emptyRDD[Row],
      StructType(cols.map(StructField(_, LongType))))

  /** One micro-batch of a scrub-gated store: runs `body` over the
    * batch's rows minus the ids whose registered erasure window covers
    * `batchId`. New batches (ids above every window) pass through, so
    * erasure stays retroactive, never prospective. A batch that is
    * empty, or empty once gated, writes nothing but the note. */
  def ingest(target: String, buckets: Int, idCol: String,
             batch: DataFrame, batchId: Long)(body: DataFrame => Unit): Unit = {
    val s = batch.sparkSession
    if (batch.isEmpty) return
    MutationLease.withLease(s, target) {
      BatchHighWater.record(s, target, batchId)
      val gated = ScrubRegistry.gatedIds(s, target, batchId)
      val live =
        if (gated.isEmpty) batch else batch.where(!col(idCol).isin(gated: _*))
      if (gated.isEmpty || !live.isEmpty) {
        // loud on a mismatched restart: rows merged under a new modulus
        // would sit in buckets the named scrub never visits
        BucketMeta.ensure(s, target, buckets)
        body(live)
      }
    }
  }

  /** Merge `incoming` into the `partCol`-partitioned store at `path`:
    * `combine` sees the touched partitions' existing rows unioned with
    * the incoming ones and returns the partitions' new contents. */
  def merge(path: String, partCol: String, incoming: DataFrame)
           (combine: DataFrame => DataFrame): Unit = {
    val s = incoming.sparkSession
    val touched = incoming.select(col(partCol)).distinct()
      .collect().map(_.getLong(0))
    if (touched.isEmpty) return
    val existing =
      if (!hasData(s, path)) incoming.limit(0)
      else s.read.parquet(path).where(col(partCol).isin(touched: _*))
        .withColumn(partCol, col(partCol).cast(LongType))
        .select(incoming.columns.map(col): _*)
    overwrite(combine(existing.localCheckpoint().unionByName(incoming)),
      path, partCol)
  }

  /** Append one batch's `rows` to the batch_id-partitioned log at `log`
    * and publish the batch's `idCol` bloom; an empty frame writes
    * neither. */
  def appendLog(log: String, batchId: Long, rows: DataFrame,
                idCol: String): Unit = {
    if (rows.isEmpty) return
    overwrite(rows.withColumn("batch_id", lit(batchId)), log, "batch_id")
    LogBloom.record(rows.sparkSession, log, batchId, rows.select(col(idCol)))
  }

  /** Dynamic partition overwrite of `df`'s `partCol` partitions, the
    * partition column re-cast to long (inference reads hive dirs back as
    * INT). Set per write, so no session state leaks. */
  private def overwrite(df: DataFrame, path: String, partCol: String): Unit =
    df.select(df.columns.map { c =>
      if (c == partCol) col(c).cast(LongType).as(c) else col(c)
    }: _*)
      .write.option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).mode("overwrite").parquet(path)

  /** `stream` → `batch` per micro-batch, checkpointed. With `pinned`,
    * the target accepts batches from exactly one checkpoint lineage
    * ([[LineageEpoch]]): registry windows key on batch ids, so a fresh
    * checkpoint (ids restart at 0) against a used target fails loudly
    * here instead of having its new content erased by old windows.
    * Callers invoking a family's batch function directly own that
    * invariant themselves. */
  def start(stream: DataFrame, checkpoint: String, pinned: Option[String])
           (batch: (DataFrame, Long) => Unit): StreamingQuery = {
    pinned.foreach(LineageEpoch.ensure(stream.sparkSession, _, checkpoint))
    stream.writeStream
      .foreachBatch(batch)
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** A scrub of `target`: bounded wait on a foreign live lease (the
    * body must be idempotent — every scrub leg is), then the lease,
    * then — when `register` — the registry entry for `flagged` at
    * `upto(s, target)` before any rewrite, so a checkpoint replay of a
    * covered batch drops the victims at merge entry. `upto` defaults to
    * the store's high-water note; the logs pass their batch_id bound. */
  def scrubbing(s: SparkSession, target: String, what: String,
                flagged: Seq[Long], register: Boolean = true,
                upto: (SparkSession, String) => Long = BatchHighWater.uptoForScrub)
               (body: => Unit): Unit =
    ScrubRetry.retryContended(s"$what($target)") {
      MutationLease.withLease(s, target) {
        if (register && flagged.nonEmpty) ScrubRegistry.append(s, target, flagged, upto(s, target))
        body
      }
    }

  /** `idCol ∈ flagged`, plus a `bucket` IN-list conjunct when the
    * target's `_buckets` note names the flagged ids' buckets: the
    * conjunct is a partition filter, so a discovery scan reads only
    * those directories (inside a named partition it reduces to the id
    * test, so the rewritten rows are the same). An absent or torn note
    * falls back to the store-wide predicate — always correct, just
    * unpruned. */
  def doomed(s: SparkSession, target: String, idCol: String,
             flagged: Seq[Long]): Column = {
    val hit = col(idCol).isin(flagged: _*)
    BucketMeta.read(s, target) match {
      case Some(b) => col("bucket").isin(
        flagged.map(java.lang.Math.floorMod(_, b)).distinct: _*) && hit
      case None => hit
    }
  }

  /** Retention pass over `target`'s `stores` (sub-dirs):
    *
    *  1. **Upstream-removed docs.** The doc ids held by the union of
    *     `idStores` minus the caller's `live` list go to `evict` — the
    *     family's scrub WITHOUT the registry (eviction, not erasure: a
    *     replayed old batch re-adding an evicted doc is re-evicted by
    *     the next pass, while registering bulk evictions would make
    *     every batch's gate read pay for the janitor's history). The
    *     driver sees only the removed ids.
    *  2. **Small files.** Buckets holding more than `maxFilesPerBucket`
    *     parquet files are rewritten one file per bucket through
    *     [[graft.sources.PartitionScrub.rewriteTouched]].
    *
    * Both passes preserve the served relation; a second pass touches
    * nothing. No-op when no id store holds data. */
  def janitor(s: SparkSession, target: String, idStores: Seq[String],
              stores: Seq[String], live: DataFrame, maxFilesPerBucket: Int)
             (evict: Seq[Long] => Unit): Unit = {
    val held = idStores.map(sub => s"$target/$sub").filter(hasData(s, _))
    if (held.isEmpty) return
    import s.implicits._
    val removed = held.map(s.read.parquet(_).select(col("doc_id")))
      .reduce(_ unionByName _).distinct()
      .join(live.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      .as[Long].collect().toSeq
    if (removed.nonEmpty) evict(removed)
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    stores.map(sub => s"$target/$sub").foreach { path =>
      val root = new org.apache.hadoop.fs.Path(path)
      if (fs.exists(root)) {
        val frag = fs.listStatus(root).toSeq
          .filter(_.getPath.getName.startsWith("bucket="))
          .filter(d => fs.listStatus(d.getPath)
            .count(_.getPath.getName.endsWith(".parquet")) > maxFilesPerBucket)
          .map(_.getPath.getName.stripPrefix("bucket=").toLong)
        if (frag.nonEmpty)
          PartitionScrub.rewriteTouched(s, path, "bucket",
            col("bucket").isin(frag: _*))(_.repartition(col("bucket")))
      }
    }
  }
}
