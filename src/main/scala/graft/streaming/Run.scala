package graft.streaming

import java.io.{File, FileInputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ml.{Featurize, Incremental, Metrics}

/** The reference's training pipelines (EP1, SURVEY §3) on Structured
  * Streaming: 5 s micro-batches → featurize → incremental update →
  * holdout metrics → CSV/TXT/model sinks (K1–K4).
  *
  * Differences from the reference, by design (SURVEY §2.11):
  *   - fixed label map instead of per-batch StringIndexer refit;
  *   - the metric is named `mse`, not `rmse`;
  *   - model weights AND counters checkpoint to disk each batch, so a
  *     restart resumes both (the reference reloads the pickle but resets
  *     its in-memory counters);
  *   - state crossing executor→driver is weight-sized, never the batch.
  */
object Run {

  /** One of the four incremental models behind a common train/score
    * face, so the stream loop and checkpoints are model-agnostic. */
  sealed trait ModelState extends Serializable {
    def partialFit(train: DataFrame): Unit
    /** Adds a `prediction` column (class id / cluster id). */
    def predict(df: DataFrame): DataFrame
  }
  final class LinearState(val m: Incremental.LinearModel,
                          update: (Incremental.LinearModel, DataFrame) => Unit)
    extends ModelState {
    def partialFit(train: DataFrame): Unit = update(m, train)
    def predict(df: DataFrame): DataFrame = m.predictCol(df)
  }
  final class NbState(val nb: Incremental.BernoulliNB) extends ModelState {
    def partialFit(train: DataFrame): Unit = nb.partialFit(train)
    def predict(df: DataFrame): DataFrame = nb.toLinear.predictCol(df)
  }
  final class KmState(val km: Incremental.MiniBatchKMeans) extends ModelState {
    def partialFit(train: DataFrame): Unit = km.partialFit(train)
    def predict(df: DataFrame): DataFrame = km.predictCol(df)
  }

  /** Serializable snapshot persisted per batch (mirrors the reference's
    * per-batch `joblib.dump`, `SGDC/sgdc.py:90`). `lastBatch` records the
    * last applied streaming batchId so a crash-restart replay of an
    * already-trained batch is skipped instead of double-applying its
    * gradient and duplicating its CSV row (exactly-once effect on top of
    * foreachBatch's at-least-once delivery). */
  case class TrainState(model: ModelState,
                        var iter: Long, var bestF1: Double,
                        var lastBatch: Long = -1L)
    extends Serializable

  /** Replaces the checkpoint at `path` atomically: the state is written
    * to a temp name in the same dir and renamed over it, so a kill
    * mid-write leaves the previous checkpoint whole (and a stale temp
    * file, which the next save overwrites). */
  def saveState(s: TrainState, path: String): Unit =
    replaceAtomically(Paths.get(path)) { tmp =>
      val out = new ObjectOutputStream(Files.newOutputStream(tmp))
      try out.writeObject(s) finally out.close()
    }

  /** Writes `path` through `write` into a temp file renamed over it. */
  private def replaceAtomically(path: Path)(write: Path => Unit): Unit = {
    val tmp = Paths.get(s"$path.tmp")
    write(tmp)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Cuts a metrics CSV back to its header and the rows whose first field
    * (the batch's number) is at most `committed`. A kill after a row's
    * append and before its batch's commit point leaves a row the
    * restarted query writes again; cutting on start keeps one row per
    * number. */
  private def cutCsv(path: Path, committed: Long): Unit = {
    val lines = Files.readAllLines(path).asScala
    val kept = lines.take(1) ++ lines.drop(1)
      .filter(_.takeWhile(_ != ',').toLongOption.exists(_ <= committed))
    if (kept.size < lines.size)
      replaceAtomically(path)(Files.writeString(_, kept.map(_ + "\n").mkString))
  }

  def loadState(path: String): Option[TrainState] =
    if (!new File(path).exists()) None
    else {
      val in = new ObjectInputStream(new FileInputStream(path))
      try Some(in.readObject().asInstanceOf[TrainState]) finally in.close()
    }

  sealed trait Algo
  case object Sgd extends Algo
  case object Pa extends Algo
  case object Bnb extends Algo
  case object Kmeans extends Algo

  private def freshState(algo: Algo): ModelState = algo match {
    case Sgd => new LinearState(new Incremental.LinearModel(Featurize.NumFeatures),
      Incremental.SgdHinge.partialFit)
    case Pa => new LinearState(new Incremental.LinearModel(Featurize.NumFeatures),
      Incremental.PassiveAggressive.partialFit)
    case Bnb => new NbState(new Incremental.BernoulliNB(Featurize.NumFeatures))
    case Kmeans => new KmState(
      new Incremental.MiniBatchKMeans(k = 2, dim = Featurize.NumFeatures))
  }

  /** EP2 — the reference's inference-only pipeline (`TESTING .py`):
    * featurize each micro-batch (no stemming, matching its quirk of
    * scoring with train-time-stemmed weights on unstemmed features —
    * here controlled by `stem`), score the WHOLE batch with a frozen
    * model, append metrics. No split, no training, no model writes.
    */
  def inferenceStream(records: DataFrame, statePath: String, outDir: String,
                      tag: String = "infer", stem: Boolean = false,
                      triggerMs: Long = 5000L): StreamingQuery = {
    new File(outDir).mkdirs()
    val model: ModelState = loadState(statePath)
      .getOrElse(throw new IllegalArgumentException(s"no model at $statePath"))
      .model
    val csvPath = Paths.get(s"$outDir/infer_$tag.csv")
    if (!Files.exists(csvPath))
      Files.writeString(csvPath, "batch,f1,acc,precision,recall,n,mse\n")
    // Replay guard: foreachBatch is at-least-once, so persist the last
    // appended batchId with its batch number in a sidecar, the commit
    // point, and skip batches at or below it. A row appended after the
    // last commit is cut on start, so its replayed batch is written once,
    // under the same number.
    val lastPath = Paths.get(s"$outDir/infer_$tag.last")
    val last =
      if (Files.exists(lastPath)) Files.readString(lastPath).trim.split(',').map(_.toLong)
      else Array(-1L)
    var lastBatch = last(0)
    // The CSV survives a restart along with the sidecar, so numbering
    // resumes after the committed batch instead of repeating numbers. A
    // sidecar without a batch number resumes after the CSV's last row.
    var batchNo = if (last.length > 1) { cutCsv(csvPath, last(1)); last(1) }
      else Files.readAllLines(csvPath).asScala.drop(1).lastOption
        .fold(0L)(_.takeWhile(_ != ',').toLong)
    records.writeStream
      .trigger(Trigger.ProcessingTime(triggerMs))
      .option("checkpointLocation", s"$outDir/_checkpoint_infer_$tag")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId > lastBatch) readOnce(batch) { (raw, n) =>
          val scored = model.predict(Featurize.featurize(raw, stem))
          val m = Metrics.binaryCollect(scored)
          batchNo += 1
          Files.writeString(csvPath,
            f"$batchNo,${m.f1}%.6f,${m.accuracy}%.6f,${m.precision}%.6f," +
              f"${m.recall}%.6f,$n,${m.mse}%.6f\n",
            StandardOpenOption.APPEND)
          lastBatch = batchId
          replaceAtomically(lastPath)(Files.writeString(_, s"$batchId,$batchNo\n"))
        }
        ()
      }
      .start()
  }

  /** Runs `body` on a non-empty micro-batch with its record count,
    * reading the source once: the batch is persisted and counted, and
    * every later job reads the cache, so the source scan and the
    * envelope decode run once per batch. */
  private def readOnce(batch: DataFrame)(body: (DataFrame, Long) => Unit): Unit = {
    val raw = batch.persist()
    try {
      val n = raw.count()
      if (n > 0) body(raw, n)
    } finally raw.unpersist()
  }

  /** K-means emits arbitrary cluster ids; scoring them directly as class
    * labels is the reference's quirk (SURVEY §2.11.3), so the metrics use
    * the id↔label alignment with the higher accuracy. Both alignments
    * come from one confusion collect: flipping the prediction only swaps
    * which counts land in which cell. */
  private[streaming] def alignedClusterMetrics(scored: DataFrame): Metrics.BinaryMetrics = {
    val cells = Metrics.confusionCells(scored)
    val asIs = Metrics.binaryFromConfusion(cells)
    val flip = Metrics.binaryFromConfusion(cells.map { case (l, p, c) => (l, 1.0 - p, c) })
    if (flip.accuracy > asIs.accuracy) flip else asIs
  }

  /** Start the incremental-training stream over a (Label, Tweet) stream
    * frame (already envelope-decoded — compose with Ingest.socketLines +
    * Ingest.decodeEnvelope for the reference's exact source).
    *
    * Per batch (cf. `SGDC/sgdc.py:31-126`): featurize → 80:20 split
    * (seed 42, M5) → partial_fit on the train split → score holdout →
    * metrics CSV append + stats TXT overwrite + state checkpoint, with a
    * best-F1 model copy on improvement (K2–K4). The batch is read from the
    * source once and featurized once, both persisted until it is done.
    */
  /** `dynamicLabel = true` reproduces the reference's per-batch
    * StringIndexer refit (T5, `SGDC/sgdc.py:65,71`) instead of the fixed
    * 0/4 map: the label→index mapping is re-derived from batch
    * frequencies every trigger, so it can flip between micro-batches —
    * kept for behavioral parity, off by default (SURVEY §2.11.2). */
  def trainingStream(records: DataFrame, algo: Algo, outDir: String,
                     tag: String = "3000", stem: Boolean = true,
                     triggerMs: Long = 5000L,
                     consoleSample: Boolean = false,
                     dynamicLabel: Boolean = false): StreamingQuery = {
    new File(outDir).mkdirs()
    val statePath = s"$outDir/model_$tag.bin"
    val bestPath = s"$outDir/model_bestfsc_$tag.bin"
    val csvPath = Paths.get(s"$outDir/stats_$tag.csv")
    if (!Files.exists(csvPath))
      Files.writeString(csvPath, "iter,f1,maxf1,acc,precision,recall,batchsize,mse\n")

    val state = loadState(statePath).getOrElse(
      TrainState(freshState(algo), 0L, 0.0))
    // The state file is the commit point: rows past its `iter` belong to
    // batches that were never committed and will be replayed.
    cutCsv(csvPath, state.iter)

    records.writeStream
      .trigger(Trigger.ProcessingTime(triggerMs))
      .option("checkpointLocation", s"$outDir/_checkpoint_$tag")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // Replay guard: a crash between the model checkpoint and the
        // streaming commit replays the batch; training it again would
        // double-apply the gradient. State carries the last applied id.
        if (batchId > state.lastBatch) readOnce(batch) { (raw, batchSize) =>
          // K1 — per-batch console sample (the reference's df.show(5),
          // `TESTING .py:67`), off by default.
          if (consoleSample) raw.show(5)
          val featurized =
            if (dynamicLabel)
              Featurize.withDynamicTarget(Featurize.features(raw, Featurize.kernel(_, stem)))
            else Featurize.featurize(raw, stem)
          // Featurized once for both splits. The split runs on exactly
          // the chain's columns in the source's partition layout: its
          // within-partition sort over those columns defines the split.
          featurized.persist()
          val m = try {
            val Array(train, test) = featurized.randomSplit(Array(0.8, 0.2), seed = 42)
            state.model.partialFit(train)
            val scored = state.model.predict(test)
            algo match {
              case Kmeans => alignedClusterMetrics(scored)
              case _ => Metrics.binaryCollect(scored)
            }
          } finally featurized.unpersist()
          state.iter += 1
          Files.writeString(csvPath,
            f"${state.iter},${m.f1}%.6f,${math.max(state.bestF1, m.f1)}%.6f," +
              f"${m.accuracy}%.6f,${m.precision}%.6f,${m.recall}%.6f," +
              f"$batchSize,${m.mse}%.6f\n",
            StandardOpenOption.APPEND)
          Files.writeString(Paths.get(s"$outDir/stats_$tag.txt"),
            s"iter=${state.iter}\nf1=${m.f1}\nbest_f1=${math.max(state.bestF1, m.f1)}\n" +
              s"batch_size=$batchSize\n")
          state.lastBatch = batchId
          if (m.f1 > state.bestF1) {
            state.bestF1 = m.f1
            saveState(state, bestPath)
          }
          saveState(state, statePath)
        }
        ()
      }
      .start()
  }
}
