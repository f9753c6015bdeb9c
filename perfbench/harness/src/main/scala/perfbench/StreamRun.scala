package perfbench

import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.sources.Ingest
import graft.streaming.Run

/** `stream --port P --dir D --out JSON [--cores 2
  * --trace 0|1 --spans JSONL --run ID --replay RECORDS]`: the reference
  * pipeline, socket → envelope decode → incremental PA training, fed
  * by the benchmark's generator on localhost:P.
  *
  * Handshake with the generator, through files in D: this process
  * writes `ready` once two warm-up micro-batches have trained (the
  * first one carries most of the JVM's warm-up), which ends set-up; the generator writes `done` with the number of records
  * it sent, and this process then waits until every record has been
  * trained, stops the query and writes every micro-batch's progress. */
object StreamRun {

  private val WarmupBatches = 2
  /** The reference's trigger interval; the generator aligns its rate
    * ladder to it (`TRIGGER_S` in `perfbench/streamgen.py`). */
  private val TriggerMs = 5000L

  final class Progress extends StreamingQueryListener {
    val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
      import scala.jdk.CollectionConverters._
      val p = e.progress
      // The socket source's offset is the index of the last line taken
      // (-1 before the first), one record per line; numInputRows would
      // count every re-scan of the batch inside foreachBatch.
      def off(j: String): Long = Option(j).map(_.trim).filter(_.matches("-?[0-9]+"))
        .map(_.toLong).getOrElse(-1L)
      val src = p.sources.headOption
      val (a, b) = (src.map(x => off(x.startOffset)).getOrElse(-1L),
        src.map(x => off(x.endOffset)).getOrElse(-1L))
      batches += Map(
        "batch" -> p.batchId,
        "first" -> (a + 1),
        "rows" -> (b - a),
        "start_ms" -> Instant.parse(p.timestamp).toEpochMilli.toDouble,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap)
    }
    /** Records taken by the micro-batches that have finished. */
    def rowsSoFar: Long = synchronized(batches.map(_("rows").asInstanceOf[Long]).sum)
    /** Finished micro-batches that took records. */
    def trained: Int = synchronized(batches.count(_("rows").asInstanceOf[Long] > 0))
    def snapshot: Seq[Map[String, Any]] = synchronized(batches.toSeq)
  }

  def run(o: Map[String, String]): Unit = {
    val tr = new Tracer(o.getOrElse("trace", "0") == "1", o.getOrElse("run", "run"))
    val dir = Paths.get(o("dir")).toAbsolutePath
    val spark = Engine.session(o.getOrElse("cores", "2").toInt)
    val eng = new Engine(spark, tr)
    val progress = new Progress
    spark.streams.addListener(progress)
    val outDir = dir.resolve("engine").toString
    val records = Ingest.decodeEnvelope(
      Ingest.socketLines(spark, "localhost", o("port").toInt))
    val query = Run.trainingStream(records, Run.Pa, outDir, tag = "bench",
      stem = true, triggerMs = TriggerMs)
    val startedMs = System.currentTimeMillis()
    val readyBy = System.currentTimeMillis() + 120000L
    while (progress.trained < WarmupBatches && query.isActive &&
      System.currentTimeMillis() < readyBy) Thread.sleep(20)
    // set-up's own work: the warm-up batches' run time, without the idle
    // waits for a trigger boundary between them
    val warmupBusyMs = progress.snapshot.filter(_("rows").asInstanceOf[Long] > 0)
      .take(WarmupBatches).map(_("duration_ms").asInstanceOf[Map[String, Double]]("triggerExecution")).sum
    Files.writeString(dir.resolve("ready"), s"${tr.nowMs}\n")
    val done = dir.resolve("done")
    val doneBy = System.currentTimeMillis() + 300000L
    while (!Files.exists(done) && query.isActive &&
      System.currentTimeMillis() < doneBy) Thread.sleep(50)
    val sent = if (Files.exists(done)) Files.readString(done).trim.toLong else -1L
    val deadline = System.currentTimeMillis() + 120000L
    while (progress.rowsSoFar < sent && query.isActive &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
    // let the last batch's progress event and CSV row land
    query.processAllAvailable()
    query.stop()
    val error = query.exception.map(_.toString)
    val streamLayers = eng.layerSums()
    val replay = o.get("replay").filter(_ => error.isEmpty).map { recs =>
      tr.span("replay")(Replay.run(spark, tr, eng, recs, progress.snapshot))
    }
    val out = Map("started_ms" -> startedMs, "warmup_busy_ms" -> warmupBusyMs,
      "sent" -> sent, "error" -> error,
      "batches" -> progress.snapshot, "replay" -> replay,
      "layers" -> streamLayers, "replay_layers" -> Engine.diff(eng.layerSums(), streamLayers),
      "peak_rss_mb" -> Engine.peakRssMb())
    o.get("spans").foreach(tr.writeJsonl)
    Json.write(o("out"), out)
    spark.stop()
  }
}

/** Replays each recorded micro-batch outside the stream, layer by
  * layer, on the same records in the same partition layout the socket
  * source gives them (record i of a batch in partition i mod the
  * session's parallelism), and returns the per-batch metrics for
  * comparison with the live stats CSV. */
object Replay {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types.{StringType, StructField, StructType}
  import graft.ml.{Featurize, Incremental, Metrics}

  def run(spark: org.apache.spark.sql.SparkSession, tr: Tracer, eng: Engine,
          recordsPath: String, batches: Seq[Map[String, Any]]): Seq[Map[String, Any]] = {
    import scala.jdk.CollectionConverters._
    val lines = Files.readAllLines(Paths.get(recordsPath)).asScala.toIndexedSeq
    val par = spark.sparkContext.defaultParallelism
    val schema = StructType(Seq(StructField("value", StringType)))
    val model = new Incremental.LinearModel(Featurize.NumFeatures)
    var offset = 0
    batches.filter(_("rows").asInstanceOf[Long] > 0).map { b =>
      val n = b("rows").asInstanceOf[Long].toInt
      val slice = lines.slice(offset, offset + n)
      offset += n
      val parts = (0 until par).map(p => slice.indices.filter(_ % par == p).map(slice))
      val rdd = spark.sparkContext.parallelize(parts, par).flatMap(_.map(Row(_)))
      val batch = Ingest.decodeEnvelope(spark.createDataFrame(rdd, schema))
      def timed[T](k: String)(f: => T): T = {
        val t0 = System.nanoTime()
        try tr.span(k)(f) finally eng.add(s"${k}_s", (System.nanoTime() - t0) / 1e9)
      }
      val featurized = timed("Featurize.featurize") {
        val f = Featurize.featurize(batch, stem = true).persist()
        f.count()
        f
      }
      val Array(train, test) = featurized.randomSplit(Array(0.8, 0.2), seed = 42)
      timed("Incremental.partialFit")(Incremental.PassiveAggressive.partialFit(model, train))
      val m = timed("Metrics.binaryCollect")(Metrics.binaryCollect(model.predictCol(test)))
      featurized.unpersist()
      Map("rows" -> n, "f1" -> m.f1, "acc" -> m.accuracy, "precision" -> m.precision,
        "recall" -> m.recall, "mse" -> m.mse)
    }
  }
}
