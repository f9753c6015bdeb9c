package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.SparkSpec
import graft.ml.{BinaryReference, Featurize, FeaturizeReference, Incremental, Metrics}
import graft.sources.Ingest

class RunSpec extends SparkSpec {
  import spark.implicits._

  private def envelope(recs: Seq[(String, String)]): String =
    recs.map { case (l, t) => s"""\"$l,$t\"""" }.mkString("[", ",", "]")

  test("memory-stream end-to-end: 3 micro-batches train, sink, checkpoint") {
    val outDir = Files.createTempDirectory("graft-stream").toString
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val records = Ingest.decodeEnvelope(stream.toDF())

    val query = Run.trainingStream(records, Run.Pa, outDir,
      tag = "test", stem = false, triggerMs = 50L)
    try {
      val rnd = new scala.util.Random(1)
      for (_ <- 1 to 3) {
        val batch = (1 to 60).map { _ =>
          if (rnd.nextBoolean()) ("4", "good great fine, really nice")
          else ("0", "bad awful, terrible sad")
        }
        stream.addData(envelope(batch))
        query.processAllAvailable()
      }
    } finally query.stop()

    val csv = Files.readAllLines(Paths.get(s"$outDir/stats_test.csv"))
    assert(csv.get(0) == "iter,f1,maxf1,acc,precision,recall,batchsize,mse")
    assert(csv.size() == 4, s"expected 3 metric rows, got ${csv.size() - 1}")
    // best-F1 column is monotone non-decreasing
    val best = (1 to 3).map(i => csv.get(i).split(",")(2).toDouble)
    assert(best == best.sorted)
    // model state checkpoints exist and reload
    val st = Run.loadState(s"$outDir/model_test.bin")
    assert(st.isDefined && st.get.iter == 3)
    // perfectly separable vocabulary → the best checkpoint exists
    assert(Files.exists(Paths.get(s"$outDir/model_bestfsc_test.bin")))
  }

  test("dynamic-label mode (reference T5 refit) trains per-batch mappings") {
    val outDir = Files.createTempDirectory("graft-dyn").toString
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val query = Run.trainingStream(Ingest.decodeEnvelope(stream.toDF()), Run.Pa,
      outDir, tag = "dyn", stem = false, triggerMs = 50L, dynamicLabel = true)
    try {
      stream.addData(envelope((1 to 30).map(i =>
        if (i % 3 == 0) ("4", "good great fine") else ("0", "bad awful sad"))))
      query.processAllAvailable()
    } finally query.stop()
    val csv = Files.readAllLines(Paths.get(s"$outDir/stats_dyn.csv"))
    assert(csv.size() == 2, csv)
    // majority class "0" indexes to 0.0 under frequency order, so the
    // separable vocabulary still trains to perfect holdout accuracy
    assert(csv.get(1).split(",")(3).toDouble == 1.0, csv.get(1))
  }

  test("BNB streaming training accumulates counts and classifies") {
    val outDir = Files.createTempDirectory("graft-bnb").toString
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val query = Run.trainingStream(Ingest.decodeEnvelope(stream.toDF()), Run.Bnb,
      outDir, tag = "bnb", stem = false, triggerMs = 50L)
    try {
      for (_ <- 1 to 2) {
        stream.addData(envelope((1 to 40).map(i =>
          if (i % 2 == 0) ("4", "good great nice") else ("0", "bad awful sad"))))
        query.processAllAvailable()
      }
    } finally query.stop()
    val csv = Files.readAllLines(Paths.get(s"$outDir/stats_bnb.csv"))
    assert(csv.size() == 3)
    // separable vocabulary → second-batch holdout accuracy is perfect
    assert(csv.get(2).split(",")(3).toDouble == 1.0, csv.get(2))
    val st = Run.loadState(s"$outDir/model_bnb.bin").get
    assert(st.model.isInstanceOf[Run.NbState])
    // counts merged across both batches
    assert(st.model.asInstanceOf[Run.NbState].nb.classCount.sum == 64L)
  }

  test("k-means streaming training clusters with alignment-corrected metrics") {
    val outDir = Files.createTempDirectory("graft-km").toString
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val query = Run.trainingStream(Ingest.decodeEnvelope(stream.toDF()), Run.Kmeans,
      outDir, tag = "km", stem = false, triggerMs = 50L)
    try {
      for (_ <- 1 to 2) {
        stream.addData(envelope((1 to 60).map(i =>
          if (i % 2 == 0) ("4", "good great nice fine happy")
          else ("0", "bad awful sad poor gloomy"))))
        query.processAllAvailable()
      }
    } finally query.stop()
    val csv = Files.readAllLines(Paths.get(s"$outDir/stats_km.csv"))
    assert(csv.size() == 3)
    // two disjoint vocabularies → clusters align perfectly with labels
    assert(csv.get(2).split(",")(3).toDouble == 1.0, csv.get(2))
    assert(Run.loadState(s"$outDir/model_km.bin").get.model
      .isInstanceOf[Run.KmState])
  }

  test("inference stream (EP2) scores whole batches with a frozen model") {
    val outDir = Files.createTempDirectory("graft-infer").toString
    implicit val sqlCtx = spark.sqlContext

    // train a model to freeze
    val trainStream = MemoryStream[String]
    val tq = Run.trainingStream(Ingest.decodeEnvelope(trainStream.toDF()), Run.Pa,
      outDir, tag = "frozen", stem = false, triggerMs = 50L)
    try {
      trainStream.addData(envelope((1 to 40).map(i =>
        if (i % 2 == 0) ("4", "good great nice fine") else ("0", "bad awful sad poor"))))
      tq.processAllAvailable()
    } finally tq.stop()

    // frozen inference on a fresh stream
    val inferStream = MemoryStream[String]
    val iq = Run.inferenceStream(Ingest.decodeEnvelope(inferStream.toDF()),
      s"$outDir/model_frozen.bin", outDir, tag = "t", stem = false, triggerMs = 50L)
    try {
      inferStream.addData(envelope(Seq(("4", "good great"), ("0", "bad awful"))))
      iq.processAllAvailable()
    } finally iq.stop()

    val csv = Files.readAllLines(Paths.get(s"$outDir/infer_t.csv"))
    assert(csv.get(0) == "batch,f1,acc,precision,recall,n,mse")
    assert(csv.size() == 2)
    // separable vocabulary scored by the trained model → perfect accuracy
    assert(csv.get(1).split(",")(2).toDouble == 1.0)
    // no model files written by inference
    assert(!Files.exists(Paths.get(s"$outDir/model_t.bin")))
  }

  test("restart resumes iteration counter and weights from disk") {
    val outDir = Files.createTempDirectory("graft-stream2").toString
    implicit val sqlCtx = spark.sqlContext

    val s1 = MemoryStream[String]
    val q1 = Run.trainingStream(Ingest.decodeEnvelope(s1.toDF()), Run.Sgd,
      outDir, tag = "r", stem = false, triggerMs = 50L)
    try {
      s1.addData(envelope(Seq(("4", "good nice"), ("0", "bad sad"),
        ("4", "great fine"), ("0", "awful poor"))))
      q1.processAllAvailable()
    } finally q1.stop()
    val after1 = Run.loadState(s"$outDir/model_r.bin").get
    assert(after1.iter == 1)

    // fresh query, fresh source, same state dir (its own checkpoint dir)
    val s2 = MemoryStream[String]
    val q2 = Run.trainingStream(Ingest.decodeEnvelope(s2.toDF()), Run.Sgd,
      outDir + "/2", tag = "r", stem = false, triggerMs = 50L)
    q2.stop() // only needed state-loading semantics, not another run
    // loadState keeps counters (the reference resets them on restart)
    val reloaded = Run.loadState(s"$outDir/model_r.bin").get
    assert(reloaded.iter == after1.iter && reloaded.bestF1 == after1.bestF1)
  }

  test("model checkpoints are replaced atomically: no temp file is left, a torn one is ignored") {
    val outDir = Files.createTempDirectory("graft-stream-atomic").toString
    implicit val sqlCtx = spark.sqlContext
    val batch = envelope(Seq(("4", "good nice"), ("0", "bad sad"),
      ("4", "great fine"), ("0", "awful poor")))
    def temps = Files.list(Paths.get(outDir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".tmp")).toList

    val s1 = MemoryStream[String]
    val q1 = Run.trainingStream(Ingest.decodeEnvelope(s1.toDF()), Run.Pa,
      outDir, tag = "a", stem = false, triggerMs = 50L)
    try {
      s1.addData(batch)
      q1.processAllAvailable()
    } finally q1.stop()
    assert(temps.isEmpty, s"temp files left after a run: $temps")

    // what a kill in the middle of both checkpoint writes leaves behind
    Seq("model_a.bin", "model_bestfsc_a.bin").foreach { f =>
      Files.write(Paths.get(s"$outDir/$f.tmp"), Array[Byte](-84, -19, 0, 5, 115))
    }
    assert(Run.loadState(s"$outDir/model_a.bin").get.iter == 1)

    // a restart on the same dir and checkpoint loads the state, trains
    // on, and its own writes replace the torn temp files
    val s2 = MemoryStream[String]
    val q2 = Run.trainingStream(Ingest.decodeEnvelope(s2.toDF()), Run.Pa,
      outDir, tag = "a", stem = false, triggerMs = 50L)
    try {
      s2.addData(batch) // offset 0, committed by the first run
      s2.addData(batch)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(Run.loadState(s"$outDir/model_a.bin").get.iter == 2)
    assert(!temps.contains("model_a.bin.tmp"), s"temp files left after the restart: $temps")
  }

  /** One `["label,text"]` envelope per line, as the socket source gets
    * them; label 4 iff the text mentions "fast", over a vocabulary the
    * stemmer folds (running/runs, happiness/happy, ...). */
  private def recordLines(rnd: scala.util.Random, n: Int): Seq[String] = {
    val vocab = Seq("running", "runs", "happiness", "happy", "nationally",
      "national", "generously", "organization", "feeds", "cried", "hopping",
      "hoping", "fast", "faster", "slowly", "slow", "cats", "ponies", "ski's",
      "connection", "connected", "relational", "electricity", "agreed")
    Seq.fill(n) {
      val text = Seq.fill(3 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      envelope(Seq((if (text.contains("fast")) "4" else "0", text)))
    }
  }

  /** The source's lines, counting every line decoded. */
  private def counted(stream: MemoryStream[String],
                      decoded: org.apache.spark.util.LongAccumulator): DataFrame = {
    import spark.implicits._
    stream.toDS().map { v => decoded.add(1); v }.toDF("value")
  }

  test("live stats CSV equals a featurize-persist-split replay; each record decoded once") {
    val outDir = Files.createTempDirectory("graft-replay").toString
    implicit val sqlCtx = spark.sqlContext
    val par = 2
    // record i of a micro-batch lands in partition i mod 2, the layout
    // the socket source gives a batch
    val stream = MemoryStream[String](par)
    val decoded = spark.sparkContext.longAccumulator("decoded")
    val query = Run.trainingStream(Ingest.decodeEnvelope(counted(stream, decoded)),
      Run.Pa, outDir, tag = "replay", stem = true, triggerMs = 50L)
    val rnd = new scala.util.Random(7)
    val batches = Seq(120, 200, 90).map(recordLines(rnd, _))
    try {
      var sent = 0L
      for (b <- batches) {
        stream.addData(b)
        query.processAllAvailable()
        sent += b.size
        assert(decoded.value == sent, s"decoded ${decoded.value} lines for $sent records")
      }
    } finally query.stop()

    val schema = StructType(Seq(StructField("value", StringType)))
    val model = new Incremental.LinearModel(Featurize.NumFeatures)
    val replay = batches.map { lines =>
      val parts = (0 until par).map(p => lines.indices.filter(_ % par == p).map(lines))
      val rdd = spark.sparkContext.parallelize(parts, par).flatMap(_.map(Row(_)))
      val batch = Ingest.decodeEnvelope(spark.createDataFrame(rdd, schema))
      val featurized = Featurize.featurize(batch, stem = true).persist()
      val Array(train, test) = featurized.randomSplit(Array(0.8, 0.2), seed = 42)
      Incremental.PassiveAggressive.partialFit(model, train)
      val m = Metrics.binaryCollect(model.predictCol(test))
      featurized.unpersist()
      f"${m.f1}%.6f,${m.accuracy}%.6f,${m.precision}%.6f,${m.recall}%.6f," +
        f"${lines.size},${m.mse}%.6f"
    }
    val live = Files.readAllLines(Paths.get(s"$outDir/stats_replay.csv")).asScala.drop(1)
      .map { r => val c = r.split(","); (c.take(2).drop(1) ++ c.drop(3)).mkString(",") }
    assert(live.toSeq == replay)
  }

  test("live stats CSV and final weights equal a replay through the MLlib reference chain; " +
    "the kernel runs once per row") {
    val outDir = Files.createTempDirectory("graft-ref-replay").toString
    implicit val sqlCtx = spark.sqlContext
    val par = 2
    val stream = MemoryStream[String](par)
    val query = Run.trainingStream(Ingest.decodeEnvelope(stream.toDF()),
      Run.Pa, outDir, tag = "ref", stem = true, triggerMs = 50L)
    val rnd = new scala.util.Random(13)
    val batches = Seq(150, 40, 260, 90).map(recordLines(rnd, _))
    try for (b <- batches) {
      stream.addData(b)
      query.processAllAvailable()
    } finally query.stop()

    // Replays the batches in the i-mod-2 layout through `featurize`,
    // returning the CSV rows and the final model. The reference's wider
    // frame (words_token, filtered, stemmed) must split the same way:
    // each extra column is a function of Tweet, so randomSplit's
    // within-partition sort order is unchanged.
    val schema = StructType(Seq(StructField("value", StringType)))
    def replay(featurize: DataFrame => DataFrame, afterBatch: Int => Unit) = {
      val model = new Incremental.LinearModel(Featurize.NumFeatures)
      var best = 0.0
      val rows = batches.zipWithIndex.map { case (lines, i) =>
        val parts = (0 until par).map(p => lines.indices.filter(_ % par == p).map(lines))
        val rdd = spark.sparkContext.parallelize(parts, par).flatMap(_.map(Row(_)))
        val featurized = featurize(Ingest.decodeEnvelope(spark.createDataFrame(rdd, schema)))
          .persist()
        val Array(train, test) = featurized.randomSplit(Array(0.8, 0.2), seed = 42)
        Incremental.PassiveAggressive.partialFit(model, train)
        val m = Metrics.binaryCollect(model.predictCol(test))
        featurized.unpersist()
        afterBatch(lines.size)
        val row = f"${i + 1},${m.f1}%.6f,${math.max(best, m.f1)}%.6f,${m.accuracy}%.6f," +
          f"${m.precision}%.6f,${m.recall}%.6f,${lines.size},${m.mse}%.6f"
        best = math.max(best, m.f1)
        row
      }
      (rows, model)
    }
    val live = Files.readAllLines(Paths.get(s"$outDir/stats_ref.csv")).asScala.drop(1).toSeq
    val liveModel = Run.loadState(s"$outDir/model_ref.bin").get.model
      .asInstanceOf[Run.LinearState].m
    def bits(m: Incremental.LinearModel) =
      (m.w.toSeq :+ m.b).map(java.lang.Double.doubleToRawLongBits)

    val (refRows, refModel) = replay(FeaturizeReference.featurize(_, stem = true), _ => ())
    assert(live == refRows)
    assert(bits(liveModel) == bits(refModel))

    // the same replay through the kernel, counting its calls: featurize
    // → persist → split → fit → metrics runs it once per record
    val calls = spark.sparkContext.longAccumulator("kernel")
    var sent = 0L
    val (kernelRows, kernelModel) = replay(
      b => Featurize.withTarget(Featurize.features(b,
        t => { calls.add(1); Featurize.kernel(t, stem = true) })),
      n => {
        sent += n
        assert(calls.value == sent, s"${calls.value} kernel calls for $sent records")
      })
    assert(kernelRows == refRows && bits(kernelModel) == bits(refModel))
  }

  test("a training restart cuts the CSV row of an uncommitted batch; one row per iter") {
    val outDir = Files.createTempDirectory("graft-csv-window").toString
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(17)
    val (b1, b2) = (recordLines(rnd, 60), recordLines(rnd, 60))
    val s1 = MemoryStream[String]
    val q1 = Run.trainingStream(Ingest.decodeEnvelope(s1.toDF()), Run.Pa,
      outDir, tag = "w", stem = true, triggerMs = 50L)
    try {
      s1.addData(b1)
      q1.processAllAvailable()
    } finally q1.stop()
    val csvPath = Paths.get(s"$outDir/stats_w.csv")
    // a kill after the second batch's CSV append, before its state save
    Files.writeString(csvPath, "2,0.5,0.5,0.5,0.5,0.5,60,0.5\n",
      java.nio.file.StandardOpenOption.APPEND)

    val s2 = MemoryStream[String]
    val q2 = Run.trainingStream(Ingest.decodeEnvelope(s2.toDF()), Run.Pa,
      outDir, tag = "w", stem = true, triggerMs = 50L)
    try {
      s2.addData(b1) // offset 0, committed by the first run
      s2.addData(b2) // the replayed batch
      q2.processAllAvailable()
    } finally q2.stop()
    val rows = Files.readAllLines(csvPath).asScala.drop(1)
    assert(rows.map(_.split(",")(0).toLong) == Seq(1L, 2L), rows)
    assert(rows(1) != "2,0.5,0.5,0.5,0.5,0.5,60,0.5", rows)
    assert(Run.loadState(s"$outDir/model_w.bin").get.iter == 2)
    assert(!Files.exists(Paths.get(s"$csvPath.tmp")))
  }

  test("an inference restart cuts the CSV row of an uncommitted batch; one row per batch") {
    val outDir = Files.createTempDirectory("graft-infer-window").toString
    implicit val sqlCtx = spark.sqlContext
    val trainStream = MemoryStream[String]
    val tq = Run.trainingStream(Ingest.decodeEnvelope(trainStream.toDF()), Run.Pa,
      outDir, tag = "frozen", stem = false, triggerMs = 50L)
    try {
      trainStream.addData(envelope((1 to 40).map(i =>
        if (i % 2 == 0) ("4", "good great nice fine") else ("0", "bad awful sad poor"))))
      tq.processAllAvailable()
    } finally tq.stop()

    val stream = MemoryStream[String]
    def runOnce(recs: Seq[(String, String)]): Unit = {
      val q = Run.inferenceStream(Ingest.decodeEnvelope(stream.toDF()),
        s"$outDir/model_frozen.bin", outDir, tag = "w", stem = false, triggerMs = 50L)
      try {
        stream.addData(envelope(recs))
        q.processAllAvailable()
      } finally q.stop()
    }
    runOnce(Seq(("4", "good great"), ("0", "bad awful")))
    val csvPath = Paths.get(s"$outDir/infer_w.csv")
    assert(Files.readString(Paths.get(s"$outDir/infer_w.last")).trim == "0,1")
    // a kill after the next batch's CSV append, before its sidecar write
    Files.writeString(csvPath, "2,0.5,0.5,0.5,0.5,3,0.5\n",
      java.nio.file.StandardOpenOption.APPEND)
    runOnce(Seq(("4", "nice fine"), ("0", "sad poor"), ("4", "great")))
    val rows = Files.readAllLines(csvPath).asScala.drop(1)
    assert(rows.map(_.split(",")(0).toLong) == Seq(1L, 2L), rows)
    assert(rows.map(_.split(",")(5).toLong) == Seq(2L, 3L), rows)
    assert(rows(1).split(",")(2).toDouble == 1.0, rows)

    // an old single-number sidecar resumes after the CSV's last row
    Files.writeString(Paths.get(s"$outDir/infer_w.last"), "1\n")
    runOnce(Seq(("0", "awful")))
    val after = Files.readAllLines(csvPath).asScala.drop(1)
    assert(after.map(_.split(",")(0).toLong) == Seq(1L, 2L, 3L), after)
  }

  test("inference decodes each record once per micro-batch") {
    val outDir = Files.createTempDirectory("graft-infer-once").toString
    implicit val sqlCtx = spark.sqlContext
    val trainStream = MemoryStream[String]
    val tq = Run.trainingStream(Ingest.decodeEnvelope(trainStream.toDF()), Run.Pa,
      outDir, tag = "frozen", stem = true, triggerMs = 50L)
    val rnd = new scala.util.Random(11)
    try {
      trainStream.addData(recordLines(rnd, 100))
      tq.processAllAvailable()
    } finally tq.stop()

    val stream = MemoryStream[String](2)
    val decoded = spark.sparkContext.longAccumulator("decoded")
    val iq = Run.inferenceStream(Ingest.decodeEnvelope(counted(stream, decoded)),
      s"$outDir/model_frozen.bin", outDir, tag = "once", stem = true, triggerMs = 50L)
    try {
      var sent = 0L
      for (n <- Seq(80, 50)) {
        stream.addData(recordLines(rnd, n))
        iq.processAllAvailable()
        sent += n
        assert(decoded.value == sent, s"decoded ${decoded.value} lines for $sent records")
      }
    } finally iq.stop()
    val csv = Files.readAllLines(Paths.get(s"$outDir/infer_once.csv")).asScala.drop(1)
    assert(csv.map(_.split(",")(5).toLong) == Seq(80L, 50L))
  }

  test("a restarted inference stream continues the batch numbering") {
    val outDir = Files.createTempDirectory("graft-infer-restart").toString
    implicit val sqlCtx = spark.sqlContext
    val trainStream = MemoryStream[String]
    val tq = Run.trainingStream(Ingest.decodeEnvelope(trainStream.toDF()), Run.Pa,
      outDir, tag = "frozen", stem = false, triggerMs = 50L)
    try {
      trainStream.addData(envelope((1 to 40).map(i =>
        if (i % 2 == 0) ("4", "good great nice fine") else ("0", "bad awful sad poor"))))
      tq.processAllAvailable()
    } finally tq.stop()

    // one source, two runs of the query over the same checkpoint, CSV
    // and sidecar: the second run resumes at the next micro-batch
    val stream = MemoryStream[String]
    def runOnce(recs: Seq[(String, String)]): Unit = {
      val q = Run.inferenceStream(Ingest.decodeEnvelope(stream.toDF()),
        s"$outDir/model_frozen.bin", outDir, tag = "rs", stem = false, triggerMs = 50L)
      try {
        stream.addData(envelope(recs))
        q.processAllAvailable()
      } finally q.stop()
    }
    runOnce(Seq(("4", "good great"), ("0", "bad awful")))
    runOnce(Seq(("4", "nice fine"), ("0", "sad poor"), ("4", "great")))
    runOnce(Seq(("0", "awful")))
    val rows = Files.readAllLines(Paths.get(s"$outDir/infer_rs.csv")).asScala.drop(1)
    assert(rows.map(_.split(",")(5).toLong) == Seq(2L, 3L, 1L), rows)
    val numbers = rows.map(_.split(",")(0).toLong)
    assert(numbers.zip(numbers.drop(1)).forall { case (a, b) => a < b }, rows)
  }

  test("k-means alignment from one confusion collect equals two SQL-aggregate calls bit for bit") {
    import spark.implicits._
    def twoCalls(scored: DataFrame): Metrics.BinaryMetrics = {
      val flipped = scored.withColumn("prediction", lit(1.0) - col("prediction"))
      val (asIs, flip) = (BinaryReference.collect(scored), BinaryReference.collect(flipped))
      if (flip.accuracy > asIs.accuracy) flip else asIs
    }
    val rnd = new scala.util.Random(5)
    // synthetic cluster ids: sizes, class skews and agreement rates that
    // make either alignment win, and ties
    val synthetic = for {
      n <- Seq(1, 2, 7, 101, 997)
      pPos <- Seq(0.0, 0.3, 0.5, 1.0)
      agree <- Seq(0.0, 0.2, 0.5, 0.9)
    } yield Seq.fill(n) {
      val y = if (rnd.nextDouble() < pPos) 1.0 else 0.0
      (y, if (rnd.nextDouble() < agree) y else 1.0 - y)
    }.toDF("target", "prediction").repartition(3)
    // real cluster ids from a trained MiniBatchKMeans
    val feats = Featurize.featurize(Ingest.decodeEnvelope(
      recordLines(new scala.util.Random(3), 300).toDF("value")), stem = true)
    val km = new Incremental.MiniBatchKMeans(k = 2, dim = Featurize.NumFeatures)
    km.partialFit(feats)
    for (scored <- synthetic :+ km.predictCol(feats)) {
      val (one, two) = (Run.alignedClusterMetrics(scored), twoCalls(scored))
      assert(BinaryReference.bits(one) == BinaryReference.bits(two), s"$one != $two")
    }
  }

  test("a micro-batch with an empty holdout split writes NaN accuracy and mse") {
    val outDir = Files.createTempDirectory("graft-empty-holdout").toString
    implicit val sqlCtx = spark.sqlContext
    val lines = Seq(envelope(Seq(("4", "good great fine"))))
    // precondition: seed 42 puts the lone record in the training split
    val schema = StructType(Seq(StructField("value", StringType)))
    val rdd = spark.sparkContext.parallelize(lines.map(Row(_)), 1)
    val feats = Featurize.featurize(Ingest.decodeEnvelope(spark.createDataFrame(rdd, schema)),
      stem = false)
    assert(feats.randomSplit(Array(0.8, 0.2), seed = 42)(1).isEmpty)

    val stream = MemoryStream[String](1)
    val query = Run.trainingStream(Ingest.decodeEnvelope(stream.toDF()), Run.Pa,
      outDir, tag = "empty", stem = false, triggerMs = 50L)
    try {
      stream.addData(lines)
      query.processAllAvailable()
    } finally query.stop()
    val csv = Files.readAllLines(Paths.get(s"$outDir/stats_empty.csv")).asScala
    assert(csv.size == 2, csv)
    val c = csv(1).split(",")
    // iter,f1,maxf1,acc,precision,recall,batchsize,mse
    assert(c(3) == "NaN" && c(7) == "NaN", csv(1))
    assert(Seq(c(1), c(4), c(5)).map(_.toDouble) == Seq(0.0, 0.0, 0.0) && c(6) == "1", csv(1))
  }
}
