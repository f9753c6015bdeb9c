package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.ArtifactStore
import graft.sources.TakedownApply

/** Entry point of the benchmark's engine processes; `perfbench/run.py`
  * launches them and reads the JSON each one writes.
  *
  *  - `cold`: the set-up of `suite` — an empty artifact root, every
  *    query answered once (with `--queries all`, every
  *    `SparkEntry.queries` entry: `perfbench/querymix.py`);
  *  - `warm`: a fresh JVM over the built root: the timed pass, then the
  *    append and takedown legs;
  *  - `ref`: the from-scratch answers of an operator leg, over an
  *    empty artifact root;
  *  - `stream`: the socket training stream ([[StreamRun]]).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Engine.opts(args.toSeq.drop(1))
    args.headOption match {
      case Some("cold") => Suite.cold(o)
      case Some("warm") => Suite.warm(o)
      case Some("ref") => Suite.ref(o)
      case Some("stream") => StreamRun.run(o)
      case other =>
        System.err.println(s"unknown mode $other")
        sys.exit(2)
    }
  }
}

object Suite {

  private def tracer(o: Map[String, String]) =
    new Tracer(o.getOrElse("trace", "0") == "1", o.getOrElse("run", "run"))

  /** Queries whose run published a generation under a documents key —
    * the document-store set the operator legs re-answer. */
  private def docStoreSet(results: Seq[Map[String, Any]]): Seq[String] = {
    val keys = TakedownApply.DocArtifactKeys.toSet
    results.filter(r => r("published").asInstanceOf[Seq[String]]
      .exists(g => keys(g.takeWhile(_ != '/')))).map(_("name").asInstanceOf[String])
  }

  /** `cold --data D --queries F --out J`: the set-up pass over an
    * empty artifact root. */
  def cold(o: Map[String, String]): Unit = {
    val tr = tracer(o)
    val spark = Engine.session(o.getOrElse("cores", "4").toInt)
    val eng = new Engine(spark, tr)
    val dir = o("data")
    val results = tr.span("setup") {
      eng.loadTables(dir)
      Engine.queryNames(o("queries")).map(eng.answer(_, dir))
    }
    val setupEndMs = System.currentTimeMillis()
    Json.write(o("out"), Map("setup_end_ms" -> setupEndMs,
      "queries" -> results, "docset" -> docStoreSet(results),
      "doc_keys" -> TakedownApply.DocArtifactKeys,
      "layers" -> eng.layerSums(), "peak_rss_mb" -> Engine.peakRssMb()))
    o.get("spans").foreach(tr.writeJsonl)
    spark.stop()
  }

  /** `ref --data D --queries F --out J`: the from-scratch answers an
    * operator leg is checked against — a fresh JVM over an empty
    * artifact root and the mutated corpus D. */
  def ref(o: Map[String, String]): Unit = {
    val spark = Engine.session(o.getOrElse("cores", "4").toInt)
    val eng = new Engine(spark, tracer(o))
    val results = Engine.queryNames(o("queries")).map(eng.answer(_, o("data")))
    Json.write(o("out"), Map("queries" -> results))
    spark.stop()
  }

  /** JIT and code-generation warm-up of Spark itself, before the timed
    * pass: a join, an aggregate and a sort over the raw parquet files,
    * through no graft code, so no store or memo is touched. Without it
    * the first timed queries pay most of the JVM's warm-up. */
  private def warmEngine(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val od = spark.read.parquet(s"$dir/orders.parquet")
    li.join(od, li("l_orderkey") === od("o_orderkey"))
      .groupBy("o_orderpriority").agg(sum("l_extendedprice"), count(lit(1)))
      .orderBy("o_orderpriority").write.format("noop").mode("overwrite").save()
  }

  /** Moves every file of `stage` into `target`, replacing same-named
    * files: a new part file lands, or a rewritten one replaces its
    * predecessor. */
  private def land(stage: String, target: String): Unit = {
    val s = Files.list(Paths.get(stage))
    try s.iterator().asScala.toSeq.sortBy(_.toString).foreach { f =>
      Files.move(f, Paths.get(target).resolve(f.getFileName),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    } finally s.close()
  }

  /** `warm --data D --queries F --out J [--docset F --append-stage S1
    * --takedown-stage S2]`: the timed pass, then (when the stages are
    * given) the operator legs. */
  def warm(o: Map[String, String]): Unit = {
    val tr = tracer(o)
    val spark = Engine.session(o.getOrElse("cores", "4").toInt)
    val eng = new Engine(spark, tr)
    val dir = o("data")
    val names = Engine.queryNames(o("queries"))
    tr.span("setup") {
      warmEngine(spark, dir)
      eng.loadTables(dir)
    }
    val readyMs = System.currentTimeMillis()
    val before = eng.layerSums()
    val results = tr.span("pass")(names.map(eng.answer(_, dir)))
    val passLayers = Engine.diff(eng.layerSums(), before)

    val legs = o.get("append-stage").map(_ => operatorLegs(o, eng, dir))
    Json.write(o("out"), Map("ready_ms" -> readyMs,
      "queries" -> results,
      "pass_layers" -> passLayers, "operator" -> legs,
      "layers" -> eng.layerSums(), "peak_rss_mb" -> Engine.peakRssMb()))
    o.get("spans").foreach(tr.writeJsonl)
    spark.stop()
  }

  /** The operator legs over the document-store set: an appended part
    * file, then a takedown rewrite followed by invalidation of every
    * generation built from a corpus that still held the taken-down
    * documents. */
  private def operatorLegs(o: Map[String, String], eng: Engine,
                           dir: String): Map[String, Any] = {
    val spark = eng.spark
    val tr = eng.tr
    val docs = s"$dir/documents.parquet"
    val docset = Engine.lines(o("docset"))
    def fps(): Unit = {
      val t0 = System.nanoTime()
      tr.span("ArtifactStore.fp") {
        ArtifactStore.documentsFp(spark, dir)
        ArtifactStore.embeddingsFp(spark, dir)
      }
      eng.add("ArtifactStore.fp_s", (System.nanoTime() - t0) / 1e9)
    }
    val fpBase = ArtifactStore.documentsFp(spark, dir)
    val legBefore = eng.layerSums()
    val snaps = scala.collection.mutable.LinkedHashMap("before" -> eng.snapshot())
    val (appendS, appendRes) = Engine.timed(tr.span("leg/append") {
      land(o("append-stage"), docs)
      fps()
      docset.map(eng.answer(_, dir))
    })
    snaps("append") = eng.snapshot()
    val fpAppend = ArtifactStore.documentsFp(spark, dir)
    var invalidated = 0
    val (takedownS, takedownRes) = Engine.timed(tr.span("leg/takedown") {
      land(o("takedown-stage"), docs)
      fps()
      val res = docset.map(eng.answer(_, dir))
      snaps("takedown") = eng.snapshot()
      // every generation built from a corpus that still held the
      // taken-down documents goes, so none survives the leg
      val t0 = System.nanoTime()
      tr.span("TakedownApply.invalidate") {
        for (key <- TakedownApply.DocArtifactKeys; fp <- Seq(fpBase, fpAppend)) {
          if (ArtifactStore.publishedFps(key).contains(fp)) invalidated += 1
          ArtifactStore.invalidate(key, fp)
        }
      }
      eng.add("TakedownApply.invalidate_s", (System.nanoTime() - t0) / 1e9)
      eng.add("TakedownApply.invalidated", invalidated)
      res
    })
    // every key, not only those invalidated: a documents-derived family
    // the invalidation misses shows here
    val survivors = Store.generations(eng.root).toSeq.filter(g =>
      g.endsWith(s"/fp-$fpBase") || g.endsWith(s"/fp-$fpAppend")).sorted
    Map(
      "append" -> Map("wall_s" -> appendS, "queries" -> appendRes),
      "takedown" -> Map("wall_s" -> takedownS, "queries" -> takedownRes,
        "invalidated" -> invalidated, "survivors" -> survivors),
      "layers" -> Engine.diff(eng.layerSums(), legBefore),
      "snapshots" -> snaps, "fps" -> Map("base" -> fpBase, "append" -> fpAppend))
  }
}
