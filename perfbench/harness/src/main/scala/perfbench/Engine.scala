package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{ArtifactStore, SparkEntry, Tables}

/** One engine JVM: the session the benchmark owns, its tracer and
  * listeners, and the timed call into `SparkEntry.queries`. */
final class Engine(val spark: SparkSession, val tr: Tracer) {
  val layers: Option[SparkLayers] =
    if (tr.enabled) Some(new SparkLayers(tr)) else None
  val planning: Option[PlanningLayer] =
    if (tr.enabled) Some(new PlanningLayer) else None
  layers.foreach(spark.sparkContext.addSparkListener(_))
  planning.foreach(spark.listenerManager.register(_))
  tr.spark = spark

  val root: String = Paths.get(ArtifactStore.root).toAbsolutePath.toString
  private val registry = SparkEntry.queries
  /** Per-layer sums this engine adds itself (queries, Tables,
    * ArtifactStore); Spark's come from the listeners. */
  val sums = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = sums(k) = sums(k) + v

  /** Times `Tables.load` over every table and records whether each
    * one is served from the compacted generation under the artifact
    * root. */
  def loadTables(dir: String): Unit = tr.span("Tables.load") {
    Tables.names.foreach { t =>
      val t0 = System.nanoTime()
      val df = Tables.load(spark, dir, t)
      val files = df.inputFiles
      add("Tables.load_s", (System.nanoTime() - t0) / 1e9)
      add("Tables.files", files.length)
      if (files.nonEmpty && files.forall(_.contains(root))) add("Tables.compacted", 1)
    }
  }

  /** Answers query `name` over `dir`: construct the frame, force it
    * with a noop write whose observed metrics carry an
    * order-insensitive digest of the answer, then clear the SQL cache
    * and persisted RDDs as graft.Bench does between queries. */
  def answer(name: String, dir: String): Map[String, Any] = {
    val fn = registry.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query $name"))
    val gensBefore = Store.generations(root)
    var constructS = 0.0
    var executeS = 0.0
    var digest: Option[String] = None
    var rows = -1L
    var reads = Seq.empty[String]
    var error: Option[String] = None
    val startMs = tr.nowMs
    val t0 = System.nanoTime()
    tr.span(s"query/$name") {
      try {
        val df = tr.span("queries.construct")(fn(spark, dir))
        val t1 = System.nanoTime()
        val obs = Observation(s"digest-$name")
        val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
        tr.span("queries.execute") {
          val d = Engine.digestExprs(renamed)
          renamed.observe(obs, d.head, d.tail: _*)
            .write.format("noop").mode("overwrite").save()
        }
        val t2 = System.nanoTime()
        constructS = (t1 - t0) / 1e9
        executeS = (t2 - t1) / 1e9
        // the artifact-root keys the answer's plan scans (stores and
        // compacted tables), read after the timed region
        reads = df.inputFiles.toSeq.filter(_.contains(root))
          .map(f => f.substring(f.indexOf(root) + root.length + 1).takeWhile(_ != '/'))
          .distinct.sorted
        val m = obs.get
        rows = m.get("n").map(_.toString.toLong).getOrElse(0L)
        digest = Some(s"$rows:${Option(m.getOrElse("h", null)).map(_.toString).getOrElse("0")}")
      } catch {
        case e: Throwable =>
          // a failed answer is timed to its failure, and reported failed
          constructS = (System.nanoTime() - t0) / 1e9
          error = Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
      }
    }
    val endMs = tr.nowMs
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    val published = (Store.generations(root) -- gensBefore).toSeq.sorted
    val wall = constructS + executeS
    add("queries.construct_s", constructS)
    add("queries.execute_s", executeS)
    add("ArtifactStore.generations", published.size)
    if (published.nonEmpty) add("ArtifactStore.build_s", wall)
    layers.foreach { l =>
      l.settle()
      val busy = l.jobBusyMs(startMs, endMs)
      add("spark.driver_s", math.max(0.0, (endMs - startMs) - busy) / 1e3)
    }
    Map("name" -> name, "ok" -> error.isEmpty, "error" -> error,
      "construct_s" -> constructS, "execute_s" -> executeS, "wall_s" -> wall,
      "rows" -> rows, "digest" -> digest, "published" -> published, "reads" -> reads)
  }

  /** The artifact root's files as path -> [bytes, link count]. */
  def snapshot(): Map[String, Seq[Long]] =
    Store.files(root).map { case (p, f) => p -> Seq(f.size, f.links.toLong) }

  /** Per-layer numbers: the engine's own sums plus Spark's listeners. */
  def layerSums(): Map[String, Double] = {
    layers.foreach(_.settle())
    sums.toMap ++ layers.map(_.snapshot()).getOrElse(Map.empty) ++
      planning.map(p => Map("spark.planning_s" -> p.totalS)).getOrElse(Map.empty)
  }
}

object Engine {

  /** Session configured as graft.Bench configures its own. */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
  }

  /** Order-insensitive answer digest: row count and the sum of a
    * 64-bit hash of each row's text form. Floating-point columns are
    * rendered at nine significant digits so that summation order
    * inside an aggregate cannot change the digest. */
  def digestExprs(df: DataFrame): Seq[Column] = {
    val parts = df.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      val s = f.dataType match {
        case DoubleType | FloatType => format_string("%.9g", c.cast(DoubleType))
        case _: StructType | _: ArrayType | _: MapType => to_json(c)
        case _ => c.cast(StringType)
      }
      coalesce(s, lit("\u0000"))
    }
    val h = xxhash64(concat_ws("\u0001", parts: _*)).cast(DecimalType(38, 0))
    Seq(coalesce(sum(h), lit(BigDecimal(0)).cast(DecimalType(38, 0))).as("h"),
      count(lit(1)).as("n"))
  }

  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def diff(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }

  def opts(args: Seq[String]): Map[String, String] =
    args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap

  /** The query names in file `spec`, one a line, or every
    * `SparkEntry.queries` entry for `all`. */
  def queryNames(spec: String): Seq[String] =
    if (spec == "all") SparkEntry.queries.keys.toSeq.sorted else lines(spec)

  def lines(path: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim).filter(_.nonEmpty).toSeq
  }
}
