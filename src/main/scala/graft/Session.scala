package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration graft runs under: every entry point
  * (Bench, Verify, Explain, CurateMain, TrainMain, AnnServeMain) and the
  * spec harness call [[local]], so the measured, verified and tested
  * configurations are the same code.
  */
object Session {

  /** `SPARK_GRAFT_CPUS` when set, else the machine's cores capped at 32. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(Runtime.getRuntime.availableProcessors, 32))

  /** A `local[cores]` session with one shuffle partition per core, UTC
    * session time (the oracle's timestamp semantics, see
    * [[Tables.events]]), nano timestamps read as longs, the engine's
    * native functions ([[GraftExtensions]]), no UI and WARN logging. */
  def local(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // Let AQE re-plan (coalesce) over cached/persisted frames: the
      // default-false compatibility flag pins every stage over a
      // persisted relation to the static shuffle-partition count, which
      // turns iterative analytics over persisted graphs (q91/q125/
      // q148/q154) into fleets of near-empty tasks — measured 6.8 s ->
      // 4.2 s on q91 at sf0.1. Values are unaffected; only partition
      // counts adapt to data size.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
