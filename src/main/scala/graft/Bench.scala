package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** Blackhole for the calibration loop result so the JIT cannot dead-code
    * the fixed work away. @volatile defeats both DCE and loop hoisting. */
  @volatile private var blackhole: Long = 0L

  /** Fixed-work CPU probe: a constant 1e9-step xorshift loop, single
    * threaded. The work is identical on every invocation, so its wall time
    * is a direct read of how much CPU this process is actually getting —
    * ~2.1 s on an idle core of this machine, proportionally longer under
    * ambient contention. Emitted before and after the suite so any reader
    * can normalize cross-round totals (r6 verdict item 1: the driver's
    * 274 s artifact vs the judge's 137 s re-run of the same code was
    * unattributable from artifacts alone). */
  private def cpuProbeSec(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0L
    while (i < 1000000000L) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    blackhole = x
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed-work scheduler/shuffle probe: a canned 1-partition exchange of
    * 2M longs through one task. Measures task-launch + shuffle-machinery
    * latency (the component a CPU loop cannot see) under current load. */
  private def shuffleProbeSec(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 2000000L, 1, 1)
      .repartition(1)
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // Warm the JVM/session (codegen, parquet footer cache, broadcast
    // machinery) outside the timed region so the first measured query
    // isn't charged ~5 s of one-time startup.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }
    // Calibration BEFORE the suite (after warmup, so the probe itself is
    // not charged JIT/startup cost).
    val calCpuPre = cpuProbeSec()
    val calShufPre = shuffleProbeSec(spark)
    // Force with a noop-format write, not count(): count() lets Catalyst
    // prune sorts and projections to a row count, under-measuring
    // projection-heavy queries; the noop sink executes the full physical
    // plan (every column materialized, sorts included) and discards rows.
    //
    // 5 runs per query by default (r6 verdict item 1c): this machine
    // carries competing load and single runs swing ±25-50%. Two robust
    // statistics are emitted per query: the MEDIAN (an honest typical
    // full execution) and the MIN (for deterministic work, the
    // contention-free statistic — a spike in the median with a flat min
    // is ambient load, not a plan regression). Run count via
    // SPARK_GRAFT_BENCH_RUNS.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    // BURST-ROBUST INTERLEAVING (r11 verdict item 1): the N runs no
    // longer execute consecutively — they are split across suite-wide
    // PASSES ([3,2] for the default 5), each pass running every query
    // consecutively in name order. A query's sample groups are thus
    // separated by ~a full pass (minutes at sf0.1), so a sustained
    // ambient burst — which in r9/r10/r11 corrupted ALL of one query's
    // consecutive runs and manufactured phantom MINs (q55 4.6×, q89
    // 3.1×, q178 19×, each needing manual same-machine refutation) —
    // can no longer cover every sample of any query: the MIN survives
    // in the passes the burst missed. Within a pass the per-query cache
    // hygiene below is unchanged.
    //
    // Pass sizing keeps BOTH statistics comparable across rounds: each
    // pass's first run is cold (cache cleared between queries), the
    // rest warm, so the split must leave warm samples in the MAJORITY
    // or the MEDIAN silently becomes a cold-run statistic (the first
    // [2,2,1] cut of this harness did exactly that — 3 cold vs 2 warm
    // flipped the headline median +16% with no plan change; caught by
    // the r12 self-review). [3,2] for 5 runs gives 3 warm / 2 cold:
    // median stays warm-dominated, the min stays warm, and the last
    // pass's final run (the shuffle/spill attribution window) is warm.
    // Warm majority under an interleave needs runs − passes > passes,
    // impossible below 5 runs — so small run counts (dev-iteration
    // settings, never the driver's 5) stay ONE consecutive pass rather
    // than trade the statistics' meaning for burst robustness.
    val passSizes =
      if (runs < 5) Seq(runs)
      else {
        // fewest passes ≥2 that keep every pass ≥2 runs (so each pass
        // contributes a warm sample) and warm strictly in the majority
        val nPasses = math.min(runs / 2, math.max(2, (runs + 2) / 3))
        val base = runs / nPasses
        val extra = runs % nPasses
        (0 until nPasses).map(i => base + (if (i < extra) 1 else 0))
      }
    // per-query shuffle/spill/stage-wall attribution (queries run
    // sequentially, so the listener's window cleanly brackets each run)
    val metrics = new BenchMetrics
    spark.sparkContext.addSparkListener(metrics)
    // Optional comma-separated subset for local iteration, e.g.
    // SPARK_GRAFT_BENCH_ONLY=q73_dedup_clusters,q27_minhash_neardup
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val suiteT0 = System.nanoTime()
    // (duration, ok, wall-clock start offset) per run, in execution
    // order — offsets go into the artifact so a reader can bracket any
    // suspect number against the probe timeline without a repro
    val samples = scala.collection.mutable.LinkedHashMap(
      names.map { case (n, _) =>
        n -> scala.collection.mutable.ArrayBuffer
          .empty[(Double, Boolean, Double)]
      }: _*)
    val shuffleMb = scala.collection.mutable.Map.empty[String, Double]
    val spillMb = scala.collection.mutable.Map.empty[String, Double]
    val driverSec = scala.collection.mutable.Map.empty[String, Double]
    // fixed-work probes BETWEEN passes: with the pre/post pair they
    // fence every pass, so a burst is localizable to one pass from the
    // artifact alone (r11 verdict item 1's self-classification ask)
    val calMid = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double)]
    passSizes.zipWithIndex.foreach { case (sz, pi) =>
      if (pi > 0)
        calMid += (((System.nanoTime() - suiteT0) / 1e9,
          cpuProbeSec(), shuffleProbeSec(spark)))
      val lastPass = pi == passSizes.length - 1
      names.foreach { case (name, fn) =>
        (1 to sz).foreach { r =>
          val lastRun = lastPass && r == sz
          if (lastRun) { metrics.settle(); metrics.reset() }
          val at = (System.nanoTime() - suiteT0) / 1e9
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
            catch { case _: Throwable => false }
          val dt = (System.nanoTime() - t0) / 1e9
          if (lastRun) {
            val (sh, sp, stageMs) = metrics.settle()
            shuffleMb(name) = sh / 1e6
            spillMb(name) = sp / 1e6
            // driver-side share: Catalyst analysis/optimization, codegen,
            // broadcast collection — constant in data size, so it
            // dominates small-scale and serving-latency paths (q164: 1.2 s
            // of stages inside a 4.7 s query). Stage walls overlap when
            // independent stages run concurrently, so the difference is
            // clamped at 0 ("stages ran in parallel, no driver problem").
            if (ok) driverSec(name) = math.max(0.0, dt - stageMs / 1e3)
          }
          samples(name) += ((dt, ok, at))
        }
        // Cross-query cache hygiene: every query's persist()ed
        // intermediates stay registered in the cache manager after its
        // runs finish — nothing ever unpersists them — so over a
        // 183-query suite the storage pool fills with dead blocks,
        // execution memory shrinks (unified manager), and queries late
        // in name order degrade at the MIN level on untouched plans
        // (the r8 q142/q145/events-family cluster). Clearing BETWEEN
        // queries keeps intra-query cache reuse (a pass's second run
        // still hits the first's blocks via plan-match) while each
        // query starts each pass from the same clean-JVM state the
        // per-query numbers claim to measure.
        spark.catalog.clearCache()
        // ...and RDD-level persists: clearCache() only drops the SQL
        // cache manager's blocks — a library path that persists RDDs
        // internally (the MLlib comparison query q54) would otherwise
        // leak storage-pool blocks across the remaining suite exactly
        // like the r8 dead-block cluster.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    }
    val timed = names.map { case (name, _) =>
      val ss = samples(name)
      val okTimes = ss.collect { case (t, true, _) => t }.sorted
      val sh = shuffleMb.getOrElse(name, 0.0)
      val sp = spillMb.getOrElse(name, 0.0)
      if (okTimes.isEmpty) (name, -1.0, -1.0, false, sh, sp)
      else (name, okTimes(okTimes.size / 2), okTimes.head, true, sh, sp)
    }
    // Calibration AFTER the suite: pre/post disagreement localizes a
    // contention burst to the run itself.
    val calCpuPost = cpuProbeSec()
    val calShufPost = shuffleProbeSec(spark)
    // Failed queries are reported in `failed` with value -1, and excluded
    // from the total — an error must never be mistaken for a fast run.
    val qs = timed.map { case (k, med, _, ok, _, _) =>
      f""""$k":${if (ok) med else -1.0}%.3f"""
    }.mkString("{", ",", "}")
    val mins = timed.map { case (k, _, mn, ok, _, _) =>
      f""""$k":${if (ok) mn else -1.0}%.3f"""
    }.mkString("{", ",", "}")
    val sh = timed.map { case (k, _, _, _, s, _) => f""""$k":$s%.2f""" }
      .mkString("{", ",", "}")
    val sp = timed.collect { case (k, _, _, _, _, s) if s > 0 => f""""$k":$s%.2f""" }
      .mkString("{", ",", "}")
    val drv = names.flatMap { case (k, _) =>
      driverSec.get(k).map(d => f""""$k":$d%.3f""") }.mkString("{", ",", "}")
    val failed = timed.collect { case (k, _, _, false, _, _) => s"\"$k\"" }
      .mkString("[", ",", "]")
    // Min-median gap outliers (r9 verdict item 6): a spiked median over
    // a flat min is ambient contention or one-time init (q56's JSON
    // parser), not a plan regression — emit the ratio so the artifact
    // classifies its own noise instead of relying on the reader knowing
    // the pattern. Only ratios on queries big enough to matter.
    // Threshold 2.5 (r10 verdict item 3): the r10 driver run's q89
    // spike sat at gap 2.48 and slipped under the original 3x.
    val gaps = timed.collect {
      case (k, med, mn, true, _, _) if med >= 0.5 && mn > 0.0 && med / mn >= 2.5 =>
        f""""$k":${med / mn}%.1f"""
    }.mkString("{", ",", "}")
    val total = timed.collect { case (_, med, _, true, _, _) => med }.sum
    val totalMin = timed.collect { case (_, _, mn, true, _, _) => mn }.sum
    val cal = f""""calibration":{"cpu_pre_sec":$calCpuPre%.3f,"cpu_post_sec":$calCpuPost%.3f,"shuffle_pre_sec":$calShufPre%.3f,"shuffle_post_sec":$calShufPost%.3f}"""
    // Between-pass probes: (suite offset, cpu probe, shuffle probe) —
    // with pre/post these fence every pass, so any suspect number is
    // attributable from the artifact (burst in pass k ⟹ the probes
    // around pass k read high, and the query's other passes carry its
    // honest samples).
    val calMidJson = calMid.map { case (at, c, shf) =>
      f"""{"at_sec":$at%.1f,"cpu_sec":$c%.3f,"shuffle_sec":$shf%.3f}"""
    }.mkString("[", ",", "]")
    // Full run detail: every sample's duration and wall-clock start
    // offset in execution order (pass-major) — the raw material for
    // localizing a burst to specific runs after the fact.
    val detail = names.map { case (k, _) =>
      val ss = samples(k)
      val ts = ss.map { case (t, ok, _) =>
        f"${if (ok) t else -1.0}%.3f" }.mkString("[", ",", "]")
      val ats = ss.map { case (_, _, at) => f"$at%.1f" }.mkString("[", ",", "]")
      s""""$k":{"t":$ts,"at":$ats}"""
    }.mkString("{", ",", "}")
    val passesJson = passSizes.mkString("[", ",", "]")
    val onlyJson = only.map(_.toSeq.sorted.map(q => s"\"$q\"")
      .mkString("[", ",", "]"))
    // The driver tail-captures stdout and parses the LAST JSON line; r3's
    // single giant line overflowed the capture window and orphaned the
    // headline number ("parsed": null). Detail maps therefore go on their
    // own preceding lines and the headline line is last and minimal.
    val lines = Seq(
      s"""{"metric":"per_query_sec","queries":$qs}""",
      s"""{"metric":"per_query_min_sec","queries_min":$mins}""",
      s"""{"metric":"per_query_shuffle_mb","shuffle_mb":$sh}""",
      s"""{"metric":"per_query_spill_mb","spill_mb":$sp}""",
      s"""{"metric":"per_query_driver_sec","driver_sec":$drv}""",
      s"""{"metric":"per_query_gap_outliers","note":"median/min >= 2.5x with median >= 0.5s: ambient load or one-time init, not a plan regression","gap_ratio":$gaps}""",
      s"""{"metric":"per_query_run_detail","note":"per-run (sec, suite-offset sec), pass-major order; passes=$passesJson","runs":$detail}""",
      s"""{"metric":"total","value":$total,"unit":"sec","total_min":$totalMin,"n_queries":${timed.size},"failed":$failed,"runs":$runs,"passes":$passesJson,"agg":"median",$cal,"calibration_mid":$calMidJson${onlyJson.fold("")(o => s""","only":$o""")},"sf":"$sfDir"}""")
    lines.foreach(println)
    // The stdout tail was truncated by the driver two rounds running,
    // losing the per-query map both times; a file in the repo root makes
    // that loss impossible (r4 verdict item 2). Best-effort: a read-only
    // CWD must not fail the bench itself.
    //
    // A SUBSET run (SPARK_GRAFT_BENCH_ONLY) writes its own file: its
    // partial per-query map is indistinguishable in shape from a full
    // run's, and an unconditional write silently replaced the committed
    // full-run artifact (r11 verdict item 4 — the judge's targeted repro
    // clobbered the driver's working-tree copy).
    // ...and a FULL run at a non-default scale factor embeds the sf in
    // its filename for the same reason (r12 verdict item 4): an sf0.01
    // iteration run must not silently replace the committed sf0.1
    // artifact the judge reads.
    val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
    val outName =
      if (only.isDefined) "bench_out.partial.json"
      else if (sfName == "sf0.1") "bench_out.json"
      else s"bench_out.$sfName.json"
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outName), lines.mkString("", "\n", "\n"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] $outName not written: $e") }
    spark.stop()
  }
}
