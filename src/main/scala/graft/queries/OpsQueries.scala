package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType}

/** Operational / data-integrity queries: the jobs a 100 TB deployment
  * runs AROUND the data rather than on it — replica verification
  * (order-independent table checksums) and optimizer-statistics
  * collection (per-column profiles). Both follow the repo-wide oracle
  * rules: md5-60-bit hashing for anything randomized, integer or
  * decimal arithmetic wherever floats would drift, total ORDER BY.
  */
object OpsQueries {

  /** The engine-wide 60-bit md5 idiom (AnalyticsQueries.h60), via the
    * native codegen'd graft_h60. */
  private def h60(tag: String, c: Column): Column =
    call_function("graft_h60", concat(lit(tag + "|"), c))

  /** 2⁶¹ − 1 (Mersenne prime): the additive checksum rides DECIMAL(38)
    * exactly and folds to a BIGINT residue both engines agree on. */
  private val CkMod = 2305843009213693951L

  /** q110 — order-independent table checksums, the anti-entropy audit
    * that verifies a replica/migration without moving the data twice:
    * per table, the row count plus two independent digests of a
    * canonical key serialization — an additive md5-60-bit sum folded
    * mod 2⁶¹−1 and a bitwise-XOR fold. Both digests are commutative
    * monoids, so the checksum is independent of partitioning, row
    * order, and merge shape — two sides compare (n, sum, xor) triples
    * and ship NOTHING but 3 scalars per table.
    *
    * Serialized columns are integers and strings only (doubles are
    * excluded by design: engines differ in float→text rendering, and a
    * checksum that depends on printf conventions is not portable).
    * NULL cells are encoded as an explicit `\u0000NULL` marker before
    * the join — concat_ws silently SKIPS nulls, under which
    * (1, NULL, 'a') and (1, 'a', NULL) serialize identically, i.e. the
    * digest would be blind to a value shifting across nullable columns
    * — exactly the corruption an anti-entropy audit exists to catch.
    * The NUL-byte prefix cannot appear in real column text.
    *
    * Scale shape: one partial-aggregated scan per table — the three
    * accumulators combine map-side, so the shuffle is one row per
    * partition; no sort, no join anywhere.
    */
  /** The canonical per-row digest q110 sums — shared with
    * [[graft.streaming.StreamChecksum]] so the live digest and the
    * batch audit hash identically. */
  def checksumHash(tbl: String, keyCols: Seq[String]): Column =
    h60(s"ck|$tbl", concat_ws("|", keyCols.map(c =>
      coalesce(col(c).cast("string"), lit("\u0000NULL"))): _*))

  def tableChecksum(s: SparkSession, dir: String): DataFrame = {
    def one(tbl: String, keyCols: Seq[String]): DataFrame = {
      // fanOut MEASURED r18: 0.90 -> 1.02 solo min — the digest monoid
      // already partial-aggregates map-side in the scan stage, so the
      // rebalance only added a raw-key-column shuffle; kept inline
      Tables.load(s, dir, tbl)
        .select(checksumHash(tbl, keyCols).as("h"))
        .agg(count(lit(1)).as("n_rows"),
          (sum(col("h").cast(DecimalType(38, 0))) % lit(CkMod))
            .cast(LongType).as("sum_digest"),
          bit_xor(col("h")).as("xor_digest"))
        .select(lit(tbl).as("tbl"), col("n_rows"),
          col("sum_digest"), col("xor_digest"))
    }
    one("documents", Seq("doc_id", "text", "lang", "source", "n_chars"))
      .unionAll(one("orders", Seq("o_orderkey", "o_custkey", "o_orderstatus")))
      .unionAll(one("lineitem", Seq("l_orderkey", "l_linenumber", "l_suppkey")))
      .orderBy(col("tbl"))
  }

  /** q174 — the EMBEDDINGS-table anti-entropy checksum: q110 extended
    * to the vector table. q110 excludes doubles by design (float→text
    * rendering is engine-specific); here the embedding contributes
    * through q116's exact milli quantization (Σ_d ⌊x_d·10³⌋ — an
    * integer both engines compute bit-identically), so the sum digest
    * is portable — and it IS the [[graft.ArtifactStore]] fingerprint
    * every book/code/tombstone family is keyed by. The audit row
    * therefore does double duty: replica comparison for the vector
    * table, and "which fp-directory should the current corpus be
    * serving" for an operator staring at the artifact store.
    *
    * Scale shape: q110's — one partial-aggregated scan, commutative
    * monoid accumulators, one row out. */
  def embeddingsChecksum(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(graft.ArtifactStore.embeddingsRowDigest.as("h"))
      .agg(count(lit(1)).as("n_rows"),
        (sum(col("h").cast(DecimalType(38, 0))) % lit(CkMod))
          .cast(LongType).as("sum_digest"))
      .select(lit("embeddings").as("tbl"), col("n_rows"), col("sum_digest"))

  /** KMV size for q111's distinct estimates — q89's sketch, applied
    * per column instead of per group. */
  private val ProfK = 64

  /** q111 — column-statistics profile (the ANALYZE TABLE job): per
    * profiled column of `events`, the row count, null count, and a
    * deterministic KMV distinct-count estimate with its exact truth
    * and relative error. Uniform output schema across column types
    * because values are canonicalized to strings BEFORE hashing
    * (doubles via DECIMAL(18,2) so both engines render identical
    * text). At 100 TB the exact-truth arm is dropped and the sketch
    * IS the statistic; it's emitted here because the query audits its
    * own estimator (q89/q109's convention).
    *
    * Scale shape: one explode-free pass per column (the per-column
    * frames union AFTER aggregation — rows never multiply); each
    * column's sketch is the native mergeable `graft_kmv` aggregate
    * (functions/Kmv.scala): bounded ≤ K-long buffers combine map-side,
    * no distinct pass, no rank windows — in particular no GLOBAL
    * window, which the earlier declarative prune needed for the final
    * per-column rank; the null/row counts are plain partial aggregates.
    */
  def columnProfile(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def one(name: String, c: Column): DataFrame = {
      val base = ev.select(c.cast("string").as("v"))
      val counts = base.agg(count(lit(1)).as("n"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"))
      val sk = base.where(col("v").isNotNull)
        .select(h60(s"prof|$name", col("v")).as("h"))
        .agg(call_function("graft_kmv", col("h"), lit(ProfK)).as("sk"))
        .select(size(col("sk")).cast(LongType).as("k_used"),
          element_at(col("sk"), -1).as("kth_hash"))
      val truth = base.where(col("v").isNotNull)
        .agg(countDistinct(col("v")).as("true_distinct"))
      val pow60 = lit(1152921504606846976L).cast(DoubleType)
      val est = when(col("k_used") < ProfK, col("k_used").cast(DoubleType))
        .otherwise(lit(ProfK - 1).cast(DoubleType) /
          (col("kth_hash").cast(DoubleType) / pow60))
      counts.crossJoin(sk).crossJoin(truth)
        .select(lit(name).as("col_name"), col("n"), col("n_null"),
          col("k_used"), est.as("est_distinct"), col("true_distinct"),
          ((est - col("true_distinct").cast(DoubleType)) /
            col("true_distinct").cast(DoubleType)).as("rel_err"))
    }
    one("event_type", col("event_type"))
      .unionAll(one("user_id", col("user_id")))
      .unionAll(one("value", col("value").cast(DecimalType(18, 2))))
      .unionAll(one("props", col("props")))
      .orderBy(col("col_name"))
  }

  /** Z-order buckets per dimension (4 bits each → ≤ 256 cells). */
  private val ZBits = 4

  /** q117 — Z-order (Morton) layout cells over (l_partkey, l_suppkey),
    * the clustering step behind multi-column data skipping (Delta/
    * Iceberg `OPTIMIZE ZORDER`): each key is equi-width-bucketed to
    * 2⁴ buckets over its [min, max] (production uses q104's equi-DEPTH
    * histogram — equi-width keeps the math integer-exact for the
    * oracle), the two 4-bit bucket ids bit-interleave into a Morton
    * cell, and the query emits per cell the row count plus min/max of
    * BOTH keys — exactly the file-footer statistics a scan would prune
    * on. The payoff this shape proves: every cell is tight in BOTH
    * dimensions simultaneously (OpsSpec asserts each cell spans one
    * bucket of each key), where a single-column sort gives tight
    * ranges in one dimension and full-range footers in the other.
    *
    * Scale shape: one partial-agg pass for the 4 global min/max
    * scalars (broadcast back as a 1-row crossJoin); the
    * bucketize + interleave is row-local integer arithmetic in
    * whole-stage codegen; the per-cell rollup partial-aggregates to
    * ≤ 256 rows per partition. At 100 TB the cell id is the range-
    * partitioning key for the actual rewrite; this query is its
    * planning/audit half, shipping 256 rows of footer stats.
    */
  /** Row-level Morton-cell assignment — q117's bucketize + interleave
    * exposed at row grain, carrying EVERY lineitem column so the actual
    * rewrite ([[graft.sources.ZorderPublish]]) can write complete rows.
    * The cell rollup (q117) and the physical rewrite both build on this
    * one definition, so the audited layout and the written layout cannot
    * diverge. */
  def rowCells(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val ext = li.agg(min(col("l_partkey")).as("pmn"), max(col("l_partkey")).as("pmx"),
      min(col("l_suppkey")).as("smn"), max(col("l_suppkey")).as("smx"))
    val nb = 1L << ZBits
    val zcell = (0 until ZBits).map { b =>
      shiftleft(shiftright(col("bp"), b).bitwiseAND(lit(1L)), 2 * b) +
        shiftleft(shiftright(col("bs"), b).bitwiseAND(lit(1L)), 2 * b + 1)
    }.reduce(_ + _)
    li.crossJoin(broadcast(ext))
      // `div`: exact BIGINT division in both engines (DuckDB `//`)
      .withColumn("bp", expr(s"((l_partkey - pmn) * $nb) div (pmx - pmn + 1)"))
      .withColumn("bs", expr(s"((l_suppkey - smn) * $nb) div (smx - smn + 1)"))
      .withColumn("zcell", zcell.cast(LongType))
      .drop("bp", "bs", "pmn", "pmx", "smn", "smx")
  }

  def zorderCells(s: SparkSession, dir: String): DataFrame = {
    rowCells(s, dir)
      .select(col("zcell"), col("l_partkey"), col("l_suppkey"))
      .groupBy(col("zcell"))
      .agg(count(lit(1)).as("n"),
        min(col("l_partkey")).as("min_p"), max(col("l_partkey")).as("max_p"),
        min(col("l_suppkey")).as("min_s"), max(col("l_suppkey")).as("max_s"))
      .orderBy(col("zcell"))
  }

  /** q118 — per-group 3σ outlier audit of `events.value`, the
    * quality gate a pipeline runs before training on a metric column
    * — with the verdict computed in EXACT integer arithmetic: a row is
    * an outlier iff (n·x − S)² > 9·(n·Q − S²) over integer cents,
    * which is |x − μ| > 3σ with both sides multiplied by n² — no
    * float mean or stddev ever exists, so both engines agree on every
    * boundary case. Emits per event type the population size and the
    * high/low outlier counts (hi: n·x > S). Magnitude bound: the
    * squares reach ~(n·x)² — DECIMAL(38,0)/HUGEINT carries n·x up to
    * 10¹⁹, i.e. populations of 10¹² cent-scale rows, before the
    * quantum needs coarsening.
    *
    * Scale shape: the (n, S, Q) sufficient statistics are one
    * partial-agg pass (3 rows per partition on the wire); they
    * broadcast back and the verdict is row-local decimal arithmetic
    * folded by a second partial agg — two scans, zero sorts, zero
    * row-matching joins, the same shape at any corpus size.
    */
  def outlierAudit(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val ev = Tables.events(s, dir)
      .select(col("event_type").as("grp"),
        (col("value").cast(DecimalType(18, 2)) * lit(100))
          .cast(LongType).as("x"))
    val st = ev.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(d38)).as("sx"),
        sum(col("x").cast(d38) * col("x").cast(d38)).as("qx"))
    val dev = col("n").cast(d38) * col("x").cast(d38) - col("sx")
    val varNum = col("n").cast(d38) * col("qx") - col("sx") * col("sx")
    val isOut = dev * dev > lit(9).cast(d38) * varNum
    ev.join(broadcast(st), Seq("grp"))
      .groupBy(col("grp"), col("n"))
      .agg(sum(when(isOut && dev > 0, 1L).otherwise(0L)).as("n_out_hi"),
        sum(when(isOut && dev < 0, 1L).otherwise(0L)).as("n_out_lo"))
      .select(col("grp"), col("n"), col("n_out_hi"), col("n_out_lo"))
      .orderBy(col("grp"))
  }

  /** q120 — the compaction plan that turns q117's Morton cells into
    * output files (the assignment half of `OPTIMIZE ZORDER`): cells in
    * zcell order pack greedily into ≤ 8 files of ~equal row budget
    * (budget = ⌈total/8⌉), via file_id = rows-before-this-cell div
    * budget. Contiguous zcell ranges per file preserve the locality
    * q117 built — each file's footer stays tight in both key
    * dimensions — and the assignment is pure integer arithmetic, so
    * both engines agree exactly.
    *
    * Scale shape: everything after q117's cell rollup operates on the
    * CELL table (≤ 256 rows — bounded by the grid, not the corpus), so
    * the running-sum window is a driver-scale operation regardless of
    * data size; the actual rewrite then range-shuffles rows by
    * (file_id) — this query ships the 256-row plan that drives it.
    */
  def compactionPlan(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persist: consumed twice (cumulative window + totals) — ≤256 rows,
    // saves a full re-run of the cell rollup (r18 post-compaction solo
    // A/B: 0.42 → 0.23 min)
    val cells = zorderCells(s, dir).select(col("zcell"), col("n")).persist()
    val total = cells.agg(sum(col("n")).as("total"))
    // window over <= 256 cells: unpartitioned by design, bounded by the
    // grid size (the same justification as q111's K-pruned global rank)
    val w = Window.orderBy(col("zcell"))
      .rowsBetween(Window.unboundedPreceding, -1)
    cells.crossJoin(broadcast(total))
      .withColumn("cum_before", coalesce(sum(col("n")).over(w), lit(0L)))
      .withColumn("budget", expr("greatest(1L, (total + 7) div 8)"))
      .select(col("zcell"), col("n"),
        expr("cum_before div budget").as("file_id"))
      .orderBy(col("zcell"))
  }

  /** q135 — shuffle-key skew audit: for each join/aggregation key a
    * pipeline plans to shuffle on, the per-key frequency profile that
    * decides the strategy BEFORE the job runs — broadcast the dim,
    * salt the key (q51's path), or trust AQE's skew split. Per audited
    * column: row count, distinct-key count, the heaviest key's count
    * and identity. The imbalance factor is the consumer's division
    * (max_cnt · n_keys / n_rows — q118/q119's exact-pieces convention);
    * max_cnt/n_rows vs 1/shuffle_partitions is the straggler test.
    *
    * Scale shape: one partial-aggregated groupBy per audited column
    * (map-side combined, shuffle bounded by distinct keys — the same
    * exchange the real job would pay once, bought here as planning
    * statistics); the per-column profile folds to ONE row via the
    * max(struct) arg-max (q122's idiom), ties to the larger key string,
    * so the report is #columns rows at any corpus size.
    */
  def skewAudit(s: SparkSession, dir: String): DataFrame = {
    def one(name: String, df: DataFrame, key: Column): DataFrame =
      df.groupBy(key.cast("string").as("k")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
          max(struct(col("c"), col("k"))).as("m"))
        .select(lit(name).as("key_col"), col("n_rows"), col("n_keys"),
          col("m.c").as("max_cnt"), col("m.k").as("top_key"))
    one("lineitem.l_orderkey", Tables.lineitem(s, dir), col("l_orderkey"))
      .unionAll(one("lineitem.l_partkey", Tables.lineitem(s, dir), col("l_partkey")))
      .unionAll(one("lineitem.l_suppkey", Tables.lineitem(s, dir), col("l_suppkey")))
      .unionAll(one("events.user_id", Tables.events(s, dir), col("user_id")))
      .unionAll(one("events.event_type", Tables.events(s, dir), col("event_type")))
      .orderBy(col("key_col"))
  }

  /** q122 — CDC MERGE (upsert-apply): the write-path half of a
    * lakehouse engine — apply a change log of versioned
    * UPDATE/DELETE/INSERT events onto a base snapshot, latest version
    * winning per key. The change log is built deterministically from
    * the base (v1 updates ids ≡0 mod 3, v2 updates ids ≡0 mod 2 — so
    * ids ≡0 mod 6 prove last-writer-wins — v3 deletes ids ≡0 mod 7,
    * and v2 inserts fresh ids), so both engines construct the
    * identical merge input.
    *
    * Scale shape: per-key change compaction is ONE partial aggregation
    * — max(struct(ver, op, text)) is the arg-max idiom (q108), no
    * per-key sort window, and distinct versions make the struct order
    * the version order; the apply is a single full-outer equi-join on
    * the key. At 100 TB the delta side is small → Spark broadcasts it
    * and the base never shuffles; here delta ≈ base so both sides
    * exchange, which is the worst case the plan still handles.
    */
  /** q122's deterministic change log over the base (doc_id, text)
    * relation — shared with q169's time travel, which replays the SAME
    * rows version-bounded. Insert ids are offset by max(doc_id)+1 —
    * derived, not a constant — so an inserted key can NEVER collide
    * with a real doc's update at any corpus size (a fixed 100000
    * offset would collide once doc_id reaches it, and the per-key
    * "distinct versions" invariant the max(struct) compaction relies
    * on would silently break). One scalar agg broadcast back: a
    * planning statistic, free at 100 TB. */
  private def changeLog(base: DataFrame): DataFrame = {
    val off = broadcast(base.agg((max(col("doc_id")) + lit(1L)).as("off")))
    def change(ver: Int, op: String, pred: Column, id: Column, text: Column) =
      base.where(pred).crossJoin(off)
        .select(id.as("doc_id"), lit(ver.toLong).as("ver"),
          lit(op).as("op"), text.as("ctext"))
    change(1, "U", col("doc_id") % 3 === 0, col("doc_id"),
      concat(lit("v1 "), col("text")))
      .unionAll(change(2, "U", col("doc_id") % 2 === 0, col("doc_id"),
        concat(lit("v2 "), col("text"))))
      .unionAll(change(2, "I", col("doc_id") % 5 === 0,
        col("doc_id") + col("off"), concat(lit("new "), col("text"))))
      .unionAll(change(3, "D", col("doc_id") % 7 === 0, col("doc_id"),
        lit("")))
  }

  def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val changes = changeLog(base)
    val latest = changes
      .groupBy(col("doc_id"))
      .agg(max(struct(col("ver"), col("op"), col("ctext"))).as("m"))
      .select(col("doc_id"), col("m.ver").as("ver"), col("m.op").as("op"),
        col("m.ctext").as("ctext"))
    base.join(latest, Seq("doc_id"), "full_outer")
      .where(col("op").isNull || col("op") =!= "D")
      .select(col("doc_id"),
        when(col("op").isNull, col("text")).otherwise(col("ctext")).as("text"),
        coalesce(col("op"), lit("K")).as("last_op"),
        coalesce(col("ver"), lit(0L)).as("ver"))
      .orderBy(col("doc_id"))
  }

  /** q169 — TIME TRAVEL over the merge path: reconstruct the q122
    * table AS OF every version boundary v ∈ 0..3 (v=0 is the base
    * snapshot) and emit the per-version audit a lakehouse's history
    * command serves — live row count, cumulative tombstones, and a
    * q110-style content checksum of the reconstructed state (so the
    * check is value-sensitive: a wrong text at any version moves the
    * digest, not just the counts). VERSION AS OF semantics: apply only
    * changes with ver ≤ v, latest version winning per key — tombstones
    * suppress, later upserts resurrect nothing retroactively.
    *
    * Scale shape: the audit fans base × |versions audited| (here 4) —
    * the price of auditing EVERY version in one query; a production
    * as-of read is the v-filtered single pass ([[graft.sources
    * .TimeTravel.asOf]] on the streamed log). Change compaction per
    * version is the same one partial max(struct) agg as q122; the
    * checksum folds commutatively so the per-version rollup is one
    * more partial agg. */
  def timeTravel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val changes = changeLog(base)
    val vers = broadcast((0L to 3L).toDF("v"))
    val latest = changes.join(vers, col("ver") <= col("v"))
      .groupBy(col("v"), col("doc_id"))
      .agg(max(struct(col("ver"), col("op"), col("ctext"))).as("m"))
      .select(col("v"), col("doc_id"), col("m.op").as("op"),
        col("m.ctext").as("ctext"))
    val state = base.crossJoin(vers)
      .join(latest, Seq("v", "doc_id"), "full_outer")
      .where(col("op").isNull || col("op") =!= "D")
      .select(col("v"), col("doc_id"),
        when(col("op").isNull, col("text")).otherwise(col("ctext")).as("t2"))
    val live = state.groupBy(col("v"))
      .agg(count(lit(1)).as("n_rows"),
        (sum(call_function("graft_h60",
          concat(lit("tt|"), col("doc_id").cast(StringType), lit("|"),
            col("t2"))).cast(DecimalType(38, 0))) % lit(CkMod))
          .cast(LongType).as("ck"))
    val tombs = latest.where(col("op") === "D")
      .groupBy(col("v")).agg(count(lit(1)).as("n_tomb_c"))
    live.join(tombs, Seq("v"), "left")
      .select(col("v"), col("n_rows"),
        coalesce(col("n_tomb_c"), lit(0L)).as("n_tomb"), col("ck"))
      .orderBy(col("v"))
  }

  /** Open-interval sentinel for q170 — a literal instead of NULL
    * because the driver's checker NaN-floats nullable int64 columns
    * (q61's rule), and Long.MaxValue reads as "forever" in both
    * engines. */
  private val Scd2Open = Long.MaxValue

  /** q170 — SCD TYPE 2 history build (Kimball's slowly-changing
    * dimension, the interval form of time travel): q169 answers "state
    * AS OF v", this materializes each key's VALUE VERSIONS as validity
    * intervals [ver_from, ver_to) with an is_current flag — the shape
    * a warehouse dimension join actually uses (`BETWEEN` on the
    * interval instead of re-running as-of per version). Base rows
    * enter at version 0; every change — including a delete — closes
    * its predecessor's interval; delete events bound intervals but
    * produce no value row of their own, so a deleted key simply has no
    * current row.
    *
    * Scale shape: one union of base + change log, ONE window keyed on
    * doc_id ordered by ver whose per-key size is bounded by the
    * VERSION COUNT (≤ 4 here; a dimension's churn per key, never
    * corpus-sized — the q151 skew concern does not apply). */
  def scd2(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val events = base
      .select(col("doc_id"), lit(0L).as("ver"), lit("B").as("op"),
        col("text").as("ctext"))
      .unionAll(changeLog(base))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("ver"))
    events
      .withColumn("ver_to", coalesce(lead(col("ver"), 1).over(w),
        lit(Scd2Open)))
      .where(col("op") =!= "D")
      .select(col("doc_id"), col("ctext").as("text"),
        col("ver").as("ver_from"), col("ver_to"),
        when(col("ver_to") === Scd2Open, lit(1L)).otherwise(lit(0L))
          .as("is_current"))
      .orderBy(col("doc_id"), col("ver_from"))
  }

  /** q127 — data-skipping effectiveness of q117's Z-order layout: for a
    * deterministic octile-range predicate workload on EACH key column,
    * how many cells (files) and rows would a footer-pruning scan touch?
    * This is the report a layout rollout ships to justify itself — and
    * the number a single-column sort cannot match on the SECOND column
    * (OpsSpec computes that baseline brute: a partkey-sorted layout
    * prunes nothing for suppkey predicates, while the Morton grid
    * scans ≤ ~1/4 of rows for either column's predicates).
    *
    * Scale shape: everything runs on the ≤ 256-row cell-stats table —
    * the predicate frame is 16 rows, the overlap test is a broadcast
    * cross of the two tiny frames — so the report costs the same at
    * any corpus size; the cell rollup itself is q117's one scan.
    */
  def skippingReport(s: SparkSession, dir: String): DataFrame = {
    // persist: the ≤256-row cell table is consumed THREE times (extent
    // frame, totals, overlap probe) — without it each consumer re-runs
    // the whole cell rollup including its two lineitem scans (r18
    // post-compaction solo A/B: 1.40 → 0.39 min; bounded by the grid
    // size, never the corpus)
    val cells = zorderCells(s, dir).persist()
    val ext = cells.agg(min(col("min_p")).as("pmn"), max(col("max_p")).as("pmx"),
      min(col("min_s")).as("smn"), max(col("max_s")).as("smx"))
    def preds(name: String, mn: String, mx: String) = ext
      .withColumn("b", explode(expr("sequence(0L, 7L)")))
      .select(lit(name).as("pred_col"), col("b"),
        expr(s"$mn + (b * ($mx - $mn + 1)) div 8").as("lo"),
        expr(s"$mn + ((b + 1) * ($mx - $mn + 1)) div 8 - 1").as("hi"))
    val workload = preds("l_partkey", "pmn", "pmx")
      .unionAll(preds("l_suppkey", "smn", "smx"))
    val overlap = when(col("pred_col") === "l_partkey",
      col("min_p") <= col("hi") && col("max_p") >= col("lo"))
      .otherwise(col("min_s") <= col("hi") && col("max_s") >= col("lo"))
    val totals = cells.agg(count(lit(1)).as("cells_total"),
      sum(col("n")).as("rows_total"))
    cells.crossJoin(broadcast(workload))
      .where(overlap)
      .groupBy(col("pred_col"), col("b"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("cells_scanned"), sum(col("n")).as("rows_scanned"))
      .crossJoin(broadcast(totals))
      .orderBy(col("pred_col"), col("b"))
  }

  /** q130 — the data-contract validation job (dbt-test / Deequ shape):
    * per declared constraint, how many rows were checked and how many
    * violate — REPORTED, not asserted, because at 100 TB a contract
    * run's output is a dashboard row, and this synthetic TPC-H-ish
    * data genuinely violates some (lineitem's (l_orderkey,
    * l_linenumber) is documented non-unique — the report proves it
    * with a count instead of hiding it in a failed job). Checks: two
    * key-uniqueness contracts, two referential-integrity contracts
    * (fact keys ⊆ dim keys), and two domain contracts (non-negative
    * quantity, known order status).
    *
    * Scale shape: uniqueness is a partial-agg'd groupBy on the key
    * (violations = Σ(count−1) over duplicated keys, shipped as one
    * scalar); referential integrity is a left-anti join against the
    * dim-side DISTINCT key set (broadcastable at scale); domain checks
    * are scan-side predicates. Every check emits one row — the whole
    * report is #checks rows regardless of data size.
    */
  def constraintAudit(s: SparkSession, dir: String): DataFrame = {
    def unique(name: String, df: DataFrame, keys: Seq[String]) =
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n_checked"),
          sum(col("c") - 1).as("n_violations"))
        .select(lit(name).as("check_name"), col("n_checked"),
          col("n_violations"))
    def refInt(name: String, fact: DataFrame, fk: String,
               dim: DataFrame, pk: String) = {
      val total = fact.agg(count(lit(1)).as("n_checked"))
      val orphans = fact.select(col(fk))
        .join(dim.select(col(pk)).distinct(), col(fk) === col(pk),
          "left_anti")
        .agg(count(lit(1)).as("n_violations"))
      total.crossJoin(orphans)
        .select(lit(name).as("check_name"), col("n_checked"),
          col("n_violations"))
    }
    def domain(name: String, df: DataFrame, ok: Column) =
      df.agg(count(lit(1)).as("n_checked"),
        sum(when(ok, 0L).otherwise(1L)).as("n_violations"))
        .select(lit(name).as("check_name"), col("n_checked"),
          col("n_violations"))
    val li = Tables.lineitem(s, dir)
    val ord = Tables.orders(s, dir)
    val cust = Tables.customer(s, dir)
    unique("pk_lineitem_orderkey_linenumber", li,
      Seq("l_orderkey", "l_linenumber"))
      .unionAll(unique("pk_orders_orderkey", ord, Seq("o_orderkey")))
      .unionAll(refInt("fk_lineitem_orders", li, "l_orderkey",
        ord, "o_orderkey"))
      .unionAll(refInt("fk_orders_customer", ord, "o_custkey",
        cust, "c_custkey"))
      .unionAll(domain("dom_quantity_nonneg", li, col("l_quantity") >= 0.0))
      .unionAll(domain("dom_orderstatus_known", ord,
        col("o_orderstatus").isin("F", "O", "P")))
      .orderBy(col("check_name"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q130_constraint_audit" -> constraintAudit,
    "q127_skipping_report" -> skippingReport,
    "q110_table_checksum" -> tableChecksum,
    "q174_embeddings_checksum" -> embeddingsChecksum,
    "q111_column_profile" -> columnProfile,
    "q117_zorder_cells"   -> zorderCells,
    "q118_outlier_audit"  -> outlierAudit,
    "q120_compaction_plan" -> compactionPlan,
    "q122_merge_upsert"   -> mergeUpsert,
    "q169_time_travel"    -> timeTravel,
    "q170_scd2"           -> scd2,
    "q135_skew_audit"     -> skewAudit
  )

  /** q122's change-log CTEs (base/off/changes) — shared by the q122
    * and q169 oracles exactly as [[changeLog]] is on the Spark side. */
  private val changeLogCtesSql: String =
    """base AS (SELECT doc_id, text FROM documents),
      |off AS (SELECT max(doc_id) + 1 AS off FROM base),
      |changes AS (
      |  SELECT doc_id, 1::BIGINT AS ver, 'U' AS op, 'v1 ' || text AS ctext
      |  FROM base WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id, 2, 'U', 'v2 ' || text FROM base WHERE doc_id % 2 = 0
      |  UNION ALL
      |  SELECT doc_id + off, 2, 'I', 'new ' || text
      |  FROM base, off WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id, 3, 'D', '' FROM base WHERE doc_id % 7 = 0)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q170_scd2" ->
      s"""WITH $changeLogCtesSql,
         |events AS (
         |  SELECT doc_id, 0::BIGINT AS ver, 'B' AS op, text AS ctext
         |  FROM base
         |  UNION ALL SELECT doc_id, ver, op, ctext FROM changes),
         |iv AS (
         |  SELECT doc_id, ver, op, ctext,
         |         COALESCE(lead(ver, 1) OVER (PARTITION BY doc_id
         |             ORDER BY ver), ${Long.MaxValue}) AS ver_to
         |  FROM events)
         |SELECT doc_id, ctext AS text, ver AS ver_from, ver_to,
         |       CASE WHEN ver_to = ${Long.MaxValue} THEN 1
         |            ELSE 0 END::BIGINT AS is_current
         |FROM iv WHERE op <> 'D'
         |ORDER BY doc_id, ver_from""".stripMargin,

    "q169_time_travel" ->
      s"""WITH $changeLogCtesSql,
         |vers AS (SELECT unnest([0, 1, 2, 3])::BIGINT AS v),
         |latest AS (
         |  SELECT vers.v, doc_id, arg_max(op, ver) AS op,
         |         arg_max(ctext, ver) AS ctext
         |  FROM changes JOIN vers ON changes.ver <= vers.v
         |  GROUP BY vers.v, doc_id),
         |state AS (
         |  SELECT COALESCE(bv.v, l.v) AS v,
         |         COALESCE(bv.doc_id, l.doc_id) AS doc_id,
         |         CASE WHEN l.op IS NULL THEN bv.text ELSE l.ctext END AS t2,
         |         l.op
         |  FROM (SELECT vers.v, b.doc_id, b.text FROM base b CROSS JOIN vers) bv
         |  FULL OUTER JOIN latest l ON bv.v = l.v AND bv.doc_id = l.doc_id),
         |live AS (
         |  SELECT v, count(*)::BIGINT AS n_rows,
         |         (sum((('0x' || substr(md5('tt|' || doc_id::VARCHAR
         |            || '|' || t2), 1, 15))::BIGINT)::HUGEINT)
         |           % $CkMod)::BIGINT AS ck
         |  FROM state WHERE op IS NULL OR op <> 'D' GROUP BY v),
         |tomb AS (
         |  SELECT v, count(*)::BIGINT AS n_tomb_c
         |  FROM latest WHERE op = 'D' GROUP BY v)
         |SELECT live.v, n_rows, COALESCE(n_tomb_c, 0)::BIGINT AS n_tomb, ck
         |FROM live LEFT JOIN tomb ON live.v = tomb.v
         |ORDER BY live.v""".stripMargin,
    // NULL cells ride the explicit chr(0)||'NULL' marker (Spark side:
    // the "\u0000NULL" literal) so concat_ws cannot collapse distinct null layouts
        "q174_embeddings_checksum" ->
      s"""SELECT 'embeddings' AS tbl, count(*)::BIGINT AS n_rows,
         |       ${graft.ArtifactStore.embeddingsFpSql} AS sum_digest
         |FROM embeddings""".stripMargin,

"q110_table_checksum" ->
      """WITH ck AS (
        |  SELECT 'documents' AS tbl,
        |    ('0x' || substr(md5('ck|documents|' ||
        |       concat_ws('|',
        |         coalesce(doc_id::VARCHAR, chr(0) || 'NULL'),
        |         coalesce(text, chr(0) || 'NULL'),
        |         coalesce(lang, chr(0) || 'NULL'),
        |         coalesce(source, chr(0) || 'NULL'),
        |         coalesce(n_chars::VARCHAR, chr(0) || 'NULL'))),
        |     1, 15))::BIGINT AS h
        |  FROM documents
        |  UNION ALL
        |  SELECT 'orders',
        |    ('0x' || substr(md5('ck|orders|' ||
        |       concat_ws('|',
        |         coalesce(o_orderkey::VARCHAR, chr(0) || 'NULL'),
        |         coalesce(o_custkey::VARCHAR, chr(0) || 'NULL'),
        |         coalesce(o_orderstatus, chr(0) || 'NULL'))),
        |     1, 15))::BIGINT
        |  FROM orders
        |  UNION ALL
        |  SELECT 'lineitem',
        |    ('0x' || substr(md5('ck|lineitem|' ||
        |       concat_ws('|',
        |         coalesce(l_orderkey::VARCHAR, chr(0) || 'NULL'),
        |         coalesce(l_linenumber::VARCHAR, chr(0) || 'NULL'),
        |         coalesce(l_suppkey::VARCHAR, chr(0) || 'NULL'))),
        |     1, 15))::BIGINT
        |  FROM lineitem)
        |SELECT tbl, count(*)::BIGINT AS n_rows,
        |       (sum(h::HUGEINT) % 2305843009213693951)::BIGINT AS sum_digest,
        |       bit_xor(h)::BIGINT AS xor_digest
        |FROM ck GROUP BY tbl
        |ORDER BY tbl""".stripMargin,

    "q130_constraint_audit" ->
      """WITH u1 AS (
        |  SELECT 'pk_lineitem_orderkey_linenumber' AS check_name,
        |         sum(c)::BIGINT AS n_checked,
        |         sum(c - 1)::BIGINT AS n_violations
        |  FROM (SELECT count(*) AS c FROM lineitem
        |        GROUP BY l_orderkey, l_linenumber)),
        |u2 AS (
        |  SELECT 'pk_orders_orderkey',
        |         sum(c)::BIGINT, sum(c - 1)::BIGINT
        |  FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)),
        |f1 AS (
        |  SELECT 'fk_lineitem_orders',
        |         (SELECT count(*) FROM lineitem)::BIGINT,
        |         (SELECT count(*) FROM lineitem
        |          WHERE l_orderkey NOT IN
        |            (SELECT DISTINCT o_orderkey FROM orders))::BIGINT),
        |f2 AS (
        |  SELECT 'fk_orders_customer',
        |         (SELECT count(*) FROM orders)::BIGINT,
        |         (SELECT count(*) FROM orders
        |          WHERE o_custkey NOT IN
        |            (SELECT DISTINCT c_custkey FROM customer))::BIGINT),
        |d1 AS (
        |  SELECT 'dom_quantity_nonneg', count(*)::BIGINT,
        |         sum(CASE WHEN l_quantity >= 0 THEN 0 ELSE 1 END)::BIGINT
        |  FROM lineitem),
        |d2 AS (
        |  SELECT 'dom_orderstatus_known', count(*)::BIGINT,
        |         sum(CASE WHEN o_orderstatus IN ('F', 'O', 'P')
        |             THEN 0 ELSE 1 END)::BIGINT
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT * FROM u1 UNION ALL SELECT * FROM u2
        |  UNION ALL SELECT * FROM f1 UNION ALL SELECT * FROM f2
        |  UNION ALL SELECT * FROM d1 UNION ALL SELECT * FROM d2)
        |ORDER BY check_name""".stripMargin,

    "q127_skipping_report" -> {
      val nb = 1L << ZBits
      val inter = (0 until ZBits).map(b =>
        s"(((bp >> $b) & 1) << ${2 * b}) + (((bs >> $b) & 1) << ${2 * b + 1})")
        .mkString(" + ")
      s"""WITH ext0 AS (
         |  SELECT min(l_partkey) pmn, max(l_partkey) pmx,
         |         min(l_suppkey) smn, max(l_suppkey) smx
         |  FROM lineitem),
         |b AS (
         |  SELECT l_partkey, l_suppkey,
         |         ((l_partkey - pmn) * $nb) // (pmx - pmn + 1) AS bp,
         |         ((l_suppkey - smn) * $nb) // (smx - smn + 1) AS bs
         |  FROM lineitem, ext0),
         |cells AS (
         |  SELECT CAST($inter AS BIGINT) AS zcell, count(*)::BIGINT AS n,
         |         min(l_partkey) AS min_p, max(l_partkey) AS max_p,
         |         min(l_suppkey) AS min_s, max(l_suppkey) AS max_s
         |  FROM b GROUP BY zcell),
         |ext AS (
         |  SELECT min(min_p) pmn, max(max_p) pmx,
         |         min(min_s) smn, max(max_s) smx
         |  FROM cells),
         |workload AS (
         |  SELECT 'l_partkey' AS pred_col, u.b::BIGINT AS b,
         |         pmn + (u.b * (pmx - pmn + 1)) // 8 AS lo,
         |         pmn + ((u.b + 1) * (pmx - pmn + 1)) // 8 - 1 AS hi
         |  FROM ext, unnest(range(0, 8)) AS u(b)
         |  UNION ALL
         |  SELECT 'l_suppkey', u.b::BIGINT,
         |         smn + (u.b * (smx - smn + 1)) // 8,
         |         smn + ((u.b + 1) * (smx - smn + 1)) // 8 - 1
         |  FROM ext, unnest(range(0, 8)) AS u(b)),
         |tot AS (
         |  SELECT count(*)::BIGINT AS cells_total, sum(n)::BIGINT AS rows_total
         |  FROM cells)
         |SELECT w.pred_col, w.b, w.lo, w.hi,
         |       count(*)::BIGINT AS cells_scanned,
         |       sum(c.n)::BIGINT AS rows_scanned,
         |       tot.cells_total, tot.rows_total
         |FROM workload w
         |JOIN cells c
         |  ON CASE WHEN w.pred_col = 'l_partkey'
         |          THEN c.min_p <= w.hi AND c.max_p >= w.lo
         |          ELSE c.min_s <= w.hi AND c.max_s >= w.lo END,
         |tot
         |GROUP BY w.pred_col, w.b, w.lo, w.hi, tot.cells_total, tot.rows_total
         |ORDER BY pred_col, b""".stripMargin
    },

    "q135_skew_audit" -> {
      // ties on max_cnt break to the LARGER key string — the window
      // mirror of the Spark side's max(struct(c, k)) arg-max
      def one(i: Int, name: String, tbl: String, key: String) =
        (s"""cnt$i AS (
            |  SELECT $key::VARCHAR AS k, count(*)::BIGINT AS c
            |  FROM $tbl GROUP BY 1)""".stripMargin,
          s"""SELECT '$name' AS key_col, sum(c)::BIGINT AS n_rows,
             |       count(*)::BIGINT AS n_keys, max(c)::BIGINT AS max_cnt,
             |       (SELECT k FROM cnt$i ORDER BY c DESC, k DESC LIMIT 1)
             |         AS top_key
             |FROM cnt$i""".stripMargin)
      val parts = Seq(
        one(1, "lineitem.l_orderkey", "lineitem", "l_orderkey"),
        one(2, "lineitem.l_partkey", "lineitem", "l_partkey"),
        one(3, "lineitem.l_suppkey", "lineitem", "l_suppkey"),
        one(4, "events.user_id", "events", "user_id"),
        one(5, "events.event_type", "events", "event_type"))
      s"""WITH ${parts.map(_._1).mkString(",\n")}
         |${parts.map(_._2).mkString("\nUNION ALL\n")}
         |ORDER BY key_col""".stripMargin
    },

    "q122_merge_upsert" ->
      s"""WITH $changeLogCtesSql,
        |latest AS (
        |  SELECT doc_id, max(ver)::BIGINT AS ver,
        |         arg_max(op, ver) AS op, arg_max(ctext, ver) AS ctext
        |  FROM changes GROUP BY doc_id)
        |SELECT doc_id,
        |       CASE WHEN op IS NULL THEN text ELSE ctext END AS text,
        |       COALESCE(op, 'K') AS last_op,
        |       COALESCE(ver, 0) AS ver
        |FROM base FULL OUTER JOIN latest USING (doc_id)
        |WHERE op IS NULL OR op <> 'D'
        |ORDER BY doc_id""".stripMargin,

    "q117_zorder_cells" -> {
      val nb = 1L << ZBits
      val inter = (0 until ZBits).map(b =>
        s"(((bp >> $b) & 1) << ${2 * b}) + (((bs >> $b) & 1) << ${2 * b + 1})")
        .mkString(" + ")
      s"""WITH ext AS (
         |  SELECT min(l_partkey) pmn, max(l_partkey) pmx,
         |         min(l_suppkey) smn, max(l_suppkey) smx
         |  FROM lineitem),
         |b AS (
         |  SELECT l_partkey, l_suppkey,
         |         ((l_partkey - pmn) * $nb) // (pmx - pmn + 1) AS bp,
         |         ((l_suppkey - smn) * $nb) // (smx - smn + 1) AS bs
         |  FROM lineitem, ext)
         |SELECT CAST($inter AS BIGINT) AS zcell, count(*)::BIGINT AS n,
         |       min(l_partkey) AS min_p, max(l_partkey) AS max_p,
         |       min(l_suppkey) AS min_s, max(l_suppkey) AS max_s
         |FROM b
         |GROUP BY zcell
         |ORDER BY zcell""".stripMargin
    },

    "q120_compaction_plan" -> {
      val nb = 1L << ZBits
      val inter = (0 until ZBits).map(b =>
        s"(((bp >> $b) & 1) << ${2 * b}) + (((bs >> $b) & 1) << ${2 * b + 1})")
        .mkString(" + ")
      s"""WITH ext AS (
         |  SELECT min(l_partkey) pmn, max(l_partkey) pmx,
         |         min(l_suppkey) smn, max(l_suppkey) smx
         |  FROM lineitem),
         |b AS (
         |  SELECT ((l_partkey - pmn) * $nb) // (pmx - pmn + 1) AS bp,
         |         ((l_suppkey - smn) * $nb) // (smx - smn + 1) AS bs
         |  FROM lineitem, ext),
         |cells AS (
         |  SELECT CAST($inter AS BIGINT) AS zcell, count(*)::BIGINT AS n
         |  FROM b GROUP BY zcell),
         |t AS (SELECT sum(n)::BIGINT AS total FROM cells),
         |c AS (
         |  SELECT zcell, n,
         |         COALESCE(sum(n) OVER (ORDER BY zcell
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |           AS cum_before,
         |         greatest(1, (total + 7) // 8) AS budget
         |  FROM cells, t)
         |SELECT zcell, n, (cum_before // budget)::BIGINT AS file_id
         |FROM c
         |ORDER BY zcell""".stripMargin
    },

    "q118_outlier_audit" ->
      """WITH x AS (
        |  SELECT event_type AS grp,
        |         ((value::DECIMAL(18,2)) * 100)::BIGINT AS c
        |  FROM events),
        |st AS (
        |  SELECT grp, count(*)::BIGINT AS n,
        |         sum(c::HUGEINT) AS s, sum(c::HUGEINT * c::HUGEINT) AS q
        |  FROM x GROUP BY grp)
        |SELECT x.grp, any_value(n) AS n,
        |       sum(CASE WHEN (n*c::HUGEINT - s)*(n*c::HUGEINT - s) > 9*(n*q - s*s)
        |                 AND n*c::HUGEINT - s > 0 THEN 1 ELSE 0 END)::BIGINT
        |         AS n_out_hi,
        |       sum(CASE WHEN (n*c::HUGEINT - s)*(n*c::HUGEINT - s) > 9*(n*q - s*s)
        |                 AND n*c::HUGEINT - s < 0 THEN 1 ELSE 0 END)::BIGINT
        |         AS n_out_lo
        |FROM x JOIN st USING (grp)
        |GROUP BY x.grp
        |ORDER BY grp""".stripMargin,

    "q111_column_profile" ->
      """WITH cols AS (
        |  SELECT 'event_type' AS col_name, event_type::VARCHAR AS v
        |  FROM events
        |  UNION ALL
        |  SELECT 'user_id', user_id::VARCHAR FROM events
        |  UNION ALL
        |  SELECT 'value', (value::DECIMAL(18,2))::VARCHAR FROM events
        |  UNION ALL
        |  SELECT 'props', props FROM events),
        |counts AS (
        |  SELECT col_name, count(*)::BIGINT AS n,
        |         sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null
        |  FROM cols GROUP BY col_name),
        |h AS (
        |  SELECT DISTINCT col_name,
        |    ('0x' || substr(md5('prof|' || col_name || '|' || v),
        |     1, 15))::BIGINT AS h
        |  FROM cols WHERE v IS NOT NULL),
        |r AS (SELECT col_name, h,
        |        row_number() OVER (PARTITION BY col_name ORDER BY h) AS rn
        |      FROM h),
        |sk AS (SELECT col_name, count(*)::BIGINT AS k_used, max(h) AS kth_hash
        |       FROM r WHERE rn <= 64 GROUP BY col_name),
        |t AS (SELECT col_name, count(DISTINCT v)::BIGINT AS true_distinct
        |      FROM cols WHERE v IS NOT NULL GROUP BY col_name),
        |e AS (
        |  SELECT c.col_name, c.n, c.n_null, s.k_used,
        |    CASE WHEN s.k_used < 64 THEN s.k_used::DOUBLE
        |         ELSE 63.0::DOUBLE /
        |           (s.kth_hash::DOUBLE /
        |            CAST(1152921504606846976 AS DOUBLE)) END AS est_distinct,
        |    t.true_distinct
        |  FROM counts c JOIN sk s USING (col_name) JOIN t USING (col_name))
        |SELECT col_name, n, n_null, k_used, est_distinct, true_distinct,
        |       (est_distinct - true_distinct::DOUBLE) / true_distinct::DOUBLE
        |         AS rel_err
        |FROM e ORDER BY col_name""".stripMargin
  )
}
