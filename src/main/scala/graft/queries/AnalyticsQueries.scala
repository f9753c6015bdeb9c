package graft.queries

import graft.Tables
import graft.llm.VectorOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType}

/** Round-3 analytics surface: the remaining operator families a
  * 100 TB training-data engine needs beyond the reference's own ops —
  * substring-level dedup (Lee et al. 2021's "Deduplicating Training
  * Data" at 8-gram granularity), sketch-based distinct counting (KMV,
  * Bar-Yossef et al. 2002), hybrid lexical+vector retrieval (RRF,
  * Cormack et al. 2009), iterative graph analytics (PageRank as an
  * exact integer fixpoint), statistical LM quality filtering
  * (CCNet-style, Wenzek et al. 2020, with a rational probability so it
  * exact-oracles), and batch sessionization.
  *
  * Everything here follows the repo-wide oracle rules (README/SURVEY
  * §5.1): md5-60-bit hashes for all randomness, integer or
  * integer-ratio arithmetic wherever floats would drift, DECIMAL(18,9)
  * staging before any float sum, total ORDER BY, NULL-free output.
  */
object AnalyticsQueries {

  private def toks = split(trim(col("text")), "\\s+")

  /** 60-bit md5 hash keyed by a query-local tag — the engine-wide
    * deterministic-randomness idiom (q83/q85/q87), via the native
    * codegen'd graft_h60 (bit-identical to the oracle-side SQL chain
    * `('0x' || substr(md5(x), 1, 15))::BIGINT`). */
  private def h60(tag: String, c: org.apache.spark.sql.Column) =
    call_function("graft_h60", concat(lit(tag + "|"), c.cast("string")))

  // ---------------------------------------------------------------- q88

  /** Duplicated-span gram length: 8 word-grams ≈ the 50-token threshold
    * of Lee et al. scaled to this corpus's ~54-token documents. */
  private val SpanGram = 8

  /** Positional 8-gram occurrences over ANY (doc_id, text) frame —
    * the `gram_occ8_v1` build thunk and the parity specs' reference
    * arm: one (doc_id, pos, g) row per gram START position (the
    * positional twin of the distinct `shingle_hashes8_v1` rows; the
    * substring family needs positions for coverage/excision/runs,
    * the containment family only membership). */
  private def gramOccFor(docsIn: DataFrame): DataFrame = {
    val docs = docsIn.select(col("doc_id"), toks.as("w"))
    docs
      .select(col("doc_id"), col("w"), explode(expr(
        s"CASE WHEN size(w) >= $SpanGram THEN sequence(0, size(w) - $SpanGram) " +
          "ELSE CAST(array() AS ARRAY<INT>) END")).as("pos"))
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
        call_function("graft_h60",
          expr(s"concat_ws(' ', slice(w, pos + 1, $SpanGram))")).as("g"))
  }

  /** The corpus's positional 8-gram occurrences (`gram_occ8_v1`,
    * documents fingerprint) — the substring-dedup family's shared
    * input: q88 (coverage), q98 (excision), q196 (longest run), and
    * the `dup_edges_v1` build all re-exploded and re-hashed the
    * corpus text per query. Rows are doc-local, so the store is
    * DELTA-GENERATIONAL like `shingle_hashes8_v1` (an append explodes
    * only the appended docs; the rest hard-carries by bucket). The r3
    * recompute-over-persist note on q88 adjudicated executor-memory
    * `persist()` of ~|tokens| rows, which would spill at corpus
    * scale; a parquet generation is disk-resident, column-pruned at
    * every consumer's scan, and amortized across the family — the
    * same storage posture as `winnow_fp_v1` (also O(corpus-token)
    * rows), at 100 TB a deliberate substring-index spend (Lee et
    * al.'s suffix arrays materialize strictly more). In the takedown
    * cascade like every documents-derived key. */
  private[queries] def gramOcc(s: SparkSession, dir: String): DataFrame =
    graft.ArtifactStore.documentsDeltaArtifact(s, dir, "gram_occ8_v1")(
      gramOccFor)

  /** The from-scratch occurrence derivation (spec reference arm). */
  private[queries] def gramOccDirect(s: SparkSession, dir: String): DataFrame =
    gramOccFor(Tables.documents(s, dir))

  /** Per-gram corpus statistics of the duplicated 8-grams
    * (`gram_stats8_v1`, documents fingerprint): for every gram in ≥ 2
    * distinct docs, the distinct-doc count `nd` and the packed
    * corpus-first occurrence `fk` (min over doc_id·2²¹ + pos — q98's
    * keep-one-copy arg-min). ONE groupBy of the occurrence store per
    * CORPUS replaces the identical corpus-global shuffle q88, q98,
    * q196, and the dup_edges build each ran per query: q88/q196
    * filter it to the dup set, q98 joins `fk`, dup_edges caps `nd`.
    * Derives FROM gram_occ8_v1 (the cluster_labels_v1 pattern); both
    * die together in the takedown cascade.
    *
    * Append posture: a corpus append re-runs this groupBy over the
    * (delta-carried) occurrence store — an O(|occ|) columnar scan of
    * 3 BIGINT columns, never a corpus-text re-explode. A mergeable
    * form (keep nd ≥ 1 rows; append = union + re-agg, nd sums and fk
    * mins over disjoint doc sets) was considered and rejected: most
    * 8-grams are unique, so |all-grams| ≈ |occ| and the merge shuffle
    * is the same order as the re-aggregation — at double the storage
    * and a consumer-side nd≥2 filter. Unlike the doc-bucketed carries,
    * gram-keyed deltas hash into every bucket, so no layout makes the
    * append sub-linear in the store. */
  private[queries] def gramStats(s: SparkSession, dir: String): DataFrame =
    graft.ArtifactStore.documentsArtifact(s, dir, "gram_stats8_v1")(
      gramOcc(s, dir)
        .groupBy(col("g"))
        .agg(countDistinct(col("doc_id")).as("nd"),
          min(col("doc_id") * lit(PosPack) + col("pos")).as("fk"))
        .where(col("nd") >= 2))

  /** q88 — duplicated-substring coverage (substring-level dedup, the
    * step document-level MinHash misses: boilerplate headers, quoted
    * replies, license blocks duplicated INSIDE otherwise-unique docs).
    * Every word-8-gram is hashed; a gram occurring in ≥ 2 distinct
    * documents is duplicated; each document is scored by the fraction
    * of its token span covered by the union of its duplicated-gram
    * intervals [i, i+7] — the interval union computed with one lag
    * window (intervals all have length 8 and arrive sorted by start,
    * so each contributes min(8, start − prev_start) new tokens).
    *
    * Scale shape: grams shuffle as 8-byte hashes, never text; the
    * duplicated-gram set joins back on the same 8-byte key (shuffle
    * join — at corpus scale this set is NOT broadcastable, unlike
    * q81's frequency-capped boilerplate set); the coverage window is
    * doc_id-partitioned. Nothing global, nothing quadratic.
    */
  def dupSpans(s: SparkSession, dir: String): DataFrame = {
    // fully store-served since r17: occurrences from gram_occ8_v1,
    // the dup-gram set from gram_stats8_v1, token counts from the
    // doclens store (dl is the size of the SAME whitespace split) —
    // zero corpus text I/O per query; the oracle recomputes from the
    // corpus, so the gate proves the stores, not just the build
    val lens = CurationQueries.doclenArtifact(s, dir)
      .select(col("doc_id"), col("dl").as("n_tok"))
    val occ = gramOcc(s, dir)
    val dup = gramStats(s, dir).select(col("g"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val cov = occ.join(dup, Seq("g"))
      .withColumn("prev", lag(col("pos"), 1).over(w))
      .withColumn("add", when(col("prev").isNull, lit(SpanGram.toLong))
        .otherwise(least(lit(SpanGram.toLong), col("pos") - col("prev"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_grams"), sum(col("add")).as("covered"))
    lens.join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("covered"), lit(0L)).as("covered"))
      .withColumn("dup_frac",
        col("covered").cast(DoubleType) / col("n_tok").cast(DoubleType))
      .withColumn("keep", col("dup_frac") < 0.2)
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q188

  /** Winnowing dials (Schleimer, Wilkerson & Aiken 2003, the MOSS
    * fingerprint): k = 4-token grams, window w = 4 — any shared run of
    * t = w + k − 1 = 7 tokens is GUARANTEED to share a fingerprint,
    * expected density 2/(w+1) = 0.4 of the gram count. */
  private val WinnowK = 4
  private val WinnowW = 4
  // 40-bit gram hash leaves headroom for the 21-bit PosPack in a
  // signed 64-bit pack (a full 60-bit graft_h60 would overflow it)
  private val WinnowHashMod = 1L << 40

  /** The winnowing SELECTION as a doc-local plan fragment: distinct
    * (doc_id, pack) — one pack per selected position, the rightmost
    * minimal hash of each full w-window via the PosPack windowed min.
    * Runs over ANY (doc_id, text) frame: the [[winnowFpArtifact]]
    * build derives exactly the appended docs through it, the
    * [[graft.streaming.StreamWinnow]] maintainer applies it per
    * micro-batch (selection is doc-local — windows never span
    * documents — so batch splits cannot change a doc's fingerprints),
    * and the parity specs re-run it inline. */
  private[graft] def winnowSelFor(docsIn: DataFrame): DataFrame = {
    val docs = docsIn.select(col("doc_id"), toks.as("w"))
    val occ = docs
      .select(col("doc_id"), col("w"), explode(expr(
        s"CASE WHEN size(w) >= $WinnowK THEN sequence(0, size(w) - $WinnowK) " +
          "ELSE CAST(array() AS ARRAY<INT>) END")).as("pos"))
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
        (call_function("graft_h60",
          expr(s"concat_ws(' ', slice(w, pos + 1, $WinnowK))"))
          % WinnowHashMod).as("h"))
    val byDoc = Window.partitionBy(col("doc_id"))
    val frame = byDoc.orderBy(col("pos"))
      .rowsBetween(Window.currentRow, WinnowW - 1)
    occ
      .withColumn("pk", col("h") * PosPack + (lit(PosPack - 1) - col("pos")))
      .withColumn("maxpos", max(col("pos")).over(byDoc))
      .withColumn("wmin", min(col("pk")).over(frame))
      .where(col("pos") <= col("maxpos") - (WinnowW - 1)) // full windows only
      .select(col("doc_id"), col("wmin")).distinct()
  }

  /** The corpus's winnowed fingerprint selection (`winnow_fp_v1`,
    * documents fingerprint): one row per distinct (doc_id, wmin pack)
    * the MOSS scheme selects — THE sampled dup index a 100 TB corpus
    * persists (r14 verdict item 1: every sibling dup-index family —
    * shingles, signatures, postings — was bucket-carried with a
    * streaming twin while q188/q191 re-winnowed the corpus per query).
    * DELTA-GENERATIONAL: the selection is doc-local (hash windows
    * never span documents), so a corpus append winnows only the
    * appended docs and hard-link-carries every untouched doc_id bucket
    * ([[graft.ArtifactStore.documentsDeltaArtifact]]); in the takedown
    * cascade like every documents-derived key; its live twin is the
    * [[graft.streaming.StreamWinnow]] store (same plan fragment per
    * micro-batch, spec-pinned row-for-row equal). */
  private[graft] def winnowFpArtifact(s: SparkSession, dir: String): DataFrame =
    graft.ArtifactStore.documentsDeltaArtifact(s, dir, "winnow_fp_v1")(
      winnowSelFor)

  /** The selection as q188/q191 consume it — served from the
    * [[winnowFpArtifact]] store, never re-derived from the corpus. */
  private def winnowSel(s: SparkSession, dir: String): DataFrame =
    winnowFpArtifact(s, dir)

  /** Distinct (doc_id, fingerprint-hash) — [[winnowSel]] unpacked. */
  private[graft] def winnowSelH(s: SparkSession, dir: String): DataFrame =
    winnowSel(s, dir).select(col("doc_id"),
      expr(s"wmin DIV $PosPack").as("h")).distinct()

  /** (doc_id, n_grams) over ANY (doc_id, text) frame — the doc-local
    * gram-count fragment the [[graft.streaming.StreamWinnow]] lens
    * store runs per micro-batch; batch q188 reads the same quantity
    * off the doclens artifact (dl over the identical split). */
  private[graft] def winnowGramsFor(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      greatest(size(toks).cast(LongType) - lit((WinnowK - 1).toLong),
        lit(0L)).as("n_grams"))

  /** [[winnowSelH]]'s unpack over ANY (doc_id, wmin) selection frame. */
  private[graft] def winnowUnpackH(sel: DataFrame): DataFrame =
    sel.select(col("doc_id"),
      expr(s"wmin DIV $PosPack").as("h")).distinct()

  /** q188 — winnowed document fingerprints: q88/q98 index EVERY
    * duplicated gram, which is exact but stores one row per token; a
    * 100 TB dup index wants the published sampling scheme instead.
    * Winnowing slides a w-window over the k-gram hashes and keeps each
    * window's RIGHTMOST MINIMAL hash — position-robust (an insertion
    * far from a span cannot change which of its hashes are picked) with
    * the t = w+k−1 guarantee, at ~2/(w+1) of the full index. Output
    * per doc: gram count, fingerprint count, how many fingerprints are
    * shared with ≥1 other doc (the dup signal the sampled index still
    * sees), and the density the 2/(w+1) theory predicts.
    *
    * The rightmost-minimum selection is ONE windowed min over the
    * PosPack trick (q98's idiom, flipped): pack = h·2²¹ + (2²¹−1−pos)
    * — min() picks the smallest hash and breaks ties toward the
    * LARGEST position, exactly the winnowing tie rule, with no
    * per-window sort or argmin UDF on either engine.
    *
    * Scale shape: one doc_id-partitioned window pass (the same
    * partitioning the per-doc counts reuse — one shuffle end to end on
    * the fingerprint arm); the shared-fingerprint set groups 8-byte
    * hashes, never text. Nothing quadratic, nothing global. SERVED
    * (r15): the selection reads the bucket-carried `winnow_fp_v1`
    * store and the gram counts the `doclens_v1` store — a query run
    * touches zero corpus text; appends re-winnow only the delta. */
  def winnowFingerprint(s: SparkSession, dir: String): DataFrame =
    // both arms artifact-served (r15): the selection from winnow_fp_v1,
    // the gram counts off the doclens store (dl = size over the same
    // unfiltered whitespace split) — zero corpus text I/O per query
    winnowFingerprintOver(
      CurationQueries.doclenArtifact(s, dir).select(col("doc_id"),
        greatest(col("dl") - lit((WinnowK - 1).toLong), lit(0L))
          .as("n_grams")),
      winnowSel(s, dir))

  /** q188's scoring tail over ANY ((doc_id, n_grams), (doc_id, wmin))
    * feed pair — the batch artifacts or the [[graft.streaming
    * .StreamWinnow]] live stores (one scorer, two feeds — the
    * keynessOver idiom): the live dup board and the nightly audit can
    * disagree only on recency. */
  private[graft] def winnowFingerprintOver(grams: DataFrame,
                                           sel: DataFrame): DataFrame = {
    // r17: one (doc_id, h)-grained aggregation feeds all three score
    // inputs instead of three independent passes over the selection
    // (distinct, per-doc count, distinct-again + shared join) — the
    // grain is exactly selH with the duplicate multiplicity kept, so
    // n_fp = Σc, the shared set groups the same distinct keys, and
    // per-doc shared counts join the same rows (outputs identical;
    // WinnowSpec + the live-twin spec pin both feeds). Persisting the
    // small grain lets the three tiny aggregations share it (guide §5).
    val dc = sel.select(col("doc_id"), expr(s"wmin DIV $PosPack").as("h"))
      .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("c"))
      .persist()
    val shared = dc.groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2).select(col("h"))
    val perDoc = dc.groupBy(col("doc_id")).agg(sum(col("c")).as("n_fp"))
    val perShared = dc.join(shared, Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    grams
      .join(perDoc, Seq("doc_id"), "left")
      .join(perShared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(col("n_grams") > 0,
          coalesce(col("n_fp"), lit(0L)).cast(DoubleType) /
            col("n_grams").cast(DoubleType))
          .otherwise(lit(0.0)).as("fp_density"))
      .orderBy(col("doc_id"))
  }

  // q191 dials: report pairs sharing at least MinSharedFp fingerprints,
  // with fingerprints in more than MaxFpDf docs excluded from pairing
  // (the MOSS boilerplate exclusion — an over-common fingerprint is
  // template, not copying, and it is also the join's fan-out bound).
  private val MinSharedFp = 3L
  private val MaxFpDf = 10L

  /** Oracle-side winnow chain shared by q191/q195 (and q188's selection
    * half): corpus → k-gram hashes → PosPack windowed min → distinct
    * selection → df-capped pairing with the shared-count floor. */
  private def winnowPairsCtesSql: String =
    s"""d AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
       |  FROM documents),
       |pos AS (
       |  SELECT doc_id, w, unnest(
       |    CASE WHEN len(w) >= $WinnowK
       |         THEN range(0, len(w) - ${WinnowK - 1}) ELSE [] END) AS pos
       |  FROM d),
       |occ AS (
       |  SELECT doc_id, pos::BIGINT AS pos,
       |    (('0x' || substr(md5(array_to_string(
       |       list_slice(w, pos + 1, pos + $WinnowK), ' ')), 1, 15))::BIGINT
       |     % $WinnowHashMod) AS h
       |  FROM pos),
       |pk AS (
       |  SELECT doc_id, pos,
       |         h * 2097152 + (2097151 - pos) AS pk,
       |         max(pos) OVER (PARTITION BY doc_id) AS maxpos
       |  FROM occ),
       |wm AS (
       |  SELECT doc_id, pos, maxpos,
       |         min(pk) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS wmin
       |  FROM pk),
       |sel AS (
       |  SELECT DISTINCT doc_id, wmin FROM wm
       |  WHERE pos <= maxpos - ${WinnowW - 1}),
       |selh AS (SELECT DISTINCT doc_id, wmin // 2097152 AS h FROM sel),
       |perdoc AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_fp FROM selh GROUP BY doc_id),
       |rare AS (
       |  SELECT h FROM selh GROUP BY h HAVING count(*) <= $MaxFpDf),
       |pruned AS (SELECT selh.doc_id, selh.h FROM selh JOIN rare USING (h)),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         count(*)::BIGINT AS n_shared
       |  FROM pruned a JOIN pruned b
       |    ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |  HAVING count(*) >= $MinSharedFp)""".stripMargin

  /** q191 — winnowed match report, q188's actionable twin (the MOSS
    * use case: which document PAIRS share fingerprints, and how much):
    * pairs form by equi-join on the SAMPLED fingerprint hash — the
    * LSH-band candidate shape, never all-pairs — with over-common
    * fingerprints (df > [[MaxFpDf]]) excluded before pairing, which is
    * both MOSS's template exclusion and the hard per-key fan-out bound
    * the join needs at corpus scale. Each surviving pair reports its
    * shared-fingerprint count and the overlap coefficient
    * shared / min(|fp_a|, |fp_b|) (rational — exact cross-engine).
    * q88→q98 is measure→repair for full-gram spans; q188→q191 is the
    * same pairing for the sampled index. */
  def winnowMatches(s: SparkSession, dir: String): DataFrame =
    winnowPairsArtifact(s, dir)
      .orderBy(col("doc_a"), col("doc_b"))

  /** The winnow match REPORT as a persistent corpus artifact
    * (`winnow_pairs_v1`, documents fingerprint — minhash_pairs_v1's
    * discipline applied to the sampled index): the df-capped pairing
    * join runs once per CORPUS and q191 (the report), q195 (the
    * clusters), and q199 (the source matrix) read the tiny pair
    * parquet instead of re-pairing per query. DELTA ON PURE APPEND
    * (r15 verdict item 1 — the store used to rebuild the full pairing
    * per generation because rows are PAIR-local): under an append the
    * old-old pairs are derivable from the prior generation, so the
    * build pairs only the delta ([[winnowPairsDelta]] — O(delta ×
    * df-capped postings), never O(corpus²-collisions)); removals and
    * in-place changes demote to one full rebuild
    * ([[graft.ArtifactStore.documentsPairArtifact]]'s dispatch —
    * deliberately NOT the pure-union families' anti-join purge: the
    * df cap EVICTS a pair's contributions when a hash's support
    * crosses MaxFpDf, and a removal that drops support back under the
    * cap must resurrect contributions the store no longer holds —
    * eviction is not invertible from the stored rows). In
    * the takedown cascade; oracles recompute from the corpus in SQL,
    * unchanged. */
  private[graft] def winnowPairsArtifact(s: SparkSession,
                                         dir: String): DataFrame =
    graft.ArtifactStore.documentsPairArtifact(s, dir, "winnow_pairs_v1")(
      winnowMatchesOver(winnowSelH(s, dir)))(
      winnowPairsDelta(s, dir))

  /** The append-incremental pairing algebra (r15 verdict item 1): a
    * pure append can change the stored pairs in exactly three ways,
    * each computable without re-pairing old-old —
    *
    *  1. fingerprints whose doc frequency CROSSED the [[MaxFpDf]] cap
    *     (df_old ≤ cap < df_new; df never decreases under append)
    *     leave the index — every old-old pair loses their shared
    *     counts (a bounded decrement join: ≤ cap old docs per crossed
    *     hash), and a pair falling under [[MinSharedFp]] is evicted;
    *  2. pairs involving a DELTA doc form by (delta fingerprints ⋈
    *     old postings on touched, still-kept hashes) ∪ (delta ⋈
    *     delta) — the only place new pairs can appear (old docs'
    *     selections are untouched, and pruning only shrinks);
    *  3. everything else carries verbatim (n_a/n_b are per-doc
    *     selection counts — unchanged for old docs; the overlap
    *     recompute is the identical expression over identical longs,
    *     so carried values stay bit-equal).
    *
    * Touched hashes (those a delta doc holds) bound every frame here:
    * df is recomputed ONLY for them (df_new = df_old + df_delta), and
    * the pairing join's delta side is the appended docs' fingerprints.
    * The selection itself comes from the delta-carried `winnow_fp_v1`
    * store — no corpus text is read. */
  private def winnowPairsDelta(s: SparkSession, dir: String)
                              (prior: DataFrame,
                               newIds: DataFrame): DataFrame = {
    val selH = winnowSelH(s, dir)
    val selNew = selH.join(newIds, Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val touched = selNew.select(col("h")).distinct()
    val selOldT = selH.join(newIds, Seq("doc_id"), "left_anti")
      .join(touched, Seq("h"), "left_semi").localCheckpoint()
    val dfOld = selOldT.groupBy(col("h")).agg(count(lit(1)).as("df_old"))
    val dfT = selNew.groupBy(col("h")).agg(count(lit(1)).as("df_delta"))
      .join(dfOld, Seq("h"), "left")
      .select(col("h"), coalesce(col("df_old"), lit(0L)).as("df_old"),
        (coalesce(col("df_old"), lit(0L)) + col("df_delta")).as("df_tot"))
    // 1. crossed hashes: decrement the prior pairs that counted them
    val crossed = dfT
      .where(col("df_old") <= MaxFpDf && col("df_tot") > MaxFpDf)
      .select(col("h"))
    val crossPost = selOldT.join(crossed, Seq("h"), "left_semi")
    val dec = crossPost.as("a").join(crossPost.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_drop"))
    val oldKept = prior
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("n_a"), col("n_b"))
      .join(dec, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        (col("n_shared") - coalesce(col("n_drop"), lit(0L))).as("n_shared"),
        col("n_a"), col("n_b"))
      .where(col("n_shared") >= MinSharedFp)
    // 2. pairs involving a delta doc, over still-kept touched hashes
    val kept = dfT.where(col("df_tot") <= MaxFpDf).select(col("h"))
    val pn = selNew.join(kept, Seq("h"), "left_semi")
    val po = selOldT.join(kept, Seq("h"), "left_semi")
    val fresh = pn.as("a").join(po.as("b"), col("a.h") === col("b.h"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .unionByName(pn.as("a").join(pn.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= MinSharedFp)
    val ids = fresh.select(col("doc_a").as("doc_id"))
      .unionByName(fresh.select(col("doc_b").as("doc_id"))).distinct()
    val perDoc = selH.join(ids, Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val freshFull = fresh
      .join(perDoc.select(col("doc_id").as("doc_a"), col("n_fp").as("n_a")),
        Seq("doc_a"))
      .join(perDoc.select(col("doc_id").as("doc_b"), col("n_fp").as("n_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("n_a"), col("n_b"))
    // 3. carried ∪ fresh, with the overlap recomputed uniformly (the
    // identical expression over identical longs — bit-equal carry)
    oldKept.unionByName(freshFull)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        (col("n_shared").cast(DoubleType) /
          least(col("n_a"), col("n_b")).cast(DoubleType)).as("overlap"))
  }

  /** q191's pairing tail over ANY distinct (doc_id, h) fingerprint
    * feed — the batch artifact's projection or the live
    * [[graft.streaming.StreamWinnow]] store. */
  private[graft] def winnowMatchesOver(selH: DataFrame): DataFrame = {
    val perDoc = selH.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val rare = selH.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .where(col("df") <= MaxFpDf).select(col("h"))
    val pruned = selH.join(rare, Seq("h"))
    val pairs = pruned.as("a").join(pruned.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= MinSharedFp)
    pairs
      .join(perDoc.select(col("doc_id").as("doc_a"), col("n_fp").as("n_a")),
        Seq("doc_a"))
      .join(perDoc.select(col("doc_id").as("doc_b"), col("n_fp").as("n_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        (col("n_shared").cast(DoubleType) /
          least(col("n_a"), col("n_b")).cast(DoubleType)).as("overlap"))
  }
  // NB: no presentation orderBy here — the winnow_pairs_v1 artifact
  // build consumes this frame, and a global sort whose order parquet
  // discards anyway would be dead build-time weight (the radiusExactArm
  // lesson); the presentation consumers (q191's artifact read, the
  // live matchesBoard) sort for themselves.

  /** q195 — dup clusters from the SAMPLED index: connected components
    * over q191's winnow match pairs, completing measure → pair →
    * REPAIR for the winnowed family (q188 measures, q191 names the
    * pairs, q195 hands a curation run the cluster labels its
    * keep-one-per-component policy acts on — exactly what q73 does for
    * the MinHash family, served from the sampled index instead).
    * Labels ride [[DedupQueries.clusterLabelsOver]] — the measured
    * union-find/label-propagation gate — so the winnowed and MinHash
    * cluster paths share one fixpoint implementation; only graph
    * members appear (absent docs are singletons), q73's convention. */
  def winnowClusters(s: SparkSession, dir: String): DataFrame =
    DedupQueries.clusterLabelsOver(
      winnowPairsArtifact(s, dir).select(col("doc_a"), col("doc_b")))
      .select(col("id").as("doc_id"), col("comp"))
      .orderBy(col("doc_id"))

  /** q199 — cross-source duplication matrix off the SAMPLED index:
    * for every unordered source pair, how many q191 winnow match
    * pairs straddle it and the shared-fingerprint mass they carry —
    * the provenance rollup a curation dashboard reads to see WHICH
    * feeds duplicate WHICH (a hot (src_a, src_b) cell means one feed
    * mirrors or scrapes the other; the diagonal is in-source
    * duplication). Source pairs are normalized (least, greatest) so
    * the matrix is triangular and deterministic.
    *
    * Scale shape: the q191 pairing (df-capped equi-join on the
    * sampled hash) plus two doc_id equi-joins against the slim
    * (doc_id, source) projection and a sources²-bounded rollup —
    * nothing new touches text. */
  def winnowSrcMatrix(s: SparkSession, dir: String): DataFrame = {
    val pairs = winnowPairsArtifact(s, dir)
      .select(col("doc_a"), col("doc_b"), col("n_shared"))
    val srcs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    pairs
      .join(srcs.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        Seq("doc_a"))
      .join(srcs.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"), col("n_shared"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("n_shared")).as("shared_fp"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** q196 — LONGEST duplicated span per document: q88 scores the
    * duplicated-token FRACTION (total coverage); a removal policy also
    * needs the longest CONTIGUOUS duplicated run — a doc 20% covered
    * by one 40-token quote is a cut-the-span candidate (q98's surgery)
    * while a doc 20% covered by scattered 8-gram echoes is not. Runs
    * are maximal consecutive duplicated-gram start positions, found
    * with the gaps-and-islands trick (pos − row_number() is constant
    * within a run — pure integers, no per-run subquery); a run of R
    * consecutive starts spans R + k − 1 tokens.
    *
    * Scale shape: q88's arms verbatim (hashes shuffle, the dup set
    * joins back on the 8-byte key) plus one doc_id-partitioned window
    * and a two-level rollup — nothing new crosses documents. */
  def dupLongestRun(s: SparkSession, dir: String): DataFrame = {
    // store-served like q88 (occurrences, dup set, and lengths all
    // FileScans; the oracle recomputes from the corpus)
    val lens = CurationQueries.doclenArtifact(s, dir)
      .select(col("doc_id"), col("dl").as("n_tok"))
    val occ = gramOcc(s, dir)
    val dup = gramStats(s, dir).select(col("g"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = occ.join(dup, Seq("g"))
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg((max(col("pos")) - min(col("pos")) + lit(SpanGram.toLong))
        .as("span"))
      .groupBy(col("doc_id"))
      .agg(max(col("span")).cast(LongType).as("longest_dup_span"),
        count(lit(1)).as("n_runs"))
    lens.join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("longest_dup_span"), lit(0L)).as("longest_dup_span"),
        coalesce(col("n_runs"), lit(0L)).as("n_runs"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q98

  /** Positions fit in 21 bits (docs here are O(100) tokens; 2²¹ ≈ 2M
    * tokens is far beyond any packed training document), so the global
    * occurrence order (doc_id, pos) packs into ONE BIGINT
    * doc_id·2²¹ + pos — an exact arg-min both engines compute with a
    * plain min() partial aggregation instead of a per-gram sort window
    * (which would sort 10⁶-row partitions for hot boilerplate grams). */
  private val PosPack = 1L << 21

  /** q98 — duplicated-span REMOVAL, the actionable twin of q88 (Lee et
    * al. 2021 §4: dedup at substring granularity, keep ONE copy): every
    * occurrence of a cross-document-duplicated word-8-gram EXCEPT the
    * corpus-first one (smallest (doc_id, pos)) marks its 8-token span
    * for excision; each document is re-emitted with the union of its
    * marked spans removed. q88 scores the damage, q98 repairs it —
    * the pair mirrors q25 (measure) / q27 (scale path).
    *
    * Scale shape: grams shuffle as q88's 8-byte md5-prefix hashes,
    * never text; the first-occurrence table is a min() partial agg on
    * the gram key (no sort window — see [[PosPack]]); extras join back
    * on the same 8-byte key (shuffle join, like q88's dup join: NOT
    * broadcastable at corpus scale); the span explode is ≤ 8× extras;
    * removed positions fold back row-locally (collect_set bounded by
    * doc length) and the text rebuild is a codegen'd higher-order
    * filter over the original token array — no token-level shuffle.
    * Within-doc-only repeats (a gram recurring inside a single doc
    * that no other doc shares) are NOT excised — same dup-set
    * definition as q88, so the two queries agree on what "duplicated"
    * means.
    */
  def dupSpanRemove(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), toks.as("w"))
    // occurrences and the folded (nd, first-occurrence) stats are the
    // r17 stores — the one corpus scan left is the text rebuild below,
    // intrinsic: the output embeds the excised clean_text
    val occ = gramOcc(s, dir)
    val packed = col("doc_id") * lit(PosPack) + col("pos")
    val first = gramStats(s, dir).select(col("g"), col("fk"))
    val extra = occ.join(first, Seq("g")).where(packed =!= col("fk"))
    val rem = extra
      .select(col("doc_id"),
        explode(expr(s"sequence(pos, pos + ${SpanGram - 1})")).as("rpos"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_removed"), collect_set(col("rpos")).as("rem"))
    docs.join(rem, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("w")).cast(LongType).as("n_tok"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        array_join(expr(
          "filter(w, (x, i) -> rem IS NULL OR NOT array_contains(rem, CAST(i AS BIGINT)))"),
          " ").as("clean_text"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q89

  private val KmvK = 64

  /** q89 — KMV (k-minimum-values) distinct-count sketch, the mergeable
    * cardinality estimator behind every planning statistic at 100 TB:
    * per group keep the K smallest distinct 60-bit hashes; the K-th
    * smallest value h estimates |D| ≈ (K−1) / (h / 2⁶⁰). Deterministic
    * under the md5 hash, so the estimate — unlike HLL's — is
    * bit-reproducible and exact-oracled; the true distinct count and
    * relative error are emitted alongside.
    *
    * Scale shape: the sketch is the native mergeable `graft_kmv`
    * aggregate (functions/Kmv.scala) — bounded ≤ K-long buffers
    * combine map-side and ship K longs per partition, replacing the
    * earlier declarative two-level rank prune (and its windows)
    * entirely; no distinct pass is needed because the buffer dedupes.
    * Deterministic under the md5 hash, so the output is bit-identical
    * to the window plan the oracle still describes.
    */
  def kmvDistinct(s: SparkSession, dir: String): DataFrame = {
    // fanOut MEASURED r18: 1.16 -> 1.23 solo min — both arms re-shuffle
    // the raw rows, losing the scan-stage partial aggregation; kept on
    // the straight scan
    val li = Tables.lineitem(s, dir)
    val sk = li.select(col("l_returnflag").as("grp"),
      h60("kmv", col("l_orderkey")).as("h"))
      .groupBy(col("grp"))
      .agg(call_function("graft_kmv", col("h"), lit(KmvK)).as("sk"))
      .select(col("grp"), size(col("sk")).cast(LongType).as("k_used"),
        element_at(col("sk"), -1).as("kth_hash"))
    val truth = li.groupBy(col("l_returnflag").as("grp"))
      .agg(countDistinct(col("l_orderkey")).as("true_distinct"))
    val pow60 = lit(1152921504606846976L).cast(DoubleType) // 2^60, exact
    val est = when(col("k_used") < KmvK, col("k_used").cast(DoubleType))
      .otherwise(lit(KmvK - 1).cast(DoubleType) /
        (col("kth_hash").cast(DoubleType) / pow60))
    sk.join(truth, Seq("grp"))
      .select(col("grp"), col("k_used"), col("kth_hash"),
        est.as("est_distinct"), col("true_distinct"),
        ((est - col("true_distinct").cast(DoubleType)) /
          col("true_distinct").cast(DoubleType)).as("rel_err"))
      .orderBy(col("grp"))
  }

  // ---------------------------------------------------------------- q90

  private val RrfQueryTerms = Seq("spark", "fast", "table")
  private val RrfK = 60 // the standard RRF dampening constant
  private val RrfDepth = 20

  /** q90 — hybrid retrieval by reciprocal-rank fusion: the top-20 BM25
    * list (q86's scoring, same rational idf) and the top-20
    * exact-cosine list for the vec_id-0 query vector fuse as
    * Σ 1/(60 + rank) — rank arithmetic only, so the fusion is exact in
    * both engines regardless of how the underlying scores were
    * computed. This is the RAG-era retrieval stack's standard shape:
    * lexical and vector candidates generated independently (each by
    * its own scale path — postings pruning / ANN), fused rank-only.
    *
    * Scale shape: both candidate lists are TakeOrdered-bounded at 20
    * rows before the fusion join, which is therefore a 20×20 outer
    * join of broadcastable singletons; doc universe never re-scans.
    */
  def rrfHybrid(s: SparkSession, dir: String): DataFrame =
    fuseRrf(lexArm(s, dir), vecArmExact(s, dir))

  /** q94 — q90's fusion with the vector arm on the IVF scale path: the
    * cosine shortlist comes from the q55 trained-codebook probe
    * (RrfIvfProbes = 12 of 32 cells — cost = Σ probed-cell sizes, never
    * a full scan) instead of the exact-cosine pass over every vector.
    * This is the shape a 100 TB retrieval stack actually runs; RrfSpec
    * measures the fused top-10 overlap vs the exact arm (≥ 0.8 bar).
    */
  def rrfHybridIvf(s: SparkSession, dir: String): DataFrame =
    fuseRrf(lexArm(s, dir), vecArmIvf(s, dir))

  /** Lexical candidate arm: q86's BM25 scoring, ranked to depth 20 —
    * served from the ArtifactStore postings + doc-length artifacts (q153's
    * serve path: the term filter pushes into the artifact scan, the
    * corpus is never re-tokenized; dl is the same unfiltered-split
    * convention, postings the same non-empty-term grain, so scores are
    * unchanged and the oracle stays the from-scratch recomputation). */
  private def lexArm(s: SparkSession, dir: String): DataFrame = {
    val lens = CurationQueries.doclenArtifact(s, dir)
    val stats = lens.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast(DoubleType) / count(lit(1)).cast(DoubleType)).as("avgdl"))
    val postings = CurationQueries.postingsArtifact(s, dir)
      .where(col("t").isin(RrfQueryTerms: _*))
    val dfreq = postings.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val tfD = col("tf").cast(DoubleType)
    val dfD = col("df").cast(DoubleType)
    val idf = (col("n").cast(DoubleType) - dfD + lit(0.5)) / (dfD + lit(0.5))
    val norm = tfD + lit(1.2) * (lit(0.25) + lit(0.75) *
      (col("dl").cast(DoubleType) / col("avgdl")))
    val wLex = Window.orderBy(col("score").desc, col("doc_id"))
    postings
      .join(broadcast(dfreq), "t").join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), (idf * ((tfD * lit(2.2)) / norm))
        .cast("decimal(18,9)").as("ts"))
      .groupBy(col("doc_id")).agg(sum(col("ts")).cast(DoubleType).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(RrfDepth)
      .withColumn("rank_lex", row_number().over(wLex).cast(LongType))
      .select(col("doc_id"), col("rank_lex"))
  }

  /** Exact vector arm: full cosine scan vs the vec_id-0 query vector,
    * ranked to depth 20 (the ground-truth generator the IVF arm is
    * measured against). */
  private def vecArmExact(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), VectorOps.toDoubleArr(col("embedding")).as("v"))
      .withColumn("nrm", VectorOps.norm(col("v")))
    val q = e.where(col("vec_id") === 0)
      .select(col("v").as("qv"), col("nrm").as("qnrm"))
    val cos = VectorOps.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))
    val wVec = Window.orderBy(col("cos").desc, col("doc_id"))
    e.crossJoin(broadcast(q)).where(col("vec_id") =!= 0)
      .select(col("vec_id").as("doc_id"), cos.as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(RrfDepth)
      .withColumn("rank_vec", row_number().over(wVec).cast(LongType))
      .select(col("doc_id"), col("rank_vec"))
  }

  // 12 of 32 cells: 8 probes leave the fused top-10 overlap vs the exact
  // arm at 0.7 (sf0.001, RrfSpec); 12 clears the 0.8 bar while still
  // scanning ~3/8 of the corpus instead of all of it.
  private val RrfIvfProbes = 12

  /** IVF vector arm: q55's ServeBooks-trained codebook (in-engine
    * Lloyd, corpus-fingerprinted artifact shared with the oracle) via
    * the same row-local argmin/probe expressions; the vec_id-0 query
    * probes its RrfIvfProbes nearest of 32 cells and exact cosine
    * ranks only the probed cells' members. */
  private def vecArmIvf(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.ServeBooks
    val book = ServeBooks.coarse(s, dir)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), VectorOps.toDoubleArr(col("embedding")).as("v"))
      .withColumn("nrm", VectorOps.norm(col("v")))
    val cells = e.where(col("vec_id") =!= 0)
      .select(col("vec_id"), col("v"), col("nrm"),
        ServeBooks.cell(book, col("v")).as("cell"))
    val probes = e.where(col("vec_id") === 0)
      .select(col("v").as("qv"), col("nrm").as("qnrm"),
        explode(ServeBooks.probeCells(book, RrfIvfProbes, col("v")))
          .as("probe"))
    val cos = VectorOps.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))
    val wVec = Window.orderBy(col("cos").desc, col("doc_id"))
    broadcast(probes).join(cells, col("probe") === col("cell"))
      .select(col("vec_id").as("doc_id"), cos.as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(RrfDepth)
      .withColumn("rank_vec", row_number().over(wVec).cast(LongType))
      .select(col("doc_id"), col("rank_vec"))
  }

  /** Rank-only reciprocal-rank fusion of two 20-row candidate lists:
    * a 20×20 full-outer join of broadcastable singletons. */
  private def fuseRrf(lex: DataFrame, vec: DataFrame): DataFrame = {
    val rrf = coalesce(lit(1.0) / (lit(RrfK).cast(DoubleType) +
        col("rank_lex").cast(DoubleType)), lit(0.0)) +
      coalesce(lit(1.0) / (lit(RrfK).cast(DoubleType) +
        col("rank_vec").cast(DoubleType)), lit(0.0))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("rank_lex"), lit(-1L)).as("rank_lex"),
        coalesce(col("rank_vec"), lit(-1L)).as("rank_vec"),
        rrf.as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id")).limit(10)
  }

  // ---------------------------------------------------------------- q91

  private val PrScale = 1000000000000000L // 10^15 — headroom for 17·pr
  private val PrIters = 5

  /** q91 — PageRank as an exact integer fixpoint over the supplier–part
    * co-occurrence graph (distinct lineitem (supplier, part) pairs,
    * both directions, so every node has out-degree ≥ 1 and no dangling
    * mass exists). Rank mass is held in units of 10⁻¹⁵ and every
    * damping step is integer division — pr' = (3·(S div N)) div 20 +
    * (17·Σ inflow) div 20 with S = 10¹⁵ — so five iterations produce
    * bit-identical BIGINTs in both engines: iterative graph analytics
    * with none of float-PageRank's summation-order nondeterminism.
    *
    * Scale shape: the edge list and degrees are generation-managed
    * artifacts ([[prGraph]] — the distinct-pair dedupe runs once per
    * CORPUS, not per query), read as FileScans, persisted, and
    * re-joined each
    * iteration on 8-byte BIGINT node ids (suppliers = 2·sk, parts =
    * 2·pk+1 — the display strings are formatted only in the final
    * 20-row projection, so no VARCHAR rides the iteration shuffles).
    * Each iteration is one shuffle join (rank × edges) plus one
    * partial aggregation (inflow by dst) — the Pregel schedule
    * expressed declaratively; iteration count is the only driver-side
    * loop, the data never leaves executors. Each iteration's rank
    * frame is eagerly localCheckpoint'ed (truncating the
    * join+agg-per-iteration lineage) and the previous iteration's
    * checkpoint is dropped once its successor is materialized; the
    * final 20-row result is copied into its own (negligible)
    * checkpoint so the last full-width rank frame unpersists too, and
    * edges/deg unpersist before return — repeated in-process runs
    * (Bench median-of-3, AnalyticsSpec determinism) leak no blocks.
    * Durability trade: localCheckpoint blocks live in executor memory
    * and die with an executor — on a real cluster a lost executor
    * restarts the whole iteration chain; a reliable checkpoint dir
    * (sc.setCheckpointDir + .checkpoint()) survives executor loss at
    * the cost of a distributed-FS write per iteration (same trade
    * recorded at q73's labelPropagate).
    */
  def pageRank(s: SparkSession, dir: String): DataFrame =
    pageRankGated(s, dir, PrLocalGate)

  /** Below this many edges the five-iteration fixpoint runs in ONE
    * driver loop over the collected edge/degree arrays instead of five
    * join+agg+checkpoint cluster barriers (the [[graft.Gate]]
    * small-input idiom — q73's one-task union-find, PqTrain's gated
    * Lloyd loop). Bounded: 2^21 edges × 16 B ≈ 32 MB of BIGINT pairs —
    * derived graph state read from the served store, never corpus
    * text; past the gate the distributed loop runs unchanged. The
    * arithmetic is the same quantum (long division, long sums — both
    * exact and commutative), so the branch cannot change a rank:
    * AnalyticsSpec pins gated-local == forced-distributed row-for-row.
    * Why: each iteration is an inherent barrier (join + partial agg +
    * localCheckpoint); on a one-row-group edge store those barriers
    * are pure scheduler latency — measured 2.41 s → 0.79 s solo min at
    * sf0.1 (56 MB iteration shuffle → 0). */
  private[queries] val PrLocalGate = 1L << 21

  private[queries] def pageRankGated(s: SparkSession, dir: String,
      localGate: Long): DataFrame = {
    val (edgesRaw, degRaw) = prGraph(s, dir)
    // footer-cheap count over the served store's parquet metadata
    if (edgesRaw.count() <= localGate)
      return pageRankLocal(s, edgesRaw, degRaw)
    // NOTE (round 17): persisting the edges pre-repartitioned on the
    // join key was tried and MEASURED SLOWER at sf0.1 (4.16 s vs
    // 1.89 s min, shuffle 50 -> 65 MB): under AQE the persisted
    // partitioning is not recognized as satisfying the join's
    // distribution (coalesced stage boundaries), so every iteration
    // re-exchanged BOTH sides plus the upfront repartition. The plain
    // persisted scan stays.
    // persisted: 5 BHJ iterations stream the edge blocks; the
    // unpersisted variant re-scans the store per iteration (measured
    // 2.03 s vs 1.58 s solo min at sf0.1)
    val edges = edgesRaw.persist()
    val deg = degRaw.persist()
    val n = deg.count()
    val pr0 = PrScale / n
    val base = (3L * pr0) / 20L
    // node-count-driven join strategy (the count above is already
    // paid): the rank frame is exactly n rows of three BIGINTs; under
    // ~8 MB it broadcasts statically and the edge list never leaves
    // its persisted partitions — at large n the hint is withheld and
    // the keyed shuffle is the honest plan. A cost decision from a
    // measured statistic, not a fixed hint.
    val broadcastRank = n * 24L < (8L << 20)
    // NOTE (round 8): unrolling the 5 rounds into one declarative plan
    // (no per-round localCheckpoint) was tried and MEASURED SLOWER at
    // sf0.1 (5.8 s vs ~4 s min): the cost is the 10 shuffle stages
    // themselves, which the single-plan form still pays — plus a
    // deeper AQE re-optimization per stage — while losing the round
    // boundaries. The checkpointed loop stays.
    var pr: DataFrame = deg.select(col("node"), col("deg"), lit(pr0).as("pr"))
    var prevCkpt: DataFrame = null
    // iterations 1..N−1 checkpoint (each is the next one's input); the
    // LAST iteration fuses into the 20-row projection instead — its
    // rank frame is consumed exactly once, so materializing it first
    // would be one wasted job + checkpoint
    for (_ <- 1 until PrIters) {
      val next = prStep(pr, edges, base, broadcastRank)
        .localCheckpoint() // eager: materializes before prev is dropped
      if (prevCkpt != null) prevCkpt.unpersist()
      prevCkpt = next
      pr = next
    }
    val out = prStep(pr, edges, base, broadcastRank)
      .select(concat(when(col("node") % 2 === 0, lit("s")).otherwise(lit("p")),
          expr("node div 2").cast("string")).as("node"),
        col("deg"), col("pr"))
      .orderBy(col("pr").desc, col("node")).limit(20)
      .localCheckpoint() // 20 rows: lets the last rank frame unpersist
    if (prevCkpt != null) prevCkpt.unpersist()
    edges.unpersist()
    deg.unpersist()
    out
  }

  /** The gated small-graph arm: one collect of the served degree and
    * edge stores, then the identical integer fixpoint — pr' = base +
    * (17·Σ_{src→dst} (pr_src div deg_src)) div 20 — as five driver-
    * local array passes. Long division and long sums are exact and
    * order-independent, so the ranks are bit-identical to the
    * distributed loop's; the final 20-row presentation (label, order)
    * reuses the engine sort so tie-breaking on the label column is the
    * same UTF8 comparison. */
  private def pageRankLocal(s: SparkSession, edgesRaw: DataFrame,
      degRaw: DataFrame): DataFrame = {
    import s.implicits._
    val degRows = degRaw.select(col("node"), col("deg"))
      .as[(Long, Long)].collect()
    val n = degRows.length
    val nodes = new Array[Long](n)
    val deg = new Array[Long](n)
    val idx = new java.util.HashMap[Long, Integer](n * 2)
    var i = 0
    while (i < n) {
      nodes(i) = degRows(i)._1; deg(i) = degRows(i)._2
      idx.put(nodes(i), i); i += 1
    }
    val edgePairs = edgesRaw.select(col("src"), col("dst"))
      .as[(Long, Long)].collect()
    val esrc = new Array[Int](edgePairs.length)
    val edst = new Array[Int](edgePairs.length)
    i = 0
    while (i < edgePairs.length) {
      esrc(i) = idx.get(edgePairs(i)._1)
      edst(i) = idx.get(edgePairs(i)._2); i += 1
    }
    val pr0 = PrScale / n
    val base = (3L * pr0) / 20L
    var pr = Array.fill(n)(pr0)
    var it = 0
    while (it < PrIters) {
      val contrib = Array.tabulate(n)(j => pr(j) / deg(j))
      val inflow = new Array[Long](n)
      var k = 0
      while (k < esrc.length) { inflow(edst(k)) += contrib(esrc(k)); k += 1 }
      pr = Array.tabulate(n)(j => base + (17L * inflow(j)) / 20L)
      it += 1
    }
    val top = (0 until n).map { j =>
      val label = (if (nodes(j) % 2 == 0) "s" else "p") + (nodes(j) / 2)
      (label, deg(j), pr(j))
    }.sortBy { case (label, _, p) => (-p, label) }.take(20)
    top.toDF("node", "deg", "pr")
      .orderBy(col("pr").desc, col("node")).limit(20)
  }

  /** The q91 iteration-1 frame over the REAL served graph, for plan
    * audits (`runMain graft.Explain q91_step`): pageRank's returned
    * query is lineage-truncated by the per-iteration localCheckpoint,
    * so the iteration join/agg shape — FileScan of `pr_edges_v2`
    * feeding the fixpoint — is only visible here and in PlanSpec. */
  def prStepForAudit(s: SparkSession, dir: String): DataFrame = {
    val (edges, deg) = prGraph(s, dir)
    val n = deg.count()
    val pr0 = PrScale / n
    prStep(deg.select(col("node"), col("deg"), lit(pr0).as("pr")),
      edges, (3L * pr0) / 20L, broadcastRank = n * 24L < (8L << 20))
  }

  /** The supplier–part co-occurrence graph: symmetric BIGINT edge list
    * (suppliers = 2·sk, parts = 2·pk+1) and per-node out-degrees,
    * served from generation-managed artifacts (r16 verdict item 2 —
    * the distinct-pair dedupe was the only corpus-scale shuffle left
    * in the suite's most expensive query, paid before EVERY
    * 5-iteration fixpoint; like the pair stores, the graph is derived
    * state keyed by its corpus, so it builds once per corpus and every
    * fixpoint run starts from a FileScan). The key is
    * [[graft.ArtifactStore.lineitemGraphFp]] — a fingerprint over only
    * (l_suppkey, l_partkey), so price/date-only corpus changes reuse
    * the graph verbatim. Degrees persist beside the edges (same fp):
    * one groupBy of the just-written edge store at build time buys
    * every later run its degree table for a footer-cheap read instead
    * of an edges-scan shuffle. Extracted (with [[prStep]]) so PlanSpec
    * can assert the iteration plan shape on the real (served) graph.
    * Returned unpersisted — pageRank owns the persist lifecycle. */
  private[queries] def prGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val fp = graft.ArtifactStore.lineitemGraphFp(s, dir)
    val edges = graft.ArtifactStore.parquetOnce(s, "pr_edges_v2", fp)(
      prGraphDirect(s, dir)).drop("fp")
    val deg = graft.ArtifactStore.parquetOnce(s, "pr_deg_v1", fp)(
      edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .withColumnRenamed("src", "node")).drop("fp")
    (edges, deg)
  }

  /** The from-scratch edge build (the artifact's build thunk and the
    * spec's reference arm): one distinct-pair partial-agg shuffle,
    * both orientations, then BOTH endpoint degrees denormalized onto
    * the edge (v2): deg_src divides the outflow, deg_dst rides into
    * the iteration's aggregation key so the rank update folds into the
    * aggregate projection — the per-iteration `deg ⟕ inflow` re-join
    * (one extra shuffle stage per iteration) disappears. Sound because
    * the symmetrized graph gives every node an in-edge, so the
    * aggregation's dst key set IS the node set (the old left-join's
    * coalesce(inflow, 0) arm was dead). Degree joins run at BUILD
    * time, once per corpus. */
  private[queries] def prGraphDirect(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(s, dir)
      .select(col("l_suppkey").cast(LongType).as("sk"),
        col("l_partkey").cast(LongType).as("pk")).distinct()
    val edges = pairs
      .select((col("sk") * 2).as("src"), (col("pk") * 2 + 1).as("dst"))
      .union(pairs.select((col("pk") * 2 + 1).as("src"), (col("sk") * 2).as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .withColumnRenamed("src", "node")
    edges
      .join(deg.select(col("node").as("src"), col("deg").as("deg_src")),
        Seq("src"))
      .join(deg.select(col("node").as("dst"), col("deg").as("deg_dst")),
        Seq("dst"))
      .select(col("src"), col("dst"), col("deg_src"), col("deg_dst"))
  }

  /** One PageRank iteration — ONE shuffle join (rank × edges) plus one
    * partial aggregation (inflow by dst), all on BIGINT node keys. The
    * per-edge contribution `pr div deg` is computed in the NODE-sized
    * rank frame before the join (the division is per-src, so it never
    * needs to ride the edge fan-out), the edge side projects only
    * (src, dst, deg_dst) — deg_src stays pruned at the parquet scan —
    * and the rank update folds into the aggregate's projection off the
    * edge-carried deg_dst (v2 store): no degree re-join per iteration;
    * every node is a dst by symmetry, so no coalesce arm is needed.
    * Extracted so PlanSpec can assert the iteration plan shape
    * (localCheckpoint truncates lineage, so the returned query's plan
    * no longer contains the iteration joins). */
  private[queries] def prStep(pr: DataFrame, edges: DataFrame,
      base: Long, broadcastRank: Boolean = false): DataFrame = {
    val contrib0 = pr.select(col("node"), expr("pr div deg").as("c"))
    // cost-based static broadcast (pageRank decides from the MEASURED
    // node count): a localCheckpoint'ed rank frame carries no usable
    // size estimate, so without the hint the planner inserts a keyed
    // exchange on BOTH sides and AQE's runtime BHJ conversion still
    // pays the edge side's shuffle WRITE every iteration. When the
    // rank frame is provably tiny the hint removes the edge exchange
    // entirely (edges stream from the persisted store scan); when it
    // is not, the keyed shuffle IS the right plan and no hint is given.
    val contrib = if (broadcastRank) broadcast(contrib0) else contrib0
    contrib.join(edges.select(col("src"), col("dst"), col("deg_dst")),
        contrib("node") === col("src"))
      .groupBy(col("dst"), col("deg_dst")).agg(sum(col("c")).as("inflow"))
      .select(col("dst").as("node"), col("deg_dst").as("deg"),
        (lit(base) + expr("(17 * inflow) div 20")).as("pr"))
  }

  // ---------------------------------------------------------------- q92

  /** q92 — statistical-LM quality score (the CCNet filter reshaped to
    * exact-oracle): a bigram model with add-one smoothing is "trained"
    * on the deterministic reference slice (doc_id % 10 < 8) and every
    * document is scored by its MEAN bigram probability — the rational
    * stand-in for perplexity (a monotone transform of the arithmetic
    * rather than geometric mean; ln() differs by 1 ULP between engines,
    * the q69/q86 rule). p(b|a) = (C(a,b)+1) / (C(a)+V), each an
    * integer-ratio double staged through DECIMAL(18,9) before the
    * per-document sum.
    *
    * Scale shape: model counts are partial-agg shuffles on token keys;
    * the unigram table and vocab size broadcast (vocab-bounded); the
    * bigram join keys on the (a,b) pair — vocab²-bounded and Zipf-
    * concentrated, so it broadcasts in practice too but is left as a
    * keyed shuffle here, the honest default.
    */
  def lmQuality(s: SparkSession, dir: String): DataFrame =
    // served from lm_quality_scores_v1 (r18, the lm_doc_scores_v1
    // pattern): the per-doc (n_bigrams, sum_p) rows are a pure function
    // of the WHOLE corpus (the reference slice's c2/c1 counts see every
    // training document), so the store is fingerprint-keyed model state
    // — any corpus change retrains — and the scoring tail derives avg_p
    // from the exact DECIMAL sum the inline plan aggregated (one IEEE
    // division, bit-identical). Oracle recomputes the full model from
    // raw text, unchanged. Measured 1.23 -> 0.19 s solo min at sf0.1.
    graft.ArtifactStore.documentsArtifact(s, dir, "lm_quality_scores_v1")(
      lmQualityScores(s, dir))
      .select(col("doc_id"), col("n_bigrams"),
        when(col("n_bigrams") === 0L, lit(0.0))
          .otherwise(col("sum_p").cast(DoubleType) /
            col("n_bigrams").cast(DoubleType)).as("avg_p"))
      .orderBy(col("doc_id"))

  /** q92's per-document LM sufficient statistics — the add-1-smoothed
    * reference-slice bigram model folded to one row per document:
    * bigram count and the exact DECIMAL(18,9) probability sum (docs
    * with no bigram carry (0, null)). */
  private def lmQualityScores(s: SparkSession, dir: String): DataFrame = {
    // fanOut MEASURED r18: 1.23 -> 1.47 solo min (the fourth rejected
    // variant for this query — the exchange did not amortize across
    // the consumers the way the three persist variants also didn't);
    // the independent-aggregation shape over the straight scan stays
    val docs = Tables.documents(s, dir).select(col("doc_id"), toks.as("w"))
    // r17 A/B note: three "obvious" improvements were each measured
    // SLOWER solo at sf0.1 and rejected — persist(bigrams) 1.0 → 1.2 s
    // (the raw string-pair rows outweigh the codegen'd re-explode),
    // c1-folded-from-c2 1.0 → 1.9 s (c2 gains a second consumer and
    // re-runs the explode unshared), and persist(c2) + fold 1.0 → 1.2 s
    // (the persist barrier serializes subtrees the scheduler otherwise
    // overlaps). The independent-aggregation shape stays.
    val bigrams = docs
      .select(col("doc_id"), col("w"), explode(expr(
        "CASE WHEN size(w) >= 2 THEN sequence(0, size(w) - 2) " +
          "ELSE CAST(array() AS ARRAY<INT>) END")).as("i"))
      .select(col("doc_id"),
        expr("element_at(w, i + 1)").as("a"), expr("element_at(w, i + 2)").as("b"))
    val ref = bigrams.where(col("doc_id") % 10 < 8)
    val c2 = ref.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c2"))
    val c1 = ref.groupBy(col("a")).agg(count(lit(1)).as("c1"))
    val vocab = Tables.documents(s, dir).where(col("doc_id") % 10 < 8)
      .select(explode(toks).as("t")).distinct()
      .agg(count(lit(1)).as("v"))
    val p = (coalesce(col("c2"), lit(0L)) + lit(1L)).cast(DoubleType) /
      (coalesce(col("c1"), lit(0L)) + col("v")).cast(DoubleType)
    val scored = bigrams
      .join(c2, Seq("a", "b"), "left")
      .join(broadcast(c1), Seq("a"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), p.cast("decimal(18,9)").as("p"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p")).as("sum_p"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("sum_p"))
  }

  // ---------------------------------------------------------------- q93

  private val SessionGapUs = 1800000000L // 30 min in micros

  /** q93 — batch sessionization: the gap-rule session assignment every
    * clickstream pipeline runs (a session breaks after 30 idle
    * minutes), computed with the lag-flag-cumsum idiom in exact
    * integer micros. The streaming twin is the session window of
    * q40/Stateful; this is the backfill form that runs over years of
    * history.
    *
    * Scale shape: ONE shuffle on user_id serves both windows and the
    * final aggregation (same partitioning reused across stages); all
    * arithmetic is BIGINT micros.
    */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"), col("event_id"))
    val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tsu"))
      .withColumn("prev", lag(col("tsu"), 1).over(w))
      .withColumn("brk", when(col("prev").isNull ||
        col("tsu") - col("prev") > SessionGapUs, lit(1L)).otherwise(lit(0L)))
      .withColumn("sess_n", sum(col("brk")).over(wc))
      .groupBy(col("user_id"), col("sess_n"))
      .agg(count(lit(1)).as("n_events"),
        min(col("tsu")).as("start_us"), max(col("tsu")).as("end_us"))
      .withColumn("dur_us", col("end_us") - col("start_us"))
      .orderBy(col("user_id"), col("sess_n"))
  }

  // ---------------------------------------------------------------- q109

  /** q109 — KMV set algebra: distinct-user overlap between every pair
    * of event types, estimated FROM THE SKETCHES ALONE (Bar-Yossef et
    * al. 2002 / Beyer et al. 2007): the k-min union sketch of A∪B is
    * computable from kmv(A) and kmv(B) (k smallest of the merged
    * hashes), Jaccard ≈ |both-marked ∩ union-sketch| / k, and
    * |A∩B| ≈ J · (k−1)/(h_k/2⁶⁰). This is the planning query a corpus
    * merge runs over N sources: N sketches instead of N² exact
    * intersections. The md5 hash makes the estimate deterministic and
    * exact-oracle-able (q89's property); the exact intersection and
    * relative error are emitted alongside because the query IS the
    * audit of the estimator.
    *
    * Scale shape: the sketch phase is q89's two-level prune (per-
    * partition k-min before per-group k-min — no full-group sort);
    * everything after operates on ≤ groups·k sketch rows, so the pair
    * enumeration is G²-bounded, not data-bounded. The exact-truth arm
    * is the cost being replaced and would be DROPPED at 100 TB.
    */
  def kmvOverlap(s: SparkSession, dir: String): DataFrame = {
    val OvK = KmvK // share q89's k
    // native mergeable sketches (functions/Kmv.scala): one partial-agg
    // pass to one ≤ K-long array per group — no distinct pass, no rank
    // windows; the k-min-union set algebra then runs as ROW-LOCAL array
    // math on the #groups² pair frame (3 pairs here; the point of KMV
    // is that this planning join touches sketches, never members)
    val sk = Tables.events(s, dir)
      .select(col("event_type").as("grp"), h60("kmvov", col("user_id")).as("h"))
      .groupBy(col("grp"))
      .agg(call_function("graft_kmv", col("h"), lit(OvK)).as("sk"))
    val pairs = sk.select(col("grp").as("ga"), col("sk").as("ska"))
      .crossJoin(sk.select(col("grp").as("gb"), col("sk").as("skb")))
      .where(col("ga") < col("gb"))
    // k-min union: the K smallest of the merged member lists (arrays
    // are sorted and distinct, so array_union + sort + slice IS the
    // KMV of the union); both_cnt counts union members seen by BOTH
    val u = expr(s"slice(array_sort(array_union(ska, skb)), 1, $OvK)")
    val agg = pairs.withColumn("u", u)
      .select(col("ga"), col("gb"),
        size(col("u")).cast(LongType).as("k_used"),
        element_at(col("u"), -1).as("kth_hash"),
        size(expr("array_intersect(array_intersect(u, ska), skb)"))
          .cast(LongType).as("both_cnt"))
    val pow60 = lit(1152921504606846976L).cast(DoubleType) // 2^60, exact
    val estU = when(col("k_used") < OvK, col("k_used").cast(DoubleType))
      .otherwise(lit(OvK - 1).cast(DoubleType) /
        (col("kth_hash").cast(DoubleType) / pow60))
    val estI = col("both_cnt").cast(DoubleType) /
      col("k_used").cast(DoubleType) * estU
    val dd = Tables.events(s, dir)
      .select(col("event_type").as("grp"), col("user_id")).distinct()
    val truth = dd.as("x")
      .join(dd.as("y"), col("x.user_id") === col("y.user_id") &&
        col("x.grp") < col("y.grp"))
      .groupBy(col("x.grp").as("ga"), col("y.grp").as("gb"))
      .agg(count(lit(1)).as("true_inter"))
    agg.join(truth, Seq("ga", "gb"))
      .select(col("ga"), col("gb"), col("k_used"), col("both_cnt"),
        estU.as("est_union"), estI.as("est_inter"), col("true_inter"),
        ((estI - col("true_inter").cast(DoubleType)) /
          col("true_inter").cast(DoubleType)).as("rel_err"))
      .orderBy(col("ga"), col("gb"))
  }

  // ---------------------------------------------------------------- q104

  /** Histogram width for the quantile narrowing pass. 512 buckets means
    * only ~n/512 rows survive into the exact within-bucket selection;
    * B is the scale dial (B ∝ √n gives √n-sized buckets per pass, and
    * the narrowing composes — a second level would bound it by n/B²). */
  private val QBuckets = 512

  /** Quantile targets as integer percents — rank arithmetic stays in
    * exact BIGINT (r = ⌈p·n/100⌉ computed as (p·n + 99) div 100), so
    * no float rank ever drifts an order statistic off by one. */
  private val QTargets = Seq(("p50", 50), ("p90", 90), ("p99", 99))

  /** q104 — EXACT per-group quantiles via histogram narrowing, the
    * scale-safe form of ORDER BY-and-index. Spark's exact
    * `percentile` buffers every value of a group in one aggregation
    * buffer (OOM at 100 TB); `approx_percentile` gives estimates. This
    * plan is exact AND bounded: (1) per-group count/min/max (partial
    * agg); (2) a (group × 512)-bucket histogram — the only pass that
    * sees every row, and it shuffles ≤ groups·512 counted rows thanks
    * to map-side combine; (3) a cumulative window over that tiny
    * histogram finds, per quantile target, the one bucket holding rank
    * r and the exact count below it; (4) only that bucket's rows
    * (~n/512) are re-read (map-side join kill against the broadcast
    * candidate list), pre-aggregated by value, and the order statistic
    * is read off a cumulative count over distinct values. Output is
    * the exact p50/p90/p99 of events.value per event_type plus the
    * 'ALL' rollup — bit-identical to the naive sort-based oracle.
    *
    * Scale shape: no unbounded sort anywhere — the only windows run
    * over the 512-row histogram and the distinct values of ONE bucket;
    * raw values never shuffle (bucket ids do, pre-aggregated); the
    * candidate-bucket table (groups × 3 rows) broadcasts. Float bucket
    * edges are Spark-internal only (the final answer is an exact order
    * statistic, independent of how buckets split the range).
    */
  def exactQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // persist of the 3-consumer (grp, v) frame MEASURED r18: 0.83 ->
    // 0.85 solo min (the three branch scans run concurrently, so
    // materialization buys nothing); kept on the straight scans
    val ev = Tables.events(s, dir)
      .select(explode(array(col("event_type"), lit("ALL"))).as("grp"),
        col("value").as("v"))
    val stats = ev.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("mn"), max(col("v")).as("mx"))
    // bucket id in [0, B-1]; degenerate all-equal group collapses to 0
    val bucketOf = when(col("mx") === col("mn"), lit(0L))
      .otherwise(least(lit(QBuckets - 1L), floor(
        (col("v") - col("mn")) * lit(QBuckets.toDouble) / (col("mx") - col("mn")))))
    val hist = ev.join(broadcast(stats), Seq("grp"))
      .select(col("grp"), bucketOf.as("b"))
      .groupBy(col("grp"), col("b")).agg(count(lit(1)).as("bc"))
    val wBelow = Window.partitionBy(col("grp")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist.withColumn("below", coalesce(sum(col("bc")).over(wBelow), lit(0L)))
    val targets = stats
      .crossJoin(broadcast(QTargets.toDF("ql", "qp")))
      .select(col("grp"), col("ql"), col("n"), col("mn"), col("mx"),
        expr("(qp * n + 99) div 100").as("r"))
    val cand = targets.join(cum, Seq("grp"))
      .where(col("below") < col("r") && col("below") + col("bc") >= col("r"))
      .select(col("grp"), col("ql"), col("n"), col("mn"), col("mx"),
        col("b"), col("r"), col("below"))
    val inBucket = ev.join(broadcast(cand), Seq("grp"))
      .where(bucketOf === col("b"))
      .groupBy(col("grp"), col("ql"), col("n"), col("r"), col("below"), col("v"))
      .agg(count(lit(1)).as("vc"))
    val wVal = Window.partitionBy(col("grp"), col("ql")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    inBucket.withColumn("vcum", sum(col("vc")).over(wVal))
      .where(col("vcum") >= col("r") - col("below") &&
        col("vcum") - col("vc") < col("r") - col("below"))
      .select(col("grp"), col("ql"), col("n"), col("v").as("val"))
      .orderBy(col("grp"), col("ql"))
  }

  // ---------------------------------------------------------------- q112

  /** q112 — triangle census of the near-dup graph, the
    * transitive-merge audit for dedup clustering: q73 unions documents
    * into families by CONNECTED COMPONENTS over pair edges, which is
    * only sound if near-duplication behaves transitively; the global
    * clustering coefficient 3·triangles/wedges measures exactly that
    * (1 = every two-hop pair is also directly similar; low values mean
    * component-merging chains dissimilar docs). Edges are doc pairs
    * sharing ≥ 1 cross-doc-duplicated 8-gram, with q96's hot-gram df
    * cap (max(5, 1%·N)) so boilerplate grams can't mint d² edges.
    *
    * Scale shape: grams travel as graft_h60 8-byte hashes; the pair
    * join is bounded by Σ nd² over CAPPED grams (nd ≤ df cap); the
    * triangle join runs on the DEGREE-ORDERED orientation — each edge
    * points low-(deg,id) → high, making the wedge relation
    * Σ outdeg² = O(m^{3/2}) instead of Σ deg² (the hub node's star
    * never fans out), the standard distributed triangle bound (Suri &
    * Vassilvitskii 2011). All counts exact BIGINTs; the only double is
    * the final coefficient.
    */
  /** The capped near-dup edge set (doc pairs sharing ≥ 1
    * cross-doc-duplicated 8-gram, hot grams df-capped) — the graph
    * q112's census and q125's community detection both analyze.
    * Materialized ONCE per corpus via [[graft.ArtifactStore]] (the
    * documents fingerprint keys it): consumers across this AND later
    * runs read the same parquet instead of re-running the gram pair
    * join over the corpus; a changed corpus rebuilds transparently. */
  private def dupEdges(s: SparkSession, dir: String): DataFrame =
    graft.ArtifactStore.documentsArtifact(s, dir, "dup_edges_v1")(
      buildDupEdges(s, dir))

  private def buildDupEdges(s: SparkSession, dir: String): DataFrame = {
    val nDocs = Tables.documents(s, dir)
      .count() // metadata-only parquet count (q81/q96 precedent)
    val dfCap = math.max(5L, math.ceil(0.01 * nDocs).toLong)
    // the build consumes the r17 span-gram stores (postings from the
    // positional occurrences, the df filter from the stats table — nd
    // there is the same distinct-doc count, floored at 2) instead of
    // re-exploding the corpus; stats rows are dup-grams only, so the
    // df-window join below sees exactly the old kept set
    val occ = gramOcc(s, dir).select(col("doc_id"), col("g")).distinct()
    val kept = occ.join(
      gramStats(s, dir).where(col("nd") <= dfCap).select(col("g")),
      Seq("g"))
    kept.as("a")
      .join(kept.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("x"), col("b.doc_id").as("y")).distinct()
  }

  def triangles(s: SparkSession, dir: String): DataFrame = {
    val edges = dupEdges(s, dir)
    val deg = edges.select(col("x").as("node"))
      .unionAll(edges.select(col("y").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = edges
      .join(deg.select(col("node").as("x"), col("deg").as("dx")), Seq("x"))
      .join(deg.select(col("node").as("y"), col("deg").as("dy")), Seq("y"))
    val xFirst = col("dx") < col("dy") ||
      (col("dx") === col("dy") && col("x") < col("y"))
    val or = withDeg.select(
      when(xFirst, col("x")).otherwise(col("y")).as("src"),
      when(xFirst, col("y")).otherwise(col("x")).as("dst"))
    val tri = or.as("p")
      .join(or.as("q"), col("p.dst") === col("q.src"))
      .join(or.as("r"),
        col("r.src") === col("p.src") && col("r.dst") === col("q.dst"))
      .agg(count(lit(1)).as("n_triangles"))
    val nodeStats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) div 2")).as("w_sum"))
    val edgeCount = edges.agg(count(lit(1)).as("n_edges"))
    nodeStats.crossJoin(edgeCount).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"),
        coalesce(col("w_sum"), lit(0L)).as("n_wedges"),
        col("n_triangles"),
        when(coalesce(col("w_sum"), lit(0L)) === 0L, lit(0.0))
          .otherwise(lit(3.0) * col("n_triangles").cast(DoubleType) /
            col("w_sum").cast(DoubleType)).as("clustering"))
  }

  // ---------------------------------------------------------------- q125

  /** Synchronous LPA rounds — fixed so the oracle unrolls the same. */
  private val LpaIters = 5

  /** q125 — label-propagation communities (Raghavan et al. 2007) over
    * the capped near-dup graph: each node adopts the MODE of its
    * neighbors' labels each round (ties → smallest label), which finds
    * DENSE near-dup families where q73's connected components merge
    * anything chain-linked — the two disagree exactly where a thin
    * bridge joins two dense clusters, which is what a dedup reviewer
    * wants surfaced. Synchronous updates + a total tie order + a fixed
    * round count make the result deterministic (no convergence test,
    * which would be order-dependent); emits (community, size).
    *
    * Scale shape: one iteration = an equi-join of labels to the
    * undirected edge list (shuffle keyed on 8-byte node ids) plus two
    * partial-aggregated groupBys (mode via max(struct(count, −label)) —
    * the q122 arg-max idiom, no rank window). The edge list is
    * localCheckpoint'd once and labels re-checkpoint per round (q91's
    * iteration discipline: lineage stays O(1) deep, at the documented
    * executor-loss trade).
    */
  /** Per-node labels after [[LpaIters]] synchronous rounds — the
    * fixpoint computation itself (the `lpa_labels_v1` build thunk and
    * the spec's reference arm). Takes the edge frame as input so the
    * build reuses the already-served `dup_edges_v1` generation. */
  private def lpaLabels(edges: DataFrame): DataFrame = {
    val und = edges.select(col("x").as("node"), col("y").as("nbr"))
      .unionAll(edges.select(col("y").as("node"), col("x").as("nbr")))
      .localCheckpoint()
    var labels = und.select(col("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to LpaIters) {
      labels = und
        .join(labels.select(col("node").as("nbr"), col("label").as("nl")),
          Seq("nbr"))
        .groupBy(col("node"), col("nl")).agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(max(struct(col("c"), (-col("nl")).as("negl"))).as("m"))
        .select(col("node"), (-col("m.negl")).as("label"))
        .localCheckpoint()
    }
    labels
  }

  /** The LPA partition both consumers read (`lpa_labels_v1`,
    * documents fingerprint): the 5-round fixpoint is a pure function
    * of the served `dup_edges_v1` generation, and q125 AND q126 each
    * re-ran it per query — 5 join+agg rounds with per-round
    * localCheckpoints, twice per suite pass (the q91 lesson applied
    * to the LPA fixpoint: derived state, never a per-query rerun).
    * Keyed by the corpus fingerprint like the edge store it derives
    * from; a takedown invalidates both together
    * ([[graft.sources.TakedownApply.DocArtifactKeys]] — the
    * cluster_labels_v1 precedent: labels must die with their edges). */
  private[queries] def lpaLabelsServed(s: SparkSession, dir: String): DataFrame =
    graft.ArtifactStore.documentsArtifact(s, dir, "lpa_labels_v1")(
      lpaLabels(dupEdges(s, dir)))

  /** The from-scratch fixpoint (spec reference arm). */
  private[queries] def lpaLabelsDirect(s: SparkSession, dir: String): DataFrame =
    lpaLabels(dupEdges(s, dir))

  def labelPropagation(s: SparkSession, dir: String): DataFrame =
    lpaLabelsServed(s, dir)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("size"))
      .orderBy(col("community"))

  // ---------------------------------------------------------------- q126

  /** q126 — EXACT modularity audit of q125's partition: per community,
    * the Newman modularity contribution with every cross-engine value
    * integer — Q = Σ_c (e_c/m − (d_c/2m)²) scaled by 4m² gives
    * q_num = 4·m·e_c − d_c², so Q = Σ q_num / (4m²) is the consumer's
    * one division (q118/q119's convention). This is the score a
    * clustering rollout gates on: a partition whose Σ q_num ≤ 0 is no
    * better than random edge placement, and per-community rows point
    * at the specific families that drag it down.
    *
    * Scale shape: labels join to the edge list twice (equi-joins keyed
    * on node ids — at corpus scale labels broadcast: one row per NODE
    * of the near-dup graph, far smaller than the corpus); e_c and d_c
    * are partial-aggregated groupBys; m and the final frame are
    * community-cardinality-sized. Headroom: d_c² caps BIGINT at
    * d_c ~ 3·10⁹ — a single community touching 3 billion edge
    * endpoints — past which the emitted columns widen to
    * DECIMAL(38,0).
    */
  def modularityAudit(s: SparkSession, dir: String): DataFrame = {
    // both inputs parquet-backed via ArtifactStore — already
    // lineage-truncated, no localCheckpoint (which would pin the
    // edges in executor memory); the labels FileScan the shared
    // lpa_labels_v1 generation instead of re-running the fixpoint
    val edges = dupEdges(s, dir)
    val labels = lpaLabelsServed(s, dir)
    val m = edges.agg(count(lit(1)).as("m"))
    val lx = labels.select(col("node").as("x"), col("label").as("cx"))
    val ly = labels.select(col("node").as("y"), col("label").as("cy"))
    val eIn = edges.join(lx, Seq("x")).join(ly, Seq("y"))
      .where(col("cx") === col("cy"))
      .groupBy(col("cx").as("community")).agg(count(lit(1)).as("e_in"))
    val dSum = edges.select(col("x").as("node"))
      .unionAll(edges.select(col("y").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .join(labels, Seq("node"))
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("size"), sum(col("deg")).as("d_sum"))
    dSum.join(eIn, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .select(col("community"), col("size"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_sum"), col("m"),
        (lit(4L) * col("m") * coalesce(col("e_in"), lit(0L)) -
          col("d_sum") * col("d_sum")).as("q_num"))
      .orderBy(col("community"))
  }

  // ---------------------------------------------------------------- q128

  /** q128 — degree assortativity of the near-dup graph (Newman 2002):
    * do high-degree documents link to other high-degree documents?
    * Positive r means boilerplate-heavy hubs cluster together (one
    * shared-template family); negative means hubs link to leaves
    * (a few templates touching everything) — which decides whether
    * removing the top-degree docs breaks the dup graph apart. As an
    * EXACT rational (q119's convention): over edges with endpoint
    * degrees (j, k), with A = Σjk, B = Σ(j+k), C = Σ(j²+k²),
    * r = (4·M·A − B²) / (2·M·C − B²) — the one division is the
    * consumer's, every emitted value a BIGINT.
    *
    * Scale shape: two broadcastable degree joins onto the edge list
    * (degree table is node-cardinality-sized), then ONE partial
    * aggregation to four scalars; nothing after the q112-shared edge
    * build exceeds the graph's own size.
    */
  def assortativity(s: SparkSession, dir: String): DataFrame = {
    val edges = dupEdges(s, dir)
    val deg = edges.select(col("x").as("node"))
      .unionAll(edges.select(col("y").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = edges
      .join(deg.select(col("node").as("x"), col("deg").as("j")), Seq("x"))
      .join(deg.select(col("node").as("y"), col("deg").as("k")), Seq("y"))
    withDeg
      .agg(count(lit(1)).as("m"),
        sum(col("j") * col("k")).as("a"),
        sum(col("j") + col("k")).as("b"),
        sum(col("j") * col("j") + col("k") * col("k")).as("c"))
      .select(col("m"), col("a"), col("b"), col("c"),
        (lit(4L) * col("m") * col("a") - col("b") * col("b")).as("r_num"),
        (lit(2L) * col("m") * col("c") - col("b") * col("b")).as("r_den"))
  }

  // ---------------------------------------------------------- q136/q137

  /** PSI bin count for q136 (10 equi-width bins, q117's integer
    * bucketize arithmetic). */
  private val PsiBins = 10L

  /** The drift-pair split both distribution audits use: half 0 = events
    * before the corpus's temporal midpoint (exact integer micros), half
    * 1 = at/after — the "reference window vs current window" shape of a
    * production drift monitor, made deterministic. */
  private def halvedValues(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type").as("grp"), unix_micros(col("ts")).as("tu"),
        (col("value").cast(DecimalType(18, 2)) * lit(100))
          .cast(LongType).as("v"))
    val ext = ev.agg(min(col("tu")).as("tmn"), max(col("tu")).as("tmx"),
      min(col("v")).as("vmn"), max(col("v")).as("vmx"))
    ev.crossJoin(broadcast(ext))
      .withColumn("half",
        when(col("tu") < expr("tmn + (tmx - tmn) div 2"), lit(0L))
          .otherwise(lit(1L)))
  }

  /** q136 — distribution-drift bin counts (the integer inputs to PSI,
    * the Population Stability Index every model-monitoring stack
    * alerts on): per event type, `value` bucketed into 10 equi-width
    * bins over the GLOBAL [min,max] (so both halves share edges —
    * PSI's requirement), counted separately for the before/after
    * halves, with the half totals riding along. The PSI itself is
    * Σ (p_a − p_b)·ln(p_a/p_b) — logs drift across engines, so the
    * query ships the exact counts and the division is the consumer's
    * (q118/q119's convention).
    *
    * Scale shape: one scalar-extent pass broadcast back (q117's
    * pattern), then ONE partial-aggregated groupBy over ≤ groups × 10
    * bins × 2 halves keys; the totals join is a broadcast of ≤
    * groups×2 rows. Bins missing in a half surface as zero — the
    * full 10-bin frame is generated per group, not inferred from data.
    */
  def psiDrift(s: SparkSession, dir: String): DataFrame = {
    val binned = halvedValues(s, dir)
      .withColumn("bin",
        expr(s"((v - vmn) * $PsiBins) div (vmx - vmn + 1)"))
      .groupBy(col("grp"), col("bin"))
      .agg(sum(when(col("half") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("half") === 1L, 1L).otherwise(0L)).as("n_b"))
      // persist: ≤ groups×bins rows, consumed THREE times (group frame,
      // half totals, the dense join) — unpersisted each consumer re-runs
      // the scan + extent + bucket rollup. Paired A/B, sf0.1 local[4],
      // 10 alternating pairs of Bench medians: 1.11 -> 0.56 s, 10/10 wins
      .persist()
    // dense 10-bin frame per group: a bin empty in BOTH halves still
    // reports (0, 0) — a drift report with silently absent bins reads
    // as "no drift" exactly when drift is total
    val frame = binned.select(col("grp")).distinct()
      .crossJoin(binFrame(s))
    val tot = binned.groupBy(col("grp"))
      .agg(sum(col("n_a")).as("tot_a"), sum(col("n_b")).as("tot_b"))
    frame.join(binned, Seq("grp", "bin"), "left")
      .join(broadcast(tot), Seq("grp"))
      .select(col("grp"), col("bin"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        col("tot_a"), col("tot_b"))
      .orderBy(col("grp"), col("bin"))
  }

  private def binFrame(s: SparkSession): DataFrame =
    s.range(PsiBins).select(col("id").as("bin"))

  /** q137 — exact two-sample Kolmogorov–Smirnov distance per event
    * type between the same before/after halves: D = max over observed
    * values of |F_a(v) − F_b(v)|, shipped as the EXACT integer pieces
    * ks_num = max |cum_a·n_b − cum_b·n_a| and the two sample sizes
    * (D = ks_num / (n_a·n_b) is the consumer's division). PSI (q136)
    * sees only binned mass; KS is bin-free and catches shape shifts
    * inside a bin — the pair is the standard drift-monitor battery.
    *
    * Scale shape: counts collapse to one row per (group, distinct
    * value, half) BEFORE the window (partial agg — the window input is
    * distinct-value-bounded, not row-bounded); then ONE per-group
    * ordered window computes both running sums in the same pass, and a
    * final partial agg takes the max. Value cardinality here is
    * cent-bounded; a continuous metric at 100 TB would pre-quantize
    * (q106's dial) to keep the window frame bounded.
    */
  def ksDrift(s: SparkSession, dir: String): DataFrame = {
    val counts = halvedValues(s, dir)
      .groupBy(col("grp"), col("v"))
      .agg(sum(when(col("half") === 0L, 1L).otherwise(0L)).as("c_a"),
        sum(when(col("half") === 1L, 1L).otherwise(0L)).as("c_b"))
      // persist: distinct-value-bounded (cent-quantized — the same
      // bound the window depends on), consumed twice (half totals +
      // the cumulative window) — unpersisted the totals re-run the
      // whole scan + halving + rollup. Paired A/B, sf0.1 local[4], 10
      // alternating pairs of Bench medians: 1.09 -> 0.77 s, 10/10 wins
      .persist()
    val w = Window.partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = counts.groupBy(col("grp"))
      .agg(sum(col("c_a")).as("n_a"), sum(col("c_b")).as("n_b"))
    counts
      .withColumn("cum_a", sum(col("c_a")).over(w))
      .withColumn("cum_b", sum(col("c_b")).over(w))
      .join(broadcast(tot), Seq("grp"))
      .select(col("grp"), col("n_a"), col("n_b"),
        abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")).as("d"))
      .groupBy(col("grp"), col("n_a"), col("n_b"))
      .agg(max(col("d")).as("ks_num"))
      .select(col("grp"), col("n_a"), col("n_b"), col("ks_num"))
      .orderBy(col("grp"))
  }

  // ---------------------------------------------------------------- q133

  /** q133 — lag-1 serial correlation of `events.value` per event type,
    * in EXACT integers (q119's convention): is the metric a random
    * walk, mean-reverting, or trending at the sample-to-sample grain?
    * — the autocorrelation check monitoring runs before alerting on a
    * drift statistic (a high-|r₁| series needs a longer alert window;
    * q119's slope on an autocorrelated series overstates confidence).
    * Per group, consecutive (ts, event_id)-ordered value pairs (x =
    * prev, y = next) reduce to five DECIMAL(38,0) monoids; the emitted
    * Pearson pieces are num = n·Σxy − Σx·Σy and the two denominator
    * factors n·Σx² − (Σx)², n·Σy² − (Σy)² — the consumer's one lossy
    * step is r₁ = num / √(dx·dy). Magnitude: BIGINT carries cent-scale
    * values to n ~ 10⁵ per group; past that the emitted columns widen
    * to DECIMAL(38,0), same plan (q118/q119's note).
    *
    * Scale shape: the only shuffle is the per-type lag window (same
    * shape as q124's per-user window — thousands of independent
    * partitions at real cardinalities; event_type here is 5 groups,
    * the documented worst case); the five sums partial-aggregate.
    */
  def autocorr(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val w = Window.partitionBy(col("grp")).orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(s, dir)
      .select(col("event_type").as("grp"), col("ts"), col("event_id"),
        (col("value").cast(DecimalType(18, 2)) * lit(100))
          .cast(LongType).as("y"))
      .withColumn("x", lag(col("y"), 1).over(w))
      .where(col("x").isNotNull)
      .select(col("grp"), col("x").cast(d38).as("x"), col("y").cast(d38).as("y"))
    pairs.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("grp"), col("n"),
        (col("n").cast(d38) * col("sxy") - col("sx") * col("sy"))
          .cast(LongType).as("r_num"),
        (col("n").cast(d38) * col("sxx") - col("sx") * col("sx"))
          .cast(LongType).as("den_x"),
        (col("n").cast(d38) * col("syy") - col("sy") * col("sy"))
          .cast(LongType).as("den_y"))
      .orderBy(col("grp"))
  }

  // ---------------------------------------------------------------- q156

  /** q156 — the source-contamination matrix: near-dup edges rolled up
    * to (source_a, source_b) cells — the provenance question a corpus
    * operator asks when the dedup report lights up ("is src3 scraping
    * src1, or duplicating itself?"). Diagonal cells are within-source
    * template mass; off-diagonal cells are cross-source contamination,
    * normalized undirected via least/greatest so each unordered pair
    * reports once. Emits n_edges plus the distinct documents the
    * cell's edges touch on each side (n_docs_a/n_docs_b) — edge count
    * says volume, doc counts say spread (one hub page mirrored
    * everywhere vs broad overlap).
    *
    * Scale shape: the edges come from the ArtifactStore parquet (corpus
    * never rescanned); the two provenance lookups are broadcast joins
    * against the (doc_id, source) projection; the roll-up is one
    * partial agg over |sources|² cells. The distinct-doc counts ride
    * the same agg as count(DISTINCT ...) over 8-byte ids within
    * bounded cells.
    */
  def sourceDupMatrix(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val e = dupEdges(s, dir)
      .join(broadcast(src.select(col("doc_id").as("x"), col("source").as("sx"))), Seq("x"))
      .join(broadcast(src.select(col("doc_id").as("y"), col("source").as("sy"))), Seq("y"))
      .select(least(col("sx"), col("sy")).as("source_a"),
        greatest(col("sx"), col("sy")).as("source_b"),
        when(col("sx") <= col("sy"), col("x")).otherwise(col("y")).as("da"),
        when(col("sx") <= col("sy"), col("y")).otherwise(col("x")).as("db"))
    e.groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_edges"),
        countDistinct(col("da")).as("n_docs_a"),
        countDistinct(col("db")).as("n_docs_b"))
      .orderBy(col("source_a"), col("source_b"))
  }

  // ---------------------------------------------------------------- q152

  /** Sample size for q152's bottom-k-by-hash quantile sketch. */
  private val QsK = 64

  /** Order-preserving tag encoding for the q152 heap: cents + 10¹⁷
    * (always positive for any |cents| < 10¹⁷ — far beyond the
    * DECIMAL(18,2) event values) zero-padded to 18 digits, so the
    * heap's lexicographic tie order equals numeric cents order. */
  private val QsTagOff = 100000000000000000L

  /** q152 — APPROXIMATE per-group quantiles from a deterministic
    * mergeable sample: the bottom-[[QsK]] rows by a salted 60-bit hash
    * of the event id (a KMV-style uniform row sample, carried by the
    * native `graft_topk` heap aggregate on the negated priority), then
    * order statistics over the ≤k retained cents values. This is the
    * one-pass companion to q104: q104's exact histogram-narrowing scans
    * the corpus twice and shuffles a 512-bin histogram; this scans
    * ONCE and ships ≤k (priority, cents) pairs per partition — the
    * sketch a 100 TB monitoring pass actually runs, with q104 as its
    * calibration oracle (the spec bounds the rank error). Deterministic
    * because the hash order is a function of the data, not the
    * partitioning — so it is exact-oracle-able cross-engine, unlike
    * random-reservoir or KLL sketches whose merge order shows in the
    * result. (The heap's tag rides an order-preserving fixed-width
    * encoding — cents offset to non-negative and zero-padded, q155's
    * lpad idiom — so even on an equal-priority md5 collision the heap's
    * lexicographic tie order EQUALS the oracle's numeric ORDER BY pri,
    * cents; ADVICE r7.)
    *
    * Scale shape: one scan; per (group × partition) the aggregate
    * buffer is a ≤k heap, map-side combined; the quantile extraction
    * works on |groups| rows of k-element arrays — row-local transform/
    * array_sort, no second corpus pass, no per-group full sort.
    */
  def quantileSketch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d18 = DecimalType(18, 2)
    val pri = call_function("graft_h60",
      concat(lit("qs|"), col("event_id").cast(StringType)))
    val ev = Tables.events(s, dir)
      .select(explode(array(col("event_type"), lit("ALL"))).as("grp"),
        (col("value").cast(d18) * lit(100)).cast(LongType).as("cents"),
        (-pri).as("negp"))
    ev.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        call_function("graft_topk",
          col("negp"),
          lpad((col("cents") + lit(QsTagOff)).cast(StringType), 18, "0"),
          lit(QsK)).as("tk"))
      .withColumn("sc", expr(
        s"array_sort(transform(tk, x -> CAST(x.tag AS BIGINT) - ${QsTagOff}L))"))
      .withColumn("m", size(col("sc")).cast(LongType))
      .crossJoin(broadcast(QTargets.toDF("ql", "qp")))
      .select(col("grp"), col("ql"), col("n"), col("m").as("k_used"),
        expr("element_at(sc, CAST((qp * m + 99) div 100 AS INT))")
          .as("est_cents"))
      .orderBy(col("grp"), col("ql"))
  }

  // ---------------------------------------------------------------- q132

  /** k-core peel depth and fixed round count (q125's fixed-iteration
    * discipline: deterministic, oracle-able as unrolled CTE rounds). */
  private val KcoreK = 2
  private val KcoreRounds = 6

  /** q132 — k-core reduction of the near-dup graph (Seidman 1983;
    * Batagelj–Zaveršnik peeling): iteratively delete nodes with degree
    * < k, here k = 2 for [[KcoreRounds]] synchronous rounds. The
    * surviving 2-core is the DENSE heart of the duplication graph —
    * chains and pendant docs (one near-dup partner, harmless) peel
    * away, while template families (every member tied into multiple
    * others) survive; it is the standard cheap screen a curation
    * pipeline runs before the expensive community/modularity passes,
    * and the fixed round count makes the partial peel deterministic on
    * any graph (this corpus's converges in fewer rounds — the spec
    * proves fixpoint parity with an unbounded brute).
    *
    * Scale shape: per round one degree partial-agg plus two semi-
    * join-shaped equi-joins, all on 8-byte node ids; the edge frame
    * only shrinks, lineage is checkpoint-truncated per round
    * (q91/q125's discipline), and the input edges are the ArtifactStore
    * parquet — the corpus is never rescanned.
    */
  private def kcoreCompute(edgesIn: DataFrame): DataFrame = {
    def degrees(edges: DataFrame): DataFrame = edges
      .select(col("x").as("node")).unionAll(edges.select(col("y").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    var edges = edgesIn
    for (_ <- 1 to KcoreRounds) {
      val keep = degrees(edges).where(col("deg") >= KcoreK).select(col("node"))
      edges = edges
        .join(keep.select(col("node").as("x")), Seq("x"))
        .join(keep.select(col("node").as("y")), Seq("y"))
        .localCheckpoint()
    }
    degrees(edges).select(col("node"), col("deg").as("deg_core"))
  }

  /** The peeled 2-core, served (`kcore_deg_v1`, documents
    * fingerprint): the [[KcoreRounds]]-round peel is a pure function
    * of the served `dup_edges_v1` generation — the lpa_labels_v1
    * discipline (derived graph state, never a per-query rerun); dies
    * with its edges in the takedown cascade. */
  private[queries] def kcoreServed(s: SparkSession, dir: String): DataFrame =
    graft.ArtifactStore.documentsArtifact(s, dir, "kcore_deg_v1")(
      kcoreCompute(dupEdges(s, dir)))

  /** The from-scratch peel (spec reference arm). */
  private[queries] def kcoreDirect(s: SparkSession, dir: String): DataFrame =
    kcoreCompute(dupEdges(s, dir))

  def kcore(s: SparkSession, dir: String): DataFrame =
    kcoreServed(s, dir).orderBy(col("node"))

  // ---------------------------------------------------------------- q149

  /** Fixed BFS depth — like [[KcoreRounds]], a deterministic synchronous
    * round count so the partial traversal is oracle-able as unrolled
    * CTEs; 4 hops is the radius a takedown review actually inspects. */
  private val BfsRounds = 4

  /** q149 — takedown blast-radius: multi-source BFS hop distance over
    * the near-dup graph from the flagged documents (q144's takedown
    * flag). q144 counts the ONE-hop cascade; this answers the follow-up
    * a compliance review asks next — how far does contaminated content
    * propagate through transitive near-duplication? One row per
    * document within [[BfsRounds]] hops of any flagged doc: (node,
    * hop), hop = exact shortest-path distance (0 = flagged itself,
    * including isolated flagged docs with no dup partner).
    *
    * Frontier-delta form, not re-relaxation: each round joins ONLY the
    * newly-reached frontier (hop = i−1) against the adjacency list and
    * anti-joins out already-visited nodes, so total work is O(Σ
    * frontier-degree) — edges touched once per endpoint across the
    * whole traversal, the textbook Pregel BFS — rather than re-scanning
    * the full visited set every round. All joins carry 8-byte node ids;
    * lineage is checkpoint-truncated per round (q91/q125/q132's
    * discipline); the corpus is scanned once for seeds and never again
    * (edges come from the ArtifactStore parquet).
    */
  private def bfsHopsCompute(s: SparkSession, dir: String): DataFrame = {
    val edges = dupEdges(s, dir)
    val und = edges.select(col("x").as("node"), col("y").as("nbr"))
      .unionAll(edges.select(col("y").as("node"), col("x").as("nbr")))
    val seeds = Tables.documents(s, dir)
      .where(pmod(call_function("graft_h60",
        concat(lit("takedown|"), col("doc_id").cast("string"))),
        lit(16L)) === 0L)
      .select(col("doc_id").as("node"), lit(0L).as("hop"))
    var dist = seeds.localCheckpoint()
    for (i <- 1 to BfsRounds) {
      val frontier = dist.where(col("hop") === lit((i - 1).toLong))
      val fresh = frontier.join(und, Seq("node"))
        .select(col("nbr").as("node")).distinct()
        .join(dist.select(col("node")), Seq("node"), "left_anti")
        .select(col("node"), lit(i.toLong).as("hop"))
      dist = dist.unionAll(fresh).localCheckpoint()
    }
    dist
  }

  /** The hop map, served (`bfs_hops_v1`, documents fingerprint): a
    * pure function of the corpus — the seed set is a doc_id hash and
    * the adjacency is the served `dup_edges_v1` generation — that the
    * traversal re-ran per query ([[kcoreServed]]/lpa_labels_v1's
    * discipline); dies with its edges in the takedown cascade. */
  private[queries] def bfsHopsServed(s: SparkSession, dir: String): DataFrame =
    graft.ArtifactStore.documentsArtifact(s, dir, "bfs_hops_v1")(
      bfsHopsCompute(s, dir))

  /** The from-scratch traversal (spec reference arm). */
  private[queries] def bfsHopsDirect(s: SparkSession, dir: String): DataFrame =
    bfsHopsCompute(s, dir)

  def bfsHops(s: SparkSession, dir: String): DataFrame =
    bfsHopsServed(s, dir).orderBy(col("node"))

  // ------------------------------------------------------------ oracles

  private def prIterCte(i: Int): String =
    s"""p$i AS (
       |  SELECT d.node, d.deg,
       |         (3 * (1000000000000000 // nn.n)) // 20
       |           + (17 * COALESCE(m.inflow, 0)) // 20 AS pr
       |  FROM deg d
       |  CROSS JOIN nn
       |  LEFT JOIN (
       |    SELECT e.dst AS node, SUM(p.pr // p.deg) AS inflow
       |    FROM p${i - 1} p JOIN edges e ON e.src = p.node
       |    GROUP BY e.dst) m USING (node))""".stripMargin

  /** q119 — per-group OLS trend (is this metric drifting, per key?) as
    * ONE partial-aggregated pass over sufficient statistics: for each
    * event type, regress value-cents on hours-since-corpus-start and
    * emit the slope as the EXACT rational slope_num/slope_den =
    * (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), never as a float — divisions
    * drift across engines, integer numerators cannot. (n, Σx, Σy ride
    * along so a consumer can derive the intercept.) This is the
    * monitoring/trend family's version of q118's trick: do all the
    * distributed work in integers, leave the one lossy division to the
    * consumer.
    *
    * Scale shape: the global min-hour epoch is one scalar agg broadcast
    * back (a planning statistic at 100 TB); then a single scan
    * partial-aggregates five BIGINT/DECIMAL(38,0) monoids per group —
    * the shuffle is groups × partitions rows of five numbers, no sort,
    * no join. Magnitude bound: n·Σxy stays under 2⁶³ through ~10⁵-hour
    * spans × 10⁷-cent values × 10⁵ rows/group; past that the emitted
    * columns widen to DECIMAL(38,0), same plan.
    */
  def groupTrend(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val ev = Tables.events(s, dir)
      .select(col("event_type").as("grp"),
        // date_trunc flooring, not truncating `div` — the uniform
        // hour-bucket convention across the query family (q108 /
        // StreamResample); `div` of the date_trunc'd micros is exact
        // because they are a multiple of 3.6e9, pre-1970 included.
        expr("unix_micros(date_trunc('HOUR', ts)) div 3600000000").as("h"),
        (col("value").cast(DecimalType(18, 2)) * lit(100))
          .cast(LongType).as("y"))
    val hmin = ev.agg(min(col("h")).as("hmin"))
    val st = ev.crossJoin(broadcast(hmin))
      .select(col("grp"), (col("h") - col("hmin")).cast(d38).as("x"),
        col("y").cast(d38).as("y"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
    st.select(col("grp"), col("n"),
      col("sx").cast(LongType).as("sx"), col("sy").cast(LongType).as("sy"),
      (col("n").cast(d38) * col("sxy") - col("sx") * col("sy"))
        .cast(LongType).as("slope_num"),
      (col("n").cast(d38) * col("sxx") - col("sx") * col("sx"))
        .cast(LongType).as("slope_den"))
      .orderBy(col("grp"))
  }

  /** q124 — the event-transition (Markov) matrix: for each user's
    * time-ordered event stream, count consecutive (prev_type → type)
    * pairs — the behavioral-model fit behind funnels-without-a-schema,
    * anomaly scoring (improbable transitions), and session simulation.
    * Ties in ts are ordered by event_id, making the per-user sequence
    * total and both engines' lag() identical. The transition
    * PROBABILITY is the consumer's division: the query ships the exact
    * integer (n_trans, from_total) pair (q119's convention).
    *
    * Scale shape: the only shuffle is the per-user window (partitioned
    * by user_id — thousands of small partitions, no global sort);
    * transition counting is a partial-aggregated groupBy over ≤
    * |types|² keys; the from_total join is a broadcast of ≤ |types|
    * rows.
    */
  def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_trans"))
    val totals = trans.groupBy(col("prev_type"))
      .agg(sum(col("n_trans")).as("from_total"))
    trans.join(broadcast(totals), Seq("prev_type"))
      .select(col("prev_type"), col("next_type"), col("n_trans"),
        col("from_total"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q124_event_transitions" -> eventTransitions,
    "q119_group_trend" -> groupTrend,
    "q88_dup_spans"    -> dupSpans,
    "q188_winnow_fingerprint" -> winnowFingerprint,
    "q195_winnow_clusters" -> winnowClusters,
    "q196_dup_longest_run" -> dupLongestRun,
    "q199_winnow_src_matrix" -> winnowSrcMatrix,
    "q191_winnow_matches" -> winnowMatches,
    "q89_kmv_distinct" -> kmvDistinct,
    "q90_rrf_hybrid"   -> rrfHybrid,
    "q91_pagerank"     -> pageRank,
    "q92_lm_quality"   -> lmQuality,
    "q93_sessionize"   -> sessionize,
    "q94_rrf_hybrid_ivf" -> rrfHybridIvf,
    "q98_dup_span_remove" -> dupSpanRemove,
    "q104_exact_quantiles" -> exactQuantiles,
    "q152_quantile_sketch" -> quantileSketch,
    "q109_kmv_overlap" -> kmvOverlap,
    "q112_triangles" -> triangles,
    "q125_label_propagation" -> labelPropagation,
    "q126_modularity" -> modularityAudit,
    "q128_assortativity" -> assortativity,
    "q132_kcore" -> kcore,
    "q133_autocorr" -> autocorr,
    "q149_bfs_hops" -> bfsHops,
    "q156_source_dup_matrix" -> sourceDupMatrix,
    "q136_psi_drift" -> psiDrift,
    "q137_ks_drift" -> ksDrift
  )

  /** Shared RRF oracle pieces: the lexical-arm CTE chain and the
    * rank-only fusion tail are identical for q90 (exact vector arm) and
    * q94 (IVF vector arm); only the `vecall` CTE differs. */
  private val rrfLexCtesSql =
    """d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |lens AS (SELECT doc_id, len(w)::BIGINT AS dl FROM d),
      |stats AS (
      |  SELECT count(*)::BIGINT AS n,
      |         sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl
      |  FROM lens),
      |postings AS (
      |  SELECT doc_id, t, count(*)::BIGINT AS tf FROM (
      |    SELECT doc_id, unnest(w) AS t FROM d)
      |  WHERE t IN ('spark', 'fast', 'table')
      |  GROUP BY doc_id, t),
      |dfreq AS (SELECT t, count(*)::BIGINT AS df FROM postings GROUP BY t),
      |scored AS (
      |  SELECT p.doc_id,
      |         CAST(((n::DOUBLE - df::DOUBLE + 0.5) / (df::DOUBLE + 0.5))
      |           * ((tf::DOUBLE * 2.2)
      |              / (tf::DOUBLE + 1.2 * (0.25 + 0.75 * (dl::DOUBLE / avgdl))))
      |           AS DECIMAL(18,9)) AS ts
      |  FROM postings p
      |  JOIN dfreq USING (t)
      |  JOIN lens USING (doc_id)
      |  CROSS JOIN stats),
      |lexall AS (
      |  SELECT doc_id, CAST(sum(ts) AS DOUBLE) AS score
      |  FROM scored GROUP BY doc_id
      |  ORDER BY score DESC, doc_id LIMIT 20),
      |lex AS (
      |  SELECT doc_id,
      |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
      |      AS rank_lex
      |  FROM lexall)""".stripMargin

  private val rrfFuseSql =
    """vec AS (
      |  SELECT doc_id,
      |    CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS BIGINT)
      |      AS rank_vec
      |  FROM vecall)
      |SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
      |       COALESCE(lex.rank_lex, -1) AS rank_lex,
      |       COALESCE(vec.rank_vec, -1) AS rank_vec,
      |       COALESCE(1.0::DOUBLE / (60.0::DOUBLE + lex.rank_lex::DOUBLE), 0.0)
      |         + COALESCE(1.0::DOUBLE / (60.0::DOUBLE + vec.rank_vec::DOUBLE), 0.0)
      |         AS rrf_score
      |FROM lex FULL OUTER JOIN vec USING (doc_id)
      |ORDER BY rrf_score DESC, doc_id LIMIT 10""".stripMargin

  /** Shared capped near-dup edge CTEs (the `e(x, y)` relation) — the
    * oracle-side mirror of [[dupEdges]], used by q112 and q125. */
  private val dupEdgeCtesSql =
    """d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, w, unnest(
      |    CASE WHEN len(w) >= 8 THEN range(0, len(w) - 7) ELSE [] END) AS pos
      |  FROM d),
      |occ AS (
      |  SELECT DISTINCT doc_id,
      |    ('0x' || substr(md5(array_to_string(
      |       list_slice(w, pos + 1, pos + 8), ' ')), 1, 15))::BIGINT AS g
      |  FROM pos),
      |nn AS (SELECT count(*) AS n FROM documents),
      |keepg AS (
      |  SELECT g FROM occ GROUP BY g
      |  HAVING count(*) >= 2
      |     AND count(*) <= greatest(5, ceil(0.01 * (SELECT n FROM nn)))),
      |kept AS (SELECT occ.doc_id, occ.g FROM occ JOIN keepg USING (g)),
      |e AS (
      |  SELECT DISTINCT a.doc_id AS x, b.doc_id AS y
      |  FROM kept a JOIN kept b
      |    ON a.g = b.g AND a.doc_id < b.doc_id)""".stripMargin

  /** One synchronous LPA round as CTEs (mode of neighbor labels, ties
    * to the smallest label — the window form of the Spark side's
    * max(struct(count, −label)) arg-max). */
  private def lpaIterCte(i: Int): String =
    s"""c$i AS (
       |  SELECT u.node AS node, l.label AS nl, count(*) AS c
       |  FROM und u JOIN l${i - 1} l ON l.node = u.nbr
       |  GROUP BY u.node, l.label),
       |l$i AS (
       |  SELECT node, nl AS label FROM (
       |    SELECT node, nl,
       |           row_number() OVER (PARTITION BY node
       |                              ORDER BY c DESC, nl) AS rn
       |    FROM c$i) WHERE rn = 1)""".stripMargin

  /** One synchronous BFS round as CTEs (the Spark loop's round,
    * verbatim: frontier = hop i−1 → neighbors → min-fold into the
    * visited set; MIN(hop) subsumes the Spark side's anti-join — a
    * node reached earlier keeps its smaller hop). */
  private def bfsIterCte(i: Int): String =
    s"""f$i AS MATERIALIZED (
       |  SELECT DISTINCT u.nbr AS node
       |  FROM h${i - 1} p JOIN und u ON u.node = p.node
       |  WHERE p.hop = ${i - 1}),
       |h$i AS MATERIALIZED (
       |  SELECT node, MIN(hop) AS hop FROM (
       |    SELECT node, hop FROM h${i - 1}
       |    UNION ALL SELECT node, $i AS hop FROM f$i)
       |  GROUP BY node)""".stripMargin

  /** One synchronous k-core peel round as CTEs (the Spark loop's round,
    * verbatim: degrees → keep ≥ k → restrict edges to kept nodes).
    * MATERIALIZED is load-bearing: each round references the previous
    * edge frame three times, so DuckDB's default inlining re-expands
    * the whole gram pipeline 3^rounds times (observed as a
    * too-many-open-files explosion at round 6). */
  private def kcoreIterCte(i: Int): String =
    s"""dg$i AS MATERIALIZED (
       |  SELECT node, count(*) AS deg FROM (
       |    SELECT x AS node FROM e${i - 1} UNION ALL SELECT y FROM e${i - 1})
       |  GROUP BY node),
       |k$i AS MATERIALIZED (SELECT node FROM dg$i WHERE deg >= 2),
       |e$i AS MATERIALIZED (
       |  SELECT p.x, p.y FROM e${i - 1} p
       |  JOIN k$i a ON a.node = p.x JOIN k$i b ON b.node = p.y)""".stripMargin

  /** Shared CTEs for the drift pair: halved cent values + extents. */
  private val halvedSql =
    """e AS (
      |  SELECT event_type AS grp, epoch_us(ts) AS tu,
      |         ((value::DECIMAL(18,2)) * 100)::BIGINT AS v
      |  FROM events),
      |ext AS (
      |  SELECT min(tu) AS tmn, max(tu) AS tmx,
      |         min(v) AS vmn, max(v) AS vmx FROM e),
      |h AS (
      |  SELECT grp, v,
      |         CASE WHEN tu < tmn + (tmx - tmn) // 2 THEN 0 ELSE 1 END AS half
      |  FROM e, ext)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q136_psi_drift" ->
      s"""WITH $halvedSql,
         |binned AS (
         |  SELECT grp, ((v - vmn) * 10) // (vmx - vmn + 1) AS bin,
         |         sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
         |         sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b
         |  FROM h, ext GROUP BY 1, 2),
         |frame AS (
         |  SELECT DISTINCT grp, b.bin
         |  FROM binned, (SELECT unnest(range(0, 10)) AS bin) b),
         |tot AS (
         |  SELECT grp, sum(n_a)::BIGINT AS tot_a, sum(n_b)::BIGINT AS tot_b
         |  FROM binned GROUP BY grp)
         |SELECT f.grp, f.bin::BIGINT AS bin,
         |       COALESCE(n_a, 0)::BIGINT AS n_a,
         |       COALESCE(n_b, 0)::BIGINT AS n_b, tot_a, tot_b
         |FROM frame f
         |LEFT JOIN binned USING (grp, bin)
         |JOIN tot USING (grp)
         |ORDER BY grp, bin""".stripMargin,

    "q137_ks_drift" ->
      s"""WITH $halvedSql,
         |counts AS (
         |  SELECT grp, v,
         |         sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)::BIGINT AS c_a,
         |         sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS c_b
         |  FROM h GROUP BY 1, 2),
         |tot AS (
         |  SELECT grp, sum(c_a)::BIGINT AS n_a, sum(c_b)::BIGINT AS n_b
         |  FROM counts GROUP BY grp),
         |cum AS (
         |  SELECT grp,
         |         sum(c_a) OVER (PARTITION BY grp ORDER BY v) AS cum_a,
         |         sum(c_b) OVER (PARTITION BY grp ORDER BY v) AS cum_b
         |  FROM counts)
         |SELECT grp, n_a, n_b,
         |       max(abs(cum_a * n_b - cum_b * n_a))::BIGINT AS ks_num
         |FROM cum JOIN tot USING (grp)
         |GROUP BY grp, n_a, n_b
         |ORDER BY grp""".stripMargin,

    "q133_autocorr" ->
      """WITH e AS (
        |  SELECT event_type AS grp, ts, event_id,
        |         ((value::DECIMAL(18,2)) * 100)::BIGINT AS y
        |  FROM events),
        |p AS (
        |  SELECT grp, y,
        |         lag(y) OVER (PARTITION BY grp ORDER BY ts, event_id) AS x
        |  FROM e),
        |st AS (
        |  SELECT grp, count(*)::HUGEINT AS n,
        |         sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
        |         sum(x::HUGEINT * y::HUGEINT) AS sxy,
        |         sum(x::HUGEINT * x::HUGEINT) AS sxx,
        |         sum(y::HUGEINT * y::HUGEINT) AS syy
        |  FROM p WHERE x IS NOT NULL GROUP BY grp)
        |SELECT grp, n::BIGINT AS n,
        |       (n * sxy - sx * sy)::BIGINT AS r_num,
        |       (n * sxx - sx * sx)::BIGINT AS den_x,
        |       (n * syy - sy * sy)::BIGINT AS den_y
        |FROM st ORDER BY grp""".stripMargin,

    "q156_source_dup_matrix" ->
      (s"""WITH $dupEdgeCtesSql,
         |sd AS (SELECT doc_id, source FROM documents),
         |m AS (
         |  SELECT least(a.source, b.source) AS source_a,
         |         greatest(a.source, b.source) AS source_b,
         |         CASE WHEN a.source <= b.source THEN e.x ELSE e.y END AS da,
         |         CASE WHEN a.source <= b.source THEN e.y ELSE e.x END AS db
         |  FROM e JOIN sd a ON a.doc_id = e.x JOIN sd b ON b.doc_id = e.y)
         |SELECT source_a, source_b, count(*)::BIGINT AS n_edges,
         |       count(DISTINCT da)::BIGINT AS n_docs_a,
         |       count(DISTINCT db)::BIGINT AS n_docs_b
         |FROM m GROUP BY source_a, source_b
         |ORDER BY source_a, source_b""".stripMargin),
    "q152_quantile_sketch" ->
      (s"""WITH ev AS (
         |  SELECT unnest([event_type, 'ALL']) AS grp,
         |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         |         ('0x' || substr(md5('qs|' || event_id), 1, 15))::BIGINT AS pri
         |  FROM events),
         |rk AS (
         |  SELECT grp, cents,
         |         row_number() OVER (PARTITION BY grp ORDER BY pri, cents) AS rn,
         |         count(*) OVER (PARTITION BY grp) AS n
         |  FROM ev),
         |smp AS (SELECT grp, cents, n FROM rk WHERE rn <= $QsK),
         |srt AS (
         |  SELECT grp, cents, n,
         |         row_number() OVER (PARTITION BY grp ORDER BY cents) AS sr,
         |         count(*) OVER (PARTITION BY grp) AS m
         |  FROM smp),
         |t(ql, qp) AS (VALUES ('p50', 50), ('p90', 90), ('p99', 99))
         |SELECT s.grp, t.ql, s.n::BIGINT AS n, s.m::BIGINT AS k_used,
         |       s.cents AS est_cents
         |FROM srt s JOIN t ON s.sr = (t.qp * s.m + 99) // 100
         |ORDER BY grp, ql""".stripMargin),
    "q149_bfs_hops" ->
      (s"""WITH $dupEdgeCtesSql,
         |und AS MATERIALIZED (
         |  SELECT x AS node, y AS nbr FROM e
         |  UNION ALL SELECT y AS node, x AS nbr FROM e),
         |h0 AS MATERIALIZED (
         |  SELECT doc_id AS node, 0 AS hop FROM documents
         |  WHERE ('0x' || substr(md5('takedown|' || doc_id), 1, 15))::BIGINT
         |        % 16 = 0),
         |${(1 to BfsRounds).map(bfsIterCte).mkString(",\n")}
         |SELECT CAST(node AS BIGINT) AS node, CAST(hop AS BIGINT) AS hop
         |FROM h$BfsRounds ORDER BY node""".stripMargin),
    "q132_kcore" ->
      (s"""WITH $dupEdgeCtesSql,
         |e0 AS MATERIALIZED (SELECT x, y FROM e),
         |${(1 to KcoreRounds).map(kcoreIterCte).mkString(",\n")}
         |SELECT node, count(*)::BIGINT AS deg_core FROM (
         |  SELECT x AS node FROM e$KcoreRounds
         |  UNION ALL SELECT y FROM e$KcoreRounds)
         |GROUP BY node ORDER BY node""".stripMargin),

    "q128_assortativity" ->
      s"""WITH $dupEdgeCtesSql,
        |deg AS (
        |  SELECT node, count(*)::BIGINT AS deg FROM (
        |    SELECT x AS node FROM e UNION ALL SELECT y FROM e)
        |  GROUP BY node),
        |wd AS (
        |  SELECT dj.deg AS j, dk.deg AS k
        |  FROM e
        |  JOIN deg dj ON dj.node = e.x
        |  JOIN deg dk ON dk.node = e.y),
        |st AS (
        |  SELECT count(*)::BIGINT AS m,
        |         sum(j * k)::BIGINT AS a,
        |         sum(j + k)::BIGINT AS b,
        |         sum(j * j + k * k)::BIGINT AS c
        |  FROM wd)
        |SELECT m, a, b, c,
        |       (4 * m * a - b * b)::BIGINT AS r_num,
        |       (2 * m * c - b * b)::BIGINT AS r_den
        |FROM st""".stripMargin,
    "q126_modularity" ->
      (s"""WITH $dupEdgeCtesSql,
         |und AS (
         |  SELECT x AS node, y AS nbr FROM e
         |  UNION ALL
         |  SELECT y, x FROM e),
         |l0 AS (SELECT DISTINCT node, node AS label FROM und),
         |""".stripMargin +
        (1 to LpaIters).map(lpaIterCte).mkString(",\n") +
        s""",
         |mm AS (SELECT count(*)::BIGINT AS m FROM e),
         |ein AS (
         |  SELECT lx.label AS community, count(*)::BIGINT AS e_in
         |  FROM e
         |  JOIN l$LpaIters lx ON lx.node = e.x
         |  JOIN l$LpaIters ly ON ly.node = e.y
         |  WHERE lx.label = ly.label
         |  GROUP BY lx.label),
         |deg AS (
         |  SELECT node, count(*)::BIGINT AS deg FROM und GROUP BY node),
         |ds AS (
         |  SELECT l.label AS community, count(*)::BIGINT AS size,
         |         sum(d.deg)::BIGINT AS d_sum
         |  FROM deg d JOIN l$LpaIters l USING (node)
         |  GROUP BY l.label)
         |SELECT ds.community, ds.size,
         |       COALESCE(ein.e_in, 0) AS e_in, ds.d_sum, mm.m,
         |       (4 * mm.m * COALESCE(ein.e_in, 0)
         |          - ds.d_sum * ds.d_sum)::BIGINT AS q_num
         |FROM ds LEFT JOIN ein USING (community), mm
         |ORDER BY community""".stripMargin),
    "q125_label_propagation" ->
      (s"""WITH $dupEdgeCtesSql,
         |und AS (
         |  SELECT x AS node, y AS nbr FROM e
         |  UNION ALL
         |  SELECT y, x FROM e),
         |l0 AS (SELECT DISTINCT node, node AS label FROM und),
         |""".stripMargin +
        (1 to LpaIters).map(lpaIterCte).mkString(",\n") +
        s"""
         |SELECT label AS community, count(*)::BIGINT AS size
         |FROM l$LpaIters
         |GROUP BY label
         |ORDER BY community""".stripMargin),
    "q124_event_transitions" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |trans AS (
        |  SELECT prev_type, event_type AS next_type,
        |         count(*)::BIGINT AS n_trans
        |  FROM seq WHERE prev_type IS NOT NULL
        |  GROUP BY prev_type, event_type),
        |tot AS (
        |  SELECT prev_type, sum(n_trans)::BIGINT AS from_total
        |  FROM trans GROUP BY prev_type)
        |SELECT prev_type, next_type, n_trans, from_total
        |FROM trans JOIN tot USING (prev_type)
        |ORDER BY prev_type, next_type""".stripMargin,
    "q119_group_trend" ->
      """WITH e AS (
        |  SELECT event_type AS grp,
        |         epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
        |         ((value::DECIMAL(18,2)) * 100)::BIGINT AS y
        |  FROM events),
        |m AS (SELECT min(h) AS hmin FROM e),
        |x AS (SELECT grp, (h - hmin)::HUGEINT AS x, y::HUGEINT AS y
        |      FROM e, m),
        |st AS (
        |  SELECT grp, count(*)::HUGEINT AS n, sum(x) AS sx, sum(y) AS sy,
        |         sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM x GROUP BY grp)
        |SELECT grp, n::BIGINT AS n, sx::BIGINT AS sx, sy::BIGINT AS sy,
        |       (n * sxy - sx * sy)::BIGINT AS slope_num,
        |       (n * sxx - sx * sx)::BIGINT AS slope_den
        |FROM st ORDER BY grp""".stripMargin,
    // same edge set; triangles counted under the doc_id total order —
    // any total order counts each triangle exactly once, so the count
    // equals the Spark side's degree-ordered orientation
    "q112_triangles" ->
      s"""WITH $dupEdgeCtesSql,
        |deg AS (
        |  SELECT node, count(*)::BIGINT AS deg FROM (
        |    SELECT x AS node FROM e UNION ALL SELECT y FROM e)
        |  GROUP BY node),
        |tri AS (
        |  SELECT count(*)::BIGINT AS n_triangles
        |  FROM e p JOIN e q ON p.y = q.x
        |  JOIN e r ON r.x = p.x AND r.y = q.y),
        |stats AS (
        |  SELECT count(*)::BIGINT AS n_nodes,
        |         COALESCE(sum(deg * (deg - 1) // 2), 0)::BIGINT AS n_wedges
        |  FROM deg),
        |ec AS (SELECT count(*)::BIGINT AS n_edges FROM e)
        |SELECT s.n_nodes, ec.n_edges, s.n_wedges, t.n_triangles,
        |       CASE WHEN s.n_wedges = 0 THEN 0.0::DOUBLE
        |            ELSE 3.0 * t.n_triangles::DOUBLE / s.n_wedges::DOUBLE
        |       END AS clustering
        |FROM stats s, ec, tri t""".stripMargin,
    // sketch-combination estimator replicated verbatim: same md5-60-bit
    // hashes, same k-min union, same inclusion rule — deterministic
    "q109_kmv_overlap" ->
      """WITH d AS (
        |  SELECT DISTINCT event_type AS grp,
        |    ('0x' || substr(md5('kmvov|' || CAST(user_id AS VARCHAR)),
        |     1, 15))::BIGINT AS h
        |  FROM events),
        |r AS (SELECT grp, h,
        |        row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
        |      FROM d),
        |sk AS (SELECT grp, h FROM r WHERE rn <= 64),
        |gs AS (SELECT DISTINCT grp FROM sk),
        |pairs AS (SELECT a.grp AS ga, b.grp AS gb
        |          FROM gs a, gs b WHERE a.grp < b.grp),
        |mem AS (
        |  SELECT p.ga, p.gb, s.h,
        |         max(CASE WHEN s.grp = p.ga THEN 1 ELSE 0 END) AS in_a,
        |         max(CASE WHEN s.grp = p.gb THEN 1 ELSE 0 END) AS in_b
        |  FROM pairs p JOIN sk s ON s.grp = p.ga OR s.grp = p.gb
        |  GROUP BY p.ga, p.gb, s.h),
        |u AS (SELECT ga, gb, h, in_a, in_b,
        |        row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
        |      FROM mem),
        |agg AS (
        |  SELECT ga, gb, count(*)::BIGINT AS k_used, max(h) AS kth_hash,
        |         sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
        |           ::BIGINT AS both_cnt
        |  FROM u WHERE rn <= 64 GROUP BY ga, gb),
        |dd AS (SELECT DISTINCT event_type AS grp, user_id FROM events),
        |t AS (SELECT x.grp AS ga, y.grp AS gb, count(*)::BIGINT AS true_inter
        |      FROM dd x JOIN dd y
        |        ON x.user_id = y.user_id AND x.grp < y.grp
        |      GROUP BY x.grp, y.grp),
        |e AS (
        |  SELECT a.ga, a.gb, a.k_used, a.both_cnt,
        |    CASE WHEN a.k_used < 64 THEN a.k_used::DOUBLE
        |         ELSE 63.0::DOUBLE /
        |           (a.kth_hash::DOUBLE /
        |            CAST(1152921504606846976 AS DOUBLE)) END AS est_union,
        |    t.true_inter
        |  FROM agg a JOIN t USING (ga, gb))
        |SELECT ga, gb, k_used, both_cnt, est_union,
        |       both_cnt::DOUBLE / k_used::DOUBLE * est_union AS est_inter,
        |       true_inter,
        |       (both_cnt::DOUBLE / k_used::DOUBLE * est_union
        |          - true_inter::DOUBLE) / true_inter::DOUBLE AS rel_err
        |FROM e ORDER BY ga, gb""".stripMargin,
    // the naive sort-based plan the histogram narrowing replaces —
    // same exact order statistics (rank = ceil(p·n/100), BIGINT math)
    "q104_exact_quantiles" ->
      """WITH ev AS (
        |  SELECT event_type AS grp, value AS v FROM events
        |  UNION ALL
        |  SELECT 'ALL' AS grp, value AS v FROM events),
        |n AS (SELECT grp, count(*)::BIGINT AS n FROM ev GROUP BY grp),
        |qs AS (SELECT * FROM (VALUES ('p50', 50), ('p90', 90), ('p99', 99))
        |       AS q(ql, qp)),
        |tgt AS (SELECT grp, ql, n, (qp * n + 99) // 100 AS r
        |        FROM n CROSS JOIN qs),
        |o AS (SELECT grp, v,
        |        row_number() OVER (PARTITION BY grp ORDER BY v) AS rn
        |      FROM ev)
        |SELECT t.grp, t.ql, t.n, o.v AS val
        |FROM tgt t JOIN o ON o.grp = t.grp AND o.rn = t.r
        |ORDER BY t.grp, t.ql""".stripMargin,
    "q199_winnow_src_matrix" ->
      s"""WITH $winnowPairsCtesSql,
        |sp AS (
        |  SELECT least(da.source, db.source) AS src_a,
        |         greatest(da.source, db.source) AS src_b, p.n_shared
        |  FROM pairs p
        |  JOIN documents da ON p.doc_a = da.doc_id
        |  JOIN documents db ON p.doc_b = db.doc_id)
        |SELECT src_a, src_b, count(*)::BIGINT AS n_pairs,
        |       sum(n_shared)::BIGINT AS shared_fp
        |FROM sp GROUP BY src_a, src_b
        |ORDER BY src_a, src_b""".stripMargin,

    "q195_winnow_clusters" ->
      s"""WITH RECURSIVE $winnowPairsCtesSql,
        |und AS (
        |  SELECT doc_a AS s, doc_b AS d FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT DISTINCT s AS id, s AS r FROM und
        |  UNION
        |  SELECT reach.id, u.d FROM reach JOIN und u ON u.s = reach.r)
        |SELECT id AS doc_id, min(r) AS comp
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    "q196_dup_longest_run" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |lens AS (SELECT doc_id, len(w)::BIGINT AS n_tok FROM d),
        |pos AS (
        |  SELECT doc_id, w, unnest(
        |    CASE WHEN len(w) >= 8 THEN range(0, len(w) - 7) ELSE [] END) AS pos
        |  FROM d),
        |occ AS (
        |  SELECT doc_id, pos::BIGINT AS pos,
        |    ('0x' || substr(md5(array_to_string(
        |       list_slice(w, pos + 1, pos + 8), ' ')), 1, 15))::BIGINT AS g
        |  FROM pos),
        |dup AS (
        |  SELECT g FROM (SELECT DISTINCT g, doc_id FROM occ)
        |  GROUP BY g HAVING count(*) >= 2),
        |runs AS (
        |  SELECT doc_id, pos,
        |         pos - row_number() OVER (PARTITION BY doc_id
        |              ORDER BY pos) AS grp
        |  FROM occ JOIN dup USING (g)),
        |spans AS (
        |  SELECT doc_id, grp, max(pos) - min(pos) + 8 AS span
        |  FROM runs GROUP BY doc_id, grp),
        |agg AS (
        |  SELECT doc_id, max(span)::BIGINT AS longest_dup_span,
        |         count(*)::BIGINT AS n_runs
        |  FROM spans GROUP BY doc_id)
        |SELECT l.doc_id, l.n_tok,
        |       coalesce(a.longest_dup_span, 0) AS longest_dup_span,
        |       coalesce(a.n_runs, 0) AS n_runs
        |FROM lens l LEFT JOIN agg a USING (doc_id)
        |ORDER BY l.doc_id""".stripMargin,

    "q191_winnow_matches" ->
      s"""WITH $winnowPairsCtesSql
        |SELECT p.doc_a, p.doc_b, p.n_shared,
        |       pa.n_fp AS n_a, pb.n_fp AS n_b,
        |       p.n_shared::DOUBLE / least(pa.n_fp, pb.n_fp)::DOUBLE AS overlap
        |FROM pairs p
        |JOIN perdoc pa ON p.doc_a = pa.doc_id
        |JOIN perdoc pb ON p.doc_b = pb.doc_id
        |ORDER BY p.doc_a, p.doc_b""".stripMargin,

    "q188_winnow_fingerprint" ->
      s"""WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         greatest(len(w)::BIGINT - ${WinnowK - 1}, 0) AS n_grams
        |  FROM d),
        |pos AS (
        |  SELECT doc_id, w, unnest(
        |    CASE WHEN len(w) >= $WinnowK
        |         THEN range(0, len(w) - ${WinnowK - 1}) ELSE [] END) AS pos
        |  FROM d),
        |occ AS (
        |  SELECT doc_id, pos::BIGINT AS pos,
        |    (('0x' || substr(md5(array_to_string(
        |       list_slice(w, pos + 1, pos + $WinnowK), ' ')), 1, 15))::BIGINT
        |     % $WinnowHashMod) AS h
        |  FROM pos),
        |pk AS (
        |  SELECT doc_id, pos,
        |         h * 2097152 + (2097151 - pos) AS pk,
        |         max(pos) OVER (PARTITION BY doc_id) AS maxpos
        |  FROM occ),
        |wm AS (
        |  SELECT doc_id, pos, maxpos,
        |         min(pk) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS wmin
        |  FROM pk),
        |sel AS (
        |  SELECT DISTINCT doc_id, wmin FROM wm
        |  WHERE pos <= maxpos - ${WinnowW - 1}),
        |selh AS (SELECT DISTINCT doc_id, wmin // 2097152 AS h FROM sel),
        |shared AS (
        |  SELECT h FROM selh GROUP BY h HAVING count(*) >= 2),
        |perdoc AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_fp FROM sel GROUP BY doc_id),
        |pershared AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_shared
        |  FROM selh JOIN shared USING (h) GROUP BY doc_id)
        |SELECT g.doc_id, g.n_grams,
        |       COALESCE(p.n_fp, 0) AS n_fp,
        |       COALESCE(ps.n_shared, 0) AS n_shared,
        |       CASE WHEN g.n_grams > 0
        |            THEN COALESCE(p.n_fp, 0)::DOUBLE / g.n_grams::DOUBLE
        |            ELSE 0.0 END AS fp_density
        |FROM g LEFT JOIN perdoc p USING (doc_id)
        |LEFT JOIN pershared ps USING (doc_id)
        |ORDER BY g.doc_id""".stripMargin,

    "q88_dup_spans" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |lens AS (SELECT doc_id, len(w)::BIGINT AS n_tok FROM d),
        |pos AS (
        |  SELECT doc_id, w, unnest(
        |    CASE WHEN len(w) >= 8 THEN range(0, len(w) - 7) ELSE [] END) AS pos
        |  FROM d),
        |occ AS (
        |  SELECT doc_id, pos,
        |    ('0x' || substr(md5(array_to_string(
        |       list_slice(w, pos + 1, pos + 8), ' ')), 1, 15))::BIGINT AS g
        |  FROM pos),
        |dup AS (
        |  SELECT g FROM (SELECT DISTINCT g, doc_id FROM occ)
        |  GROUP BY g HAVING count(*) >= 2),
        |cov AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_dup_grams,
        |         sum(add)::BIGINT AS covered FROM (
        |    SELECT doc_id, pos,
        |      CASE WHEN prev IS NULL THEN 8
        |           ELSE least(8, pos - prev) END AS add FROM (
        |      SELECT o.doc_id, o.pos,
        |        lag(o.pos) OVER (PARTITION BY o.doc_id ORDER BY o.pos) AS prev
        |      FROM occ o JOIN dup USING (g)))
        |  GROUP BY doc_id)
        |SELECT l.doc_id, l.n_tok,
        |       COALESCE(c.n_dup_grams, 0) AS n_dup_grams,
        |       COALESCE(c.covered, 0) AS covered,
        |       COALESCE(c.covered, 0)::DOUBLE / l.n_tok::DOUBLE AS dup_frac,
        |       (COALESCE(c.covered, 0)::DOUBLE / l.n_tok::DOUBLE) < 0.2 AS keep
        |FROM lens l LEFT JOIN cov c USING (doc_id)
        |ORDER BY l.doc_id""".stripMargin,

    "q98_dup_span_remove" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |lens AS (SELECT doc_id, len(w)::BIGINT AS n_tok FROM d),
        |pos AS (
        |  SELECT doc_id, w, unnest(
        |    CASE WHEN len(w) >= 8 THEN range(0, len(w) - 7) ELSE [] END) AS pos
        |  FROM d),
        |occ AS (
        |  SELECT doc_id, pos,
        |    ('0x' || substr(md5(array_to_string(
        |       list_slice(w, pos + 1, pos + 8), ' ')), 1, 15))::BIGINT AS g
        |  FROM pos),
        |dup AS (
        |  SELECT g FROM (SELECT DISTINCT g, doc_id FROM occ)
        |  GROUP BY g HAVING count(*) >= 2),
        |frst AS (
        |  SELECT g, min(doc_id * 2097152 + pos) AS fk
        |  FROM occ JOIN dup USING (g) GROUP BY g),
        |extra AS (
        |  SELECT o.doc_id, o.pos
        |  FROM occ o JOIN frst f USING (g)
        |  WHERE o.doc_id * 2097152 + o.pos <> f.fk),
        |rem AS (
        |  SELECT DISTINCT doc_id, pos + j AS rpos
        |  FROM extra, unnest(range(0, 8)) AS u(j)),
        |nrem AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_removed FROM rem GROUP BY doc_id),
        |tok AS (
        |  SELECT doc_id, w, unnest(range(0, len(w))) AS i FROM d),
        |kept AS (
        |  SELECT t.doc_id, t.i, t.w[t.i + 1] AS t
        |  FROM tok t LEFT JOIN rem r ON r.doc_id = t.doc_id AND r.rpos = t.i
        |  WHERE r.rpos IS NULL),
        |clean AS (
        |  SELECT doc_id, string_agg(t, ' ' ORDER BY i) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT l.doc_id, l.n_tok,
        |       COALESCE(nr.n_removed, 0) AS n_removed,
        |       COALESCE(c.clean_text, '') AS clean_text
        |FROM lens l
        |LEFT JOIN nrem nr USING (doc_id)
        |LEFT JOIN clean c USING (doc_id)
        |ORDER BY l.doc_id""".stripMargin,

    "q89_kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT l_returnflag AS grp,
        |    ('0x' || substr(md5('kmv|' || CAST(l_orderkey AS VARCHAR)),
        |     1, 15))::BIGINT AS h
        |  FROM lineitem),
        |r AS (
        |  SELECT grp, h,
        |         row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
        |  FROM h),
        |sk AS (
        |  SELECT grp, count(*)::BIGINT AS k_used, max(h) AS kth_hash
        |  FROM r WHERE rn <= 64 GROUP BY grp),
        |t AS (
        |  SELECT l_returnflag AS grp,
        |         count(DISTINCT l_orderkey)::BIGINT AS true_distinct
        |  FROM lineitem GROUP BY l_returnflag),
        |e AS (
        |  SELECT sk.grp, sk.k_used, sk.kth_hash,
        |    CASE WHEN sk.k_used < 64 THEN sk.k_used::DOUBLE
        |         ELSE 63.0::DOUBLE /
        |           (sk.kth_hash::DOUBLE /
        |            CAST(1152921504606846976 AS DOUBLE)) END AS est_distinct,
        |    t.true_distinct
        |  FROM sk JOIN t USING (grp))
        |SELECT grp, k_used, kth_hash, est_distinct, true_distinct,
        |       (est_distinct - true_distinct::DOUBLE) / true_distinct::DOUBLE
        |         AS rel_err
        |FROM e ORDER BY grp""".stripMargin,

    "q90_rrf_hybrid" -> (
      "WITH " + rrfLexCtesSql + ",\n" +
      """q AS (
        |  SELECT embedding::DOUBLE[] AS qv,
        |         sqrt(list_dot_product(embedding::DOUBLE[],
        |                               embedding::DOUBLE[])) AS qnrm
        |  FROM embeddings WHERE vec_id = 0),
        |vecall AS (
        |  SELECT e.vec_id AS doc_id,
        |    list_dot_product(q.qv, e.embedding::DOUBLE[])
        |      / (q.qnrm * sqrt(list_dot_product(e.embedding::DOUBLE[],
        |                                        e.embedding::DOUBLE[]))) AS cos
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id <> 0
        |  ORDER BY cos DESC, doc_id LIMIT 20),
        |""".stripMargin + rrfFuseSql),

    "q94_rrf_hybrid_ivf" -> (
      "WITH " + rrfLexCtesSql + ",\n" +
      s"""e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |         sqrt(list_dot_product(embedding::DOUBLE[],
        |                               embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |ev AS (SELECT vec_id, v, nrm FROM e),
        |${graft.llm.ServeBooks.coarseCentsCteSql},
        |${graft.llm.ServeBooks.assignRankCteSql},
        |cells AS (
        |  SELECT ev.vec_id, ev.v, ev.nrm, r.cid AS cell
        |  FROM ev JOIN r ON ev.vec_id = r.vec_id AND r.rk = 1
        |  WHERE ev.vec_id <> 0),
        |probes AS (
        |  SELECT ev.v AS qv, ev.nrm AS qnrm, r.cid AS probe
        |  FROM ev JOIN r ON ev.vec_id = r.vec_id
        |  WHERE r.rk <= $RrfIvfProbes AND ev.vec_id = 0),
        |vecall AS (
        |  SELECT c.vec_id AS doc_id,
        |         list_dot_product(p.qv, c.v) / (p.qnrm * c.nrm) AS cos
        |  FROM probes p JOIN cells c ON p.probe = c.cell
        |  ORDER BY cos DESC, doc_id LIMIT 20),
        |""".stripMargin + rrfFuseSql),

    "q91_pagerank" -> (
      """WITH pairs AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS sk,
        |                  CAST(l_partkey AS BIGINT) AS pk FROM lineitem),
        |edges AS (
        |  SELECT 2 * sk AS src, 2 * pk + 1 AS dst FROM pairs
        |  UNION ALL
        |  SELECT 2 * pk + 1, 2 * sk FROM pairs),
        |deg AS (SELECT src AS node, count(*)::BIGINT AS deg
        |        FROM edges GROUP BY src),
        |nn AS (SELECT count(*)::BIGINT AS n FROM deg),
        |p0 AS (SELECT node, deg, (1000000000000000 // nn.n) AS pr
        |       FROM deg CROSS JOIN nn),
        |""".stripMargin
        + (1 to PrIters).map(prIterCte).mkString(",\n") + "\n"
        + s"""SELECT node, deg, pr FROM (
        |  SELECT (CASE WHEN node % 2 = 0 THEN 's' ELSE 'p' END)
        |           || CAST(node // 2 AS VARCHAR) AS node,
        |         deg, CAST(pr AS BIGINT) AS pr
        |  FROM p$PrIters)
        |ORDER BY pr DESC, node LIMIT 20""".stripMargin),

    "q92_lm_quality" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, w[i + 1] AS a, w[i + 2] AS b FROM (
        |    SELECT doc_id, w, unnest(
        |      CASE WHEN len(w) >= 2 THEN range(0, len(w) - 1) ELSE [] END) AS i
        |    FROM d)),
        |ref AS (SELECT * FROM bg WHERE doc_id % 10 < 8),
        |c2 AS (SELECT a, b, count(*)::BIGINT AS c2 FROM ref GROUP BY a, b),
        |c1 AS (SELECT a, count(*)::BIGINT AS c1 FROM ref GROUP BY a),
        |vv AS (
        |  SELECT count(*)::BIGINT AS v FROM (
        |    SELECT DISTINCT unnest(w) AS t FROM d WHERE doc_id % 10 < 8)),
        |scored AS (
        |  SELECT bg.doc_id, count(*)::BIGINT AS n_bigrams,
        |         sum(CAST((COALESCE(c2.c2, 0) + 1)::DOUBLE
        |               / (COALESCE(c1.c1, 0) + vv.v)::DOUBLE
        |             AS DECIMAL(18,9))) AS sum_p
        |  FROM bg
        |  LEFT JOIN c2 USING (a, b)
        |  LEFT JOIN c1 USING (a)
        |  CROSS JOIN vv
        |  GROUP BY bg.doc_id)
        |SELECT d.doc_id,
        |       COALESCE(s.n_bigrams, 0) AS n_bigrams,
        |       CASE WHEN s.n_bigrams IS NULL THEN 0.0::DOUBLE
        |            ELSE s.sum_p::DOUBLE / s.n_bigrams::DOUBLE END AS avg_p
        |FROM (SELECT doc_id FROM documents) d
        |LEFT JOIN scored s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q93_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
        |l AS (
        |  SELECT user_id, event_id, tsu,
        |    lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS prev
        |  FROM e),
        |f AS (
        |  SELECT user_id, event_id, tsu,
        |    CASE WHEN prev IS NULL OR tsu - prev > 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM l),
        |s AS (
        |  SELECT user_id, tsu,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sess_n
        |  FROM f)
        |SELECT user_id, CAST(sess_n AS BIGINT) AS sess_n,
        |       count(*)::BIGINT AS n_events,
        |       min(tsu) AS start_us, max(tsu) AS end_us,
        |       max(tsu) - min(tsu) AS dur_us
        |FROM s GROUP BY user_id, sess_n
        |ORDER BY user_id, sess_n""".stripMargin
  )
}
