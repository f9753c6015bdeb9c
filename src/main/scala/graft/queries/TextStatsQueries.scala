package graft.queries

import graft.Tables
import graft.text.Tokenize
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

/** Text-analysis operators over `documents` for corpus curation:
  * marker-based language ID, quality scoring, per-source token statistics,
  * rolling-hash fingerprinting, and the reference's StringIndexer (SURVEY
  * §2.4 T5) as a pure SQL window. All exact-oracle-able.
  */
object TextStatsQueries {

  /** Per-language function-word marker lists for the n-gram-free heuristic
    * language ID. Order of the map = alphabetical = argmax tiebreak order.
    */
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "los", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est", "ne"),
    "zh" -> Seq("的", "是", "了", "在", "不"))

  private def toks: Column = split(trim(col("text")), "\\s+")

  private def markerHits(words: Column, markers: Seq[String]): Column =
    size(filter(words, t => array_contains(array(markers.map(lit): _*), t)))

  /** Predicted language of a token-array column: argmax of marker-word
    * hits, ties broken in LangMarkers (alphabetical) order — the pure-
    * Column form of q33's scoring, shared with q75. */
  private def predLang(w: Column): Column = {
    val scores = LangMarkers.map { case (c, ms) =>
      c -> markerHits(w, ms).cast(LongType)
    }
    val g = greatest(scores.map(_._2): _*)
    scores.tail.foldLeft(
      when(scores.head._2 === g, lit(scores.head._1))) {
      case (acc, (c, sc)) => acc.when(sc === g, lit(c))
    }
  }

  /** q33 — heuristic language ID: count marker-word hits per language,
    * predict the argmax (ties → alphabetical), compare to the label.
    * Served from `text_stats_v1` (r18): pred_lang is the stored
    * [[predLang]] column — the same first-match when-chain over the
    * same marker scores the inline fold built — so the query is one
    * store FileScan + presentation sort; the tokenize pass ran once at
    * store build. The oracle recomputes the chain from raw text. */
  def langId(s: SparkSession, dir: String): DataFrame =
    textStatsArt(s, dir)
      .select(col("doc_id"), col("pred_lang"), col("lang"),
        when(col("pred_lang") === col("lang"), 1L).otherwise(0L).as("correct"))
      .orderBy(col("doc_id"))

  /** q34 — quality scoring: token count, type-token ratio, stop-word
    * ratio, mean token length, and a bounded composite score. The
    * expressions live in graft.text.Quality, shared with the streaming
    * quality gate. */
  def qualityScore(s: SparkSession, dir: String): DataFrame =
    // served from text_stats_v1 (r18): each ratio is one IEEE division
    // of the stored integer stats — bit-identical to Quality.* over
    // the token array (see textStats' derivation note)
    textStatsArt(s, dir)
      .select(col("doc_id"), col("n_tok").as("n_tokens"),
        uniqRatioOf.as("uniq_ratio"),
        stopRatioOf.as("stop_ratio"),
        meanTokenLenOf.as("mean_token_len"),
        scoreOf.as("score"))
      .orderBy(col("doc_id"))

  /** BPE-ish pre-tokenizer pattern (GPT-2 style coarse classes: letter
    * runs, digit runs, single punctuation) — identical regex semantics in
    * Spark (Java regex) and DuckDB (RE2) for this subset. */
  private val BpeRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** q35 — per-source corpus statistics: doc counts, whitespace-token and
    * BPE-ish-token totals, vocabulary size, average length. */
  /** q157 — the token-budget curve over quality tiers: docs bucketed by
    * ⌊10·q34-score⌋ (clamped to tier 9), per tier the doc/token mass
    * and the cumulative mass from the BEST tier down — the curve a
    * mixture planner reads to pick the quality threshold that still
    * meets the token budget ("keeping tiers ≥ t yields N tokens").
    * Tier edges are floors of bit-identical doubles (q34's score is
    * hash-green cross-engine), so the bucketing is exact.
    *
    * Scale shape: one scan, row-local scoring (the q34 expressions),
    * one partial agg into ≤ 10 tier rows; the cumulative window runs
    * over those ≤ 10 rows — a global window over a TIER frame, not a
    * corpus frame.
    */
  def qualityBudget(s: SparkSession, dir: String): DataFrame = {
    // served from text_stats_v1 (r18): tier = floor over the derived
    // score (bit-identical doubles), nt = the stored token count
    val tiers = textStatsArt(s, dir)
      .select(least(lit(9L), floor(scoreOf * 10)).as("tier"),
        col("n_tok").as("nt"))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val w = Window.orderBy(col("tier").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tiers
      .withColumn("cum_docs", sum(col("n_docs")).over(w))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .orderBy(col("tier").desc)
  }

  def tokenStats(s: SparkSession, dir: String): DataFrame = {
    // served from stores (r18): the per-doc token/BPE/char stats live
    // in text_stats_v1 (one tokenize+regex pass per corpus, guide
    // §2.4), and the per-source vocabulary is the DISTINCT (source,
    // term) projection of postings_v1 — the same whitespace/non-empty
    // token grain — joined to the doc→source map (a column-pruned
    // documents scan that never touches text)
    val perSource = textStatsArt(s, dir).groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tok")).as("total_tokens"),
      sum(col("n_bpe")).as("total_bpe_tokens"),
      sum(col("n_chars")).as("total_chars"))
    // vocab arm stays inline (MEASURED r18: the postings ⋈ source
    // variant lost to the map-side-combined explode, same finding as
    // termCounts)
    val vocab = Tables.documents(s, dir)
      .select(col("source"), explode(toks).as("t"))
      .where(col("t") =!= "").distinct()
      .groupBy("source").agg(count(lit(1)).as("distinct_tokens"))
    perSource.join(vocab, "source")
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("total_bpe_tokens"), col("distinct_tokens"), col("total_chars"),
        (col("total_tokens").cast(DoubleType) / col("n_docs")).as("avg_tokens"))
      .orderBy(col("source"))
  }

  /** q178 — per-document LEXICAL DIVERSITY: token count, type count,
    * type-token ratio, and hapax legomena (types occurring once) — the
    * classic lexical-richness signals a curation pipeline reads
    * alongside q34's surface quality score (a low-TTR doc is listy or
    * repetitive even when its stopword/length profile looks fine; a
    * near-zero hapax share marks template text). All-integer milli
    * ratios (q69's rule).
    *
    * Scale shape: one explode into a (doc, token) partial-aggregated
    * count (word-count bound: |doc-vocab|×partitions), then one
    * per-doc rollup; no windows, no joins. */
  def lexicalDiversity(s: SparkSession, dir: String): DataFrame =
    // served from postings_v1 (r18): (doc_id, t, tf) IS this query's
    // intermediate grain — the explode + first groupBy ran once at
    // index build; the per-doc rollup reads the store (guide §2.4)
    CurationQueries.postingsArtifact(s, dir)
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("tf") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        expr("(n_types * 1000) div n_tokens").as("ttr_milli"),
        col("n_hapax"),
        expr("(n_hapax * 1000) div n_types").as("hapax_milli"))
      .orderBy(col("doc_id"))

  /** q179 — robust LENGTH OUTLIERS per source: median and MAD (median
    * absolute deviation) of token counts, exact, then every document
    * beyond 3·MAD flagged — the robust cousin of a z-score length
    * filter (q118's shape), immune to the heavy tail that drags a
    * mean/σ filter's threshold. Lower-median rank r = (n+1) div 2 on
    * both engines; MAD floored at 1 so a half-constant length
    * distribution cannot degenerate into flagging every non-modal doc.
    *
    * Scale shape: token-count histograms per source — the value domain
    * (distinct lengths) is bounded regardless of corpus size, so both
    * medians are windows over tiny aggregated relations, and the
    * per-source (med, mad) table broadcasts back to the doc scan.
    * Raw rows never sort; the only corpus-scale work is two scans. */
  def lengthOutliers(s: SparkSession, dir: String): DataFrame = {
    // served from doclens_v1 (r18): dl is size over the SAME
    // unfiltered whitespace split this query measured inline; the
    // doc→source map is a column-pruned documents scan (no text I/O,
    // no tokenize — guide §2.4)
    val d = graft.queries.CurationQueries.doclenArtifact(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("dl").as("len"))
    def medianOf(vals: DataFrame, valCol: String): DataFrame = {
      val hist = vals.groupBy(col("source"), col(valCol))
        .agg(count(lit(1)).as("c"))
      val wN = Window.partitionBy(col("source"))
      val wCum = Window.partitionBy(col("source")).orderBy(col(valCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c")).over(wN))
        .where(col("cum") - col("c") < expr("(n + 1) div 2") &&
          col("cum") >= expr("(n + 1) div 2"))
        .select(col("source"), col(valCol).as("m"))
    }
    val med = medianOf(d, "len").withColumnRenamed("m", "med")
    val devs = d.join(broadcast(med), Seq("source"))
      .select(col("source"), abs(col("len") - col("med")).as("dev"))
    val mad = medianOf(devs, "dev").withColumnRenamed("m", "mad")
    d.join(broadcast(med), Seq("source"))
      .join(broadcast(mad), Seq("source"))
      .where(abs(col("len") - col("med")) > lit(3L) * greatest(col("mad"), lit(1L)))
      .select(col("doc_id"), col("source"), col("len").as("n_tok"),
        col("med"), col("mad"),
        abs(col("len") - col("med")).as("abs_dev"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** q36 — rolling-hash document fingerprint: the minimum md5 over all
    * 8-char grams (winnowing with a single global window), as ONE
    * row-local native expression (graft.functions.MinGramMd5). The
    * prior shape exploded one Catalyst row per character position and
    * min-combined them back — len(text) rows per document just to
    * fold a minimum (sf0.1 min 2.0 s, the suite's most expensive
    * query); the native loop digests grams in place over the UTF-8
    * bytes with zero substring allocation and no explode, leaving the
    * query scan-shaped (0.68 s isolated, 3× cut). The 16-byte digests
    * compare unsigned,
    * which IS the hex order the oracle's min(md5(substr)) folds —
    * results identical. */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documentsPar(s, dir)
      .where(length(col("text")) >= 8)
      .select(col("doc_id"),
        call_function("graft_min_gram_md5", col("text"), lit(8)).as("fp"))
      .orderBy(col("doc_id"))

  /** q37 — the reference's StringIndexer (T5) as SQL: index labels by
    * descending frequency, ties alphabetical (`SGDC/sgdc.py:65`).
    * `row_number` (not `dense_rank`): MLlib's StringIndexer assigns
    * DISTINCT consecutive indices even to labels tied on frequency,
    * breaking ties alphabetically. */
  def stringIndexerSql(s: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.documents(s, dir).groupBy("lang")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("cnt").desc, col("lang"))
    cnt.select(col("lang"), col("cnt"),
        (row_number().over(w) - 1).cast(LongType).as("idx"))
      .orderBy(col("idx"))
  }

  /** q62 — deterministic stratified sampling for dataset mixing: each
    * document keeps/drops itself from a pure hash of its doc_id against
    * a per-source rate (the training-mix weight). No RNG, no state —
    * the sample is reproducible row-local arithmetic, so it runs
    * identically on any cluster size and re-runs (the property a 100 TB
    * curation pipeline needs; rand()-based sampling is neither).
    * Hash: the same md5 60-bit-prefix family as MinHash. */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val pct = (call_function("graft_h60",
      concat(lit("mix|"), col("doc_id").cast("string"))) % 100L)
    val rate = when(col("source") === "src0", 80L)
      .when(col("source") === "src1", 50L)
      .otherwise(25L)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), pct.as("h_pct"), rate.as("rate_pct"))
      .where(col("h_pct") < col("rate_pct"))
      .orderBy(col("doc_id"))
  }

  /** q69 — TF-IDF with a RATIONAL idf, (N+1)/(df+1): the engines' `ln`
    * differs by 1 ULP (JVM StrictMath vs libm), so the log form cannot
    * exact-oracle; the rational form is a monotone transform of it (log
    * is increasing), preserving all per-term rankings while staying
    * bit-exact double division. Top-3 terms per document. */
  def tfidf(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.documents(s, dir).count() // metadata-only parquet count
    // the ArtifactStore postings artifact IS the (doc_id, term, tf) frame
    // this query used to rebuild by re-tokenizing the corpus (q153's
    // serve-path discipline); its rows are distinct (doc, term) pairs,
    // so df is one further partial agg
    val tf = CurationQueries.postingsArtifact(s, dir)
      .select(col("doc_id"), col("t"), col("tf"))
    val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val score = col("tf").cast(DoubleType) *
      (lit((n + 1).toDouble) / (col("df") + lit(1L)).cast(DoubleType))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(df, "t")
      .select(col("doc_id"), col("t").as("term"), col("tf"), col("df"),
        score.as("tfidf"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .where(col("rn") <= 3)
      .orderBy(col("doc_id"), col("rn"))
  }

  /** q74 — repetition filter (the Gopher/C4 curation rule family, Rae
    * et al. 2021 §A1.1): repeated content is the strongest single
    * signal of low-quality web text. Per document: duplicate-token
    * fraction, duplicate-bigram fraction, the top bigram's share of all
    * bigrams, and a keep flag under the documented thresholds.
    *
    * Shape at scale: token stats come from array functions (no explode,
    * no shuffle); bigram stats explode once and aggregate on
    * (doc_id, bigram) then doc_id — the same one-key-shuffle cascade
    * as q70. Bigrams are built positionally with transform over the
    * sliced token array (codegen'd, no UDF). */
  /** Per-doc bigram multiset stats (total / distinct / max count) from
    * a (doc_id, w: array<string>) frame: bigrams built positionally
    * with transform over the sliced token array (codegen'd, no UDF),
    * exploded once, aggregated on (doc_id, bigram) then doc_id. Docs
    * with < 2 tokens produce no row (callers left-join + coalesce). */
  /** Head-sample length for q151 — the per-term postings prefix the
    * index metadata carries (skip-pointer seed / dictionary preview). */
  private val IndexHead = 8

  /** gap_max df cap: the largest posting list one reducer may sort for
    * the delta-encoding audit; terms above it report NULL (scaladoc on
    * [[invertedIndex]]). Far above any df the small SFs produce, far
    * below a stopword's df at corpus scale. */
  private val GapDfCap = 100000L

  /** q151 — the inverted index BUILD: the sorted-postings construction
    * every lexical retrieval engine runs (q69/q86 SCORE against
    * postings; this emits the index artifact's metadata). One row per
    * term: document frequency, total term frequency, posting extent
    * (doc_lo/doc_hi), the largest gap between consecutive sorted
    * postings (the delta-encoding worst case — what sizes the
    * varint/PFoR budget), and the first [[IndexHead]] doc ids
    * comma-joined (skip-pointer seed). The head is serialized as a
    * string, not an array: the checker's row-hash contract is
    * flat-atomic columns (SmokeSpec, q102's r5 lesson), and a
    * deterministic join of sorted ids loses nothing.
    *
    * Scale shape (r7 verdict item 2 — no unbounded per-term work
    * anywhere): tokenize→explode is map-side; one (term, doc_id)
    * partial-agg collapses per-doc repeats BEFORE the per-term shuffle,
    * so the wire carries one row per distinct (term, doc) pair. All
    * per-term stats then ride ONE partial aggregation — df/tf/extent
    * are plain monoids and the head sample is the bounded `graft_topk`
    * heap (score −doc_id keeps the smallest ids; ≤ [[IndexHead]] pairs
    * per partition on the wire), so a stopword-grade term costs the
    * same as any other. The one stat that genuinely needs the full
    * sorted posting list — `gap_max`, the delta-encoding worst case —
    * is DF-CAPPED: it is computed by a per-term window only for terms
    * with df ≤ [[GapDfCap]] (the join restricts the window's input, so
    * the largest sort group is bounded by the cap), and reported NULL
    * above the cap — the honest artifact: a term with millions of
    * postings gets its gap budget from the range shards that store it,
    * not from one reducer sorting the whole list. (StreamIndex drops
    * gap_max entirely for the same order-dependence reason; NULL here
    * is the batch build's equivalent above the cap.)
    */
  def invertedIndex(s: SparkSession, dir: String): DataFrame =
    invertedIndexCapped(s, dir, GapDfCap)

  private[queries] def invertedIndexCapped(
      s: SparkSession, dir: String, gapCap: Long): DataFrame = {
    // r17: (term, doc_id, tf) IS the postings_v1 store's grain (q153's
    // serve artifact — doc-local rows, delta-generational appends), so
    // the index summary reads the store instead of re-exploding corpus
    // text per run; the DuckDB oracle still recomputes the explode from
    // `documents`, so the hash gate proves store == recomputation
    val td = CurationQueries.postingsArtifact(s, dir)
      .select(col("t").as("term"), col("doc_id"), col("tf"))
    val stats = td.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"),
        min(col("doc_id")).as("doc_lo"), max(col("doc_id")).as("doc_hi"),
        call_function("graft_topk", -col("doc_id"),
          col("doc_id").cast(StringType), lit(IndexHead)).as("hk"))
      // persist: vocab-bounded, consumed twice (the df-cap filter that
      // gates the gap window AND the final left join) — unpersisted
      // the per-term rollup over the postings store runs twice. Paired
      // A/B, sf0.1 local[4], 10 alternating pairs of Bench medians:
      // 0.98 -> 0.81 s, 8/10 wins
      .persist()
    val w = Window.partitionBy(col("term")).orderBy(col("doc_id"))
    val gaps = td
      .join(stats.where(col("df") <= gapCap).select(col("term")), Seq("term"))
      .withColumn("gap", col("doc_id") - lag(col("doc_id"), 1).over(w))
      .groupBy(col("term"))
      .agg(coalesce(max(col("gap")), lit(0L)).as("gap_max_c"))
    stats.join(gaps, Seq("term"), "left")
      .select(col("term"), col("df"), col("tf_total"),
        col("doc_lo"), col("doc_hi"),
        when(col("df") <= gapCap, coalesce(col("gap_max_c"), lit(0L)))
          .as("gap_max"),
        array_join(transform(col("hk"), _.getField("tag")), ",")
          .as("postings_head"))
      .orderBy(col("term"))
  }

  private def bigramStats(docs: DataFrame): DataFrame = {
    val bi = docs.select(col("doc_id"), explode(expr(
      "transform(slice(w, 1, greatest(size(w) - 1, 0)), (x, i) -> concat(x, ' ', w[i + 1]))")).as("g"))
    bi.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum(col("c")).as("n_bi"),
        count(lit(1)).as("d_bi"),
        max(col("c")).as("m_bi"))
  }

  def repetition(s: SparkSession, dir: String): DataFrame =
    // served from text_stats_v1 (r18): the token/bigram integer stats
    // (incl. the left-join nullability of n_bi/d_bi/m_bi) are stored;
    // each fraction is the same guarded IEEE division as before
    textStatsArt(s, dir)
      .select(col("doc_id"), col("n_tok"),
        dupTokFracOf.as("dup_tok_frac"),
        dupBiFracOf.as("dup_bigram_frac"),
        topBiShareOf.as("top_bigram_share"),
        (topBiShareOf <= 0.18 && dupTokFracOf <= 0.60).as("keep"))
      .orderBy(col("doc_id"))

  /** q75 — the end-to-end curation verdict: the per-document decision a
    * real corpus-curation run executes, composed in ONE declarative
    * plan — exact-dup canonical flag (md5 window), language-ID
    * agreement (q33), quality bar (q34's score ≥ 0.5), repetition keep
    * (q74's thresholds), deterministic sampling gate (q62's hash), and
    * the conjunction verdict. Catalyst fuses all row-local flags into
    * the scan projection; the only shuffles are the digest window and
    * the bigram cascade. */
  def curationVerdict(s: SparkSession, dir: String): DataFrame =
    verdictOver(verdictFlags(s, dir))

  /** q75's verdict tail over any flag frame — shared with the
    * streaming maintainer's dashboard serve
    * ([[graft.streaming.StreamVerdictFlags.verdictFromStore]]). */
  private[graft] def verdictOver(flags: DataFrame): DataFrame =
    flags
      .select(col("doc_id"), col("is_canonical"), col("lang_ok"),
        col("quality_ok"), col("rep_keep"), col("sample_keep"),
        (col("is_canonical") && col("lang_ok") && col("quality_ok") &&
          col("rep_keep") && col("sample_keep")).as("verdict"))
      .orderBy(col("doc_id"))

  /** The per-document RAW statistics as their own DELTA-GENERATIONAL
    * artifact (`text_stats_v1` — round 18's widening of the former
    * verdict_rowflags_v1, which stored only the boolean gates): every
    * column is a pure function of its document's row, and these are
    * the EXPENSIVE columns — tokenization, language-ID scoring, the
    * stop/length reductions, the bigram cascade, the BPE-ish regex —
    * so a corpus append re-scores only the appended docs and carries
    * the rest ([[graft.ArtifactStore.documentsDeltaArtifact]]; r11
    * verdict item 3's third named family). Storing the RAW integers
    * instead of the flags lets q33/q34/q35/q74/q157 serve their
    * columns from the same store the verdict reads (guide §2.4: one
    * tokenize pass, many consumers), with every derived double proven
    * bit-identical by derivation shape (see [[textStats]]'s doc). The
    * one cross-document column (is_canonical) deliberately does NOT
    * live here: a carried row's canonical slot can flip when a
    * smaller-id duplicate arrives, so it is recomputed by
    * [[verdictFlags]]' window over the stored digests — a digest-sized
    * shuffle, never a re-score. */
  private[graft] def textStatsArt(s: SparkSession, dir: String): DataFrame =
    graft.ArtifactStore.documentsDeltaArtifact(s, dir, "text_stats_v1")(
      textStats)

  /** Row-local verdict flags over the served stats store — shared with
    * q87's incremental gate (CurationQueries), whose quality/sampling
    * conditions are exactly `quality_ok`/`sample_keep`. */
  private[queries] def verdictRowFlagsArt(s: SparkSession, dir: String): DataFrame =
    rowFlagsOver(textStatsArt(s, dir))

  /** q75's per-document gate flags with the accounting columns (source,
    * token count) riding along — shared by the per-doc verdict and
    * q140's stage funnel, so both report the SAME decisions.
    *
    * Persistent corpus artifact (`verdict_flags_v1`, documents
    * fingerprint — cluster_labels_v1's pattern): the flag pipeline
    * costs a digest window + the bigram cascade per evaluation, and
    * BOTH consumers re-ran it per query; a curation pipeline reads the
    * decisions many times per corpus and must recompute them zero
    * times. Built FROM the delta-generational row-flags artifact (the
    * same canonical-window expression over the STORED rows — rows are
    * bit-identical to the direct build, which the spec pins), so a
    * corpus append pays delta re-scoring + one digest window, never a
    * corpus re-score. Invalidated by the takedown cascade
    * ([[graft.sources.TakedownApply.DocArtifactKeys]]) like every
    * documents-derived family. Oracles recompute from the corpus in
    * SQL, unchanged. */
  private def verdictFlags(s: SparkSession, dir: String): DataFrame =
    graft.ArtifactStore.documentsArtifact(s, dir, "verdict_flags_v1") {
      val canon = min(col("doc_id")).over(Window.partitionBy(col("digest")))
      verdictRowFlagsArt(s, dir)
        .select(col("doc_id"), col("source"), col("n_tok"),
          (col("doc_id") === canon).as("is_canonical"),
          col("lang_ok"), col("quality_ok"), col("rep_keep"),
          col("sample_keep"))
    }

  private[queries] def buildVerdictFlags(s: SparkSession, dir: String): DataFrame =
    verdictFlagsOver(Tables.documents(s, dir))

  /** The full flag frame over an arbitrary documents-shaped frame
    * (doc_id, lang, source, text) — [[verdictRowFlags]] plus the one
    * cross-document column (the exact-dup canonical window). Factored
    * so the batch artifact build and its spec oracles run the same
    * plan over any corpus slice. */
  private[graft] def verdictFlagsOver(docsRaw: DataFrame): DataFrame = {
    val canon = min(col("doc_id")).over(Window.partitionBy(col("digest")))
    verdictRowFlags(docsRaw)
      .select(col("doc_id"), col("source"), col("n_tok"),
        (col("doc_id") === canon).as("is_canonical"),
        col("lang_ok"), col("quality_ok"), col("rep_keep"),
        col("sample_keep"))
  }

  /** The per-document RAW text statistics every doc-local curation
    * signal derives from — token/type counts, stop-word and length
    * reductions, bigram repetition stats, BPE-ish token count, the
    * predicted language, the md5 digest, and the sampling hash — in
    * ONE tokenize pass. Every column is a pure function of its
    * document's row, which is what makes the frame delta-generational
    * ([[textStatsArt]]) and per-micro-batch evaluable
    * ([[graft.streaming.StreamVerdictFlags]] derives its flags from
    * it). The DERIVED doubles (ratios, quality score, repetition
    * fractions) deliberately do NOT live here: each is one IEEE
    * division/affine combination of these integer stats, so deriving
    * them at read time from the stored integers is bit-identical to
    * computing them from the token array — [[uniqRatioOf]]/[[scoreOf]]
    * et al. mirror graft.text.Quality's expressions term for term. */
  private[graft] def textStats(docsRaw: DataFrame): DataFrame = {
    val docs = docsRaw
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("text"), toks.as("w"))
    docs
      .join(bigramStats(docs.select(col("doc_id"), col("w"))), Seq("doc_id"), "left")
      .withColumn("sl", call_function("graft_stop_len", col("w")))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(col("text")).as("digest"),
        size(col("w")).cast(LongType).as("n_tok"),
        size(array_distinct(col("w"))).cast(LongType).as("d_tok"),
        element_at(col("sl"), 1).as("stop_cnt"),
        element_at(col("sl"), 2).as("len_sum"),
        col("n_bi"), col("d_bi"), col("m_bi"),
        regexp_count(col("text"), lit(BpeRe)).cast(LongType).as("n_bpe"),
        predLang(col("w")).as("pred_lang"),
        (call_function("graft_h60",
          concat(lit("mix|"), col("doc_id").cast("string"))) % 100L)
          .as("mix_pct"))
  }

  // ---- exact double derivations from the stored integer stats ----
  // Each mirrors the corresponding graft.text.Quality / q74 expression
  // over the token array: the only operations are int→double casts and
  // IEEE divisions of values < 2^53, so the derived doubles are
  // bit-identical to the inline forms (the widening long cast and the
  // original int cast produce the same double).
  private def uniqRatioOf: Column =
    col("d_tok").cast(DoubleType) / col("n_tok")
  private def stopRatioOf: Column =
    col("stop_cnt").cast(DoubleType) / col("n_tok")
  private def meanTokenLenOf: Column =
    col("len_sum").cast(DoubleType) / col("n_tok")
  /** graft.text.Quality.score's exact formula over the stored stats. */
  private def scoreOf: Column =
    lit(0.3) * uniqRatioOf + lit(0.3) * (lit(1.0) - stopRatioOf) +
      lit(0.4) * least(lit(1.0), col("n_tok").cast(DoubleType) / lit(100.0))
  private def dupTokFracOf: Column =
    when(col("n_tok") === 0L, lit(0.0))
      .otherwise((col("n_tok") - col("d_tok")).cast(DoubleType) / col("n_tok"))
  private def nBiOf: Column = coalesce(col("n_bi"), lit(0L))
  private def dupBiFracOf: Column =
    when(nBiOf === 0L, lit(0.0))
      .otherwise((nBiOf - col("d_bi")).cast(DoubleType) / nBiOf)
  private def topBiShareOf: Column =
    when(nBiOf === 0L, lit(0.0))
      .otherwise(col("m_bi").cast(DoubleType) / nBiOf)

  /** The ROW-LOCAL verdict flags over a [[textStats]]-shaped frame —
    * each gate is one comparison of the derived statistic against its
    * dial, so flags from the stored stats equal flags from the raw
    * text by construction. */
  private def rowFlagsOver(ts: DataFrame): DataFrame = {
    val rate = when(col("source") === "src0", 80L)
      .when(col("source") === "src1", 50L)
      .otherwise(25L)
    ts.select(col("doc_id"), col("source"), col("n_tok"),
      col("digest"),
      (col("pred_lang") === col("lang")).as("lang_ok"),
      (scoreOf >= 0.5).as("quality_ok"),
      (topBiShareOf <= 0.18 && dupTokFracOf <= 0.60).as("rep_keep"),
      (col("mix_pct") < rate).as("sample_keep"))
  }

  /** The ROW-LOCAL verdict flags (everything except the canonical
    * decision) plus the md5 digest that decision keys on — the
    * fragment a streaming maintainer can evaluate per micro-batch with
    * no cross-batch state ([[graft.streaming.StreamVerdictFlags]]):
    * each column depends only on the document's own row. Shared by the
    * batch build so batch and stream flags are the same expressions by
    * construction. */
  private[graft] def verdictRowFlags(docsRaw: DataFrame): DataFrame = {
    // stream batches carry (doc_id, lang, source, text) only; the
    // stats builder's n_chars passthrough is not a flag input, so a
    // null column satisfies the shape (Catalyst prunes it away here)
    val withChars =
      if (docsRaw.columns.contains("n_chars")) docsRaw
      else docsRaw.withColumn("n_chars", lit(null).cast(LongType))
    rowFlagsOver(textStats(withChars))
  }

  /** Funnel stage names, in gate order: stage k's row counts the
    * documents (and their tokens) still alive after the first k gates. */
  private val FunnelStages =
    Seq("ingest", "dedup", "lang", "quality", "repetition", "sample")

  /** q140 — the curation funnel report (the "data ablation card" every
    * corpus release ships): per source, how many documents and tokens
    * survive after each successive curation gate — exact dedup,
    * language agreement, quality bar, repetition filter, sampling gate
    * — applied in the pipeline's order. Each document contributes to
    * stages 0..depth where depth is the index of its first failing
    * gate, so within a source the funnel is monotone non-increasing by
    * construction and the stage-5 row equals q75's verdict=true count.
    *
    * Scale shape: the flags are q75's one-pass plan (row-local
    * projections + the digest window + the bigram cascade); the funnel
    * fan-out is a row-local posexplode of at most 6 stage indices that
    * partial-aggregates map-side into a (6 × sources)-key space — the
    * report shuffle is group-cardinality-sized regardless of corpus
    * size. */
  def curationFunnel(s: SparkSession, dir: String): DataFrame =
    funnelOver(verdictFlags(s, dir))

  /** q140's funnel tail over any flag frame — shared with the
    * streaming maintainer's dashboard serve
    * ([[graft.streaming.StreamVerdictFlags.funnelFromStore]]). */
  private[graft] def funnelOver(flags: DataFrame): DataFrame = {
    val depth = when(!col("is_canonical"), lit(0L))
      .when(!col("lang_ok"), lit(1L))
      .when(!col("quality_ok"), lit(2L))
      .when(!col("rep_keep"), lit(3L))
      .when(!col("sample_keep"), lit(4L))
      .otherwise(lit(5L))
    flags
      .select(col("source"), col("n_tok"), depth.as("depth"))
      .select(col("source"), col("n_tok"),
        explode(sequence(lit(0L), col("depth"))).as("stage"))
      .groupBy(col("stage"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .select(col("stage"),
        element_at(typedLit(FunnelStages), (col("stage") + 1L).cast("int"))
          .as("stage_name"),
        col("source"), col("n_docs"), col("n_tokens"))
      .orderBy(col("stage"), col("source"))
  }

  /** q97 — BPE merge-candidate statistics: the corpus-wide frequency of
    * adjacent character pairs WITHIN tokens — exactly the counts the
    * first round of byte-pair-encoding vocabulary induction maximizes
    * over. Emits the top-20 merge candidates with ranks; running the
    * query on the corpus slice a tokenizer will be trained on is the
    * standard sanity check before an expensive BPE run.
    *
    * Scale shape: pair extraction is a row-local double explode (no
    * token strings survive past the map side — pairs are 2-char keys
    * with map-side partial aggregation into an alphabet²-bounded key
    * space); the top-20 cut is TakeOrdered and the ranking window runs
    * over exactly 20 rows (q82's pattern).
    */
  def bpePairs(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.documentsPar(s, dir)
      .select(explode(toks).as("t")).where(col("t") =!= "")
      .select(explode(expr(
        "CASE WHEN length(t) >= 2 THEN " +
          "transform(sequence(1, length(t) - 1), i -> substring(t, i, 2)) " +
          "ELSE CAST(array() AS ARRAY<STRING>) END")).as("pair"))
    val w = Window.orderBy(col("cnt").desc, col("pair"))
    pairs.groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(20)
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .select(col("rnk"), col("pair"), col("cnt"))
      .orderBy(col("rnk"))
  }

  /** q99 — BPE merge-table APPLICATION, the step after q97's candidate
    * statistics: re-tokenize the corpus with graft.llm.Bpe's frozen
    * 64-merge table — TRAINED IN-ENGINE (graft.llm.BpeServe: BpeTrain
    * at serve depth, published to the documents-fingerprinted
    * ArtifactStore; its first merge IS q97's top-1 pair by the
    * training objective) — and emit the top-20 resulting subword
    * pieces with counts.
    * This is the sanity pass every tokenizer rollout runs: which
    * pieces dominate the corpus once the learned merges are applied.
    *
    * Scale shape: the apply is a row-local native Catalyst expression
    * (graft_bpe_tbl, whole-stage-codegen'd, the ~1 KiB trained table
    * riding the plan as its spec literal — no Python workers, no
    * fallback); pieces shuffle as short strings into a vocab-bounded
    * (≤ alphabet² + 64 merges) key space with map-side partial
    * aggregation; the top-20 cut is TakeOrdered (q97's pattern).
    *
    * No DuckDB oracle: the merge loop is iterative string rewriting
    * with data-dependent trip count — not SQL-expressible (SmokeSpec
    * rows-only waiver). Correctness evidence is BpeSpec: algorithm
    * goldens on hand-computed tables, the piece⁻¹-concatenation
    * identity over every sf0.001 token, and merge-table provenance
    * (first merge == q97's top pair at the training scale).
    */
  def bpeApply(s: SparkSession, dir: String): DataFrame = {
    val spec = graft.llm.BpeServe.spec(s, dir)
    val pieces = Tables.documentsPar(s, dir)
      .select(explode(toks).as("t")).where(col("t") =!= "")
      .select(explode(split(
        call_function("graft_bpe_tbl", col("t"), lit(spec)), " "))
        .as("piece"))
    val w = Window.orderBy(col("cnt").desc, col("piece"))
    pieces.groupBy(col("piece")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("piece")).limit(20)
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .select(col("rnk"), col("piece"), col("cnt"))
      .orderBy(col("rnk"))
  }

  // q100 dials. Report ratio: a token is heavy iff cnt·HhK > n (i.e.
  // frequency > 1/64 of the stream). Sketch capacity 512 » 64 gives the
  // retention guarantee margin: merged-MG undercount ≤ n/513 < n/64, so
  // every true heavy hitter is in the candidate set no matter how the
  // input was partitioned — which is what makes the exact second pass
  // deterministic and oracle-able.
  private val HhReportK = 64
  private val MgCapacity = 512

  /** q100 — exact heavy hitters via the two-pass sketch-then-recount
    * pattern (Misra-Gries candidates → exact recount of candidates
    * only). The naive plan — `groupBy(token) HAVING cnt > n/64` —
    * shuffles the ENTIRE vocabulary (at 100 TB: billions of distinct
    * tokens, nearly all of which lose the HAVING filter); this plan
    * shuffles (a) fixed-size MG buffers (≤ 512 counters per partition,
    * ~20 KB each — graft.functions.MisraGries, a native mergeable
    * TypedImperativeAggregate) and (b) exact counts for ≤ 512 candidate
    * tokens, with every non-candidate token dying map-side in the
    * isInCollection filter. The driver holds only the bounded candidate
    * array (Gate.byCount's measure-then-branch shape: a bounded action
    * between two distributed passes).
    *
    * Output is EXACT (not sketch estimates): MG guarantees the
    * candidate superset, the recount is a plain groupBy over ≤ 512
    * keys, and the threshold compare is integer (cnt·64 > n — no
    * float division). DuckDB oracle = the naive full-vocabulary plan.
    */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(explode(toks).as("t")).where(col("t") =!= "")
    val sk = tok
      .agg(call_function("graft_mg_candidates", col("t"), lit(MgCapacity))
        .as("mg"))
      .select(col("mg.n").as("n"), col("mg.candidates").as("cand"))
      .head()
    val n = sk.getLong(0)
    val cand = sk.getSeq[String](1)
    // the recount filter compares 8-byte ints, not strings: candidates
    // hash to graft_h60 longs driver-side and each scanned token hashes
    // once map-side (the repo's everything-rides-longs discipline). A
    // h60 collision only lets a non-candidate token through the filter;
    // it is then counted exactly and killed by the integer threshold
    // (MG guarantees no non-candidate is heavy), so EXACTNESS does not
    // depend on the hash.
    val candH = cand.map(t => graft.functions.Hash60.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(t)))
    tok.where(call_function("graft_h60", col("t")).isInCollection(candH))
      .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * lit(HhReportK.toLong) > lit(n))
      .select(col("t").as("token"), col("cnt"))
      .orderBy(col("cnt").desc, col("token"))
  }

  /** Frozen-vocabulary size for q105 — small enough that the vocab
    * broadcast is trivially cheap, large enough that Zipf mass makes
    * in-vocab the common case (what a real 32k–256k BPE vocab does). */
  private val VocabK = 256

  /** q105 — vocabulary-coverage / OOV-rate audit, the check every
    * tokenizer rollout runs before committing to a vocab: freeze the
    * top-[[VocabK]] tokens (count desc, token asc — deterministic at
    * the boundary), then score every document's out-of-vocabulary rate
    * and aggregate by (lang, source). All math integer: a document is
    * coverage-OK iff n_oov·5 < n_tok (OOV < 20%).
    *
    * Scale shape: the vocab cut is TakeOrdered-256 over the token-count
    * aggregate (the one full-vocabulary shuffle — the one-time vocab
    * TRAINING job, partial-agg'd map-side; the q100 MG sketch can't
    * replace it because an exact top-K needs exact counts); scoring is
    * a broadcast LEFT join (map-side, no occurrence ever shuffles for
    * membership); the per-doc rollup partial-aggregates to ~1 row per
    * doc before its shuffle because explode keeps a doc's tokens
    * contiguous in one partition. Docs with zero tokens don't occur in
    * this corpus; the query scores docs with >= 1 token by definition.
    */
  def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), explode(toks).as("t"))
      .where(col("t") =!= "")
    val vocab = tok.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t")).limit(VocabK)
      .select(col("t"), lit(1L).as("iv"))
    val perDoc = tok.join(broadcast(vocab), Seq("t"), "left")
      .groupBy(col("doc_id"), col("lang"), col("source"))
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("iv").isNull, lit(1L)).otherwise(lit(0L))).as("n_oov"))
    perDoc.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tot_tok"),
        sum(col("n_oov")).as("tot_oov"),
        sum(when(col("n_oov") * lit(5L) < col("n_tok"), lit(1L))
          .otherwise(lit(0L))).as("n_keep"))
      .orderBy(col("lang"), col("source"))
  }

  // Count-Min dials: 4 independent hash rows × 64 buckets. Real
  // deployments widen w (error ≈ n/w with probability 1 − 2⁻ᵈ holds at
  // any w; memory is d·w longs either way); 64 keeps the oracle's
  // cross-join cheap while leaving real collisions to audit at this
  // vocabulary.
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 64L

  // CMS hash family — ONE graft_h60 digest per token occurrence (the
  // r2 MinHash discipline), reduced to x ∈ [0, P) over the Mersenne
  // prime P = 2³¹−1; each sketch row j then derives its bucket by an
  // affine remix ((a_j·x + b_j) mod P) mod w. The previous salted form
  // computed d full digests per occurrence (×3 widths in q171 — 12
  // md5-equivalents per token), and per-token hashing IS the 100 TB
  // bill for a sketch build; the multiply-add family keeps pairwise-
  // independent rows at one digest per token. a·x < 2⁶² never
  // overflows signed 64-bit, and every step is exact BIGINT
  // arithmetic both engines reproduce bit-for-bit.
  private[graft] val CmsP = graft.llm.Dedup.MinHashP
  private[graft] val CmsPerms: Array[(Long, Long)] = {
    // seed-derived constants, distinct stream from Dedup.Perms; fixed
    // so the oracle SQL embeds the identical family as literals
    var state = 0xC0FFEE5EEDFACE42L
    def next31(): Long = {
      state = state * 6364136223846793005L + 1442695040888963407L
      state >>> 33
    }
    Array.fill(CmsDepth)((next31() % (CmsP - 1) + 1, next31() % CmsP))
  }

  /** The token's single digest reduced mod P — computed ONCE, shared
    * by every (row, width) bucket derivation. Shared with
    * [[graft.streaming.StreamCms]] so the live and nightly sketches
    * bucket identically. */
  private[graft] def cmsX(t: Column): Column =
    call_function("graft_h60", t) % CmsP

  /** Row-j bucket from the shared x; j and w are plan-time constants
    * so the remix is two multiply-adds, no hash. */
  private[graft] def cmsBucketFromX(j: Int, x: Column, w: Long): Column =
    ((lit(CmsPerms(j)._1) * x + lit(CmsPerms(j)._2)) % CmsP) % lit(w)

  /** SQL twin of [[cmsX]]. */
  private[graft] def cmsXSql(t: String): String =
    s"(('0x' || substr(md5($t), 1, 15))::BIGINT % $CmsP)"

  /** SQL twin of the (j, a_j, b_j) row table. */
  private[graft] def cmsJsSql: String =
    CmsPerms.zipWithIndex
      .map { case ((a, b), j) => s"($j::BIGINT, $a::BIGINT, $b::BIGINT)" }
      .mkString("(SELECT * FROM (VALUES ", ", ", ") t(j, a, b))")

  /** The (j, bucket) struct fan-out from one x — the map-side ×d
    * expansion every CMS consumer explodes. */
  private[graft] def cmsJbArray(x: Column, w: Long): Column =
    array((0 until CmsDepth).map(j =>
      struct(lit(j.toLong).as("j"),
        cmsBucketFromX(j, x, w).as("bucket"))): _*)

  /** q166 — Count-Min sketch build (Cormode & Muthukrishnan 2005): the
    * mergeable frequency summary a 100 TB pipeline keeps when the
    * vocabulary itself is too large to materialize. Each token
    * occurrence increments one bucket per hash row; the sketch is the
    * d×w count grid, a pure monoid (cell-wise sum — CmsSpec proves
    * sketch(A) + sketch(B) == sketch(A ∪ B) for an arbitrary split).
    *
    * Scale shape: the ×d fan-out happens MAP-SIDE and collapses into
    * the partial aggregate before the shuffle — each partition ships at
    * most d·w = 256 cells regardless of row count, so the exchange
    * carries per-partition sketches, not tokens: the plan IS the
    * textbook "build local sketches, merge" algorithm, for free from
    * partial aggregation. (The order-dependent conservative-update
    * variant is deliberately absent: it breaks exactly this
    * mergeability.)
    */
  def cmsSketch(s: SparkSession, dir: String): DataFrame =
    cmsSketchOver(Tables.documents(s, dir)
      .select(explode(toks).as("t")).where(col("t") =!= ""))

  /** The sketch over any token relation (column `t`) — CmsSpec feeds
    * corpus halves through this to prove the merge law. */
  private[queries] def cmsSketchOver(tok: DataFrame): DataFrame =
    tok
      .select(cmsX(col("t")).as("x"))
      .select(explode(cmsJbArray(col("x"), CmsWidth)).as("jb"))
      .select(col("jb.j").as("j"), col("jb.bucket").as("bucket"))
      .groupBy(col("j"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("j"), col("bucket"))

  /** q167 — CMS point-query audit: for every distinct term, the sketch
    * estimate min_j grid[j][h_j(term)] beside the exact count and the
    * overcount (collision mass). The one-sided error guarantee —
    * estimate ≥ truth, always — is structural, so `overcount ≥ 0` for
    * every row is asserted by CmsSpec and visible to the oracle. The
    * serve form of this query is just the ≤d·w-row broadcast lookup;
    * the exact arm exists here because an AUDIT recounts (q129's
    * pattern: ship the sketch, keep the truth join for the gate).
    *
    * Scale shape: exact counts are one vocab-keyed partial agg; the
    * estimate is a broadcast join against the ≤256-cell sketch fanned
    * ×d map-side — no second corpus shuffle. */
  def cmsEstimate(s: SparkSession, dir: String): DataFrame = {
    val sketch = cmsSketch(s, dir).select(
      col("j"), col("bucket"), col("cnt"))
    val exact = Tables.documents(s, dir)
      .select(explode(toks).as("t")).where(col("t") =!= "")
      .groupBy(col("t")).agg(count(lit(1)).as("exact_cnt"))
    exact
      .select(col("t"), col("exact_cnt"), cmsX(col("t")).as("x"))
      .select(col("t"), col("exact_cnt"),
        explode(cmsJbArray(col("x"), CmsWidth)).as("jb"))
      .select(col("t"), col("exact_cnt"),
        col("jb.j").as("j"), col("jb.bucket").as("bucket"))
      .join(broadcast(sketch), Seq("j", "bucket"))
      .groupBy(col("t"), col("exact_cnt"))
      .agg(min(col("cnt")).as("cms_est"))
      .select(col("t").as("token"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("exact_cnt")).as("overcount"))
      .orderBy(col("token"))
  }

  /** q171's width ladder — ×4 steps bracketing the serve width, the
    * regime where the error-vs-memory tradeoff actually moves. */
  private val CmsWidths = Seq(16L, 64L, 256L)

  /** q171 — CMS WIDTH TUNING CURVE (q161's measure-the-dial pattern
    * applied to the sketch family): for each candidate width w, the
    * total and worst-case overcount across the vocabulary, plus the
    * memory the grid costs (d·w cells). The standard bound says error
    * ≈ n/w per row with high probability; this measures the ACTUAL
    * collision mass on this corpus's Zipf shape — the artifact that
    * justifies (or indicts) the serve width before a rollout, the way
    * q161 justifies the probe count and q142 the LSH bands.
    *
    * Scale shape: one token scan fans ×(d·|widths|) map-side and
    * collapses into the partial aggregate (q166's argument, ladder
    * included: the exchange carries Σ_w d·w cells per partition); the
    * estimate stage joins the vocab-bounded exact counts against the
    * ≤Σ d·w-cell broadcast grid. */
  def cmsWidthCurve(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(explode(toks).as("t")).where(col("t") =!= "")
    // one digest per occurrence; the ×(d·|widths|) fan-out is affine
    // remixes of the shared x, not |widths| more hash families
    def wjbArray(x: Column): Column = array(
      (for { w <- CmsWidths; j <- 0 until CmsDepth }
        yield struct(lit(w).as("w"), lit(j.toLong).as("j"),
          cmsBucketFromX(j, x, w).as("bucket"))): _*)
    // persist: vocab-bounded, consumed by BOTH the grid fold and the
    // estimate stage — and the grid is ADDITIVE in occurrences, so it
    // folds from these exact counts (Σ exact_cnt over tokens hashing
    // to a cell ≡ count of occurrences hashing there — identical
    // integers) instead of re-exploding the corpus a second time.
    // Paired A/B, sf0.1 local[4], 10 alternating pairs of Bench
    // medians: 0.85 -> 0.54 s, 10/10 wins. The DuckDB oracle still
    // builds its grid from the raw occurrence stream, so the hash gate
    // pins the fold's equivalence.
    val exact = tok.groupBy(col("t")).agg(count(lit(1)).as("exact_cnt"))
      .persist()
    val grid = exact.select(col("exact_cnt"), cmsX(col("t")).as("x"))
      .select(col("exact_cnt"), explode(wjbArray(col("x"))).as("wjb"))
      .select(col("wjb.w").as("w"), col("wjb.j").as("j"),
        col("wjb.bucket").as("bucket"), col("exact_cnt"))
      .groupBy(col("w"), col("j"), col("bucket"))
      .agg(sum(col("exact_cnt")).as("cnt"))
    val est = exact
      .select(col("t"), col("exact_cnt"), cmsX(col("t")).as("x"))
      .select(col("t"), col("exact_cnt"), explode(wjbArray(col("x"))).as("wjb"))
      .select(col("t"), col("exact_cnt"), col("wjb.w").as("w"),
        col("wjb.j").as("j"), col("wjb.bucket").as("bucket"))
      .join(broadcast(grid), Seq("w", "j", "bucket"))
      .groupBy(col("w"), col("t"), col("exact_cnt"))
      .agg(min(col("cnt")).as("est"))
    est.groupBy(col("w"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("est") - col("exact_cnt")).as("total_overcount"),
        max(col("est") - col("exact_cnt")).as("max_overcount"))
      .select(col("w"), (col("w") * CmsDepth).as("cells"),
        col("n_terms"), col("total_overcount"), col("max_overcount"))
      .orderBy(col("w"))
  }


  /** q172 — statistical LM quality scoring (the CCNet-style
    * perplexity filter re-expressed engine-exactly): an add-1-smoothed
    * BIGRAM language model trained on the corpus itself scores every
    * document by its mean bigram probability, and the keep verdict
    * compares that mean against the uniform-model baseline 1/V. This
    * is the quality gate production pipelines run with a KenLM
    * n-gram model: documents whose word sequences the corpus LM finds
    * likely (coherent, template-consistent) score high; token salad
    * and boundary-mangled text score near the uniform floor.
    *
    * Engine-exact discipline: perplexity proper is a GEOMETRIC mean —
    * exp(mean ln p) — and ln() differs by 1 ULP between engines
    * (q69/q86's lesson), so the score is the rational ARITHMETIC mean
    * of per-bigram probabilities: p = (c12+1)/(c1+V) is one IEEE
    * division of exact integers, each p rides DECIMAL(18,9) into an
    * order-independent sum, and the verdict multiplies by V (exact
    * product) against a literal bar — every double bit-identical in
    * both engines, monotone in the same direction as the perplexity
    * rank. KeepBar = 1.0 means "more likely than the uniform model":
    * on this corpus's template-duplication structure, documents built
    * from repeated templates clear it and salad does not.
    *
    * Scale shape: ONE typed-flatMap tokenize pass emits the bigram
    * stream (the shingles lesson — no interpreted higher-order
    * functions); c12 and c1 are partial-agg rollups of that stream;
    * the vocabulary size joins back as a broadcast scalar; scoring is
    * a bigram-keyed hash join against the (bounded-by-vocab²) count
    * table; the per-doc fold is one partial aggregation. No windows,
    * no corpus self-join, no sort before the presentation ORDER BY.
    */
  def lmScore(s: SparkSession, dir: String): DataFrame =
    // served from lm_doc_scores_v1 (r18): the per-doc (n_bigrams, psum,
    // v) rows are a pure function of the WHOLE corpus (the LM's c12/c1
    // counts see every document), so the store is fingerprint-keyed
    // model state — any corpus change retrains, exactly like the ANN
    // books — and the scoring tail derives score/keep from the exact
    // DECIMAL psum the inline plan aggregated. Oracle recomputes the
    // full LM from raw text, unchanged.
    graft.ArtifactStore.documentsArtifact(s, dir, "lm_doc_scores_v1")(
      lmDocScores(s, dir))
      .select(col("doc_id"), col("n_bigrams"),
        (col("psum").cast(DoubleType) / col("n_bigrams")).as("score"),
        when((col("psum").cast(DoubleType) / col("n_bigrams")) *
            col("v").cast(DoubleType) >= lit(LmKeepBar), 1L)
          .otherwise(0L).as("keep"))
      .orderBy(col("doc_id"))

  /** q172's per-document LM sufficient statistics — the add-1-smoothed
    * bigram model trained on the corpus itself, folded to one row per
    * scored document: bigram count, the exact DECIMAL(18,9) sum of
    * per-bigram probabilities, and the vocabulary size the smoothing
    * divided by. */
  private def lmDocScores(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val bigrams = Tables.documentsPar(s, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val w = text.trim.split("\\s+")
        if (w.length >= 2) (0 until w.length - 1).iterator
          .map(i => (id, w(i), w(i + 1)))
        else Iterator.empty
      }.toDF("doc_id", "t1", "t2")
    val c12 = bigrams.groupBy(col("t1"), col("t2"))
      .agg(count(lit(1)).as("c12"))
    val c1 = bigrams.groupBy(col("t1")).agg(count(lit(1)).as("c1"))
    val vocab = Tables.documents(s, dir)
      .select(explode(toks).as("t")).agg(countDistinct(col("t")).as("v"))
    val p = (col("c12").cast(DoubleType) + lit(1.0)) /
      (col("c1").cast(DoubleType) + col("v").cast(DoubleType))
    bigrams
      .join(c12, Seq("t1", "t2"))
      .join(c1, Seq("t1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), p.cast(DecimalType(18, 9)).as("pd"),
        col("v"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("pd")).as("psum"), first(col("v")).as("v"))
  }

  /** q172's keep bar: mean bigram probability ≥ KeepBar × (1/V). */
  private val LmKeepBar = 1.0

  // q184 dials: a keyness term must carry at least MinKeyTf in-source
  // occurrences (χ² on tiny counts is noise), and each source reports
  // its KeynessK most over-represented terms.
  private val MinKeyTf = 5L
  private val KeynessK = 10

  /** q184 — χ² keyness per source (corpus linguistics' keyword
    * extraction, Rayson & Garside 2000's contingency form with the χ²
    * statistic instead of G² — χ² is RATIONAL in the four cell counts,
    * so both engines compute it from identical integer-exact doubles
    * with no `ln()`, whose last-ulp disagreement is exactly what the
    * q69/q86 monotone-transform rule exists to dodge): for each
    * (source, term), the 2×2 contingency table a = tf in source, b =
    * tf elsewhere, c = other tokens in source, d = other tokens
    * elsewhere; χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)). Top-K per
    * source by (χ² desc, term) over terms with a ≥ [[MinKeyTf]] —
    * "what vocabulary makes this source distinctive", the curation
    * dual of q80's mixture weights.
    *
    * Scale shape: one (source, term) count shuffle, one term-keyed
    * re-aggregation for the corpus-wide term totals (co-partitioned
    * with the join that consumes it), per-source totals and the grand
    * total broadcast as scalar stats; the rank window runs per source
    * over vocabulary-sized input. Nothing is corpus-quadratic. */
  def keyness(s: SparkSession, dir: String): DataFrame =
    keynessOver(termCounts(s, dir))

  /** The (source, t, a) term-frequency frame q184 and q185 both
    * consume — and the exact state [[graft.streaming.StreamTermCounts]]
    * maintains across micro-batches (per-key counts are a monoid, so
    * the live snapshot and this batch aggregation agree row for row;
    * StreamTermCountsSpec pins it). */
  private[graft] def termCounts(s: SparkSession, dir: String): DataFrame =
    // MEASURED r18: serving this from postings_v1 (store scan ⋈
    // doc→source, sum tf) ran 0.57→0.89 s solo min — the inline
    // explode feeds a map-side-combined (source, t) partial agg
    // directly in the scan stage, which beats the bucketed store's
    // file-listing + join overhead at any corpus size where the agg is
    // the bound; kept inline (the q92 rejected-variant ledger's rule)
    Tables.documents(s, dir)
      .select(col("source"), explode(toks).as("t"))
      .where(col("t") =!= "")
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("a"))

  /** q184's scoring tail over ANY (source, t, a) term-count frame —
    * the batch aggregation or a [[graft.streaming.StreamTermCounts]]
    * snapshot (the knnIvfPqResOver idiom: one scorer, two feeds). */
  private[graft] def keynessOver(tf: DataFrame): DataFrame = {
    val termTot = tf.groupBy(col("t")).agg(sum(col("a")).as("n_term"))
    val srcTot = tf.groupBy(col("source")).agg(sum(col("a")).as("n_src"))
    val grand = srcTot.agg(sum(col("n_src")).as("n_all"))
    val cells = tf
      .join(termTot, Seq("t"))
      .join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(grand))
      .select(col("source"), col("t").as("term"), col("a"),
        col("a").cast(DoubleType).as("da"),
        (col("n_term") - col("a")).cast(DoubleType).as("db"),
        (col("n_src") - col("a")).cast(DoubleType).as("dc"),
        (col("n_all") - col("n_src") - col("n_term") + col("a"))
          .cast(DoubleType).as("dd"),
        col("n_all").cast(DoubleType).as("dn"))
    // the exact operation tree the oracle mirrors: del², then
    // n·del²/den with left-associative products (IEEE ops on
    // integer-exact doubles — deterministic on both engines)
    val del = col("da") * col("dd") - col("db") * col("dc")
    val den = (col("da") + col("db")) * (col("dc") + col("dd")) *
      (col("da") + col("dc")) * (col("db") + col("dd"))
    val scored = cells
      .where(col("a") >= MinKeyTf)
      .select(col("source"), col("term"), col("a").as("tf_src"),
        (col("dn") * del * del / den).as("chi2"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("chi2").desc, col("term"))
    scored
      .withColumn("rn", row_number().over(w).cast(LongType))
      .where(col("rn") <= KeynessK)
      .orderBy(col("source"), col("rn"))
  }

  /** q185 — Hellinger distance between per-source unigram
    * distributions, all source pairs: BC = Σ_t √(p_t|s1 · p_t|s2)
    * (the Bhattacharyya coefficient over SHARED terms — a term absent
    * from either source contributes exactly 0, so the shared-term
    * inner join IS the full sum), H = √(1−BC). The corpus-mixture
    * drift probe (q136/q137 cover numeric columns; this covers the
    * token distribution itself — "how far apart are two sources'
    * vocabularies", the distance SemDeDup-style source balancing
    * reads). IEEE √ is correctly rounded on both engines, each
    * per-term contribution routes through DECIMAL(18,9) before the
    * sum (the engine-wide order-independence rule), and p = tf/tot is
    * a quotient of exact longs — no `ln()` anywhere.
    *
    * Scale shape: the pair stage joins the per-source term
    * distributions ON TERM (vocabulary-keyed, co-partitioned with the
    * tf aggregation that feeds it); fan-out per term is (#sources
    * choose 2) — sources are few by construction, the vocabulary
    * carries the scale. Per-source totals broadcast.
    *
    * **Source-cardinality bound (r14 verdict):** the output and the
    * per-term fan-out are QUADRATIC in #sources — intrinsic to an
    * all-pairs distance matrix, fine for a curation registry of tens
    * to hundreds of sources. A registry of thousands needs blocking
    * before this operator (pair only sources sharing a coarse bucket —
    * language, domain class — the q27 banding posture) or a top-pairs
    * cap; the operator itself deliberately stays the exact all-pairs
    * matrix, the q187-scaladoc discipline applied to its own bound. */
  def srcHellinger(s: SparkSession, dir: String): DataFrame =
    srcHellingerOver(termCounts(s, dir))

  /** q185's distance tail over ANY (source, t, a) term-count frame —
    * batch or live snapshot, like [[keynessOver]]. */
  private[graft] def srcHellingerOver(tfIn: DataFrame): DataFrame = {
    val tf = tfIn.select(col("source"), col("t"), col("a").as("cnt"))
    val tot = tf.groupBy(col("source")).agg(sum(col("cnt")).as("n"))
    val p = tf.join(broadcast(tot), Seq("source"))
      .select(col("source"), col("t"),
        (col("cnt").cast(DoubleType) / col("n").cast(DoubleType)).as("p"))
    val pairs = p.as("x").join(p.as("y"),
      col("x.t") === col("y.t") && col("x.source") < col("y.source"))
      .select(col("x.source").as("s1"), col("y.source").as("s2"),
        sqrt(col("x.p") * col("y.p")).cast("decimal(18,9)").as("bc_term"))
    pairs.groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("n_shared"),
        sum(col("bc_term")).as("bc_dec"))
      .select(col("s1"), col("s2"), col("n_shared"),
        col("bc_dec").cast(DoubleType).as("bc"),
        // clamp before the √ (r14 ADVICE): the DECIMAL(18,9) per-term
        // contributions round half-up, so near-identical distributions
        // can sum to bc marginally ABOVE 1.0 — Spark's sqrt would
        // return NaN while DuckDB's ERRORS on a negative argument, an
        // engine-parity hazard where the oracle crashes instead of
        // mismatching; both sides clamp identically
        sqrt(greatest(lit(1.0) - col("bc_dec").cast(DoubleType), lit(0.0)))
          .as("hellinger"))
      .orderBy(col("s1"), col("s2"))
  }

  // q187 dials: collocation pairs need MinPairDocs co-occurrences
  // (lift on singletons is pure noise) and the report keeps the
  // CollocK strongest.
  private val MinPairDocs = 10L
  private val CollocK = 30

  /** q187 — collocation mining by LIFT, PMI's monotone rational twin:
    * for unordered term pairs {a,b} co-occurring at the DOCUMENT level,
    * lift = N·c(a,b)/(c(a)·c(b)) over document frequencies — PMI is
    * ln(lift), so ranking by lift IS ranking by PMI with the q69/q86
    * no-`ln()` discipline intact. Top-[[CollocK]] pairs with c(a,b) ≥
    * [[MinPairDocs]], ties (lift, then a, b). The boilerplate/TextQA
    * signal q81's sequential n-grams cannot see: collocated but
    * non-adjacent vocabulary (template fields, topic markers).
    *
    * Scale shape: the pair stage self-joins the DISTINCT (doc, term)
    * set on doc_id — co-partitioned, per-document fan-out quadratic in
    * the document's distinct vocabulary, never in the corpus. The
    * production guard at 100 TB is the same one the reference corpus
    * satisfies by construction: bound per-doc distinct terms (chunk
    * long docs; q103's chunker) so the per-key fan-out stays O(1)-ish;
    * document frequencies broadcast nothing — the final lift join keys
    * on the pair's terms against the vocabulary-sized df table.
    * (A row-local alternative — collect_set per doc + nested
    * transform/flatten pair expansion, saving one corpus scan — was
    * MEASURED 1.29× slower at sf0.1 solo-min: higher-order functions
    * are CodegenFallback, while the self-join stays inside codegen'd
    * hash joins end to end. Joins the optimizer owns beat clever
    * expressions it can't compile.) */
  def collocLift(s: SparkSession, dir: String): DataFrame = {
    // served from postings_v1 (r18): the DISTINCT (doc, term) set is
    // the store's key grain — the explode + distinct ran once at index
    // build; the self-join stays (the audit's intrinsic cost)
    val dt = CurationQueries.postingsArtifact(s, dir)
      .select(col("doc_id"), col("t"))
    val dfT = dt.groupBy(col("t")).agg(count(lit(1)).as("c"))
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("nd"))
    val pairs = dt.as("x").join(dt.as("y"),
      col("x.doc_id") === col("y.doc_id") && col("x.t") < col("y.t"))
      .groupBy(col("x.t").as("ta"), col("y.t").as("tb"))
      .agg(count(lit(1)).as("cab"))
      .where(col("cab") >= MinPairDocs)
    pairs
      .join(dfT.select(col("t").as("ta"), col("c").as("ca")), Seq("ta"))
      .join(dfT.select(col("t").as("tb"), col("c").as("cb")), Seq("tb"))
      .crossJoin(broadcast(nDocs))
      .select(col("ta"), col("tb"), col("cab"), col("ca"), col("cb"),
        ((col("nd") * col("cab")).cast(DoubleType) /
          (col("ca").cast(DoubleType) * col("cb").cast(DoubleType)))
          .as("lift"))
      .orderBy(col("lift").desc, col("ta"), col("tb"))
      .limit(CollocK)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q184_keyness"      -> keyness,
    "q185_src_hellinger" -> srcHellinger,
    "q187_colloc_lift"  -> collocLift,
    "q166_cms_sketch"   -> cmsSketch,
    "q172_lm_score"     -> lmScore,
    "q167_cms_estimate" -> cmsEstimate,
    "q171_cms_width_curve" -> cmsWidthCurve,
    "q105_vocab_coverage" -> vocabCoverage,
    "q100_heavy_hitters" -> heavyHitters,
    "q97_bpe_pairs"      -> bpePairs,
    "q99_bpe_apply"      -> bpeApply,
    "q131_bpe_train"     -> ((s, dir) => graft.llm.BpeTrain.bpeTrainQuery(s, dir)),
    "q33_lang_id"        -> langId,
    "q34_quality_score"  -> qualityScore,
    "q157_quality_budget" -> qualityBudget,
    "q35_token_stats"    -> tokenStats,
    "q36_fingerprint"    -> fingerprint,
    "q178_lexical_diversity" -> lexicalDiversity,
    "q179_length_outliers" -> lengthOutliers,
    "q37_string_indexer" -> stringIndexerSql,
    "q62_stratified_sample" -> stratifiedSample,
    "q69_tfidf"          -> tfidf,
    "q151_inverted_index" -> invertedIndex,
    "q74_repetition"     -> repetition,
    "q75_curation_verdict" -> curationVerdict,
    "q140_curation_funnel" -> curationFunnel
  )

  private def markersSqlList(ms: Seq[String]): String =
    ms.map(m => s"'$m'").mkString("[", ", ", "]")

  /** The q75 flag pipeline as a CTE chain ending in `f` (doc_id,
    * source, n_tok + the five gate flags) — shared by the q75 and q140
    * oracles exactly as [[verdictFlags]] is shared on the Spark side. */
  private lazy val verdictFlagsCtesSql: String = {
    val scores = LangMarkers.map { case (c, ms) =>
      s"len(list_filter(w, t -> list_contains(${markersSqlList(ms)}, t)))::BIGINT AS s_$c"
    }.mkString(",\n         ")
    val g = LangMarkers.map { case (c, _) => s"s_$c" }.mkString("greatest(", ", ", ")")
    val chain = LangMarkers.map { case (c, _) => s"WHEN s_$c = g THEN '$c'" }
      .mkString("CASE ", " ", " ELSE '??' END")
    s"""t AS (
       |  SELECT doc_id, lang, source, text,
       |         string_split_regex(trim(text), '\\s+') AS w
       |  FROM documents),
       |sc AS (SELECT doc_id, lang, source, text, w, $scores FROM t),
       |gg AS (SELECT *, $g AS g FROM sc),
       |bi AS (
       |  SELECT doc_id, w[i] || ' ' || w[i + 1] AS gm
       |  FROM (SELECT doc_id, w,
       |               unnest(generate_series(1, len(w) - 1)) AS i
       |        FROM t)),
       |bstat AS (
       |  SELECT doc_id, sum(c)::BIGINT AS n_bi, count(*)::BIGINT AS d_bi,
       |         max(c)::BIGINT AS m_bi
       |  FROM (SELECT doc_id, gm, count(*) AS c FROM bi GROUP BY doc_id, gm)
       |  GROUP BY doc_id),
       |f AS (
       |  SELECT gg.doc_id, gg.source, len(w)::BIGINT AS n_tok,
       |    (gg.doc_id = min(gg.doc_id) OVER (PARTITION BY md5(text))) AS is_canonical,
       |    ($chain) = lang AS lang_ok,
       |    (0.3::DOUBLE * (len(list_distinct(w))::DOUBLE / len(w))
       |      + 0.3::DOUBLE * (1.0::DOUBLE - len(list_filter(w, t -> t IN (${Tokenize.stopWordsSqlList})))::DOUBLE / len(w))
       |      + 0.4::DOUBLE * least(1.0::DOUBLE, len(w)::DOUBLE / 100.0::DOUBLE)) >= 0.5 AS quality_ok,
       |    (CASE WHEN n_bi IS NULL OR n_bi = 0 THEN 0.0
       |          ELSE m_bi::DOUBLE / n_bi END) <= 0.18
       |      AND (CASE WHEN len(w) = 0 THEN 0.0
       |           ELSE (len(w) - len(list_distinct(w)))::DOUBLE / len(w) END) <= 0.60 AS rep_keep,
       |    ('0x' || substr(md5('mix|' || CAST(gg.doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
       |      < (CASE WHEN source = 'src0' THEN 80
       |              WHEN source = 'src1' THEN 50 ELSE 25 END) AS sample_keep
       |  FROM gg LEFT JOIN bstat ON gg.doc_id = bstat.doc_id)""".stripMargin
  }

  /** Oracle CTE chain shared by q166/q167: the token stream with its
    * ONE digest x, the (j, a, b) remix table, and the CMS grid built
    * by the same affine bucket arithmetic. */
  private lazy val cmsCtesSql: String =
    s"""tt AS (
       |  SELECT t, ${cmsXSql("t")} AS x FROM (
       |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS t
       |    FROM documents) WHERE t <> ''),
       |js AS $cmsJsSql,
       |grid AS (
       |  SELECT j, ((a * x + b) % $CmsP) % $CmsWidth AS bucket,
       |         count(*)::BIGINT AS cnt
       |  FROM tt CROSS JOIN js
       |  GROUP BY j, bucket)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q184_keyness" ->
      s"""WITH tok AS (
        |  SELECT source, t FROM (
        |    SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS t
        |    FROM documents) WHERE t <> ''),
        |tf AS (SELECT source, t, count(*)::BIGINT AS a FROM tok GROUP BY source, t),
        |termtot AS (SELECT t, sum(a)::BIGINT AS n_term FROM tf GROUP BY t),
        |srctot AS (SELECT source, sum(a)::BIGINT AS n_src FROM tf GROUP BY source),
        |grand AS (SELECT sum(n_src)::BIGINT AS n_all FROM srctot),
        |cells AS (
        |  SELECT tf.source, tf.t AS term, tf.a,
        |         CAST(tf.a AS DOUBLE) AS da,
        |         CAST(termtot.n_term - tf.a AS DOUBLE) AS db,
        |         CAST(srctot.n_src - tf.a AS DOUBLE) AS dc,
        |         CAST(grand.n_all - srctot.n_src - termtot.n_term + tf.a AS DOUBLE) AS dd,
        |         CAST(grand.n_all AS DOUBLE) AS dn
        |  FROM tf JOIN termtot USING (t) JOIN srctot USING (source)
        |  CROSS JOIN grand),
        |scored AS (
        |  SELECT source, term, a AS tf_src,
        |         dn * (da * dd - db * dc) * (da * dd - db * dc)
        |           / ((da + db) * (dc + dd) * (da + dc) * (db + dd)) AS chi2
        |  FROM cells WHERE a >= $MinKeyTf),
        |r AS (
        |  SELECT source, term, tf_src, chi2,
        |         CAST(row_number() OVER (PARTITION BY source
        |              ORDER BY chi2 DESC, term) AS BIGINT) AS rn
        |  FROM scored)
        |SELECT source, term, tf_src, chi2, rn FROM r
        |WHERE rn <= $KeynessK ORDER BY source, rn""".stripMargin,

    "q185_src_hellinger" ->
      """WITH tok AS (
        |  SELECT source, t FROM (
        |    SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS t
        |    FROM documents) WHERE t <> ''),
        |tf AS (SELECT source, t, count(*)::BIGINT AS cnt FROM tok GROUP BY source, t),
        |tot AS (SELECT source, sum(cnt)::BIGINT AS n FROM tf GROUP BY source),
        |p AS (
        |  SELECT tf.source, tf.t,
        |         CAST(tf.cnt AS DOUBLE) / CAST(tot.n AS DOUBLE) AS p
        |  FROM tf JOIN tot USING (source)),
        |pairs AS (
        |  SELECT x.source AS s1, y.source AS s2,
        |         CAST(sqrt(x.p * y.p) AS DECIMAL(18,9)) AS bc_term
        |  FROM p x JOIN p y ON x.t = y.t AND x.source < y.source)
        |SELECT s1, s2, count(*)::BIGINT AS n_shared,
        |       CAST(sum(bc_term) AS DOUBLE) AS bc,
        |       sqrt(greatest(1.0 - CAST(sum(bc_term) AS DOUBLE), 0.0))
        |         AS hellinger
        |FROM pairs GROUP BY s1, s2 ORDER BY s1, s2""".stripMargin,

    "q187_colloc_lift" ->
      s"""WITH dt AS (
        |  SELECT DISTINCT doc_id, t FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
        |    FROM documents) WHERE t <> ''),
        |dft AS (SELECT t, count(*)::BIGINT AS c FROM dt GROUP BY t),
        |nd AS (SELECT count(*)::BIGINT AS nd FROM documents),
        |pairs AS (
        |  SELECT x.t AS ta, y.t AS tb, count(*)::BIGINT AS cab
        |  FROM dt x JOIN dt y ON x.doc_id = y.doc_id AND x.t < y.t
        |  GROUP BY x.t, y.t HAVING count(*) >= $MinPairDocs)
        |SELECT ta, tb, cab, ca.c AS ca, cb.c AS cb,
        |       CAST(nd.nd * cab AS DOUBLE)
        |         / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) AS lift
        |FROM pairs
        |JOIN dft ca ON pairs.ta = ca.t
        |JOIN dft cb ON pairs.tb = cb.t
        |CROSS JOIN nd
        |ORDER BY lift DESC, ta, tb LIMIT $CollocK""".stripMargin,

    "q172_lm_score" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |big AS (
        |  SELECT doc_id, w[i + 1] AS t1, w[i + 2] AS t2
        |  FROM tok, unnest(range(0, greatest(len(w) - 1, 0))) AS u(i)),
        |c12 AS (SELECT t1, t2, count(*)::BIGINT AS c12 FROM big GROUP BY t1, t2),
        |c1 AS (SELECT t1, count(*)::BIGINT AS c1 FROM big GROUP BY t1),
        |vocab AS (
        |  SELECT count(DISTINCT t)::BIGINT AS v FROM (
        |    SELECT unnest(w) AS t FROM tok)),
        |scored AS (
        |  SELECT b.doc_id,
        |         CAST((c12.c12::DOUBLE + 1.0) / (c1.c1::DOUBLE + vocab.v::DOUBLE)
        |           AS DECIMAL(18,9)) AS pd,
        |         vocab.v AS v
        |  FROM big b
        |  JOIN c12 ON b.t1 = c12.t1 AND b.t2 = c12.t2
        |  JOIN c1 ON b.t1 = c1.t1
        |  CROSS JOIN vocab),
        |agg AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |         CAST(sum(pd) AS DOUBLE) AS psum, any_value(v) AS v
        |  FROM scored GROUP BY doc_id)
        |SELECT doc_id, n_bigrams,
        |       psum / n_bigrams AS score,
        |       CASE WHEN (psum / n_bigrams) * v::DOUBLE >= 1.0
        |            THEN 1 ELSE 0 END::BIGINT AS keep
        |FROM agg ORDER BY doc_id""".stripMargin,

    "q171_cms_width_curve" ->
      s"""WITH tt AS (
         |  SELECT t, ${cmsXSql("t")} AS x FROM (
         |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS t
         |    FROM documents) WHERE t <> ''),
         |ws AS (SELECT unnest(${CmsWidths.mkString("[", ", ", "]")})::BIGINT AS w),
         |js AS $cmsJsSql,
         |grid AS (
         |  SELECT w, j, ((a * x + b) % $CmsP) % w AS bucket,
         |         count(*)::BIGINT AS cnt
         |  FROM tt CROSS JOIN ws CROSS JOIN js
         |  GROUP BY w, j, bucket),
         |exact AS (
         |  SELECT t, x, count(*)::BIGINT AS exact_cnt FROM tt GROUP BY t, x),
         |est AS (
         |  SELECT ws.w, e.t, e.exact_cnt, min(g.cnt) AS est
         |  FROM exact e CROSS JOIN ws CROSS JOIN js
         |  JOIN grid g ON g.w = ws.w AND g.j = js.j
         |    AND g.bucket = ((js.a * e.x + js.b) % $CmsP) % ws.w
         |  GROUP BY ws.w, e.t, e.exact_cnt)
         |SELECT w, (w * $CmsDepth)::BIGINT AS cells,
         |       count(*)::BIGINT AS n_terms,
         |       sum(est - exact_cnt)::BIGINT AS total_overcount,
         |       max(est - exact_cnt)::BIGINT AS max_overcount
         |FROM est GROUP BY w ORDER BY w""".stripMargin,

    "q166_cms_sketch" ->
      s"""WITH $cmsCtesSql
         |SELECT j, bucket, cnt FROM grid ORDER BY j, bucket""".stripMargin,

    "q167_cms_estimate" ->
      s"""WITH $cmsCtesSql,
         |exact AS (
         |  SELECT t, x, count(*)::BIGINT AS exact_cnt FROM tt GROUP BY t, x),
         |est AS (
         |  SELECT e.t, e.exact_cnt, min(g.cnt) AS cms_est
         |  FROM exact e CROSS JOIN js
         |  JOIN grid g ON g.j = js.j
         |    AND g.bucket = ((js.a * e.x + js.b) % $CmsP) % $CmsWidth
         |  GROUP BY e.t, e.exact_cnt)
         |SELECT t AS token, exact_cnt, cms_est,
         |       cms_est - exact_cnt AS overcount
         |FROM est ORDER BY token""".stripMargin,

    "q105_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, source, t FROM (
        |    SELECT doc_id, lang, source,
        |           unnest(string_split_regex(trim(text), '\s+')) AS t
        |    FROM documents) WHERE t <> ''),
        |vocab AS (
        |  SELECT t FROM (SELECT t, count(*) AS cnt FROM tok GROUP BY t)
        |  ORDER BY cnt DESC, t LIMIT 256),
        |per_doc AS (
        |  SELECT doc_id, lang, source, count(*)::BIGINT AS n_tok,
        |         sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov
        |  FROM tok LEFT JOIN vocab v USING (t)
        |  GROUP BY doc_id, lang, source)
        |SELECT lang, source, count(*)::BIGINT AS n_docs,
        |       sum(n_tok)::BIGINT AS tot_tok, sum(n_oov)::BIGINT AS tot_oov,
        |       sum(CASE WHEN n_oov * 5 < n_tok THEN 1 ELSE 0 END)::BIGINT
        |         AS n_keep
        |FROM per_doc GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,
    // the naive full-vocabulary plan the sketch path replaces — same
    // exact output by the MG retention guarantee
    "q100_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT t FROM (
        |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS t
        |    FROM documents) WHERE t <> '')
        |SELECT t AS token, count(*)::BIGINT AS cnt
        |FROM tok GROUP BY t
        |HAVING count(*) * 64 > (SELECT count(*) FROM tok)
        |ORDER BY cnt DESC, token""".stripMargin,
    "q97_bpe_pairs" ->
      """WITH t AS (
        |  SELECT t FROM (
        |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS t
        |    FROM documents) WHERE t <> ''),
        |p AS (
        |  SELECT substr(t, i, 2) AS pair
        |  FROM t, unnest(range(1, len(t))) AS u(i)
        |  WHERE len(t) >= 2),
        |c AS (SELECT pair, count(*)::BIGINT AS cnt FROM p GROUP BY pair),
        |top AS (SELECT pair, cnt FROM c ORDER BY cnt DESC, pair LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS BIGINT)
        |         AS rnk, pair, cnt
        |FROM top ORDER BY rnk""".stripMargin,

    // gap_max mirrors the Spark side's df cap: NULL above GapDfCap —
    // the over-cap rule is part of the artifact's semantics, not a
    // Spark-side approximation
    "q151_inverted_index" ->
      s"""WITH terms AS (
        |  SELECT doc_id, t AS term FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
        |    FROM documents) WHERE t <> ''),
        |tfd AS (
        |  SELECT term, doc_id, count(*)::BIGINT AS tf
        |  FROM terms GROUP BY term, doc_id),
        |g AS (
        |  SELECT term, doc_id, tf,
        |         row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn,
        |         doc_id - lag(doc_id) OVER (PARTITION BY term
        |                                    ORDER BY doc_id) AS gap
        |  FROM tfd)
        |SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS tf_total,
        |       min(doc_id)::BIGINT AS doc_lo, max(doc_id)::BIGINT AS doc_hi,
        |       CASE WHEN count(*) <= $GapDfCap
        |            THEN coalesce(max(gap), 0)::BIGINT END AS gap_max,
        |       string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)
        |         FILTER (rn <= $IndexHead) AS postings_head
        |FROM g GROUP BY term ORDER BY term""".stripMargin,
    "q69_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, t FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
        |    FROM documents) WHERE t <> ''),
        |tf AS (SELECT doc_id, t, count(*) AS tf FROM terms GROUP BY doc_id, t),
        |df AS (SELECT t, count(*) AS df
        |       FROM (SELECT DISTINCT doc_id, t FROM terms) GROUP BY t),
        |n AS (SELECT count(*) AS n FROM documents),
        |sc AS (
        |  SELECT tf.doc_id, tf.t AS term, tf.tf, df.df,
        |         CAST(tf.tf AS DOUBLE) *
        |           (CAST((SELECT n FROM n) + 1 AS DOUBLE) / CAST(df.df + 1 AS DOUBLE)) AS tfidf
        |  FROM tf JOIN df ON tf.t = df.t),
        |r AS (
        |  SELECT doc_id, term, tf, df, tfidf,
        |         CAST(row_number() OVER (PARTITION BY doc_id
        |              ORDER BY tfidf DESC, term) AS BIGINT) AS rn
        |  FROM sc)
        |SELECT doc_id, term, tf, df, tfidf, rn FROM r
        |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,

    "q62_stratified_sample" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |         ('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS h_pct,
        |         CASE WHEN source = 'src0' THEN 80
        |              WHEN source = 'src1' THEN 50
        |              ELSE 25 END::BIGINT AS rate_pct
        |  FROM documents)
        |SELECT doc_id, source, h_pct, rate_pct FROM h
        |WHERE h_pct < rate_pct ORDER BY doc_id""".stripMargin,

    "q33_lang_id" -> {
      val scores = LangMarkers.map { case (c, ms) =>
        s"len(list_filter(w, t -> list_contains(${markersSqlList(ms)}, t)))::BIGINT AS s_$c"
      }.mkString(",\n         ")
      val g = LangMarkers.map { case (c, _) => s"s_$c" }.mkString("greatest(", ", ", ")")
      val chain = LangMarkers.map { case (c, _) => s"WHEN s_$c = g THEN '$c'" }
        .mkString("CASE ", " ", " ELSE '??' END")
      s"""WITH t AS (
         |  SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS w
         |  FROM documents),
         |sc AS (
         |  SELECT doc_id, lang,
         |         $scores
         |  FROM t),
         |gg AS (SELECT *, $g AS g FROM sc)
         |SELECT doc_id, $chain AS pred_lang, lang,
         |       CASE WHEN ($chain) = lang THEN 1 ELSE 0 END::BIGINT AS correct
         |FROM gg ORDER BY doc_id""".stripMargin
    },

    "q34_quality_score" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
         |  FROM documents)
         |SELECT doc_id,
         |  len(w)::BIGINT AS n_tokens,
         |  len(list_distinct(w))::DOUBLE / len(w) AS uniq_ratio,
         |  len(list_filter(w, t -> t IN (${Tokenize.stopWordsSqlList})))::DOUBLE / len(w) AS stop_ratio,
         |  list_sum(list_transform(w, t -> len(t)))::DOUBLE / len(w) AS mean_token_len,
         |  0.3::DOUBLE * (len(list_distinct(w))::DOUBLE / len(w))
         |    + 0.3::DOUBLE * (1.0::DOUBLE - len(list_filter(w, t -> t IN (${Tokenize.stopWordsSqlList})))::DOUBLE / len(w))
         |    + 0.4::DOUBLE * least(1.0::DOUBLE, len(w)::DOUBLE / 100.0::DOUBLE) AS score
         |FROM t ORDER BY doc_id""".stripMargin,

    "q157_quality_budget" ->
      s"""WITH t AS (
         |  SELECT string_split_regex(trim(text), '\\s+') AS w
         |  FROM documents),
         |sc AS (
         |  SELECT len(w)::BIGINT AS nt,
         |    0.3::DOUBLE * (len(list_distinct(w))::DOUBLE / len(w))
         |      + 0.3::DOUBLE * (1.0::DOUBLE - len(list_filter(w, t -> t IN (${Tokenize.stopWordsSqlList})))::DOUBLE / len(w))
         |      + 0.4::DOUBLE * least(1.0::DOUBLE, len(w)::DOUBLE / 100.0::DOUBLE) AS score
         |  FROM t),
         |g AS (
         |  SELECT least(9, floor(score * 10))::BIGINT AS tier,
         |         count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS n_tokens
         |  FROM sc GROUP BY tier)
         |SELECT tier, n_docs, n_tokens,
         |       sum(n_docs) OVER (ORDER BY tier DESC
         |         ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_docs,
         |       sum(n_tokens) OVER (ORDER BY tier DESC
         |         ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
         |FROM g ORDER BY tier DESC""".stripMargin,

    "q179_length_outliers" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |         len(string_split_regex(trim(text), '\s+'))::BIGINT AS len
        |  FROM documents),
        |lh AS (SELECT source, len, count(*) AS c FROM d GROUP BY source, len),
        |lc AS (
        |  SELECT source, len, c,
        |         sum(c) OVER (PARTITION BY source ORDER BY len
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         sum(c) OVER (PARTITION BY source) AS n
        |  FROM lh),
        |med AS (
        |  SELECT source, len AS med FROM lc
        |  WHERE cum - c < (n + 1) // 2 AND cum >= (n + 1) // 2),
        |dv AS (
        |  SELECT d.source, abs(d.len - m.med) AS dev
        |  FROM d JOIN med m ON d.source = m.source),
        |dh AS (SELECT source, dev, count(*) AS c FROM dv GROUP BY source, dev),
        |dc AS (
        |  SELECT source, dev, c,
        |         sum(c) OVER (PARTITION BY source ORDER BY dev
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         sum(c) OVER (PARTITION BY source) AS n
        |  FROM dh),
        |mad AS (
        |  SELECT source, dev AS mad FROM dc
        |  WHERE cum - c < (n + 1) // 2 AND cum >= (n + 1) // 2)
        |SELECT d.doc_id, d.source, d.len AS n_tok, m.med, a.mad,
        |       abs(d.len - m.med) AS abs_dev
        |FROM d JOIN med m ON d.source = m.source
        |JOIN mad a ON d.source = a.source
        |WHERE abs(d.len - m.med) > 3 * greatest(a.mad, 1)
        |ORDER BY d.source, d.doc_id""".stripMargin,

    "q178_lexical_diversity" ->
      """WITH tc AS (
        |  SELECT doc_id, t, count(*) AS c FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
        |    FROM documents) WHERE t <> ''
        |  GROUP BY doc_id, t)
        |SELECT doc_id,
        |       CAST(sum(c) AS BIGINT) AS n_tokens,
        |       count(*)::BIGINT AS n_types,
        |       CAST((count(*) * 1000) // sum(c) AS BIGINT) AS ttr_milli,
        |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |       CAST((sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000) // count(*)
        |            AS BIGINT) AS hapax_milli
        |FROM tc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q35_token_stats" ->
      """WITH d AS (
        |  SELECT source, n_chars, text,
        |         string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |per_source AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(len(w)) AS BIGINT) AS total_tokens,
        |         CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS total_bpe_tokens,
        |         CAST(sum(n_chars) AS BIGINT) AS total_chars
        |  FROM d GROUP BY source),
        |vocab AS (
        |  SELECT source, count(*) AS distinct_tokens FROM (
        |    SELECT DISTINCT source, t FROM (
        |      SELECT source, unnest(w) AS t FROM d) WHERE t <> '')
        |  GROUP BY source)
        |SELECT p.source, n_docs, total_tokens, total_bpe_tokens,
        |       distinct_tokens, total_chars,
        |       total_tokens::DOUBLE / n_docs AS avg_tokens
        |FROM per_source p JOIN vocab v ON p.source = v.source
        |ORDER BY p.source""".stripMargin,

    "q36_fingerprint" ->
      """SELECT doc_id, min(md5(substr(text, i, 8))) AS fp
        |FROM documents, unnest(range(1, len(text) - 6)) AS u(i)
        |WHERE len(text) >= 8
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q75_curation_verdict" ->
      s"""WITH $verdictFlagsCtesSql
         |SELECT doc_id, is_canonical, lang_ok, quality_ok, rep_keep, sample_keep,
         |       (is_canonical AND lang_ok AND quality_ok AND rep_keep
         |        AND sample_keep) AS verdict
         |FROM f ORDER BY doc_id""".stripMargin,

    "q140_curation_funnel" ->
      s"""WITH $verdictFlagsCtesSql,
         |st AS (
         |  SELECT source, n_tok,
         |         CASE WHEN NOT is_canonical THEN 0
         |              WHEN NOT lang_ok THEN 1
         |              WHEN NOT quality_ok THEN 2
         |              WHEN NOT rep_keep THEN 3
         |              WHEN NOT sample_keep THEN 4 ELSE 5 END AS depth
         |  FROM f),
         |stg AS (SELECT unnest(range(0, 6)) AS stage)
         |SELECT CAST(stage AS BIGINT) AS stage,
         |       CASE stage WHEN 0 THEN 'ingest' WHEN 1 THEN 'dedup'
         |            WHEN 2 THEN 'lang' WHEN 3 THEN 'quality'
         |            WHEN 4 THEN 'repetition' ELSE 'sample' END AS stage_name,
         |       source, count(*)::BIGINT AS n_docs,
         |       CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |FROM stg JOIN st ON st.depth >= stg.stage
         |GROUP BY 1, 2, 3 ORDER BY stage, source""".stripMargin,

    "q74_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |tstat AS (
        |  SELECT doc_id, len(w)::BIGINT AS n_tok,
        |         len(list_distinct(w))::BIGINT AS d_tok
        |  FROM t),
        |bi AS (
        |  SELECT doc_id, w[i] || ' ' || w[i + 1] AS g
        |  FROM (SELECT doc_id, w,
        |               unnest(generate_series(1, len(w) - 1)) AS i
        |        FROM t)),
        |bstat AS (
        |  SELECT doc_id, sum(c)::BIGINT AS n_bi, count(*)::BIGINT AS d_bi,
        |         max(c)::BIGINT AS m_bi
        |  FROM (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY doc_id, g)
        |  GROUP BY doc_id)
        |SELECT ts.doc_id, n_tok,
        |  CASE WHEN n_tok = 0 THEN 0.0
        |       ELSE (n_tok - d_tok)::DOUBLE / n_tok END AS dup_tok_frac,
        |  CASE WHEN n_bi IS NULL OR n_bi = 0 THEN 0.0
        |       ELSE (n_bi - d_bi)::DOUBLE / n_bi END AS dup_bigram_frac,
        |  CASE WHEN n_bi IS NULL OR n_bi = 0 THEN 0.0
        |       ELSE m_bi::DOUBLE / n_bi END AS top_bigram_share,
        |  (CASE WHEN n_bi IS NULL OR n_bi = 0 THEN 0.0
        |        ELSE m_bi::DOUBLE / n_bi END) <= 0.18
        |    AND (CASE WHEN n_tok = 0 THEN 0.0
        |              ELSE (n_tok - d_tok)::DOUBLE / n_tok END) <= 0.60 AS keep
        |FROM tstat ts LEFT JOIN bstat bs ON ts.doc_id = bs.doc_id
        |ORDER BY ts.doc_id""".stripMargin,

    "q37_string_indexer" ->
      """SELECT lang, count(*) AS cnt,
        |       CAST(row_number() OVER (ORDER BY count(*) DESC, lang) - 1 AS BIGINT) AS idx
        |FROM documents GROUP BY lang ORDER BY idx""".stripMargin
  )
}
