package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

/** Corpus-curation operators a production training-data pipeline runs
  * between raw ingest and tokenization: PII detection/redaction,
  * fixed-budget sequence packing, token-weighted mixture capping, and
  * corpus-frequency boilerplate filtering. All four are exact-oracled
  * (same results from DuckDB on the same parquet) and all four keep
  * their shuffles keyed on bounded values (doc_id / source / 3-gram
  * strings with map-side partial aggregation) — no all-pairs joins,
  * no global windows.
  */
object CurationQueries {

  private def toks = split(trim(col("text")), "\\s+")

  /** q78 — PII detect + redact (expressions in graft.text.Pii, shared
    * with the streaming scrub). The synthetic corpus carries no PII, so
    * the query first plants deterministic PII (email on doc_id%3, phone
    * on %5, IPv4 on %7 — both engines build the identical augmented
    * string), then counts matches per class and emits the md5 of the
    * fully-redacted text. Row-local projection only: zero shuffles, and
    * the whole match+replace chain stays in whole-stage codegen. At
    * 100 TB this is the cheapest kind of operator — a single scan-side
    * map with nothing to exchange.
    */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Pii
    val aug = concat(col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com now"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit(" call 555-867-5309 soon"))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0, lit(" from 10.0.42.7 host"))
        .otherwise(lit("")))
    Tables.documentsPar(s, dir).select(col("doc_id"), aug.as("t"))
      .select(col("doc_id"),
        Pii.nEmails(col("t")).as("n_emails"),
        Pii.nPhones(col("t")).as("n_phones"),
        Pii.nIps(col("t")).as("n_ips"),
        Pii.hasPii(col("t")).as("has_pii"),
        md5(Pii.redact(col("t"))).as("redacted_digest"))
      .orderBy(col("doc_id"))
  }

  /** q186 — Luhn-gated card-number detection (q78's missing PII
    * class): the corpus is deterministically salted with 16-digit runs
    * — a doc_id-derived pseudo-PAN whose check digit is doc_id mod 10
    * (Luhn-valid for ~1 in 10 docs) and the classic test PAN for
    * doc_id % 7 — then each doc reports its candidate count, its
    * LUHN-VALID count, and the has_card verdict a scrubber acts on.
    * The checksum expression is [[graft.text.Pii.luhnValid16]] — a
    * 16-digit run is only PII-grade when the mod-10 checksum holds,
    * which keeps card scrubbing from redacting order ids and
    * timestamps; the streaming scrub ([[graft.streaming.StreamPii]])
    * consumes the same tree. Detection is row-local
    * (regexp_extract_all + the checksum fold, all inside whole-stage
    * codegen); nothing shuffles until the final order for the oracle. */
  def luhnPii(s: SparkSession, dir: String): DataFrame = {
    val pan = concat(
      lpad(((col("doc_id") * 7919L) % 1000000000000000L).cast(StringType),
        15, "0"),
      (col("doc_id") % 10).cast(StringType))
    val aug = concat(col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" card "), pan, lit(" end"))).otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        lit(" pan 4111111111111111 known")).otherwise(lit("")))
    Tables.documents(s, dir).select(col("doc_id"), aug.as("t"))
      .select(col("doc_id"),
        regexp_extract_all(col("t"), lit(graft.text.Pii.CardRe), lit(0))
          .as("cands"))
      .select(col("doc_id"),
        size(col("cands")).cast(LongType).as("n_cand"),
        size(filter(col("cands"), graft.text.Pii.luhnValid16(_)))
          .cast(LongType).as("n_valid"))
      .select(col("doc_id"), col("n_cand"), col("n_valid"),
        (col("n_valid") > 0).as("has_card"))
      .orderBy(col("doc_id"))
  }

  /** Tokens per pack / per source-budget. 256 suits the synthetic docs
    * (~54 tokens each → ~4-5 docs per pack); a real pipeline passes its
    * model's context length. */
  private val PackBudget = 256L

  /** q79 — sequence packing (concat-then-chunk): assign each document
    * to the fixed-token-budget training sequence its start offset falls
    * in, packing greedily in doc_id order WITHIN each source shard.
    * This is the standard "concatenate the shard, cut every N tokens"
    * prep step before tokenization; a document straddling a boundary
    * belongs to the pack it starts in, so pack_tokens may exceed the
    * budget by at most one document — exactly the chunker's behavior.
    *
    * Scale shape: one source-partitioned running-sum window and one
    * (source, pack_id) aggregation — both key on the shard, so 1000
    * executors pack 1000 shards independently; no global ordering
    * exists anywhere in the plan.
    */
  def sequencePack(s: SparkSession, dir: String): DataFrame =
    packAssign(s, dir)
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("pack_id"))

  /** q79's per-document pack assignment (doc_id, source, n_tok,
    * pack_id) without the roll-up — shared with q144, whose cascade
    * needs pack membership rather than pack summaries. */
  private def packAssign(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), size(toks).cast(LongType).as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .select(col("doc_id"), col("source"), col("n_tok"),
        expr(s"(cum - n_tok) div $PackBudget").as("pack_id"))
  }

  /** q176 — packing-efficiency audit over q79's greedy packer: per
    * source, the bin count, exact milli-utilization against the token
    * budget, the worst bin, bins a straddling doc overfilled, and docs
    * that can never fit a budget alone — the numbers that decide
    * whether the pack budget (context length) matches the corpus's
    * document-length distribution before a training run burns padding.
    * All-integer output (div, not float division — q69's rule).
    *
    * Scale shape: q79's source-partitioned running sum, then two
    * group-cardinality aggregations (packs, then sources) and one
    * broadcast-sized join of per-source rows. */
  def packEfficiency(s: SparkSession, dir: String): DataFrame = {
    val packs = packAssign(s, dir)
      .groupBy(col("source"), col("pack_id"))
      .agg(sum(col("n_tok")).as("pack_tokens"), count(lit(1)).as("nd"))
    val perSource = packs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_packs"),
        sum(col("nd")).as("n_docs"),
        sum(col("pack_tokens")).as("total_tokens"),
        max(col("pack_tokens")).as("max_pack_tokens"),
        sum(when(col("pack_tokens") > PackBudget, 1L).otherwise(0L))
          .as("n_overfull"))
    val oversize = Tables.documents(s, dir)
      .select(col("source"), size(toks).cast(LongType).as("n_tok"))
      .groupBy(col("source"))
      .agg(sum(when(col("n_tok") > PackBudget, 1L).otherwise(0L))
        .as("n_oversize_docs"))
    perSource.join(oversize, Seq("source"))
      .select(col("source"), col("n_packs"), col("n_docs"),
        col("total_tokens"),
        expr(s"(total_tokens * 1000) div (n_packs * $PackBudget)")
          .as("util_milli"),
        col("max_pack_tokens"), col("n_overfull"), col("n_oversize_docs"))
      .orderBy(col("source"))
  }

  /** q80 — token-weighted mixture capping (the UniMax/DoReMi-style mix
    * step): each source gets a token budget and contributes documents
    * in deterministic doc_id order until the budget is exhausted;
    * everything past the cap is dropped. Token budgets — not document
    * counts — are what training mixtures are specified in. Same
    * source-partitioned running sum as q79, then a row-local budget
    * comparison; re-running on any cluster size yields the same sample.
    */
  def mixtureCap(s: SparkSession, dir: String): DataFrame = {
    val budget = when(col("source").isin("src0", "src1", "src2"), 2000L)
      .when(col("source").isin("src3", "src4", "src5"), 1000L)
      .otherwise(400L)
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), size(toks).cast(LongType).as("n_tok"))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .withColumn("budget", budget)
      .where(col("cum_tok") <= col("budget"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("cum_tok"),
        col("budget"))
      .orderBy(col("doc_id"))
  }

  /** q81 — corpus-frequency boilerplate filter (the CCNet/C4 "shared
    * paragraph" rule at 3-gram granularity, the unit this corpus has):
    * a 3-gram occurring in ≥ max(5, 1% of docs) distinct documents is
    * boilerplate; score each document by the fraction of its distinct
    * 3-grams that are boilerplate and keep it under 30%.
    *
    * Scale shape: every arm reads the hash-once
    * `shingle_hashes3_v1` store (one row per distinct (doc, 3-gram),
    * the 8-byte key — the corpus text is never re-exploded and the
    * shuffles carry BIGINTs, not gram strings); the gram→doc-frequency
    * aggregation is map-side partial, and the flagged set is broadcast
    * back — its size is bounded by total-gram-occurrences / threshold
    * ≤ 100 × avg-grams-per-doc regardless of corpus size, so the
    * broadcast never grows with N. q177/q183's parity caveat applies:
    * the engine counts over the 64-bit hash, the oracle over raw
    * strings — equal unless two distinct shingles collide (~n²/2⁶⁵).
    */
  def boilerplateGrams(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.documents(s, dir)
      .count() // metadata-only parquet count (q69 precedent)
    val thr = math.max(5L, math.ceil(0.01 * n).toLong)
    val gdocs = DedupQueries.shingleHashes3(s, dir)
      .select(col("doc_id"), col("h"))
    val boiler = gdocs.groupBy(col("h")).agg(count(lit(1)).as("d"))
      .where(col("d") >= thr)
    val perDoc = gdocs.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"))
    val hits = gdocs.join(broadcast(boiler.select(col("h"))), Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_boiler"))
    val frac = coalesce(col("n_boiler"), lit(0L)).cast(DoubleType) /
      col("n_grams").cast(DoubleType)
    perDoc.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        frac.as("boiler_frac"),
        (frac <= 0.30).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** q82 — Zipf rank-frequency curve: the 100 most frequent tokens
    * with their corpus share and cumulative coverage ("the top-k
    * tokens cover X% of the corpus" — the first plot anyone makes of a
    * new corpus, and the sanity check behind vocabulary truncation).
    *
    * Scale shape: token counting is a map-side-partial aggregation on
    * the token string; the top-100 cut is TakeOrdered (per-partition
    * top-k, then a 100-row merge — never a global sort of the vocab);
    * the ranking/cumsum window then runs over exactly 100 rows, and
    * the grand total joins in as a 1-row broadcast. Shares are single
    * integer-ratio divisions — exact in both engines.
    */
  def zipfCurve(s: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(s, dir)
      .select(explode(toks).as("t")).where(col("t") =!= "")
    val cnt = terms.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
    val total = cnt.agg(sum(col("cnt")).as("total"))
    val top = cnt.orderBy(col("cnt").desc, col("t")).limit(100)
    // 100-row window: the limit above bounds it regardless of corpus size
    val w = Window.orderBy(col("cnt").desc, col("t"))
    top
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .withColumn("cum_cnt", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      .select(col("rnk"), col("t").as("token"), col("cnt"),
        (col("cnt").cast(DoubleType) / col("total").cast(DoubleType)).as("share"),
        (col("cum_cnt").cast(DoubleType) / col("total").cast(DoubleType)).as("cum_share"))
      .orderBy(col("rnk"))
  }

  /** q83 — deterministic fixed-k per-group sample (the reservoir-sample
    * equivalent for a re-runnable pipeline): each source keeps its k=5
    * docs with the smallest md5("res|"+doc_id) — a uniform-at-random
    * choice under the hash, yet stable across re-runs, cluster sizes
    * and insertion order, which rand()-reservoirs are not. One
    * source-partitioned window; nothing global.
    */
  def groupSample(s: SparkSession, dir: String): DataFrame = {
    val h = md5(concat(lit("res|"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), h.as("h"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .where(col("rn") <= 5)
      .select(col("source"), col("rn"), col("doc_id"))
      .orderBy(col("source"), col("rn"))
  }

  /** q85 — deterministic training-order shuffle-shard: the "global
    * shuffle" every training run performs before reading, done the way
    * it scales — NO global sort exists anywhere. Each doc row-locally
    * hashes to a shard (md5 keyed by 'shuf|'), and its position within
    * the shard is a row_number over the shard-partitioned hash order.
    * The result is a reproducible uniform permutation: re-runs, resumes
    * and different cluster sizes all read the identical order, which
    * rand()-shuffles cannot promise.
    */
  def shuffleShard(s: SparkSession, dir: String): DataFrame = {
    val h = md5(concat(lit("shuf|"), col("doc_id").cast("string")))
    val shard = (conv(substring(col("h"), 1, 15), 16, 10)
      .cast(LongType) % 8L)
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), h.as("h"))
      .withColumn("shard", shard)
      .withColumn("seq", row_number().over(w).cast(LongType))
      .select(col("shard"), col("seq"), col("doc_id"))
      .orderBy(col("shard"), col("seq"))
  }

  /** BM25 retrieval constants: k1=1.2, b=0.75 (so 1-b = 0.25 and
    * k1+1 = 2.2 — all literals parse to identical doubles in both
    * engines). */
  private val QueryTerms = Seq("spark", "fast", "table")

  /** Shared by q86 (from-scratch arm) and q153 (index-served arm). */
  private val Bm25OracleSql =
    """WITH d AS (
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
      |  CROSS JOIN stats)
      |SELECT doc_id, CAST(sum(ts) AS DOUBLE) AS score,
      |       count(*) AS n_terms
      |FROM scored GROUP BY doc_id
      |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  /** q86 — BM25 retrieval: top-10 documents for a fixed query, the
    * classic Okapi scoring with the RATIONAL idf (N-df+0.5)/(df+0.5) —
    * the same monotone-transform trick as q69, since ln() differs by
    * 1 ULP between engines. Per-term scores go through DECIMAL(18,9)
    * before summing so the aggregation is order-independent (the
    * engine-wide double-sum rule, README).
    *
    * Scale shape: the term explode filters to the 3 query terms BEFORE
    * any aggregation — a 100 TB corpus contributes only its
    * query-term postings to the shuffle; df and avgdl are tiny aggs
    * broadcast back; the final cut is TakeOrdered.
    */
  /** The serve-path index artifacts behind q153 (ArtifactStore,
    * documents-fingerprinted): the FULL postings frame (term, doc_id,
    * tf — what q151's build summarizes) and the doc-length norm table,
    * built once per CORPUS from one pass each, then read from parquet
    * by every scorer in this and every later run. dl is size(w) over the UNFILTERED whitespace split —
    * q86's exact length convention — while postings drop empty tokens
    * (query terms are never empty, so scores cannot differ). */
  private[graft] def postingsArtifact(s: SparkSession, dir: String): DataFrame =
    // DELTA-GENERATIONAL (r12 verdict item 3's family sweep): a doc's
    // postings are a pure function of its own text, so a corpus append
    // tokenizes only the appended docs and bucket-carries the rest
    // (ArtifactStore.documentsDeltaArtifact — hard-linked untouched
    // buckets). The term-pruned q153 read path is unchanged: the `In`
    // filter still pushes into every bucket's parquet scan.
    graft.ArtifactStore.documentsDeltaArtifact(s, dir, "postings_v1")(docs =>
      docs
        .select(col("doc_id"), explode(toks).as("t"))
        .where(col("t") =!= "")
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf")))

  private[graft] def doclenArtifact(s: SparkSession, dir: String): DataFrame =
    // delta-generational like its postings twin (dl is doc-local)
    graft.ArtifactStore.documentsDeltaArtifact(s, dir, "doclens_v1")(docs =>
      docs
        .select(col("doc_id"), size(toks).cast(LongType).as("dl")))

  /** q153 — BM25 SERVED FROM THE INDEX: q86's exact scoring (same
    * expressions, same DECIMAL(18,9) discipline, same oracle) with the
    * corpus scan replaced by the materialized postings + doc-length
    * artifacts. This is the retrieval deployment shape: the index is
    * built once (one tokenize pass per artifact, amortized over every
    * query thereafter), and a query touches only its own terms'
    * postings — the term filter lands on the artifact's parquet scan as
    * a pushed `In` predicate, so a 100 TB corpus serves a 3-term query
    * by reading 3 terms' row groups, zero tokenization, zero full-text
    * I/O. q86 keeps the from-scratch plan as this query's control arm.
    */
  def bm25Indexed(s: SparkSession, dir: String): DataFrame =
    bm25Over(doclenArtifact(s, dir), postingsArtifact(s, dir))

  /** q86's exact scoring over EXPLICIT index artifacts — shared by q153
    * (the ArtifactStore postings) and the stream-compacted index
    * (graft.streaming.StreamIndexCompact), whose spec proves both
    * serve identically. */
  private[graft] def bm25Over(lens: DataFrame, postingsAll: DataFrame): DataFrame = {
    val stats = lens.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast(DoubleType) / count(lit(1)).cast(DoubleType)).as("avgdl"))
    val postings = postingsAll
      .where(col("t").isin(QueryTerms: _*))
      .select(col("doc_id"), col("t"), col("tf"))
    val dfreq = postings.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val tfD = col("tf").cast(DoubleType)
    val dfD = col("df").cast(DoubleType)
    val idf = (col("n").cast(DoubleType) - dfD + lit(0.5)) / (dfD + lit(0.5))
    val norm = tfD + lit(1.2) * (lit(0.25) + lit(0.75) *
      (col("dl").cast(DoubleType) / col("avgdl")))
    val termScore = idf * ((tfD * lit(2.2)) / norm)
    postings
      .join(broadcast(dfreq), "t")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        termScore.cast("decimal(18,9)").as("ts"))
      .groupBy(col("doc_id"))
      .agg(sum(col("ts")).cast(DoubleType).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
  }

  def bm25(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), toks.as("w"))
    val lens = docs.select(col("doc_id"), size(col("w")).cast(LongType).as("dl"))
    val stats = lens.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast(DoubleType) / count(lit(1)).cast(DoubleType)).as("avgdl"))
    val postings = docs
      .select(col("doc_id"), explode(col("w")).as("t"))
      .where(col("t").isin(QueryTerms: _*))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val dfreq = postings.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val tfD = col("tf").cast(DoubleType)
    val dfD = col("df").cast(DoubleType)
    val idf = (col("n").cast(DoubleType) - dfD + lit(0.5)) / (dfD + lit(0.5))
    val norm = tfD + lit(1.2) * (lit(0.25) + lit(0.75) *
      (col("dl").cast(DoubleType) / col("avgdl")))
    val termScore = idf * ((tfD * lit(2.2)) / norm)
    postings
      .join(broadcast(dfreq), "t")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        termScore.cast("decimal(18,9)").as("ts"))
      .groupBy(col("doc_id"))
      .agg(sum(col("ts")).cast(DoubleType).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
  }

  /** q87 — incremental curation delta: a 100 TB corpus is not
    * re-curated from scratch per crawl; the daily job gates only the
    * NEW batch and drops anything whose content digest already exists
    * in the curated snapshot (re-crawled pages are the common case).
    * Here the snapshot is docs < 250 and the new feed is docs ≥ 200 —
    * the 200-249 overlap simulates re-crawls, and the anti-join drops
    * them by digest.
    *
    * Scale shape: the new-batch predicate pushes into the parquet scan;
    * the history side is digests only (16 bytes/doc, not text), so the
    * anti-join shuffles digest-sized keys; the row-local gates run only
    * over the new batch.
    */
  def incrementalDelta(s: SparkSession, dir: String): DataFrame = {
    // served from text_stats_v1 (r18): the quality gate IS the stored
    // quality_ok flag (scoreOf >= 0.5, bit-identical derivation proven
    // at q34), the sampling gate IS sample_keep (same h60 pct < rate
    // expression), and the snapshot digest IS the stored md5 — so both
    // sides of the anti-join read the one-tokenize-pass store instead
    // of re-scanning and re-tokenizing the corpus twice (measured
    // 1.20 -> 0.26 s solo min at sf0.1). The oracle recomputes from the
    // corpus, so the gate proves the store, not just the build.
    val flags = TextStatsQueries.verdictRowFlagsArt(s, dir)
    val snapshot = flags.where(col("doc_id") < 250)
      .select(col("digest")).distinct()
    flags.where(col("doc_id") >= 200)
      .where(col("quality_ok") && col("sample_keep"))
      .join(snapshot, Seq("digest"), "left_anti")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  // q103 chunking dials: 48-token windows advancing by 32 (16-token
  // overlap) — the embed-time shape: windows short enough for an
  // encoder budget, overlap wide enough that no sentence straddling a
  // boundary is lost to both chunks. (48/32 rather than a production
  // 512/384 because the synthetic docs top out at ~99 tokens — the
  // ragged multi-chunk path must actually occur at test scale.)
  private val ChunkW = 48
  private val ChunkS = 32

  /** q103 — overlapping document chunking, the step between curation
    * and embedding: split each document's token stream into
    * fixed-width windows (W=48) on a fixed stride (S=32), last chunk
    * ragged, single-chunk docs passed through whole. Every token lands
    * in at least one chunk and boundary context is preserved by the
    * W−S overlap.
    *
    * Scale shape: pure row-local explode — chunk count is arithmetic
    * on the token count ((n−W+S−1) div S in integer space, no float
    * rounding to diverge engines), the slice/join is per-row, nothing
    * shuffles except the final order. At 100 TB this runs at scan
    * speed and fans out ~n/S rows per doc; the downstream embedder
    * keys on (doc_id, chunk_id), which this emits deterministically.
    */
  def chunkOverlap(s: SparkSession, dir: String): DataFrame =
    chunkRows(s, dir).orderBy(col("doc_id"), col("chunk_id"))

  /** q103's chunk stream without the presentation sort — shared with
    * q114, which re-aggregates it and must not inherit a useless
    * mid-plan global order. */
  private def chunkRows(s: SparkSession, dir: String): DataFrame = {
    val w = filter(toks, t => t =!= "")
    // fanOut MEASURED r18: q114 0.77 -> 1.01 (two consumers replay the
    // rebalance — the q89 lesson), q103 flat; kept on the straight scan
    Tables.documents(s, dir)
      .select(col("doc_id"), w.as("w"))
      .withColumn("n", size(col("w")).cast(LongType))
      .where(col("n") > 0)
      .withColumn("c", explode(expr(
        s"sequence(0L, CASE WHEN n > $ChunkW THEN (n - $ChunkW + ${ChunkS - 1}) div $ChunkS ELSE 0L END)")))
      .select(
        col("doc_id"),
        col("c").as("chunk_id"),
        (col("c") * ChunkS + 1).as("start_tok"),
        least(lit(ChunkW.toLong), col("n") - col("c") * ChunkS).as("n_tok"),
        concat_ws(" ", expr(
          s"slice(w, CAST(c * $ChunkS + 1 AS INT), CAST(least($ChunkW, n - c * $ChunkS) AS INT))"))
          .as("chunk"))
  }

  /** Packs (doc_id, chunk_id) into one BIGINT for the global
    * first-occurrence arg-min (q98's [[AnalyticsQueries.PosPack]]
    * idiom): 2²¹ chunks/doc ≈ 64M tokens/doc, far past any real
    * document, so the packing is collision-free. */
  private val ChunkPack = 1L << 21

  /** q114 — chunk-level exact deduplication, the gate between q103's
    * chunker and the embed/index stage of a RAG or embedding pipeline:
    * an identical chunk must not be embedded (GPU cost) or indexed
    * (duplicate retrievals) twice, so every chunk whose text already
    * occurred at a smaller global (doc_id, chunk_id) is marked drop.
    * This is dedup at a THIRD granularity — document (q24), token-span
    * (q98), and now the unit the downstream consumer actually keys on.
    *
    * Scale shape: chunk text collapses to an 8-byte graft_h60 digest at
    * the scan, so the duplicate-detection shuffle ships (hash, packed
    * BIGINT) pairs only — never text. First occurrence is a min()
    * partial aggregation over the packed key (no per-hash sort window),
    * and the verdict join back is an equi-join on the 8-byte hash —
    * shuffle-join shaped, like q98's: the distinct-chunk table at
    * corpus scale is too large to broadcast by construction. Emitting
    * verdicts (not filtered survivors) keeps the op composable: the
    * embed stage anti-joins drops, an audit sums them.
    */
  def chunkDedup(s: SparkSession, dir: String): DataFrame = {
    val c = chunkRows(s, dir)
      .select(col("doc_id"), col("chunk_id"), col("n_tok"),
        call_function("graft_h60", col("chunk")).as("h"))
    val packed = col("doc_id") * lit(ChunkPack) + col("chunk_id")
    val first = c.groupBy(col("h"))
      .agg(count(lit(1)).as("n_occ"), min(packed).as("fk"))
    c.join(first, Seq("h"))
      .select(col("doc_id"), col("chunk_id"), col("n_tok"), col("n_occ"),
        (packed === col("fk")).as("keep"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** q123 — incremental view maintenance (IVM) for a monoid aggregate:
    * refresh a materialized per-(lang, source) rollup by COMBINING the
    * stored snapshot aggregate (doc_id < 250 — q87's snapshot
    * convention) with the delta batch's aggregate, never rescanning
    * snapshot ROWS together with delta rows. count and sum are
    * commutative monoids, so aggregate-of-union == union-of-aggregates
    * — and that equality is exactly what the oracle enforces: the
    * DuckDB side is the naive full GROUP BY over all documents, so a
    * hash-green q123 PROVES the combine is lossless.
    *
    * Scale shape: at 100 TB the snapshot aggregate is a stored
    * materialized view (groups ≪ rows — here both sides recompute
    * from parquet because the engine has no persistent state between
    * driver runs, with predicate pushdown splitting the scans); the
    * delta aggregate touches only the new partition; the combine is a
    * full-outer join on the GROUP key — group-cardinality-sized, the
    * cheapest join in the pipeline. This is the batch form of what
    * every Stream* twin does per arrival.
    */
  def ivmAgg(s: SparkSession, dir: String): DataFrame = {
    def agg(pred: Column) = Tables.documents(s, dir).where(pred)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
    val base = agg(col("doc_id") < 250)
      .withColumnsRenamed(Map("n" -> "n_a", "chars" -> "chars_a"))
    val delta = agg(col("doc_id") >= 250)
      .withColumnsRenamed(Map("n" -> "n_b", "chars" -> "chars_b"))
    base.join(delta, Seq("lang", "source"), "full_outer")
      .select(col("lang"), col("source"),
        (coalesce(col("n_a"), lit(0L)) + coalesce(col("n_b"), lit(0L)))
          .as("n_docs"),
        (coalesce(col("chars_a"), lit(0L)) + coalesce(col("chars_b"), lit(0L)))
          .as("sum_chars"))
      .orderBy(col("lang"), col("source"))
  }

  // ——— q143: content-defined chunking ————————————————————————————————
  // Rolling-hash parameters. The window hash is Horner over the last
  // CdcW per-token hashes x (the 60-bit md5 prefix mod the Mersenne
  // prime — q26's token-hash convention, minhashTokenXSql's SQL twin):
  // every intermediate is < 2^31 * 1000003 + 2^31 < 2^52, so both
  // engines reproduce the arithmetic bit-for-bit in signed 64-bit.
  private val CdcW    = 4             // rolling window, tokens
  private val CdcA    = 1000003L      // Horner base
  private val CdcP    = 2147483647L   // Mersenne prime 2^31-1
  private val CdcDiv  = 16L           // boundary: h % 16 == 0 → mean chunk ~16

  /** q143 — content-defined chunking (the LBFS/Rabin idiom:
    * Muthitacharoen et al., "A Low-Bandwidth Network File System",
    * SOSP 2001): chunk boundaries fall where a rolling hash of the last
    * [[CdcW]] tokens hits `h % 16 == 0`, plus a forced boundary at the
    * document end. Unlike q103's fixed-stride chunker, an insertion
    * near the head re-synchronizes at the next content boundary — every
    * chunk after it keeps its digest, which is what makes CDC the
    * chunking a dedup-friendly pipeline wants: edit one paragraph of a
    * mirrored document and the chunk-level dedup (q114's idiom) still
    * collapses the untouched 99%.
    *
    * Emits (doc_id, chunk_idx, start_tok, n_tok, chunk_digest) — the
    * digest, never the chunk text, so downstream dedup ships 16-byte
    * keys. Scale shape: pure row-local flatMap (the shingles lesson —
    * a typed sliding window is ~10× cheaper than the interpreted
    * higher-order-function formulation), zero shuffles before the
    * presentation sort; at 100 TB this is scan-bound. */
  def cdcChunks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val md5 = java.security.MessageDigest.getInstance("MD5")
        val hexChars = "0123456789abcdef".toCharArray
        // full 32-hex digest via a char table — java.util.Formatter per
        // byte ("%02x".format) costs ~1µs each and dominated this
        // flatMap at sf0.1 (millions of calls), ~6 s of pure formatting
        def hex(s0: String): String = {
          val d = md5.digest(s0.getBytes("UTF-8"))
          val out = new Array[Char](32)
          var i = 0
          while (i < 16) {
            out(2 * i) = hexChars((d(i) >> 4) & 0xf)
            out(2 * i + 1) = hexChars(d(i) & 0xf)
            i += 1
          }
          new String(out)
        }
        // first 15 hex nibbles = bytes 0..6 plus byte 7's high nibble,
        // read directly — bit-identical to parseLong(hex.take(15), 16)
        def h60(s0: String): Long = {
          val d = md5.digest(s0.getBytes("UTF-8"))
          var v = 0L
          var i = 0
          while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
          (v << 4) | ((d(7) & 0xf0L) >>> 4)
        }
        val w = text.trim.split("\\s+").filter(_.nonEmpty)
        val n = w.length
        if (n == 0) Iterator.empty
        else {
          val xs = w.map(t => h60(t) % CdcP)
          val bs = scala.collection.mutable.ArrayBuffer[Int]()
          var p = CdcW
          while (p <= n) {
            var h = xs(p - CdcW)
            var i = p - CdcW + 1
            while (i < p) { h = (h * CdcA + xs(i)) % CdcP; i += 1 }
            if (h % CdcDiv == 0L) bs += p
            p += 1
          }
          if (bs.isEmpty || bs.last != n) bs += n
          var prev = 0
          bs.iterator.zipWithIndex.map { case (b, ci) =>
            val digest = hex(w.slice(prev, b).mkString(" "))
            val row = (id, (ci + 1).toLong, (prev + 1).toLong, (b - prev).toLong, digest)
            prev = b
            row
          }
        }
      }
      .toDF("doc_id", "chunk_idx", "start_tok", "n_tok", "chunk_digest")
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** The takedown flag as row-local hash arithmetic over doc_id (the
    * q138 split idiom with a different salt): ~1/16 of the corpus.
    * Being a predicate — not a materialized id list — every cascade leg
    * below flags rows in place with ZERO joins against a takedown
    * relation; a production takedown list (explicit ids) swaps this
    * predicate for a bloom probe (q115's idiom) without changing any
    * plan shape. */
  private def isTakedown(id: Column): Column =
    pmod(call_function("graft_h60",
      concat(lit("takedown|"), id.cast("string"))), lit(16L)) === 0L

  /** q144 — takedown / deletion-cascade audit (the right-to-erasure and
    * licensing-takedown question every corpus operator answers): when
    * the flagged documents leave, what else must move? One row per
    * downstream artifact: the documents themselves, the q103 chunks
    * that vanish with them, the q79 packs broken by losing a member,
    * the surviving documents sitting in those broken packs (they must
    * be repacked — their training sequences change without their
    * content changing), and the q27 near-dup edges severed (exactly one
    * endpoint leaves — the survivor's dedup decision may flip on the
    * next run). n_total carries each artifact's population so every
    * row reads as a fraction.
    *
    * Scale shape: four scan-shaped legs (documents, chunk rows, pack
    * assignment, edge parquet), each aggregating to ≤ pack-count rows
    * with the takedown flag computed in place; the only joins are the
    * 1-row scalar combines of the final union. Σ cohab over ALL packs
    * doubles as the surviving-corpus total — packing partitions the
    * corpus, so no second documents pass is needed. */
  def takedownCascade(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .agg(coalesce(sum(when(isTakedown(col("doc_id")), 1L).otherwise(0L)),
          lit(0L)).as("n_affected"),
        count(lit(1)).as("n_total"))
      .select(lit("1_documents").as("artifact"), col("n_affected"), col("n_total"))
    val chunks = chunkRows(s, dir)
      .agg(coalesce(sum(when(isTakedown(col("doc_id")), 1L).otherwise(0L)),
          lit(0L)).as("n_affected"),
        count(lit(1)).as("n_total"))
      .select(lit("2_chunks").as("artifact"), col("n_affected"), col("n_total"))
    val pk = packAssign(s, dir)
      .withColumn("td", isTakedown(col("doc_id")))
      .groupBy(col("source"), col("pack_id"))
      .agg(max(when(col("td"), 1L).otherwise(0L)).as("broken"),
        sum(when(!col("td"), 1L).otherwise(0L)).as("cohab"))
    val packs = pk
      .agg(coalesce(sum(col("broken")), lit(0L)).as("n_affected"),
        count(lit(1)).as("n_total"))
      .select(lit("3_packs").as("artifact"), col("n_affected"), col("n_total"))
    val cohab = pk
      .agg(coalesce(sum(when(col("broken") === 1L, col("cohab"))
          .otherwise(0L)), lit(0L)).as("n_affected"),
        coalesce(sum(col("cohab")), lit(0L)).as("n_total"))
      .select(lit("4_pack_cohabitants").as("artifact"),
        col("n_affected"), col("n_total"))
    val edges = DedupQueries.minhashPairsArtifact(s, dir)
      .agg(coalesce(sum(when(
          isTakedown(col("doc_a")) =!= isTakedown(col("doc_b")), 1L)
          .otherwise(0L)), lit(0L)).as("n_affected"),
        count(lit(1)).as("n_total"))
      .select(lit("5_dup_edges_severed").as("artifact"),
        col("n_affected"), col("n_total"))
    Seq(docs, chunks, packs, cohab, edges).reduce(_.unionByName(_))
      .orderBy(col("artifact"))
  }

  /** q146 — temperature-weighted mixture allocation (the UniMax /
    * multilingual-sampling companion to q80's hard caps): each source's
    * share of a fixed token budget is proportional to tok^(1/2) —
    * temperature τ = 2 flattening, the standard compromise between
    * proportional sampling (starves the tail) and uniform (over-samples
    * tiny sources). Integer end to end: the weight is floor(√tok)
    * (IEEE sqrt of an integer < 2^53 is correctly rounded, so both
    * engines floor the same double), floor-allocations by integer
    * division, and the B − Σfloor leftover units go to the largest
    * remainders (ties to source name) — the Hamilton largest-remainder
    * method, so Σ alloc == B exactly, provable in a spec.
    *
    * Scale shape: ONE partial-agg corpus scan to per-source token
    * totals; everything downstream operates on that #sources-row
    * relation — the scalar total and deficit are 1-row broadcast
    * combines, and the remainder rank is a window over #sources rows,
    * not corpus rows. */
  def mixtureAlloc(s: SparkSession, dir: String): DataFrame = {
    val B = 100000L
    val st = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(sum(size(toks).cast(LongType)).as("n_tok"))
      .withColumn("weight", floor(sqrt(col("n_tok"))).cast(LongType))
    val tw = st.agg(sum(col("weight")).as("total_w"))
    val fl = st.crossJoin(broadcast(tw))
      .select(col("source"), col("n_tok"), col("weight"),
        expr(s"($B * weight) div total_w").as("af"),
        expr(s"($B * weight) % total_w").as("rem"))
    val df = fl.agg((lit(B) - sum(col("af"))).as("deficit"))
    val rk = fl.withColumn("rn", row_number().over(
      Window.orderBy(col("rem").desc, col("source"))))
    rk.crossJoin(broadcast(df))
      .select(col("source"), col("n_tok"), col("weight"),
        (col("af") + when(col("rn") <= col("deficit"), 1L).otherwise(0L))
          .as("alloc"))
      .orderBy(col("source"))
  }

  /** q147 — hashed-bigram target affinity: the DSIR importance signal
    * (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling", arXiv:2302.03169) in exact-rational form.
    * Every document is scored by how much its hashed-bigram profile
    * resembles a target domain (source src0 stands in for the curated
    * target corpus) versus the raw corpus: features are token bigrams
    * hashed into 4096 buckets (graft_h60), and a document is
    * target-affine when dot_t · total_raw > dot_r · total_target —
    * the cross-multiplied form of p_target(doc) / p_raw(doc) > 1 under
    * hashed unigram-of-bigrams models, no float division anywhere.
    * Per source: docs with ≥ 1 bigram, affine docs, and the summed
    * dot-product masses (the consumer's resampling-rate numerators).
    *
    * Scale shape: one explode pass to (doc, bucket) counts with
    * map-side partial agg; the global histogram is 4096 rows and its
    * totals 1 row — both broadcast, and neither grows with the corpus
    * (the feature space is fixed by construction, the DSIR trick);
    * the per-doc dot is a partial agg keyed by doc_id. The affinity
    * compare is DECIMAL(38,0) cross-multiplication so the rational
    * test survives 100-TB-scale masses without BIGINT overflow. */
  def dsirAffinity(s: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), toks.as("w"))
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(slice(w, 1, greatest(size(w) - 1, 0)), (x, i) -> concat(x, ' ', w[i + 1]))")).as("b"))
      .select(col("doc_id"), col("source"),
        pmod(call_function("graft_h60", concat(lit("dsir|"), col("b"))),
          lit(4096L)).as("f"))
    // persist: dc feeds BOTH the global histogram and the per-doc dot
    // join — unpersisted, the explode + per-bigram graft_h60 pipeline
    // (the query's dominant cost) runs once per consumer (guide §5)
    val dc = bg.groupBy(col("doc_id"), col("source"), col("f"))
      .agg(count(lit(1)).as("c"))
      .persist()
    val gc = dc.groupBy(col("f"))
      .agg(sum(col("c")).as("cr"),
        sum(when(col("source") === "src0", col("c")).otherwise(0L)).as("ct"))
    val tot = gc.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
    val dots = dc.join(broadcast(gc), Seq("f"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("c") * col("ct")).as("dot_t"),
        sum(col("c") * col("cr")).as("dot_r"))
    dots.crossJoin(broadcast(tot))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(
          col("dot_t").cast("decimal(38,0)") * col("tr").cast("decimal(38,0)") >
          col("dot_r").cast("decimal(38,0)") * col("tt").cast("decimal(38,0)"),
          1L).otherwise(0L)).as("n_affine"),
        sum(col("dot_t")).as("dot_t_total"),
        sum(col("dot_r")).as("dot_r_total"))
      .orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q103_chunk_overlap" -> chunkOverlap,
    "q114_chunk_dedup"   -> chunkDedup,
    "q143_cdc_chunks"    -> cdcChunks,
    "q144_takedown_cascade" -> takedownCascade,
    "q146_mixture_alloc"    -> mixtureAlloc,
    "q147_dsir_affinity"    -> dsirAffinity,
    "q123_ivm_agg"       -> ivmAgg,
    "q78_pii_scrub"         -> piiScrub,
    "q186_luhn_pii"         -> luhnPii,
    "q79_sequence_pack"     -> sequencePack,
    "q176_pack_efficiency"  -> packEfficiency,
    "q80_mixture_cap"       -> mixtureCap,
    "q81_boilerplate_grams" -> boilerplateGrams,
    "q82_zipf_curve"        -> zipfCurve,
    "q83_group_sample"      -> groupSample,
    "q85_shuffle_shard"     -> shuffleShard,
    "q86_bm25"              -> bm25,
    "q153_bm25_indexed"     -> bm25Indexed,
    "q87_incremental_delta" -> incrementalDelta
  )

  val oracles: Map[String, String] = Map(
    "q103_chunk_overlap" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |         list_filter(string_split_regex(trim(text), '\\s+'),
         |                     t -> t <> '') AS w
         |  FROM documents),
         |nn AS (
         |  SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM d
         |  WHERE len(w) > 0),
         |ch AS (
         |  SELECT doc_id, w, n, u.c
         |  FROM nn, unnest(range(0,
         |    1 + CASE WHEN n > $ChunkW THEN (n - $ChunkW + ${ChunkS - 1}) // $ChunkS ELSE 0 END)) AS u(c))
         |SELECT doc_id,
         |       CAST(c AS BIGINT) AS chunk_id,
         |       CAST(c * $ChunkS + 1 AS BIGINT) AS start_tok,
         |       CAST(least($ChunkW, n - c * $ChunkS) AS BIGINT) AS n_tok,
         |       array_to_string(
         |         list_slice(w, c * $ChunkS + 1, c * $ChunkS + least($ChunkW, n - c * $ChunkS)),
         |         ' ') AS chunk
         |FROM ch
         |ORDER BY doc_id, chunk_id""".stripMargin,
    "q143_cdc_chunks" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |         list_filter(string_split_regex(trim(text), '\\s+'),
         |                     t -> t <> '') AS w
         |  FROM documents),
         |nn AS (
         |  SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM d
         |  WHERE len(w) > 0),
         |xs AS (
         |  SELECT doc_id, n,
         |         list_transform(w, t ->
         |           ('0x' || substr(md5(t), 1, 15))::BIGINT % $CdcP) AS x
         |  FROM nn),
         |hp AS (
         |  SELECT doc_id, u.p
         |  FROM xs, unnest(range($CdcW, n + 1)) AS u(p)
         |  WHERE ((((((x[p-3] * $CdcA + x[p-2]) % $CdcP) * $CdcA + x[p-1])
         |          % $CdcP) * $CdcA + x[p]) % $CdcP) % $CdcDiv = 0),
         |bnd AS (
         |  SELECT doc_id, p FROM hp
         |  UNION
         |  SELECT doc_id, n AS p FROM nn),
         |ch AS (
         |  SELECT doc_id, p,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY p)
         |           AS chunk_idx,
         |         coalesce(lag(p) OVER (PARTITION BY doc_id ORDER BY p), 0)
         |           AS prev
         |  FROM bnd)
         |SELECT c.doc_id, CAST(c.chunk_idx AS BIGINT) AS chunk_idx,
         |       c.prev + 1 AS start_tok, c.p - c.prev AS n_tok,
         |       md5(array_to_string(n2.w[c.prev+1:c.p], ' ')) AS chunk_digest
         |FROM ch c JOIN nn n2 ON c.doc_id = n2.doc_id
         |ORDER BY c.doc_id, c.chunk_idx""".stripMargin,
    "q144_takedown_cascade" ->
      s"""WITH ${DedupQueries.minhashCtesSql},
         |prs AS (
         |  SELECT da, db FROM common
         |  JOIN sz sa ON da = sa.doc_id
         |  JOIN sz sb ON db = sb.doc_id
         |  WHERE 3 * c >= sa.n + sb.n),
         |tdd AS (
         |  SELECT doc_id,
         |         (('0x' || substr(md5('takedown|' || doc_id), 1, 15))::BIGINT
         |          % 16 = 0) AS td
         |  FROM documents),
         |dw AS (
         |  SELECT doc_id,
         |         list_filter(string_split_regex(trim(text), '\\s+'),
         |                     t -> t <> '') AS w
         |  FROM documents),
         |cnn AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n FROM dw
         |  WHERE len(w) > 0),
         |chn AS (
         |  SELECT doc_id,
         |         1 + CASE WHEN n > $ChunkW
         |                  THEN (n - $ChunkW + ${ChunkS - 1}) // $ChunkS
         |                  ELSE 0 END AS n_chunks
         |  FROM cnn),
         |pt AS (
         |  SELECT doc_id, source,
         |         len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tok
         |  FROM documents),
         |pc AS (
         |  SELECT doc_id, source, n_tok,
         |         sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM pt),
         |pk AS (
         |  SELECT source, CAST((cum - n_tok) // $PackBudget AS BIGINT) AS pack_id,
         |         max(CASE WHEN td THEN 1 ELSE 0 END) AS broken,
         |         sum(CASE WHEN NOT td THEN 1 ELSE 0 END) AS cohab
         |  FROM pc JOIN tdd USING (doc_id)
         |  GROUP BY 1, 2)
         |SELECT '1_documents' AS artifact,
         |       coalesce(sum(CASE WHEN td THEN 1 ELSE 0 END), 0)::BIGINT
         |         AS n_affected,
         |       count(*)::BIGINT AS n_total
         |FROM tdd
         |UNION ALL
         |SELECT '2_chunks',
         |       coalesce(sum(CASE WHEN td THEN n_chunks ELSE 0 END), 0)::BIGINT,
         |       coalesce(sum(n_chunks), 0)::BIGINT
         |FROM chn JOIN tdd USING (doc_id)
         |UNION ALL
         |SELECT '3_packs', coalesce(sum(broken), 0)::BIGINT,
         |       count(*)::BIGINT
         |FROM pk
         |UNION ALL
         |SELECT '4_pack_cohabitants',
         |       coalesce(sum(CASE WHEN broken = 1 THEN cohab ELSE 0 END), 0)::BIGINT,
         |       coalesce(sum(cohab), 0)::BIGINT
         |FROM pk
         |UNION ALL
         |SELECT '5_dup_edges_severed',
         |       coalesce(sum(CASE WHEN ta.td <> tb.td THEN 1 ELSE 0 END), 0)::BIGINT,
         |       count(*)::BIGINT
         |FROM prs
         |JOIN tdd ta ON prs.da = ta.doc_id
         |JOIN tdd tb ON prs.db = tb.doc_id
         |ORDER BY artifact""".stripMargin,

    "q146_mixture_alloc" ->
      """WITH st AS (
        |  SELECT source,
        |         sum(len(string_split_regex(trim(text), '\s+')))::BIGINT
        |           AS n_tok
        |  FROM documents GROUP BY source),
        |wt AS (
        |  SELECT source, n_tok,
        |         CAST(floor(sqrt(n_tok)) AS BIGINT) AS weight
        |  FROM st),
        |tw AS (SELECT sum(weight)::BIGINT AS total_w FROM wt),
        |fl AS (
        |  SELECT source, n_tok, weight,
        |         (100000 * weight) // total_w AS af,
        |         (100000 * weight) % total_w AS rem
        |  FROM wt, tw),
        |df AS (SELECT (100000 - sum(af))::BIGINT AS deficit FROM fl),
        |rk AS (
        |  SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rn
        |  FROM fl)
        |SELECT source, n_tok, weight,
        |       (af + CASE WHEN rn <= deficit THEN 1 ELSE 0 END)::BIGINT
        |         AS alloc
        |FROM rk, df ORDER BY source""".stripMargin,

    "q147_dsir_affinity" ->
      """WITH dw AS (
        |  SELECT doc_id, source,
        |         string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, source,
        |         ('0x' || substr(md5('dsir|' || w[i+1] || ' ' || w[i+2]),
        |          1, 15))::BIGINT % 4096 AS f
        |  FROM dw, unnest(range(0, greatest(len(w) - 1, 0))) AS u(i)),
        |dc AS (
        |  SELECT doc_id, source, f, count(*)::BIGINT AS c
        |  FROM bg GROUP BY 1, 2, 3),
        |gc AS (
        |  SELECT f, sum(c)::BIGINT AS cr,
        |         sum(CASE WHEN source = 'src0' THEN c ELSE 0 END)::BIGINT
        |           AS ct
        |  FROM dc GROUP BY f),
        |tot AS (SELECT sum(cr)::BIGINT AS tr, sum(ct)::BIGINT AS tt FROM gc),
        |dots AS (
        |  SELECT doc_id, source,
        |         sum(c * ct)::BIGINT AS dot_t, sum(c * cr)::BIGINT AS dot_r
        |  FROM dc JOIN gc USING (f) GROUP BY 1, 2)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |       sum(CASE WHEN dot_t::DECIMAL(38,0) * tr > dot_r::DECIMAL(38,0) * tt
        |                THEN 1 ELSE 0 END)::BIGINT AS n_affine,
        |       sum(dot_t)::BIGINT AS dot_t_total,
        |       sum(dot_r)::BIGINT AS dot_r_total
        |FROM dots, tot GROUP BY source ORDER BY source""".stripMargin,

    "q114_chunk_dedup" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |         list_filter(string_split_regex(trim(text), '\\s+'),
         |                     t -> t <> '') AS w
         |  FROM documents),
         |nn AS (
         |  SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM d
         |  WHERE len(w) > 0),
         |ch AS (
         |  SELECT doc_id, w, n, u.c
         |  FROM nn, unnest(range(0,
         |    1 + CASE WHEN n > $ChunkW THEN (n - $ChunkW + ${ChunkS - 1}) // $ChunkS ELSE 0 END)) AS u(c)),
         |hashed AS (
         |  SELECT doc_id,
         |         CAST(c AS BIGINT) AS chunk_id,
         |         CAST(least($ChunkW, n - c * $ChunkS) AS BIGINT) AS n_tok,
         |         ('0x' || substr(md5(array_to_string(
         |            list_slice(w, c * $ChunkS + 1, c * $ChunkS + least($ChunkW, n - c * $ChunkS)),
         |            ' ')), 1, 15))::BIGINT AS h
         |  FROM ch)
         |SELECT doc_id, chunk_id, n_tok,
         |       count(*) OVER (PARTITION BY h) AS n_occ,
         |       doc_id * $ChunkPack + chunk_id =
         |         min(doc_id * $ChunkPack + chunk_id) OVER (PARTITION BY h) AS keep
         |FROM hashed
         |ORDER BY doc_id, chunk_id""".stripMargin,
    // q123's oracle is the NAIVE full recompute — hash-green means the
    // incremental combine is provably lossless
    "q123_ivm_agg" ->
      """SELECT lang, source, count(*)::BIGINT AS n_docs,
        |       sum(n_chars)::BIGINT AS sum_chars
        |FROM documents
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,

    "q87_incremental_delta" ->
      s"""WITH snapshot AS (
        |  SELECT DISTINCT md5(text) AS digest FROM documents
        |  WHERE doc_id < 250),
        |batch AS (
        |  SELECT doc_id, source, text,
        |         string_split_regex(trim(text), '\\s+') AS w,
        |         md5(text) AS digest
        |  FROM documents WHERE doc_id >= 200),
        |gated AS (
        |  SELECT doc_id, source, digest FROM batch
        |  WHERE (0.3::DOUBLE * (len(list_distinct(w))::DOUBLE / len(w))
        |      + 0.3::DOUBLE * (1.0::DOUBLE - len(list_filter(w, t -> t IN (${graft.text.Tokenize.stopWordsSqlList})))::DOUBLE / len(w))
        |      + 0.4::DOUBLE * least(1.0::DOUBLE, len(w)::DOUBLE / 100.0::DOUBLE)) >= 0.5
        |    AND ('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
        |        < (CASE WHEN source = 'src0' THEN 80
        |                WHEN source = 'src1' THEN 50 ELSE 25 END))
        |SELECT doc_id, source FROM gated
        |WHERE digest NOT IN (SELECT digest FROM snapshot)
        |ORDER BY doc_id""".stripMargin,

    "q85_shuffle_shard" ->
      """WITH h AS (
        |  SELECT doc_id, md5('shuf|' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, h,
        |         ('0x' || substr(h, 1, 15))::BIGINT % 8 AS shard
        |  FROM h)
        |SELECT shard,
        |       CAST(row_number() OVER (PARTITION BY shard
        |            ORDER BY h, doc_id) AS BIGINT) AS seq,
        |       doc_id
        |FROM s ORDER BY shard, seq""".stripMargin,

    "q86_bm25" -> Bm25OracleSql,
    // q153 serves the SAME scores from the materialized index; the
    // oracle is deliberately the from-scratch recomputation — the two
    // plans must agree to the bit for the artifact to be lossless
    "q153_bm25_indexed" -> Bm25OracleSql,

    "q186_luhn_pii" ->
      """WITH a AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 3 = 0
        |         THEN ' card '
        |              || lpad(CAST((doc_id * 7919) % 1000000000000000 AS VARCHAR), 15, '0')
        |              || CAST(doc_id % 10 AS VARCHAR) || ' end'
        |         ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN ' pan 4111111111111111 known'
        |       ELSE '' END AS t
        |  FROM documents),
        |c AS (SELECT doc_id, regexp_extract_all(t, '\d{16}') AS cands FROM a),
        |v AS (
        |  SELECT doc_id, len(cands)::BIGINT AS n_cand,
        |         len(list_filter(cands, c ->
        |           list_sum(list_transform(range(16), i ->
        |             CASE WHEN i % 2 = 1 THEN
        |               CASE WHEN CAST(substr(c, CAST(16 - i AS INTEGER), 1) AS BIGINT) * 2 > 9
        |                    THEN CAST(substr(c, CAST(16 - i AS INTEGER), 1) AS BIGINT) * 2 - 9
        |                    ELSE CAST(substr(c, CAST(16 - i AS INTEGER), 1) AS BIGINT) * 2 END
        |               ELSE CAST(substr(c, CAST(16 - i AS INTEGER), 1) AS BIGINT) END)) % 10 = 0
        |         ))::BIGINT AS n_valid
        |  FROM c)
        |SELECT doc_id, n_cand, n_valid, n_valid > 0 AS has_card
        |FROM v ORDER BY doc_id""".stripMargin,

    "q78_pii_scrub" ->
      """WITH a AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 3 = 0
        |            THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
        |            ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN ' call 555-867-5309 soon' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.42.7 host' ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b'))::BIGINT AS n_phones,
        |  len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ips,
        |  (len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |   + len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b'))
        |   + len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))) > 0 AS has_pii,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
        |        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS redacted_digest
        |FROM a ORDER BY doc_id""".stripMargin,

    "q176_pack_efficiency" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |         len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, n_tok,
         |         sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t),
         |packs AS (
         |  SELECT source, CAST((cum - n_tok) // $PackBudget AS BIGINT) AS pack_id,
         |         CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
         |         count(*) AS nd
         |  FROM c GROUP BY source, pack_id),
         |per_source AS (
         |  SELECT source, count(*)::BIGINT AS n_packs,
         |         CAST(sum(nd) AS BIGINT) AS n_docs,
         |         CAST(sum(pack_tokens) AS BIGINT) AS total_tokens,
         |         CAST(max(pack_tokens) AS BIGINT) AS max_pack_tokens,
         |         CAST(sum(CASE WHEN pack_tokens > $PackBudget THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_overfull
         |  FROM packs GROUP BY source),
         |oversize AS (
         |  SELECT source,
         |         CAST(sum(CASE WHEN n_tok > $PackBudget THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_oversize_docs
         |  FROM t GROUP BY source)
         |SELECT p.source, p.n_packs, p.n_docs, p.total_tokens,
         |       CAST((p.total_tokens * 1000) // (p.n_packs * $PackBudget)
         |            AS BIGINT) AS util_milli,
         |       p.max_pack_tokens, p.n_overfull, o.n_oversize_docs
         |FROM per_source p JOIN oversize o USING (source)
         |ORDER BY p.source""".stripMargin,

    "q79_sequence_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |         len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, n_tok,
         |         sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT source, CAST((cum - n_tok) // $PackBudget AS BIGINT) AS pack_id,
         |       count(*) AS n_docs,
         |       CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
         |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM c GROUP BY source, pack_id
         |ORDER BY source, pack_id""".stripMargin,

    "q80_mixture_cap" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tok,
        |         CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |           AS cum_tok,
        |         CASE WHEN source IN ('src0', 'src1', 'src2') THEN 2000
        |              WHEN source IN ('src3', 'src4', 'src5') THEN 1000
        |              ELSE 400 END::BIGINT AS budget
        |  FROM t)
        |SELECT doc_id, source, n_tok, cum_tok, budget
        |FROM c WHERE cum_tok <= budget ORDER BY doc_id""".stripMargin,

    "q82_zipf_curve" ->
      """WITH terms AS (
        |  SELECT t FROM (
        |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS t
        |    FROM documents) WHERE t <> ''),
        |cnt AS (SELECT t, count(*) AS cnt FROM terms GROUP BY t),
        |total AS (SELECT sum(cnt) AS total FROM cnt),
        |top AS (SELECT t, cnt FROM cnt ORDER BY cnt DESC, t LIMIT 100),
        |r AS (
        |  SELECT t, cnt,
        |         CAST(row_number() OVER (ORDER BY cnt DESC, t) AS BIGINT) AS rnk,
        |         sum(cnt) OVER (ORDER BY cnt DESC, t
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cnt
        |  FROM top)
        |SELECT rnk, t AS token, cnt,
        |       cnt::DOUBLE / (SELECT total FROM total)::DOUBLE AS share,
        |       cum_cnt::DOUBLE / (SELECT total FROM total)::DOUBLE AS cum_share
        |FROM r ORDER BY rnk""".stripMargin,

    "q83_group_sample" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |         md5('res|' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id,
        |         CAST(row_number() OVER (PARTITION BY source
        |              ORDER BY h, doc_id) AS BIGINT) AS rn
        |  FROM h)
        |SELECT source, rn, doc_id FROM r
        |WHERE rn <= 5 ORDER BY source, rn""".stripMargin,

    "q81_boilerplate_grams" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS g
        |  FROM (SELECT doc_id, w,
        |               unnest(generate_series(1, len(w) - 2)) AS i
        |        FROM t)),
        |thr AS (
        |  SELECT greatest(5, CAST(ceil(0.01 * count(*)) AS BIGINT)) AS thr
        |  FROM documents),
        |boiler AS (
        |  SELECT g FROM (SELECT g, count(*) AS d FROM g GROUP BY g)
        |  WHERE d >= (SELECT thr FROM thr)),
        |per_doc AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_grams FROM g GROUP BY doc_id),
        |hits AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_boiler
        |  FROM g JOIN boiler USING (g) GROUP BY doc_id)
        |SELECT p.doc_id, n_grams,
        |       coalesce(n_boiler, 0)::BIGINT AS n_boiler,
        |       coalesce(n_boiler, 0)::DOUBLE / n_grams AS boiler_frac,
        |       coalesce(n_boiler, 0)::DOUBLE / n_grams <= 0.30 AS keep
        |FROM per_doc p LEFT JOIN hits h ON p.doc_id = h.doc_id
        |ORDER BY p.doc_id""".stripMargin
  )
}
