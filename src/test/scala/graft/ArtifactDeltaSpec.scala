package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.Dedup
import graft.queries.DedupQueries

/** Incremental artifact generations on corpus append (r11 verdict
  * item 3): for the corpus-linear, doc-local families, generation N+1
  * is derived from generation N plus the document delta — and the
  * delta-built artifact equals a from-scratch build ROW FOR ROW across
  * append, removal, and an in-place row change (the certificate covers
  * every fingerprinted column, not just text).
  */
class ArtifactDeltaSpec extends SparkSpec {
  import spark.implicits._

  private val ShKey = "shingle_hashes3_v1"
  private val SigKey = "minhash_sig3_v1"
  private val Sh8Key = "shingle_hashes8_v1"

  private def writeCorpus(path: String, docs: DataFrame): String = {
    docs.coalesce(1).write.parquet(s"$path/documents.parquet")
    path
  }

  private def expectedShingles(docs: DataFrame) =
    Dedup.shingles(docs, 3)
      .select(col("doc_id"), Dedup.minhashTokenX(col("s")).as("x"),
        xxhash64(col("s")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def expectedSigs(docs: DataFrame) =
    Dedup.minhashSigFromX(
      Dedup.shingles(docs, 3)
        .select(col("doc_id"), Dedup.minhashTokenX(col("s")).as("x")))
      .collect().map(_.toSeq).toSet

  private def expectedShingles8(docs: DataFrame) =
    Dedup.shingles(docs, 8).select(col("doc_id"), xxhash64(col("s")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def sh8Rows(df: DataFrame) = df.select(col("doc_id"), col("h"))
    .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def shRows(df: DataFrame) = df
    .select(col("doc_id"), col("x"), col("h"))
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("delta-built == full-built row-for-row across append, removal, " +
    "and a non-text row change; only the delta docs are re-derived") {
    val tmp = Files.createTempDirectory("artifact_delta").toString
    // every corpus version is salted per run: the artifact store is
    // PERSISTENT and fp-keyed, so an unsalted re-run would find last
    // run's generations already published, skip the builds, and leave
    // deltaStats unset — and this run's A→B→C manifest mtimes must
    // order NEWEST so each build's delta base is the previous version
    val salt = s"salt ${java.util.UUID.randomUUID.toString.take(8)} "
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), concat(lit(salt), col("text")).as("text"),
        col("lang"), col("source"), length(col("text")).cast("long").as("n_chars"))

    // corpus A: docs 0..299
    val docsA = base.where(col("doc_id") < 300)
    val dirA = writeCorpus(s"$tmp/a", docsA)
    assert(shRows(DedupQueries.shingleHashes3(spark, dirA)) ==
      expectedShingles(docsA), "generation A must match a direct build")
    // publish A's sig generation too, so B's sig build has a fresh base
    assert(DedupQueries.minhashSig3(spark, dirA).collect().map(_.toSeq).toSet ==
      expectedSigs(docsA))
    // and A's 8-gram generation: a doc shorter than 8 words derives no
    // rows, so the carry must place rebuilt docs by id, not by output
    assert(sh8Rows(DedupQueries.shingleHashes8(spark, dirA)) ==
      expectedShingles8(docsA))

    // corpus B: A + 100 APPENDED docs (texts not in any prior corpus)
    val appended = base.where(col("doc_id") >= 300 && col("doc_id") < 400)
      .select(col("doc_id"), concat(lit("appended marker "), col("text")).as("text"),
        col("lang"), col("source"), length(col("text")).cast("long").as("n_chars"))
    val docsB = docsA.unionByName(appended)
    val dirB = writeCorpus(s"$tmp/b", docsB)
    assert(shRows(DedupQueries.shingleHashes3(spark, dirB)) ==
      expectedShingles(docsB),
      "the appended corpus's delta build must equal a from-scratch build")
    assert(ArtifactStore.deltaStats.get(ShKey) == ((300L, 100L)),
      s"append must carry 300 docs and re-shingle only the 100 new: " +
        s"${ArtifactStore.deltaStats.get(ShKey)}")
    assert(DedupQueries.minhashSig3(spark, dirB).collect().map(_.toSeq).toSet ==
      expectedSigs(docsB),
      "the delta-built signatures must equal a from-scratch build")
    assert(ArtifactStore.deltaStats.get(SigKey) == ((300L, 100L)),
      s"append must sign only the 100 new docs: " +
        s"${ArtifactStore.deltaStats.get(SigKey)}")
    assert(sh8Rows(DedupQueries.shingleHashes8(spark, dirB)) ==
      expectedShingles8(docsB),
      "the delta-built 8-gram hashes must equal a from-scratch build")
    assert(ArtifactStore.deltaStats.get(Sh8Key) == ((300L, 100L)),
      s"append must 8-gram only the 100 new docs: " +
        s"${ArtifactStore.deltaStats.get(Sh8Key)}")

    // corpus C: B with doc 5 REMOVED and doc 7's source changed in
    // place (text identical — the certificate must still catch it: it
    // digests every fingerprinted column, so a source-only change
    // rebuilds the doc instead of blindly carrying it)
    val docsC = docsB.where(col("doc_id") =!= 5)
      .withColumn("source",
        when(col("doc_id") === 7, lit("relabeled")).otherwise(col("source")))
    val dirC = writeCorpus(s"$tmp/c", docsC)
    assert(shRows(DedupQueries.shingleHashes3(spark, dirC)) ==
      expectedShingles(docsC),
      "removal + in-place change must equal a from-scratch build")
    assert(ArtifactStore.deltaStats.get(ShKey) == ((398L, 1L)),
      s"the removed doc must drop out of the carry and the changed doc " +
        s"must be the only rebuild: ${ArtifactStore.deltaStats.get(ShKey)}")
    assert(DedupQueries.shingleHashes3(spark, dirC)
      .where(col("doc_id") === 5).count() == 0L,
      "the removed doc must have no rows in the new generation")
    assert(sh8Rows(DedupQueries.shingleHashes8(spark, dirC)) ==
      expectedShingles8(docsC),
      "removal + in-place change must equal a from-scratch 8-gram build")
    assert(ArtifactStore.deltaStats.get(Sh8Key) == ((398L, 1L)),
      s"the 8-gram carry must drop the removed doc and rebuild only the " +
        s"changed one: ${ArtifactStore.deltaStats.get(Sh8Key)}")
  }

  test("verdict flags: delta-built row flags + recomputed canonical " +
    "equal the direct build, duplicate appends flipping nothing wrongly") {
    val tmp = Files.createTempDirectory("verdict_delta").toString
    val salt = s"vsalt ${java.util.UUID.randomUUID.toString.take(8)} "
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), concat(lit(salt), col("text")).as("text"),
        col("lang"), col("source"), length(col("text")).cast("long").as("n_chars"))
    val docsA = base.where(col("doc_id") < 200)
    val dirA = writeCorpus(s"$tmp/a", docsA)

    def q75(dir: String) = graft.SparkEntry
      .queries("q75_curation_verdict")(spark, dir)
      .collect().map(_.toSeq).toSet
    def direct(docs: org.apache.spark.sql.DataFrame) =
      graft.queries.TextStatsQueries.verdictOver(
        graft.queries.TextStatsQueries.verdictFlagsOver(
          docs.select(col("doc_id"), col("lang"), col("source"), col("text"))))
        .collect().map(_.toSeq).toSet
    assert(q75(dirA) == direct(docsA),
      "generation A's flags must equal the direct build")

    // corpus B: A + 29 new docs + one APPENDED DUPLICATE of doc 10's
    // text at id 900 — its row flags are fresh-built, but the canonical
    // decision must come from the window over ALL stored rows: doc 10
    // keeps the slot, the late dup never takes it
    val dup = docsA.where(col("doc_id") === 10)
      .select(lit(900L).as("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
    val fresh = base.where(col("doc_id") >= 200 && col("doc_id") < 229)
    val docsB = docsA.unionByName(fresh).unionByName(dup)
    val dirB = writeCorpus(s"$tmp/b", docsB)
    assert(q75(dirB) == direct(docsB),
      "the delta-built flags must equal the direct build over B")
    assert(ArtifactStore.deltaStats.get("text_stats_v1") ==
      ((200L, 30L)),
      s"append must re-score only the 30 new rows: " +
        s"${ArtifactStore.deltaStats.get("text_stats_v1")}")
    val canon = graft.SparkEntry.queries("q75_curation_verdict")(spark, dirB)
      .select(col("doc_id"), col("is_canonical"))
      .as[(Long, Boolean)].collect().toMap
    assert(canon(10L), "the carried doc must keep its canonical slot")
    assert(!canon(900L), "the appended duplicate must not be canonical")
  }
}
