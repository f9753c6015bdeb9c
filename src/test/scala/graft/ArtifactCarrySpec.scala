package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.Dedup
import graft.queries.DedupQueries

/** Partition-level carry for delta generations (r12 verdict item 1,
  * the top_next): a corpus APPEND must cost O(delta), not O(corpus) —
  *
  *  - the fingerprint and carry certificate derive from the prior
  *    generation's file manifest plus a scan of ONLY the appended
  *    files (pinned via [[ArtifactStore.fpScanned]] /
  *    `CarryStat.scannedFiles`);
  *  - untouched doc-id buckets are HARD-LINKED from the prior
  *    generation, so bytes WRITTEN scale with the touched buckets,
  *    not the corpus (pinned via `CarryStat.bytesWritten` vs
  *    `bytesLinked`);
  *  - and the delta-built generation still equals a from-scratch
  *    build row for row, across append, in-place file rewrite, and
  *    removal.
  */
class ArtifactCarrySpec extends SparkSpec {
  import spark.implicits._

  private val ShKey = "shingle_hashes3_v1"

  private def expectedShingles(docs: DataFrame) =
    Dedup.shingles(docs, 3)
      .select(col("doc_id"), Dedup.minhashTokenX(col("s")).as("x"),
        xxhash64(col("s")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def shRows(df: DataFrame) = df
    .select(col("doc_id"), col("x"), col("h"))
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def directFp(dir: String): Long = {
    val digest = queries.OpsQueries.checksumHash("documents",
      Seq("doc_id", "text", "lang", "source", "n_chars"))
    spark.read.parquet(s"$dir/documents.parquet")
      .select(digest.cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("h"))
      .agg((sum(col("h")) % lit(ArtifactStore.Mod)).cast("long"))
      .head().getLong(0)
  }

  test("append scans only the appended file, links untouched buckets, " +
    "and the delta generation equals a from-scratch build") {
    val dir = Files.createTempDirectory("carry").toString
    val salt = s"csalt ${java.util.UUID.randomUUID.toString.take(8)} "
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), concat(lit(salt), col("text")).as("text"),
        col("lang"), col("source"), length(col("text")).cast("long").as("n_chars"))

    // corpus A: 300 docs in THREE part files (file-level carry needs
    // a multi-file corpus)
    val docsA = base.where(col("doc_id") < 300)
    docsA.repartition(3).write.parquet(s"$dir/documents.parquet")
    assert(shRows(DedupQueries.shingleHashes3(spark, dir)) ==
      expectedShingles(docsA), "generation A must match a direct build")
    // first touch: a full build, or — when the persistent store holds
    // an unrelated corpus's generation of this key — a zero-carry
    // delta build (same rows either way; the carry base is simply the
    // newest other generation, which for a brand-new corpus vouches
    // for nothing)
    assert(Seq((-1L, -1L), (0L, 300L))
      .contains(ArtifactStore.deltaStats.get(ShKey)),
      s"first touch must carry nothing: ${ArtifactStore.deltaStats.get(ShKey)}")
    val fpA = ArtifactStore.documentsFp(spark, dir)

    // corpus B: SAME DIR, one appended part file, 5 docs whose ids are
    // all ≡ 0 (mod 64) — hence one bucket under any power-of-two
    // modulus ≤ 64, so exactly one data bucket is touched (the corpus
    // is far below BucketTargetBytes → 8 buckets)
    val newIds = (0 until 5).map(i => 1024L + 64L * i)
    val appended = base.where(col("doc_id") < 5)
      .select(col("doc_id"), concat(lit("appended "), col("text")).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .collect().zip(newIds).map { case (r, id) =>
        (id, r.getString(1), r.getString(2), r.getString(3), r.getLong(4))
      }.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
    val filesBefore = Files.list(Paths.get(s"$dir/documents.parquet"))
      .toArray.map(_.toString).toSet
    appended.coalesce(1).write.mode("append")
      .parquet(s"$dir/documents.parquet")
    val newFiles = Files.list(Paths.get(s"$dir/documents.parquet"))
      .toArray.map(_.toString)
      .filter(p => !filesBefore(p) && p.endsWith(".parquet")).toSeq
    assert(newFiles.size == 1, s"append must add one part file: $newFiles")
    val docsB = docsA.unionByName(appended)

    // the fingerprint re-derives from the prior manifest + the new
    // file only — and equals the full-scan value exactly
    val fpB = ArtifactStore.documentsFp(spark, dir)
    assert(fpB == directFp(dir),
      "the file-incremental fingerprint must equal the full-scan value")
    assert(ArtifactStore.fpScanned.get((dir, "documents")) == newFiles,
      s"fp must scan only the appended file: " +
        s"${ArtifactStore.fpScanned.get((dir, "documents"))}")

    // the delta generation: row-identical, derived from the new file
    // only, with 63 of 64 buckets hard-linked
    assert(shRows(DedupQueries.shingleHashes3(spark, dir)) ==
      expectedShingles(docsB),
      "the appended corpus's bucket-carried build must equal from-scratch")
    assert(ArtifactStore.deltaStats.get(ShKey) == ((300L, 5L)),
      s"append must carry 300 docs and re-shingle only the 5 new: " +
        s"${ArtifactStore.deltaStats.get(ShKey)}")
    val cs = ArtifactStore.carryStats.get(ShKey)
    assert(cs != null, "the bucket-carry path must record its stats")
    assert(cs.scannedFiles == newFiles,
      s"the carry certificate must scan only the appended file: $cs")
    assert(cs.rewrittenBuckets == 1,
      s"all five appended ids land in bucket 0 — one rewrite: $cs")
    assert(cs.linkedBuckets == 7,
      s"the other 7 buckets must be hard-links, not rewrites: $cs")
    assert(cs.bytesWritten < cs.bytesLinked / 4,
      s"bytes written must scale with the touched bucket, not the " +
        s"corpus: $cs")
    // hard links, not copies: a linked bucket's file shares its inode
    // with the prior generation's (link count 2); bucket 0 is the
    // rewritten one, bucket 1 a linked one
    val genDir = Paths.get(ArtifactStore.root, ShKey)
    val linkedPart = Files.walk(genDir).toArray.map(_.toString)
      .filter(p => p.contains("bck=1/") && p.endsWith(".parquet"))
    assert(linkedPart.exists { p =>
      Files.getAttribute(Paths.get(p), "unix:nlink")
        .asInstanceOf[Number].intValue >= 2
    }, s"bucket-1 parts must be shared inodes across generations")

    // corpus C: rewrite ONE base part file in place with one doc
    // removed and one doc's source changed — only that file re-scans,
    // removal and change propagate, everything else carries
    val victimFile = filesBefore.find(_.endsWith(".parquet")).get
    val fileDocs = spark.read.parquet(victimFile)
    val ids = fileDocs.select("doc_id").as[Long].collect().sorted
    val (removedId, changedId) = (ids.head, ids.last)
    val rewritten = fileDocs.where(col("doc_id") =!= removedId)
      .withColumn("source",
        when(col("doc_id") === changedId, lit("relabeled"))
          .otherwise(col("source")))
    val tmpOut = s"${Files.createTempDirectory("carry_rw")}/out"
    rewritten.coalesce(1).write.parquet(tmpOut)
    val part = Files.list(Paths.get(tmpOut)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    // parquet writers never overwrite a part file in place — a
    // compaction/re-crawl DELETES the old file and ADDS a new one
    // (and Hadoop's local FS would flag the stale .crc sibling
    // otherwise)
    Files.delete(Paths.get(victimFile))
    val victimCrc = Paths.get(victimFile).getParent
      .resolve(s".${Paths.get(victimFile).getFileName}.crc")
    Files.deleteIfExists(victimCrc)
    val replacement = Paths.get(s"$dir/documents.parquet")
      .resolve(Paths.get(part).getFileName.toString)
    Files.move(Paths.get(part), replacement)
    val docsC = docsB.where(col("doc_id") =!= removedId)
      .withColumn("source",
        when(col("doc_id") === changedId, lit("relabeled"))
          .otherwise(col("source")))

    assert(ArtifactStore.documentsFp(spark, dir) == directFp(dir),
      "the incremental fp must track an in-place file rewrite")
    assert(ArtifactStore.fpScanned.get((dir, "documents")) ==
      Seq(replacement.toString), "only the rewritten file re-scans")
    assert(shRows(DedupQueries.shingleHashes3(spark, dir)) ==
      expectedShingles(docsC),
      "removal + in-place change must equal a from-scratch build")
    val cs2 = ArtifactStore.carryStats.get(ShKey)
    assert(cs2.scannedFiles == Seq(replacement.toString),
      s"the carry must scan only the rewritten file: $cs2")
    assert(ArtifactStore.deltaStats.get(ShKey)._2 == 1L,
      s"only the source-changed doc rebuilds (a rewritten file's " +
        s"unchanged docs are carries): ${ArtifactStore.deltaStats.get(ShKey)}")
    assert(DedupQueries.shingleHashes3(spark, dir)
      .where(col("doc_id") === removedId).count() == 0L,
      "the removed doc must have no rows in the new generation")

    // hard links survive the janitor: generation C's untouched buckets
    // share inodes with A and B — deleting those generations unlinks
    // THEIR directory entries, never the shared data
    Seq(fpA, fpB).foreach(ArtifactStore.invalidate(ShKey, _))
    ArtifactStore.resetMemoForTest()
    assert(shRows(DedupQueries.shingleHashes3(spark, dir)) ==
      expectedShingles(docsC),
      "the surviving generation must read whole after its link sources " +
        "were garbage-collected")
  }

  test("postings/doclens (migrated families) delta-build equal the " +
    "direct tokenization across an append") {
    val dir = Files.createTempDirectory("carry_idx").toString
    val salt = s"isalt ${java.util.UUID.randomUUID.toString.take(8)} "
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), concat(lit(salt), col("text")).as("text"),
        col("lang"), col("source"), length(col("text")).cast("long").as("n_chars"))
    val docsA = base.where(col("doc_id") < 200)
    docsA.repartition(2).write.parquet(s"$dir/documents.parquet")

    def directPostings(docs: DataFrame) = docs
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("t"))
      .where(col("t") =!= "")
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    def served(d: String) = graft.queries.CurationQueries
      .postingsArtifact(spark, d)
      .select(col("doc_id"), col("t"), col("tf"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(served(dir) == directPostings(docsA))
    // materialize version A's doclens generation too, so the append
    // below has a delta base for both families
    graft.queries.CurationQueries.doclenArtifact(spark, dir).count()

    val appended = base.where(col("doc_id") >= 200 && col("doc_id") < 230)
    appended.coalesce(1).write.mode("append").parquet(s"$dir/documents.parquet")
    val docsB = docsA.unionByName(appended)
    assert(served(dir) == directPostings(docsB),
      "the delta-built postings must equal the direct tokenization")
    assert(ArtifactStore.deltaStats.get("postings_v1") == ((200L, 30L)),
      s"append must tokenize only the 30 new docs: " +
        s"${ArtifactStore.deltaStats.get("postings_v1")}")
    val dl = graft.queries.CurationQueries.doclenArtifact(spark, dir)
      .select(col("doc_id"), col("dl"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val directDl = docsB
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("dl"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dl == directDl, "the delta-built doc lengths must equal direct")
    assert(ArtifactStore.deltaStats.get("doclens_v1") == ((200L, 30L)))
  }

  test("bucketsFor: corpus-scaled, power-of-two quantized, clamped") {
    assert(ArtifactStore.bucketsFor(0L) == 8)
    assert(ArtifactStore.bucketsFor(1L << 20) == 8, "tiny corpus: floor")
    assert(ArtifactStore.bucketsFor(64L << 20) == 8, "8 x 8MB: at floor")
    assert(ArtifactStore.bucketsFor(65L << 20) == 16, "crossing doubles")
    assert(ArtifactStore.bucketsFor(1L << 40) == 65536,
      "1 TB: 2^17 raw, capped at 65536")
    assert(ArtifactStore.bucketsFor(100L * (1L << 40)) == 65536,
      "100 TB: capped at 65536 (~1.6 GB per bucket)")
    // power-of-two stickiness: growth inside a doubling window keeps
    // the modulus — the property that makes re-bucketing amortized O(1)
    val a = ArtifactStore.bucketsFor(300L << 20)
    val b = ArtifactStore.bucketsFor(480L << 20)
    assert(a == b && a == 64, s"same doubling window, same modulus: $a $b")
  }

  test("a doc duplicated across a deleted file and an unchanged file " +
    "survives the delta build (r13 ADVICE, low)") {
    val dir = Files.createTempDirectory("carry_dup").toString
    val salt = s"dsalt ${java.util.UUID.randomUUID.toString.take(8)} "
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), concat(lit(salt), col("text")).as("text"),
        col("lang"), col("source"), length(col("text")).cast("long").as("n_chars"))
    val docsA = base.where(col("doc_id") < 100)
    docsA.repartition(2).write.parquet(s"$dir/documents.parquet")
    // one extra part file holding a byte-identical COPY of doc 7
    val before = Files.list(Paths.get(s"$dir/documents.parquet"))
      .toArray.map(_.toString).toSet
    docsA.where(col("doc_id") === 7).coalesce(1)
      .write.mode("append").parquet(s"$dir/documents.parquet")
    val dupFile = Files.list(Paths.get(s"$dir/documents.parquet"))
      .toArray.map(_.toString)
      .filter(p => !before(p) && p.endsWith(".parquet")).head
    assert(shRows(DedupQueries.shingleHashes3(spark, dir)) ==
      expectedShingles(docsA), "generation A (set semantics: the dup " +
        "contributes no new (doc_id, x, h) triples)")

    // delete ONLY the duplicate's file: doc 7 is still in the corpus
    // via the unchanged base file — the delta build must NOT anti-join
    // its rows out of the rebuilt generation
    Files.delete(Paths.get(dupFile))
    Files.deleteIfExists(Paths.get(dupFile).getParent
      .resolve(s".${Paths.get(dupFile).getFileName}.crc"))
    assert(shRows(DedupQueries.shingleHashes3(spark, dir)) ==
      expectedShingles(docsA),
      "removing one copy of a cross-file duplicate must not remove the doc")
    assert(DedupQueries.shingleHashes3(spark, dir)
      .where(col("doc_id") === 7).count() > 0L,
      "doc 7's rows must survive — it is still in the corpus")
    assert(ArtifactStore.deltaStats.get(ShKey)._2 == 0L,
      s"nothing changed content: ${ArtifactStore.deltaStats.get(ShKey)}")
    // ...and the certificate no longer holds the deleted file's row for
    // doc 7, though no data partition was rewritten: it equals a
    // from-scratch certificate of the corpus
    def certRows(df: DataFrame) = df
      .select(col("doc_id"), col("digest").cast("string"), col("src"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val sidecar = Paths.get(ArtifactStore.root, ShKey,
      s"fp-${ArtifactStore.documentsFp(spark, dir)}", "docs").toString
    val fromScratch = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), ArtifactStore.documentsRowDigest.as("digest"),
        graft.sources.CorpusFiles.srcCol.as("src"))
    assert(certRows(spark.read.parquet(sidecar)) == certRows(fromScratch),
      "the docs certificate must equal a from-scratch certificate")
  }

  test("a prior generation written under a different bucket modulus " +
    "demotes to the row-level carry (no silent duplication)") {
    val dir = Files.createTempDirectory("carry_mod").toString
    val salt = s"msalt ${java.util.UUID.randomUUID.toString.take(8)} "
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), concat(lit(salt), col("text")).as("text"),
        col("lang"), col("source"), length(col("text")).cast("long").as("n_chars"))
    val docsA = base.where(col("doc_id") < 150)
    docsA.repartition(2).write.parquet(s"$dir/documents.parquet")
    assert(shRows(DedupQueries.shingleHashes3(spark, dir)) ==
      expectedShingles(docsA))
    val fpA = ArtifactStore.documentsFp(spark, dir)

    // simulate a generation written under a DIFFERENT bucket modulus:
    // mixing its bck values with freshly computed ones would park a
    // changed doc's old rows in a linked bucket while writing fresh
    // rows into the new one — the guard must refuse the bucket carry
    Files.writeString(Paths.get(ArtifactStore.root, ShKey,
      s"fp-$fpA", "buckets"), "32\n")

    val appended = base.where(col("doc_id") >= 150 && col("doc_id") < 170)
    appended.coalesce(1).write.mode("append").parquet(s"$dir/documents.parquet")
    val docsB = docsA.unionByName(appended)
    assert(shRows(DedupQueries.shingleHashes3(spark, dir)) ==
      expectedShingles(docsB),
      "a modulus-mismatched prior must still yield exact rows " +
        "(row-level carry)")
    assert(ArtifactStore.deltaStats.get(ShKey) == ((150L, 20L)),
      s"the row-level fallback still carries by (doc_id, digest): " +
        s"${ArtifactStore.deltaStats.get(ShKey)}")
    assert(ArtifactStore.carryStats.get(ShKey) == null,
      "the bucket-carry stats must be absent — the guard demoted the " +
        "build to the row-level path")
  }
}
