package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Stream-built index == batch-built index on the same docs (r7 verdict
  * item 4): after streaming the corpus through StreamIndexCompact in
  * several micro-batches, the compacted postings and doc-length
  * artifacts equal the batch tokenization row-for-row, q153's scorer
  * serves the IDENTICAL top-10 from them, and replaying a batch leaves
  * the target unchanged.
  */
class StreamIndexCompactSpec extends SparkSpec {
  import spark.implicits._

  private type Doc = (Long, String)

  private lazy val docs: Seq[Doc] = spark.read
    .parquet(s"$sfDir/documents.parquet")
    .select("doc_id", "text").as[Doc].collect().toSeq

  test("compacted artifacts equal the batch build; q153 serves identically") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("idx_compact").toString
    val target = s"$dir/index"; val ckpt = s"$dir/ckpt"
    val stream = MemoryStream[Doc]
    val query = StreamIndexCompact.start(
      stream.toDF().toDF("doc_id", "text"), target, ckpt, 8)
    val (a, rest) = docs.splitAt(docs.size / 3)
    val (b, c) = rest.splitAt(rest.size / 3)
    try {
      Seq(a, b, c).foreach { batch =>
        stream.addData(batch); query.processAllAvailable()
      }
    } finally query.stop()

    // batch-side truth: q151/q153's exact tokenization over the corpus
    val batchDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
    val expPostings = batchDocs
      .select(col("doc_id"), explode(col("w")).as("t"))
      .where(col("t") =!= "")
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
      .as[(Long, String, Long)].collect().toSet
    val expLens = batchDocs
      .select(col("doc_id"), size(col("w")).cast("long").as("dl"))
      .as[(Long, Long)].collect().toSet

    val gotPostings = StreamIndexCompact.postings(spark, target)
      .as[(Long, String, Long)].collect().toSet
    val gotLens = StreamIndexCompact.doclens(spark, target)
      .as[(Long, Long)].collect().toSet
    assert(gotPostings == expPostings,
      "stream-compacted postings differ from the batch build")
    assert(gotLens == expLens,
      "stream-compacted doc lengths differ from the batch build")

    // q153 serves identically from the compacted index
    val fromStream = graft.queries.CurationQueries.bm25Over(
        StreamIndexCompact.doclens(spark, target),
        StreamIndexCompact.postings(spark, target))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val fromBatch = graft.SparkEntry.queries("q153_bm25_indexed")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(fromStream == fromBatch,
      "q153 must serve the identical top-10 from the stream-built index")

    // time travel: the index AS OF each historical batch boundary
    // equals a direct build over that prefix of the corpus, and the
    // final as-of serves the same scores as the live index
    def prefixPostings(pfx: Seq[Doc]): Set[(Long, String, Long)] =
      pfx.toDF("doc_id", "text")
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
        .select(col("doc_id"), explode(col("w")).as("t"))
        .where(col("t") =!= "")
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
        .as[(Long, String, Long)].collect().toSet
    assert(StreamIndexCompact.asOfPostings(spark, target, 0L)
      .as[(Long, String, Long)].collect().toSet == prefixPostings(a),
      "as-of batch 0 differs from the prefix build")
    assert(StreamIndexCompact.asOfPostings(spark, target, 1L)
      .as[(Long, String, Long)].collect().toSet == prefixPostings(a ++ b),
      "as-of batch 1 differs from the prefix build")
    val asOfFinal = graft.queries.CurationQueries.bm25Over(
        StreamIndexCompact.asOfDoclens(spark, target, 2L),
        StreamIndexCompact.asOfPostings(spark, target, 2L))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(asOfFinal == fromBatch,
      "final as-of must serve the live index's exact scores")

    // replay idempotence: re-compact an already-merged batch directly
    StreamIndexCompact.compactBatch(target, 8)(
      a.toDF("doc_id", "text"), 999L)
    assert(StreamIndexCompact.postings(spark, target)
      .as[(Long, String, Long)].collect().toSet == expPostings,
      "replaying a compacted batch changed the postings")
    // ...and history stays intact: the rewritten partition re-derives
    // identical rows, so every as-of is unchanged
    assert(StreamIndexCompact.asOfPostings(spark, target, 1L)
      .as[(Long, String, Long)].collect().toSet == prefixPostings(a ++ b),
      "replay corrupted the as-of history")
  }

  test("a batch of blank docs neither fails nor wedges the index stream") {
    val dir = Files.createTempDirectory("idx_blank").toString
    val target = s"$dir/index"
    // no posting rows at all: every log, bloom and merge leg sees an
    // empty postings frame; the doc lengths still count one empty token
    val blank: Seq[Doc] = Seq((1000001L, "   "), (1000002L, ""))
    StreamIndexCompact.compactBatch(target, 4)(blank.toDF("doc_id", "text"), 0L)
    // a checkpoint replay of the same batch
    StreamIndexCompact.compactBatch(target, 4)(blank.toDF("doc_id", "text"), 0L)
    val normal = docs.take(20)
    assert(normal.forall(_._1 < 1000000L))
    StreamIndexCompact.compactBatch(target, 4)(normal.toDF("doc_id", "text"), 1L)

    val words = (blank ++ normal).toDF("doc_id", "text")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
    val expPostings = words
      .select(col("doc_id"), explode(col("w")).as("t"))
      .where(col("t") =!= "")
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
      .as[(Long, String, Long)].collect().toSet
    val expLens = words
      .select(col("doc_id"), size(col("w")).cast("long").as("dl"))
      .as[(Long, Long)].collect().toSet
    assert(StreamIndexCompact.postings(spark, target)
      .as[(Long, String, Long)].collect().toSet == expPostings,
      "postings after a blank batch differ from the batch build")
    assert(StreamIndexCompact.doclens(spark, target)
      .as[(Long, Long)].collect().toSet == expLens,
      "doc lengths after a blank batch differ from the batch build")
    assert(StreamIndexCompact.asOfPostings(spark, target, 1L)
      .as[(Long, String, Long)].collect().toSet == expPostings)
    assert(StreamIndexCompact.asOfDoclens(spark, target, 0L)
      .as[(Long, Long)].collect().toSet == Set((1000001L, 1L), (1000002L, 1L)))
  }
}
