package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

/** Runnable ANN query server over the reference's own transport: query
  * vectors arrive one JSON object per socket line
  * (`{"query_id": 7, "qv": [0.01, ...]}` — the reference's
  * line-per-payload convention, SURVEY §2.1), and every micro-batch is
  * answered by [[StreamAnnServe]] — q55's exact pipeline over the
  * in-engine-trained ServeBooks codebook — with answers appended as
  * parquet. The full closed loop, live: train → publish → serve,
  * against a socket. The tombstone artifact is re-read every
  * micro-batch (StreamAnnServe.start), so a takedown flagged while
  * the server runs stops being served at the next batch.
  *
  * Usage: AnnServeMain <sfDir> <outDir> [host] [port]
  * Feed it with e.g.
  * `printf '{"query_id":1,"qv":[...]}\n' | nc -l 6200`.
  */
object AnnServeMain {

  val QuerySchema: StructType = StructType(Seq(
    StructField("query_id", LongType),
    StructField("qv", ArrayType(DoubleType))))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/graft_ann_serve")
    val host = args.lift(2).getOrElse("localhost")
    val port = args.lift(3).map(_.toInt).getOrElse(6200)
    val spark = graft.Session.local()
    val queries = graft.sources.Ingest.socketLines(spark, host, port)
      .select(from_json(col("value"), QuerySchema).as("q"))
      .where(col("q").isNotNull && col("q.query_id").isNotNull)
      .select(col("q.query_id").as("query_id"), col("q.qv").as("qv"))
    val q = StreamAnnServe.start(queries, sfDir,
      s"$outDir/answers", s"$outDir/ckpt")
    q.awaitTermination()
  }
}
