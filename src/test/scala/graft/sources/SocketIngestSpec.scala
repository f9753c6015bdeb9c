package graft.sources

import java.io.{OutputStreamWriter, PrintWriter}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.LinkedBlockingQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, spark_partition_id}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}

import graft.SparkSpec
import graft.sources.v2.LineSocket

/** Real-TCP end-to-end test of S1 (`Ingest.socketLines`) — the
  * reference's actual ingest edge (`ssc.socketTextStream('localhost',
  * 6100)`, SGDC/sgdc.py:166), previously only covered via MemoryStream
  * (VERDICT r1 item 5).
  *
  * An in-process ServerSocket on an ephemeral port plays the reference's
  * `stream.py` feeder: accept the source's connection, write JSON
  * envelope lines, hold the connection open until the query stops (the
  * socket source treats EOF as stream end / error). Polling with a
  * generous deadline keeps the spec stable on a loaded machine.
  */
class SocketIngestSpec extends SparkSpec {
  import spark.implicits._

  test("socket source end-to-end: envelope lines over real TCP reach the sink split") {
    val server = new ServerSocket(0)
    server.setSoTimeout(60000)
    val done = new AtomicBoolean(false)
    val payloads = Seq(
      """["4,nice day today","0,bad, very bad day"]""",
      """["4,sun is out"]""")
    val feeder = new Thread(() => {
      try {
        val sock = server.accept()
        val out = new PrintWriter(sock.getOutputStream, true)
        payloads.foreach(out.println)
        out.flush()
        while (!done.get()) Thread.sleep(50)
        sock.close()
      } catch { case _: Throwable => () }
    })
    feeder.setDaemon(true)
    feeder.start()

    val recs = Ingest.decodeEnvelope(
      Ingest.socketLines(spark, "localhost", server.getLocalPort))
    val q = recs.writeStream.format("memory").queryName("socket_e2e")
      .outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      var n = 0L
      while (n < 3 && System.currentTimeMillis() < deadline) {
        Thread.sleep(250)
        n = spark.table("socket_e2e").count()
      }
      assert(n == 3, s"expected 3 records from the socket, saw $n")
      val rows = spark.table("socket_e2e").as[(String, String)].collect().toSet
      assert(rows == Set(
        ("4", "nice day today"),
        ("0", "bad, very bad day"), // comma inside the tweet survives S3's limit-2 split
        ("4", "sun is out")))
    } finally {
      q.stop()
      done.set(true)
      server.close()
    }
  }

  /** A one-connection line server on an ephemeral port: it accepts the
    * source's connection and writes each group of lines handed to
    * `send`, holding the connection open until `close`. */
  private final class LineServer extends AutoCloseable {
    private val server = new ServerSocket(0)
    private val queue = new LinkedBlockingQueue[Seq[String]]()
    @volatile private var conn: Socket = _
    val port: Int = server.getLocalPort
    private val writer = new Thread(() => {
      try {
        conn = server.accept()
        val out = new PrintWriter(new OutputStreamWriter(conn.getOutputStream,
          StandardCharsets.UTF_8))
        while (true) {
          queue.take().foreach(out.println)
          out.flush()
        }
      } catch { case _: Throwable => () }
    })
    writer.setDaemon(true)
    writer.start()
    def send(lines: Seq[String]): Unit = queue.put(lines)
    def close(): Unit = {
      writer.interrupt()
      Option(conn).foreach(_.close())
      server.close()
    }
  }

  /** Every micro-batch's rows as (value, partition id), by batch id, in
    * the order `collect` returns them (partition by partition). */
  private final class Batches {
    private val seen = mutable.LinkedHashMap.empty[Long, Seq[(String, Int)]]
    def record(batch: DataFrame, id: Long): Seq[(String, Int)] = {
      val rows = batch.select(col("value"), spark_partition_id())
        .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
      synchronized(if (rows.nonEmpty) seen(id) = rows)
      rows
    }
    def all: Seq[(Long, Seq[(String, Int)])] = synchronized(seen.toSeq)
    def lines: Seq[String] = all.flatMap(_._2.map(_._1))
  }

  private def waitFor(what: String)(done: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + 60000
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(done, s"timed out waiting for $what")
  }

  private def collecting(port: Int, batches: Batches, checkpoint: String)
                        (onBatch: (Long, Seq[(String, Int)]) => Unit = (_, _) => ())
      : StreamingQuery =
    Ingest.socketLines(spark, "localhost", port).writeStream
      .trigger(Trigger.ProcessingTime(500))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) => onBatch(id, batches.record(b, id)) }
      .start()

  test("record i of a batch sits in partition i mod defaultParallelism; offsets are line indices") {
    val par = spark.sparkContext.defaultParallelism
    val n = 101
    val server = new LineServer
    val batches = new Batches
    val q = collecting(server.port, batches,
      Files.createTempDirectory("graft-socket-layout").toString)()
    try {
      // one warm-up line, so the measured lines do not form the first
      // batch (whose start offset Spark reports as null)
      server.send(Seq("warm-up"))
      waitFor("the warm-up line")(batches.lines.nonEmpty)
      val sent = (0 until n).map(i => s"line-$i")
      server.send(sent)
      waitFor(s"$n lines")(batches.lines.size == n + 1)
      val data = batches.all.filter(_._2.exists(_._1 != "warm-up"))
      assert(data.flatMap(_._2.map(_._1)).sortBy(_.stripPrefix("line-").toInt) == sent)
      data.foreach { case (id, rows) =>
        // the batch's lines in arrival order, then each partition's rows
        // in collect order: record i must be the (i / par)-th row of
        // partition i mod par
        val inOrder = rows.map(_._1).sortBy(_.stripPrefix("line-").toInt)
        (0 until par).foreach { p =>
          assert(rows.filter(_._2 == p).map(_._1) ==
            inOrder.indices.filter(_ % par == p).map(inOrder), s"batch $id partition $p")
        }
      }
      def progress = q.recentProgress.filter(p => data.exists(_._1 == p.batchId))
      waitFor("the batches' progress")(progress.length == data.size)
      val offsets = progress
        .map(p => (p.sources.head.startOffset, p.sources.head.endOffset))
      offsets.foreach { case (a, b) =>
        assert(a.matches("-?[0-9]+") && b.matches("-?[0-9]+"), s"offsets $a, $b")
      }
      assert(offsets.map { case (a, b) => b.toLong - a.toLong }.sum == n)
      assert(offsets.head._1.toLong == 0L, "the warm-up line is line 0")
    } finally {
      q.stop()
      server.close()
    }
  }

  test("a restarted query replays its failed batch with the same lines, each line once") {
    val checkpoint = Files.createTempDirectory("graft-socket-replay").toString
    val first = (0 until 40).map(i => s"a-$i")
    val second = (0 until 30).map(i => s"b-$i")

    val server1 = new LineServer
    server1.send(first)
    val run1 = new Batches
    val failed = collecting(server1.port, run1, checkpoint) { (_, rows) =>
      if (rows.nonEmpty) throw new IllegalStateException("injected failure after the offsets are logged")
    }
    try intercept[StreamingQueryException](failed.awaitTermination(60000))
    finally server1.close()
    val (failedId, failedRows) = run1.all.head

    val server2 = new LineServer
    server2.send(second)
    val run2 = new Batches
    val q = collecting(server2.port, run2, checkpoint)()
    try {
      waitFor("every line of both servers")(run2.lines.size >= first.size + second.size)
      val (replayId, replayRows) = run2.all.head
      assert(replayId == failedId)
      assert(replayRows == failedRows, "the replayed batch must hold the failed batch's lines")
      assert(run2.lines.sorted == (first ++ second).sorted)
    } finally {
      q.stop()
      server2.close()
    }
  }

  test("stop ends the source's receiver thread") {
    val server = new LineServer
    val batches = new Batches
    val q = collecting(server.port, batches,
      Files.createTempDirectory("graft-socket-stop").toString)()
    val name = LineSocket.receiverName("localhost", server.port)
    def receivers = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName == name && t.isAlive)
    try {
      server.send(Seq("one line"))
      waitFor("the line")(batches.lines.nonEmpty)
      assert(receivers.nonEmpty, s"no live thread named $name")
    } finally {
      q.stop()
      server.close()
    }
    assert(receivers.isEmpty, s"$name still alive after stop")
  }
}
