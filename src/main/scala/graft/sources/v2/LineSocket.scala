package graft.sources.v2

import java.io.{BufferedOutputStream, BufferedReader, File, IOException, InputStreamReader, OutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A replayable TCP line source: one `value` string row per line read
  * from `host:port`, in micro-batches.
  *
  * A receiver thread appends each line to an indexed in-memory buffer
  * and to a segment file under the query's source checkpoint dir.
  * `latestOffset` closes the open segment before it reports a line, so
  * no offset names a line that is not in a segment file. `commit(end)`
  * drops the buffered lines up to `end` and deletes the segments wholly
  * before it. A restarted query loads the segments left on disk, so it
  * replays its last logged batch with the same lines; lines received
  * after that batch's offsets follow in the next batch. A line sent but
  * not yet read when the query stops is lost, as with any socket.
  *
  * The contract is Spark's socket source's, so a query can switch to it
  * on a fresh checkpoint: an offset's JSON is a bare long, the index of
  * the last line taken (`-1` before the first), and record i of a batch
  * sits in partition `i mod defaultParallelism`, in order. Each
  * partition is an array read by index, so a scan is linear in the
  * batch. On EOF the receiver stops receiving.
  *
  * Usage: `spark.readStream.format("graft.sources.v2.LineSocketProvider")
  *   .option("host", …).option("port", …).load()`
  */
class LineSocketProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LineSocket.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    def opt(k: String) = Option(properties.get(k))
      .getOrElse(throw new IllegalArgumentException(s"line socket source needs option '$k'"))
    new LineSocketTable(opt("host"), opt("port").toInt)
  }
}

object LineSocket {
  val Schema: StructType = StructType(Seq(StructField("value", StringType)))

  /** The receiver thread's name; no two live queries read one port. */
  def receiverName(host: String, port: Int): String = s"graft-line-socket($host:$port)"

  private[v2] val SegmentSuffix = ".lines"
}

class LineSocketTable(host: String, port: Int) extends Table with SupportsRead {
  override def name(): String = s"graft_line_socket($host:$port)"
  override def schema(): StructType = LineSocket.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = LineSocket.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
        val uri = new org.apache.hadoop.fs.Path(checkpointLocation).toUri
        require(uri.getScheme == null || uri.getScheme == "file",
          s"line socket segments need a local checkpoint dir, got $checkpointLocation")
        new LineSocketStream(host, port, new File(uri.getPath).toPath)
      }
    }
}

/** The offset: the index of the last line taken, `-1` before the first. */
case class LineOffset(last: Long) extends Offset {
  override def json(): String = last.toString
}

/** One partition's lines, in batch order. */
case class LinePartition(lines: Array[UTF8String]) extends InputPartition

/** One segment file: lines `first` until `first + n`. */
private case class Segment(first: Long, n: Long, path: Path)

class LineSocketStream(host: String, port: Int, dir: Path) extends MicroBatchStream {
  import LineSocket.SegmentSuffix

  // All guarded by `this`. `lines(i)` is line `base + i`; `segments`
  // holds the closed segment files, the receiver writes to `open`.
  private val lines = ArrayBuffer.empty[UTF8String]
  private var base = 0L
  private var segments = Vector.empty[Segment]
  private var open: OutputStream = _
  private var openFirst = 0L
  private var socket: Socket = _
  private var receiver: Thread = _
  private var stopped = false
  private var writeFailure: IOException = _

  load()

  /** Reads the segments a previous run left. A run killed mid-write can
    * leave a torn last line: it was never offered, so it is dropped. */
  private def load(): Unit = {
    Files.createDirectories(dir)
    val listing = Files.list(dir)
    val found = try listing.iterator().asScala
      .filter(_.getFileName.toString.endsWith(SegmentSuffix)).toList
      .map(p => (p.getFileName.toString.stripSuffix(SegmentSuffix).toLong, p))
      .sortBy(_._1)
    finally listing.close()
    base = found.headOption.fold(0L)(_._1)
    found.foreach { case (first, p) =>
      require(first == base + lines.size,
        s"line socket segment $p starts at line $first, expected ${base + lines.size}")
      val bytes = Files.readAllBytes(p)
      val before = lines.size
      var from = 0
      for (i <- bytes.indices if bytes(i) == '\n') {
        lines += UTF8String.fromBytes(bytes, from, i - from)
        from = i + 1
      }
      if (lines.size == before) Files.delete(p)
      else segments :+= Segment(first, (lines.size - before).toLong, p)
    }
  }

  private def connect(): Unit = {
    socket = new Socket(host, port)
    val in = new BufferedReader(
      new InputStreamReader(socket.getInputStream, StandardCharsets.UTF_8))
    receiver = new Thread(() => {
      var line = readLine(in)
      while (line != null && append(line)) line = readLine(in)
    }, LineSocket.receiverName(host, port))
    receiver.setDaemon(true)
    receiver.start()
  }

  /** The next line, or null at EOF or once the socket is closed. */
  private def readLine(in: BufferedReader): String =
    try in.readLine() catch { case _: IOException => null }

  private def append(line: String): Boolean = synchronized {
    if (stopped || writeFailure != null) false
    else try {
      val u = UTF8String.fromString(line)
      if (open == null) {
        openFirst = base + lines.size
        open = new BufferedOutputStream(
          Files.newOutputStream(dir.resolve(s"$openFirst$SegmentSuffix")), 1 << 16)
      }
      open.write(u.getBytes)
      open.write('\n')
      lines += u
      true
    } catch { case e: IOException => writeFailure = e; false }
  }

  private def closeSegment(): Unit = if (open != null) {
    open.close()
    segments :+= Segment(openFirst, base + lines.size - openFirst,
      dir.resolve(s"$openFirst$SegmentSuffix"))
    open = null
  }

  private def index(o: Offset): Long = o match {
    case LineOffset(last) => last
    case other => other.json.trim.toLong
  }

  override def initialOffset(): Offset = LineOffset(-1L)

  override def latestOffset(): Offset = synchronized {
    if (socket == null && !stopped) connect()
    if (writeFailure != null)
      throw new IOException(s"line socket segment write failed under $dir", writeFailure)
    closeSegment()
    LineOffset(base + lines.size - 1)
  }

  override def deserializeOffset(json: String): Offset = LineOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = index(start) + 1
    val n = math.max(index(end) + 1 - from, 0L).toInt
    val par = SparkSession.active.sparkContext.defaultParallelism
    val parts = Array.tabulate(par)(p => new Array[UTF8String]((n + par - 1 - p) / par))
    synchronized {
      require(n == 0 || (from >= base && from + n <= base + lines.size),
        s"lines [$from, ${from + n}) are not held under $dir: it holds " +
          s"[$base, ${base + lines.size})")
      val off = (from - base).toInt
      var i = 0
      while (i < n) { parts(i % par)(i / par) = lines(off + i); i += 1 }
    }
    parts.map(LinePartition(_): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory = LineReaderFactory

  override def commit(end: Offset): Unit = synchronized {
    val last = index(end)
    val drop = math.min(last + 1 - base, lines.size.toLong)
    if (drop > 0) {
      lines.remove(0, drop.toInt)
      base += drop
    }
    val (done, kept) = segments.partition(s => s.first + s.n - 1 <= last)
    done.foreach(s => Files.deleteIfExists(s.path))
    segments = kept
  }

  /** Closes the socket and the open segment, then waits for the
    * receiver to end, so no thread outlives the query. */
  override def stop(): Unit = {
    val r = synchronized {
      stopped = true
      if (socket != null) try socket.close() catch { case _: IOException => () }
      try closeSegment() catch { case _: IOException => () }
      receiver
    }
    if (r != null) r.join()
  }
}

object LineReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val lines = partition.asInstanceOf[LinePartition].lines
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < lines.length }
      override def get(): InternalRow = InternalRow(lines(i))
      override def close(): Unit = ()
    }
  }
}
