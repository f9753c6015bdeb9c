package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** [[BucketStore]] is the one copy of the stream stores' merge and log
  * writes: dynamic partition overwrite appears in main source only in
  * BucketStore (merge and log append), PartitionScrub (scrub rewrites)
  * and TimeTravel (log compaction), so no sink can grow a private
  * read-merge-overwrite that drifts from the shared one. */
class BucketStoreSpec extends SparkSpec {

  test("src/main sets partitionOverwriteMode only in BucketStore, " +
    "PartitionScrub and TimeTravel") {
    val walk = Files.walk(Paths.get("src/main"))
    val hits =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .filter(p => Files.readString(p).contains("partitionOverwriteMode"))
        .map(_.getFileName.toString).sorted
      finally walk.close()
    assert(hits == Seq("BucketStore.scala", "PartitionScrub.scala",
      "TimeTravel.scala"), s"dynamic-overwrite writers in src/main: $hits")
  }
}
