package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** [[Session.local]] is the one session configuration: the spec session
  * carries every setting the entry points rely on, and main source holds
  * exactly one session builder, so no entry point can drift from it.
  * That the session registers the engine extensions is covered by
  * `functions.ExtensionsSpec`, whose `graft_*` SQL calls run on this
  * same spec session. */
class SessionSpec extends SparkSpec {

  test("the spec session carries the Session.local configuration") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[2]")
    assert(conf.get("spark.sql.shuffle.partitions") == "2")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty, "the web UI must be off")
  }

  test("src/main holds exactly one SparkSession builder, in Session") {
    val walk = Files.walk(Paths.get("src/main"))
    val hits =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .flatMap { p =>
          Files.readAllLines(p).asScala.filter(_.contains("SparkSession.builder"))
            .map(_ => p.getFileName.toString)
        }
      finally walk.close()
    assert(hits == Seq("Session.scala"), s"session builders in src/main: $hits")
  }
}
