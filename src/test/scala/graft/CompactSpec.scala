package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

/** Ingest-compaction tier contract ([[ArtifactStore.compactedTable]],
  * round 18): a single-row-group relational table is served as an
  * EXACT row-for-row copy laid out in multiple part files (so scans
  * parallelize), keyed by a full-row content fingerprint, built once
  * and reused across sessions; tables below the size floor (or with a
  * healthy multi-row-group layout) stay raw.
  */
class CompactSpec extends SparkSpec {

  /** fp-dirs of `key` created during `body` — cleaned up by the caller
    * (the compaction keys are FIXED production keys, so the spec must
    * remove exactly the generations its synthetic corpora published). */
  private def withNewFps[T](key: String)(body: => T): (T, Seq[Long]) = {
    val before = ArtifactStore.publishedFps(key).toSet
    val r = body
    (r, ArtifactStore.publishedFps(key).filterNot(before))
  }

  /** Write `df` as ONE parquet FILE at `$dir/$table.parquet` (the
    * testdata layout the compaction gate keys on: a bare file whose
    * footer the row-group probe can open). */
  private def writeSingleFile(df: org.apache.spark.sql.DataFrame,
                              dir: String, table: String): Unit = {
    val stage = Files.createTempDirectory("compact_stage_")
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = Files.list(stage).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    val dst = Paths.get(dir, s"$table.parquet")
    Files.deleteIfExists(dst)
    Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
    deleteDir(stage)
  }

  /** A synthetic single-file `lineitem` table under a temp dir, with
    * the production columns plus an incompressible pad column so
    * `rows` of it comfortably clear the 512 KiB eligibility floor. */
  private def syntheticLineitemDir(rows: Int): String = {
    val dir = Files.createTempDirectory("compact_spec_").toString
    val df = spark.range(rows.toLong).selectExpr(
      "id as l_orderkey", "id % 997 as l_partkey", "id % 97 as l_suppkey",
      "cast(id % 7 as int) as l_linenumber",
      "cast(1 + id % 50 as double) as l_quantity",
      "cast(900 + id % 100000 as double) / 100.0 as l_extendedprice",
      "cast(id % 11 as double) / 100.0 as l_discount",
      "cast(id % 9 as double) / 100.0 as l_tax",
      "substring('NARF', 1 + cast(id % 3 as int), 1) as l_returnflag",
      "substring('OF', 1 + cast(id % 2 as int), 1) as l_linestatus",
      "timestampadd(DAY, cast(id % 2000 as int), timestamp'1995-01-01') as l_shipdate",
      "md5(cast(id as string)) as pad")
    writeSingleFile(df, dir, "lineitem")
    dir
  }

  test("compactFileCount: bytes-only, floored, capped, scale-dominant") {
    import ArtifactStore.compactFileCount
    assert(compactFileCount(1L) == 1)
    assert(compactFileCount(256L << 10) == 1)
    assert(compactFileCount((256L << 10) + 1) == 2)
    assert(compactFileCount(10L << 20) == 16) // 40 files raw, capped at 16
    // at production scale the 512 MB target dominates the local cap
    assert(compactFileCount(100L << 30) == 200)
  }

  test("below the size floor: Tables.load serves the raw file, no artifact") {
    val dir = syntheticLineitemDir(2000) // far below 512 KiB
    try {
      val (_, fps) = withNewFps("compact_lineitem_v1") {
        val plan = Tables.lineitem(spark, dir)
          .queryExecution.executedPlan.toString
        assert(!plan.contains("compact_lineitem_v1"),
          s"tiny table must scan its source file:\n${plan.take(600)}")
      }
      assert(fps.isEmpty, "tiny table must not publish a compacted generation")
    } finally deleteDir(Paths.get(dir))
  }

  test("eligible table: compacted copy equals the source, builds once, splits the scan") {
    val dir = syntheticLineitemDir(40000)
    val raw = spark.read.parquet(s"$dir/lineitem.parquet")
    assume(Files.size(Paths.get(dir, "lineitem.parquet")) >= (512L << 10),
      "synthetic table must clear the floor")
    val (_, fps) = withNewFps("compact_lineitem_v1") {
      val served = Tables.lineitem(spark, dir)
      // exact content both ways (multiset equality), schema verbatim
      assert(served.schema == raw.schema, "schema must be the source verbatim")
      assert(served.count() == raw.count())
      assert(served.exceptAll(raw).isEmpty && raw.exceptAll(served).isEmpty,
        "compacted rows must be an exact multiset copy of the source")
      // the layout actually splits the scan
      assert(served.rdd.getNumPartitions > 1,
        s"compacted scan must parallelize (got ${served.rdd.getNumPartitions})")
      // a second session (fresh memo) reuses the published generation
      val builds0 = ArtifactStore.buildCount
        .getOrDefault("compact_lineitem_v1", 0)
      ArtifactStore.resetMemoForTest()
      Tables.lineitem(spark, dir).count()
      assert(ArtifactStore.buildCount
        .getOrDefault("compact_lineitem_v1", 0) == builds0,
        "second session must serve the published copy, not rebuild")
    }
    try assert(fps.nonEmpty, "eligible table must publish a generation")
    finally {
      fps.foreach(ArtifactStore.invalidate("compact_lineitem_v1", _))
      deleteDir(Paths.get(dir))
    }
  }

  test("content change publishes a NEW generation (full-row fingerprint)") {
    val dir = syntheticLineitemDir(40000)
    val (_, fps) = withNewFps("compact_lineitem_v1") {
      Tables.lineitem(spark, dir).count()
      // in-place change of one cell value → new fingerprint → rebuild
      // (materialized first: the rewrite replaces the file being read)
      val altered = spark.createDataFrame(
        spark.read.parquet(s"$dir/lineitem.parquet")
          .withColumn("l_quantity",
            when(col("l_orderkey") === 0L, lit(9999.0))
              .otherwise(col("l_quantity")))
          .collect().toSeq.asInstanceOf[Seq[org.apache.spark.sql.Row]]
          .asJava,
        spark.read.parquet(s"$dir/lineitem.parquet").schema)
      writeSingleFile(altered, dir, "lineitem")
      val served = Tables.lineitem(spark, dir)
      assert(served.where(col("l_quantity") === 9999.0).count() == 1L,
        "changed corpus must serve the changed rows")
    }
    try assert(fps.size == 2,
      s"a cell change must key a second generation (got ${fps.size})")
    finally {
      fps.foreach(ArtifactStore.invalidate("compact_lineitem_v1", _))
      deleteDir(Paths.get(dir))
    }
  }

  private def deleteDir(dir: Path): Unit = {
    if (!Files.exists(dir)) return
    val walk = Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(Files.deleteIfExists(_))
    finally walk.close()
  }

  private implicit class SeqAsJava[A](s: Seq[A]) {
    def asJava: java.util.List[A] = {
      val l = new java.util.ArrayList[A](s.size)
      s.foreach(l.add)
      l
    }
  }
}
