package graft.llm

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{ArtifactStore, SparkSpec}

/** Cell-level carry for the vec-local serve families (r13 verdict
  * item 1, the top_next): a vector-corpus append under kept books must
  * cost O(delta vecs + touched cells) — the appended file is the only
  * corpus file scanned, the touched coarse cells are the only
  * partitions rewritten (data AND certificate), everything else is a
  * hard link — and the delta-built generation still equals a
  * from-scratch build row for row, with stream-grown (uncertified)
  * rows never carried.
  */
class VecCellCarrySpec extends SparkSpec {
  import spark.implicits._

  private def off: Long =
    1000000L + ((java.util.UUID.randomUUID.hashCode & 0x7fffffff) % 100000L) * 100L

  /** A per-run salted fixture corpus: the artifact store is persistent,
    * so build-path assertions need content no prior run published. The
    * salt shifts the VECTORS, not just the ids — identical vectors
    * train an identical coarse book (Lloyd is deterministic), and a
    * same-book generation leaked by any other spec or run would
    * otherwise qualify as this corpus's carry prior. */
  private def saltedBase(n: Long, runOff: Long): DataFrame = {
    val shift = (runOff % 97L) * 0.01 + 0.005
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") < n)
      .select((col("vec_id") + runOff).as("vec_id"), col("label"),
        expr(s"transform(embedding, x -> CAST(x + $shift AS FLOAT))")
          .as("embedding"))
  }

  /** `k` byte-identical copies of `donorId`'s vector under fresh ids —
    * they all land in the donor's cell (deterministic argmin), so the
    * append touches exactly one cell. */
  private def clonesOf(base: DataFrame, donorId: Long, startId: Long,
                       k: Int): DataFrame =
    base.where(col("vec_id") === donorId)
      .crossJoin((0 until k).map(i => startId + i).toDF("new_id"))
      .select(col("new_id").as("vec_id"), col("label"), col("embedding"))

  private def listFiles(dir: String): Set[String] = {
    val s = Files.list(Paths.get(s"$dir/embeddings.parquet"))
    try s.toArray.map(_.toString).filter(_.endsWith(".parquet")).toSet
    finally s.close()
  }

  private def cellRows(df: DataFrame) = df
    .select(col("vec_id"), col("cell").cast("long"), col("nrm"), col("v"))
    .collect().map { r =>
      (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getSeq[Double](3))
    }.toSet

  private def expectedCells(corpus: DataFrame, book: Array[Array[Double]]) =
    cellRows(corpus
      .select(col("vec_id"), VectorOps.toDoubleArr(col("embedding")).as("v"))
      .withColumn("nrm", VectorOps.norm(col("v")))
      .withColumn("cell", ServeBooks.cell(book, col("v"))))

  test("serve-cells append: one file scanned, one cell rewritten, the " +
    "rest hard-linked (data and certificate), delta == from-scratch") {
    val dir = Files.createTempDirectory("vec_carry").toString
    val o = off
    val base = saltedBase(300, o)
    base.repartition(3).write.parquet(s"$dir/embeddings.parquet")
    try {
      val pathA = ServeBooks.annCellsPath(spark, dir)
      // the vector salt makes this corpus's book unique to this run, so
      // no leaked generation can qualify as a prior: strictly full
      assert(ArtifactStore.deltaStats.get(ServeBooks.AnnCellsKey) ==
        ((-1L, -1L)), "a salted corpus's first build must be full")
      val bookA = ServeBooks.generationBook(spark, pathA)
      val priorCells = spark.read.parquet(pathA)
        .select(col("cell").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
      val donorCell = spark.read.parquet(pathA)
        .where(col("vec_id") === o).select(col("cell").cast("long"))
        .head().getLong(0)

      // --- APPEND: 5 clones of vec `o` in one new part file
      val before = listFiles(dir)
      clonesOf(base, o, o + 9000L, 5).coalesce(1)
        .write.mode("append").parquet(s"$dir/embeddings.parquet")
      val newFiles = (listFiles(dir) -- before).toSeq
      assert(newFiles.size == 1)
      val pathB = ServeBooks.annCellsPathFor(spark, dir, bookA)
      assert(pathB != pathA)
      val cs = ArtifactStore.carryStats.get(ServeBooks.AnnCellsKey)
      assert(cs != null, "the cell-carry path must record its stats")
      assert(cs.scannedFiles == newFiles,
        s"only the appended file may scan: $cs")
      assert(cs.rewrittenBuckets == 1,
        s"all five clones land in the donor's cell — one rewrite: $cs")
      assert(cs.linkedBuckets == priorCells.size - 1,
        s"every other occupied cell must hard-link: $cs vs $priorCells")
      assert(cs.bytesWritten < cs.bytesLinked / 4,
        s"bytes written must scale with the touched cell, not the corpus: $cs")
      assert(ArtifactStore.deltaStats.get(ServeBooks.AnnCellsKey) ==
        ((300L, 5L)),
        s"append must carry 300 vecs and assign only the 5 new: " +
          s"${ArtifactStore.deltaStats.get(ServeBooks.AnnCellsKey)}")
      // shared inodes: a linked cell's part files appear in BOTH
      // generations' directories — data and certificate alike
      val linkedCell = (priorCells - donorCell).head
      for (sub <- Seq("data", "vecs")) {
        val d = Paths.get(pathB).getParent.resolve(sub)
          .resolve(s"cell=$linkedCell")
        val parts = Files.list(d)
        val shared = try parts.toArray.map(_.toString)
          .filter(_.endsWith(".parquet"))
          .exists(p => Files.getAttribute(Paths.get(p), "unix:nlink")
            .asInstanceOf[Number].intValue >= 2)
        finally parts.close()
        assert(shared, s"$sub cell=$linkedCell must share inodes with " +
          "the prior generation")
      }
      // the carried generation equals a from-scratch frozen-book build
      val corpusB = spark.read.parquet(s"$dir/embeddings.parquet")
      assert(cellRows(spark.read.parquet(pathB)) ==
        expectedCells(corpusB, bookA),
        "delta generation must equal the from-scratch build")
      // the certificate certifies all 305 and is cell-partitioned
      val certB = spark.read.parquet(
        Paths.get(pathB).getParent.resolve("vecs").toString)
      assert(certB.count() == 305L)
      assert(certB.columns.contains("cell") && certB.columns.contains("src"))

      // --- IN-PLACE REWRITE of the appended file: two clones removed.
      // The other three keep their (vec_id, digest) but change file —
      // the MOVED case: data stays carried, their cert rows re-src
      val rewritten = clonesOf(base, o, o + 9000L, 3)
      val tmpOut = s"${Files.createTempDirectory("vec_rw")}/out"
      rewritten.coalesce(1).write.parquet(tmpOut)
      val parts = Files.list(Paths.get(tmpOut))
      val part = try parts.toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      finally parts.close()
      Files.delete(Paths.get(newFiles.head))
      Files.deleteIfExists(Paths.get(newFiles.head).getParent
        .resolve(s".${Paths.get(newFiles.head).getFileName}.crc"))
      val replacement = Paths.get(s"$dir/embeddings.parquet")
        .resolve(Paths.get(part).getFileName.toString)
      Files.move(Paths.get(part), replacement)

      val pathC = ServeBooks.annCellsPathFor(spark, dir, bookA)
      val cs2 = ArtifactStore.carryStats.get(ServeBooks.AnnCellsKey)
      assert(cs2.scannedFiles == Seq(replacement.toString),
        s"only the rewritten file may scan: $cs2")
      assert(cs2.rewrittenBuckets == 1,
        s"removal touches only the clones' cell: $cs2")
      assert(ArtifactStore.deltaStats.get(ServeBooks.AnnCellsKey) ==
        ((303L, 0L)),
        s"an in-place rewrite with removals re-encodes nothing: " +
          s"${ArtifactStore.deltaStats.get(ServeBooks.AnnCellsKey)}")
      val corpusC = spark.read.parquet(s"$dir/embeddings.parquet")
      assert(cellRows(spark.read.parquet(pathC)) ==
        expectedCells(corpusC, bookA),
        "removal must equal the from-scratch build")

      // --- links survive the janitor: GC the ancestors, re-read C whole
      Seq(pathA, pathB).foreach { p =>
        val fp = Paths.get(p).getParent.getFileName.toString
          .stripPrefix("fp-").toLong
        ArtifactStore.invalidate(ServeBooks.AnnCellsKey, fp)
      }
      assert(cellRows(spark.read.parquet(pathC)) ==
        expectedCells(corpusC, bookA),
        "the surviving generation must read whole after its link " +
          "sources were garbage-collected")
    } finally {
      ServeBooks.annCellsFpsFor(spark, dir).foreach(
        ArtifactStore.invalidate(ServeBooks.AnnCellsKey, _))
    }
  }

  test("a carry against a prior whose mutation lease another process " +
    "holds fails loudly (and leaks no staging dir); it runs after release") {
    val dir = Files.createTempDirectory("vec_lease").toString
    val o = off
    val base = saltedBase(200, o)
    base.repartition(2).write.parquet(s"$dir/embeddings.parquet")
    var built: List[String] = Nil
    try {
      val pathA = ServeBooks.annCellsPath(spark, dir)
      built ::= pathA
      val bookA = ServeBooks.generationBook(spark, pathA)
      // "another process" (an ingest merge / a takedown scrub) holds
      // the prior generation's lease while we append and carry
      val lease = new org.apache.hadoop.fs.Path(pathA, "_mutate.lease")
      val fs = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(lease, false)
      try out.write("9999@other-host merge-in-flight".getBytes("UTF-8"))
      finally out.close()
      clonesOf(base, o, o + 9000L, 3).coalesce(1)
        .write.mode("append").parquet(s"$dir/embeddings.parquet")
      val e = intercept[IllegalStateException] {
        ServeBooks.annCellsPathFor(spark, dir, bookA)
      }
      assert(e.getMessage.contains("another process"), e.getMessage)
      // the failed build must not leak its staging tree
      val keyDir = Paths.get(ArtifactStore.root, ServeBooks.AnnCellsKey)
      val leaked = Files.list(keyDir)
      val tmps = try leaked.toArray.map(_.toString)
        .filter(_.contains("/.tmp-")) finally leaked.close()
      assert(tmps.isEmpty, s"staging dirs leaked: ${tmps.toSeq}")
      // the holder releases; the carry proceeds and is exact
      fs.delete(lease, false)
      val pathB = ServeBooks.annCellsPathFor(spark, dir, bookA)
      built ::= pathB
      val corpusB = spark.read.parquet(s"$dir/embeddings.parquet")
      assert(cellRows(spark.read.parquet(pathB)) ==
        expectedCells(corpusB, bookA))
    } finally {
      built.foreach { p =>
        ArtifactStore.invalidate(ServeBooks.AnnCellsKey,
          Paths.get(p).getParent.getFileName.toString
            .stripPrefix("fp-").toLong)
      }
    }
  }

  test("stream-grown rows make their cell dirty: it rebuilds instead " +
    "of linking, and the successor equals a from-scratch build") {
    val dir = Files.createTempDirectory("vec_dirty").toString
    val o = off
    val base = saltedBase(300, o)
    base.repartition(2).write.parquet(s"$dir/embeddings.parquet")
    var built: List[String] = Nil
    def track(p: String): String = { built ::= p; p }
    try {
      val pathA = track(ServeBooks.annCellsPath(spark, dir))
      val bookA = ServeBooks.generationBook(spark, pathA)
      val fpA = ServeBooks.annCellsFp(spark, dir)
      val corpusFpA = ArtifactStore.embeddingsFp(spark, dir)
      // pick two donors in DIFFERENT cells: the stream grows donor1's
      // cell, the append touches donor2's
      val byCellDf = spark.read.parquet(pathA)
        .select(col("vec_id"), col("cell").cast("long").as("cell"))
      val cell1 = byCellDf.where(col("vec_id") === o).head().getLong(1)
      val donor2 = byCellDf.where(col("cell") =!= cell1)
        .orderBy(col("vec_id")).head().getLong(0)
      val cell2 = byCellDf.where(col("vec_id") === donor2).head().getLong(1)
      assert(cell1 != cell2)

      // stream-ingest 4 uncertified clones of donor1 into generation A
      graft.streaming.StreamAnnCells.compactBatch(
        pathA, bookA, fpA, corpusFpA, dir)(
        clonesOf(base, o, o + 8000L, 4), 0L)
      assert(spark.read.parquet(pathA)
        .where(col("vec_id") >= o + 8000L).count() == 4L,
        "witness: the streamed rows joined the pinned generation")

      // append donor2 clones to the CORPUS and build the successor
      clonesOf(base, donor2, o + 9000L, 3).coalesce(1)
        .write.mode("append").parquet(s"$dir/embeddings.parquet")
      val pathB = track(ServeBooks.annCellsPathFor(spark, dir, bookA))
      val cs = ArtifactStore.carryStats.get(ServeBooks.AnnCellsKey)
      assert(cs.rewrittenBuckets == 2,
        s"the streamed cell is DIRTY (uncertified rows) and must " +
          s"rebuild alongside the appended cell: $cs")
      assert(spark.read.parquet(pathB)
        .where(col("vec_id") >= o + 8000L && col("vec_id") < o + 9000L)
        .count() == 0L,
        "stream-grown rows are never carried: they re-derive when ops " +
          "appends them to the corpus")
      val corpusB = spark.read.parquet(s"$dir/embeddings.parquet")
      assert(cellRows(spark.read.parquet(pathB)) ==
        expectedCells(corpusB, bookA),
        "the successor must equal a from-scratch build of the corpus")
    } finally {
      // invalidate by generation id: the pre-append generation is
      // parked at the old corpus fp and the current-corpus enumeration
      // would not reach it
      built.foreach { p =>
        ArtifactStore.invalidate(ServeBooks.AnnCellsKey,
          Paths.get(p).getParent.getFileName.toString
            .stripPrefix("fp-").toLong)
      }
    }
  }

  test("a prior whose vecs certificate is flat (no cell partitions) " +
    "demotes to the row-level carry, and the migration build equals " +
    "a from-scratch build in the cell-partitioned layout") {
    val dir = Files.createTempDirectory("vec_flat").toString
    val o = off
    val base = saltedBase(300, o)
    base.repartition(3).write.parquet(s"$dir/embeddings.parquet")
    var built: List[String] = Nil
    try {
      val pathA = ServeBooks.annCellsPath(spark, dir)
      built ::= pathA
      val bookA = ServeBooks.generationBook(spark, pathA)
      // rewrite A's certificate in the flat pre-cell layout: the same
      // (vec_id, digest) rows, no cell= directories
      val vecsA = Paths.get(pathA).getParent.resolve("vecs")
      val flatTmp = s"${Files.createTempDirectory("vec_flat_cert")}/vecs"
      spark.read.parquet(vecsA.toString).select(col("vec_id"), col("digest"))
        .coalesce(1).write.parquet(flatTmp)
      val sub = Files.walk(vecsA)
      try sub.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.delete(p))
      finally sub.close()
      Files.move(Paths.get(flatTmp), vecsA)
      val kids = Files.list(vecsA)
      try assert(!kids.toArray.map(_.toString).exists(_.contains("cell=")),
        "witness: the prior's certificate is flat")
      finally kids.close()

      clonesOf(base, o, o + 9000L, 5).coalesce(1)
        .write.mode("append").parquet(s"$dir/embeddings.parquet")
      val pathB = ServeBooks.annCellsPathFor(spark, dir, bookA)
      built ::= pathB
      val corpusB = spark.read.parquet(s"$dir/embeddings.parquet")
      assert(cellRows(spark.read.parquet(pathB)) ==
        expectedCells(corpusB, bookA),
        "a flat-certificate prior must still yield exact rows " +
          "(row-level carry)")
      assert(ArtifactStore.deltaStats.get(ServeBooks.AnnCellsKey) ==
        ((300L, 5L)),
        s"the row-level fallback still carries by (vec_id, digest): " +
          s"${ArtifactStore.deltaStats.get(ServeBooks.AnnCellsKey)}")
      assert(ArtifactStore.carryStats.get(ServeBooks.AnnCellsKey) == null,
        "the cell-carry stats must be absent — the flat prior demoted " +
          "the build to the row-level path")
      val vecsB = Files.list(Paths.get(pathB).getParent.resolve("vecs"))
      try assert(vecsB.toArray.map(_.toString).exists(_.contains("cell=")),
        "the migration build's certificate is cell-partitioned")
      finally vecsB.close()
    } finally {
      built.foreach { p =>
        ArtifactStore.invalidate(ServeBooks.AnnCellsKey,
          Paths.get(p).getParent.getFileName.toString
            .stripPrefix("fp-").toLong)
      }
    }
  }

  test("pq-res codes append under kept books: one file scanned, " +
    "touched cells rewritten, the rest hard-linked — the codes family " +
    "rides the same cell carry (r13 verdict item 3 adjudication)") {
    val dir = Files.createTempDirectory("codes_carry").toString
    val o = off
    val base = saltedBase(300, o)
    base.repartition(3).write.parquet(s"$dir/embeddings.parquet")
    try {
      val coarseA = ServeBooks.coarse(spark, dir)
      val resA = ServeBooks.pqRes(spark, dir)
      def rowsOf(df: DataFrame) = df
        .select(col("vec_id"), col("cell"), col("codes"))
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
      val rowsA = rowsOf(ServeBooks.pqResCodesFor(spark, dir, coarseA, resA))
      val fpGenA = ServeBooks.pqResCodesFp(spark, dir, coarseA, resA)
      assert(rowsA.map(_._1).size == 300)
      val priorCells = rowsA.map(_._2)

      val before = listFiles(dir)
      clonesOf(base, o, o + 9000L, 5).coalesce(1)
        .write.mode("append").parquet(s"$dir/embeddings.parquet")
      val newFiles = (listFiles(dir) -- before).toSeq
      val rowsB = rowsOf(ServeBooks.pqResCodesFor(spark, dir, coarseA, resA))
      val cs = ArtifactStore.carryStats.get(ServeBooks.PqResCodesKey)
      assert(cs != null && cs.scannedFiles == newFiles,
        s"only the appended file may scan: $cs")
      assert(cs.rewrittenBuckets == 1 &&
        cs.linkedBuckets == priorCells.size - 1,
        s"one touched cell, the rest links: $cs")
      assert(cs.bytesWritten < cs.bytesLinked / 4,
        s"append cost must scale with the vector delta: $cs")
      assert(ArtifactStore.deltaStats.get(ServeBooks.PqResCodesKey) ==
        ((300L, 5L)))
      // delta == from-scratch: drop BOTH generations (the pre-append
      // one is parked at the old corpus fp — invalidate by generation
      // id, not by current-corpus enumeration) and rebuild with no prior
      Seq(fpGenA, ServeBooks.pqResCodesFp(spark, dir, coarseA, resA))
        .foreach(ArtifactStore.invalidate(ServeBooks.PqResCodesKey, _))
      val fullRows = rowsOf(ServeBooks.pqResCodesFor(spark, dir, coarseA, resA))
      assert(ArtifactStore.deltaStats.get(ServeBooks.PqResCodesKey) ==
        ((-1L, -1L)), "the rebuild must have run with no prior " +
          "(the vector salt makes these books unique to this run)")
      assert(rowsB == fullRows,
        "delta-built codes must equal the from-scratch encode")
    } finally {
      ServeBooks.pqResCodesFpsFor(spark, dir).foreach(
        ArtifactStore.invalidate(ServeBooks.PqResCodesKey, _))
    }
  }
}
