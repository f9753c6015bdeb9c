package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The artifact root as seen from outside the store: published
  * generations (`<key>/fp-<digest>` directories holding a manifest)
  * and the files under the root with their sizes and link counts
  * (`perfbench/stats.py` turns two snapshots into written and carried
  * bytes). */
object Store {

  def generations(root: String): Set[String] = {
    val base = Paths.get(root)
    if (!Files.isDirectory(base)) return Set.empty
    children(base).filter(p => Files.isDirectory(p) &&
        !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith("."))
      .flatMap(k => children(k).filter(g =>
        g.getFileName.toString.startsWith("fp-") &&
          Files.exists(g.resolve("manifest.json")))
        .map(g => s"${k.getFileName}/${g.getFileName}"))
      .toSet
  }

  private def children(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  final case class FileStat(size: Long, links: Int)

  def files(root: String): Map[String, FileStat] = {
    val base = Paths.get(root)
    if (!Files.isDirectory(base)) return Map.empty
    val w = Files.walk(base)
    try w.iterator().asScala.filter(Files.isRegularFile(_)).flatMap { p =>
      // a concurrent build may move or delete a staging file mid-walk
      try Some(p.toString -> FileStat(Files.size(p),
        Files.getAttribute(p, "unix:nlink").asInstanceOf[Int]))
      catch { case _: java.io.IOException => None }
    }.toMap
    finally w.close()
  }
}
