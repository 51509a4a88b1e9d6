package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** File-system accounting of a warehouse root, taken from outside the
  * engine: a walk lists every regular file with its size and mtime.
  *
  * Each file falls in one class by its path:
  *  - `meta`: under a `_graft_gens` directory (generation manifests);
  *  - `sidecar`: under any other `_graft_*` directory except the
  *    `_graft_vdata` data tree (ANN, text, stats and bloom sidecars,
  *    name locks);
  *  - `data`: everything else (table files, snapshot swaps, bookmarks). */
object Storage {

  final case class FileInfo(size: Long, mtime: Long)

  final case class Snapshot(files: Map[String, FileInfo]) {
    def bytes: Long = files.valuesIterator.map(_.size).sum

    def bytesBy(cls: String): Long =
      files.iterator.collect { case (p, f) if classOf(p) == cls => f.size }.sum

    /** Files created or rewritten since `before`: (count, bytes). */
    def writtenSince(before: Snapshot): (Long, Long) = {
      val fresh = files.iterator.filter { case (p, f) =>
        before.files.get(p).forall(_ != f)
      }.map(_._2.size).toSeq
      (fresh.size.toLong, fresh.sum)
    }
  }

  val Classes: Seq[String] = Seq("data", "meta", "sidecar")

  def classOf(rel: String): String = {
    val segs = rel.split('/')
    if (segs.contains("_graft_gens")) "meta"
    else if (segs.exists(s => s.startsWith("_graft_") && s != "_graft_vdata"))
      "sidecar"
    else "data"
  }

  def walk(root: Path): Snapshot = {
    if (!Files.exists(root)) return Snapshot(Map.empty)
    val stream = Files.walk(root)
    try {
      Snapshot(stream.iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .flatMap { p =>
          // a file removed by a concurrent sweep between list and stat
          // simply drops out of the snapshot
          try {
            Some(root.relativize(p).toString ->
              FileInfo(Files.size(p), Files.getLastModifiedTime(p).toMillis))
          } catch { case _: java.nio.file.NoSuchFileException => None }
        }.toMap)
    } finally stream.close()
  }
}
