package graft.core

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Tiny shared filesystem helpers — one copy of the walk-and-delete and
  * directory-listing idioms instead of per-file clones (a symlink/retry
  * fix must land once).
  */
object Fs {

  /** The entries directly under `dir`; empty when `dir` is absent. The
    * listing stream is closed before returning (an open one leaks a
    * directory descriptor).
    */
  def list(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Seq.empty
    else {
      val stream = Files.list(dir)
      try stream.iterator().asScala.toList
      finally stream.close()
    }

  /** Delete `p` and everything under it; no-op when absent. */
  def deleteRecursively(p: Path): Unit = {
    if (!Files.exists(p)) return
    val stream = Files.walk(p)
    try stream.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f): Unit)
    finally stream.close()
  }

  def deleteRecursively(p: String): Unit =
    deleteRecursively(java.nio.file.Paths.get(p))
}
