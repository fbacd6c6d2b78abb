package perfbench

import java.io.File

/** Local-disk helpers for the benchmark's own scratch tree. */
object Disk {
  def deleteTree(f: File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteTree)
    f.delete(); ()
  }

  /** Copies every regular file of `src` into a new directory `dst`. The
    * copies get fresh modification times, so the engine's
    * fingerprint-keyed artifact stores treat them as a new dataset. */
  def copyDataset(src: File, dst: File): Unit = {
    dst.mkdirs()
    src.listFiles().filter(_.isFile).foreach { f =>
      java.nio.file.Files.copy(f.toPath, new File(dst, f.getName).toPath)
    }
  }

  /** (number of `_SUCCESS` commit markers, total bytes) under `root`. */
  def scan(root: File): (Long, Long) = {
    var markers = 0L
    var bytes = 0L
    def walk(f: File): Unit = {
      val children = f.listFiles()
      if (children != null) children.foreach(walk)
      else if (f.isFile) {
        bytes += f.length()
        if (f.getName == "_SUCCESS") markers += 1
      }
    }
    walk(root)
    (markers, bytes)
  }
}
