package graft.tables

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** The stores' one filesystem core: every file operation of `StageStore`,
  * `IndexStore` and `IncrementalDedup` goes through these few calls, so a
  * port of the stores to another filesystem (Hadoop `FileSystem`) edits
  * this file only. The commit rule lives in `publish`: write `<path>.tmp`,
  * then atomically move it onto `path` — the reference's atomic header
  * publish (src/index/terms.c:302-305). A reader sees the
  * old file or the new one, never a torn write. */
object FsUtil {
  /** Atomically replaces `path` with `text` (UTF-8), creating the parent
    * directory. A failure before or at the move leaves the old file. */
  def publish(path: String, text: String): Unit = {
    val target = Paths.get(path)
    Files.createDirectories(target.getParent)
    val tmp = Paths.get(s"$path.tmp")
    Files.write(tmp, text.getBytes(UTF_8))
    Files.move(tmp, target,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** The text of the file at `path`; None when there is no such file. */
  def read(path: String): Option[String] = {
    val p = Paths.get(path)
    if (Files.isRegularFile(p)) Some(new String(Files.readAllBytes(p), UTF_8))
    else None
  }

  /** Child names of `dir`, sorted; empty when `dir` is absent. The listing
    * holds a directory handle until closed, so it is always closed: the
    * stores list on every open, and a leak exhausts a long-running
    * driver's file descriptors. */
  def list(dir: String): Seq[String] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Nil
    else {
      val s = Files.list(d)
      try s.toArray.toSeq.map(_.asInstanceOf[Path].getFileName.toString).sorted
      finally s.close()
    }
  }

  /** Deletes `path` and everything under it; a no-op when absent. */
  def delete(path: String): Unit = deleteRecursively(new java.io.File(path))

  /** Best-effort recursive delete (no symlink traversal surprises on the
    * store layouts we write: plain dirs + files). */
  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}
