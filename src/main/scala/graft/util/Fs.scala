package graft.util

import java.nio.file.{Files, Path}

/** Local-filesystem helpers shared by every surface that manages its own
  * scratch dirs (preview copies, benchmark output) — one recursive delete
  * instead of per-module private copies.
  */
object Fs {

  /** Recursively delete `p` if it exists. The walk stream is closed even
    * when a delete throws (it holds directory handles), and the traversal
    * is deepest-first so directories empty before their own delete.
    */
  def deleteRecursively(p: Path): Unit = {
    if (!Files.exists(p)) return
    val stream = Files.walk(p)
    try stream.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally stream.close()
  }
}
