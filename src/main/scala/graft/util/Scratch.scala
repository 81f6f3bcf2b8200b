package graft.util

import java.io.File
import java.nio.file.Files

/** The one owner of the library's driver-local temp state: gate
  * fixtures, replay staging and checkpoint dirs, local snapshots. Every
  * scratch dir lives under one root, created on first use under
  * `java.io.tmpdir`, and one shutdown hook deletes that root when the
  * JVM exits. Nothing under the root outlives the process, and a caller
  * never registers a hook of its own.
  */
object Scratch {

  /** The process's scratch root; the first access creates it and
    * registers the hook that deletes it.
    */
  lazy val root: File = {
    val r = Files.createTempDirectory("graft-scratch-").toFile
    sys.addShutdownHook(rm(r))
    r
  }

  /** A fresh, empty dir under [[root]], named `prefix` plus a random
    * suffix.
    */
  def dir(prefix: String): File =
    Files.createTempDirectory(root.toPath, prefix).toFile

  private def rm(f: File): Unit = {
    if (!Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rm)
    f.delete()
  }
}
