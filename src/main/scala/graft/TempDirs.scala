package graft

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import org.apache.commons.io.FileUtils

/** Scratch directories that live until the JVM exits and are then
  * deleted with their contents. `File.deleteOnExit` cannot do this: it
  * removes a directory only while it is empty. Nothing is deleted
  * earlier, so a DataFrame a query returns can still read its files.
  */
object TempDirs {

  private val dirs = ConcurrentHashMap.newKeySet[File]()

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    dirs.forEach(d => FileUtils.deleteQuietly(d))))

  /** Deletes `dir` (a directory or a file) recursively at JVM exit. */
  def deleteOnExit(dir: File): File = { dirs.add(dir); dir }

  /** A fresh directory under `java.io.tmpdir`, deleted at JVM exit. */
  def create(prefix: String): String =
    deleteOnExit(java.nio.file.Files.createTempDirectory(prefix).toFile)
      .toString
}
