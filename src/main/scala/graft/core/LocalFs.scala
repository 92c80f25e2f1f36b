package graft.core

import java.nio.file.{FileSystems, Files}

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's checksummed `file:` file system (same `.crc` sibling layout as
  * the stock `LocalFileSystem`) over [[LocalFs.Raw]], which sets POSIX
  * permissions in-process.
  *
  * Why: without libhadoop, the stock raw layer applies the mode of every
  * file, `.crc` file and directory it creates by forking a `chmod`
  * process (`Shell.execCommand` under `RawLocalFileSystem.setPermission`).
  * A 150-directory hive-partitioned write makes about 500 of them; on a
  * 4-core host they were in about half of the executor-thread stack
  * samples of the rentals sink's write stage.
  *
  * Select either layer with [[LocalFs.settings]].
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** `RawLocalFileSystem` whose `setPermission` — the one call its file
    * creates and directory creates route the mode through — runs `chmod(2)`
    * in-process instead of forking `chmod`. It leaves the mode exactly as
    * the forked `chmod <4-digit octal>` would, including GNU chmod's rule
    * that a numeric mode keeps a directory's setuid/setgid bits. It falls
    * back to Hadoop's own `setPermission` when libhadoop is loaded (that
    * path is already in-process) or when the platform has no `unix`
    * attribute view to set a mode through.
    */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!inProcessChmod) super.setPermission(p, permission)
      else {
        val file = pathToFile(p).toPath
        val current = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
        val keptDirBits = if ((current & TypeBits) == DirType) current & SetIdBits else 0
        Files.setAttribute(file, "unix:mode", Int.box(permission.toShort.toInt | keptDirBits))
      }
  }

  /** The Hadoop settings that make `file:` resolve to [[LocalFs]]
    * (`checksummed`) or to [[Raw]] (no `.crc` siblings), for a write's
    * options or a `Configuration`. The cache switch is part of it:
    * Hadoop's file-system cache is keyed by scheme and user, not by conf,
    * so with the cache on, whichever implementation resolved `file:` first
    * would serve the whole JVM. With it off, each conf gets the layer it
    * names and every other `file:` user keeps the stock one.
    */
  def settings(checksummed: Boolean): Map[String, String] = Map(
    "fs.file.impl" -> (if (checksummed) classOf[LocalFs] else classOf[Raw]).getName,
    "fs.file.impl.disable.cache" -> "true")

  // st_mode fields: setuid + setgid (octal 06000), the file type (0170000)
  // and its directory value (0040000)
  private val SetIdBits = 0xc00
  private val TypeBits = 0xf000
  private val DirType = 0x4000

  private lazy val inProcessChmod: Boolean =
    !NativeIO.isAvailable && FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
}
