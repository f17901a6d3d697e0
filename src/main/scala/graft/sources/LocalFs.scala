package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system, with a `setPermission` that
  * does not fork. Without the native libhadoop,
  * `RawLocalFileSystem.setPermission` runs `chmod` as a child process
  * (about 10 ms each), and a Parquet write's commit protocol calls it
  * for every directory and file it creates, `.crc` files and `_SUCCESS`
  * included: about ten forks per write. This one sets the same nine
  * permission bits through `java.nio`. A mode those bits cannot carry —
  * a requested sticky bit, or a path that already has setuid, setgid or
  * sticky set (which `chmod` with a four-digit mode keeps on a
  * directory) — still goes through Hadoop's own call. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val f = pathToFile(p).toPath
      val special = 0xe00 // setuid | setgid | sticky (octal 7000)
      if (permission.getStickyBit ||
          (Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & special) != 0)
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(f,
        PosixFilePermissions.fromString(permission.toString))
    }
  }

  /** Writer options that route one write's `file:` paths through
    * LocalFs. They reach only that write's Hadoop conf; the FileSystem
    * cache is keyed by scheme, not by class, so the write bypasses it. */
  val WriterOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")
}
