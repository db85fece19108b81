package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem with POSIX permissions set
  * in-process.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * forks a `chmod` child for every file, `.crc` and directory a write
  * creates: about 2.5 ms each, some 300 per incremental medallion day.
  * This subclass sets the same bits (Hadoop has already applied the
  * umask) through `java.nio`, and keeps `.crc` checksums through
  * [[LocalFileSystem]]. [[TableCatalog]] installs it per write through
  * [[InProcessLocalFs.writeOptions]]; the session's and the JVM's Hadoop
  * configuration and the `FileSystem` cache are never touched.
  */
final class InProcessLocalFs extends LocalFileSystem(new InProcessLocalFs.Raw)

object InProcessLocalFs {

  /** `DataFrameWriter` options that route one write through this
    * filesystem. Spark copies writer options into the Hadoop conf it
    * hands to the output committer and the write tasks; the cache is
    * disabled for that conf because the cache key ignores `fs.file.impl`
    * and would return the default local filesystem. */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[InProcessLocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  final class Raw extends RawLocalFileSystem {
    /** The rwx bits of `permission`. Hadoop asks for the file and
      * directory defaults (0666/0777 under the umask), never a setuid,
      * setgid or sticky bit, which `java.nio` cannot set. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL))
  }
}
