package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system, minus the `chmod` processes.
  *
  * Without `libhadoop`, `RawLocalFileSystem.setPermission` forks a
  * `chmod` for every file and directory it creates (about 3 ms each from a
  * large JVM, several per parquet part and state-store delta). This one
  * sets the same mode bits with a syscall; files, `.crc` sidecars and
  * modes are otherwise exactly Hadoop's. The engine routes its own local
  * writes here through [[HadoopConfs]], per write or per stream query,
  * never session- or JVM-wide. */
final class LocalFs extends LocalFileSystem(new LocalFs.PosixRaw)

object LocalFs {

  /** `setPermission` through `java.nio`; a sticky bit, which nio cannot
    * set, keeps Hadoop's path. */
  final class PosixRaw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val mode = permission.toShort
        // PosixFilePermission lists owner rwx, group rwx, others rwx:
        // bits 8 down to 0 of the mode
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
          if ((mode & (1 << (8 - i))) != 0) perms.add(pp) }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
  }

  /** The Hadoop keys that put a write's `file:` paths on [[LocalFs]]. The
    * cache must be off for them: Hadoop caches one file system per scheme
    * and user, whichever conf created it first. */
  val HadoopConfs: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Whether `path` resolves to the local file system under `conf`. */
  def isLocal(path: String, conf: Configuration): Boolean =
    Option(new Path(path).toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"
}
