package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem (`file:`) without its shell-outs.
  *
  * Without the native `libhadoop` (the usual case for a Spark
  * distribution's jars) Hadoop 3.4's `RawLocalFileSystem` forks a
  * process for two of its commonest operations:
  *   - every create and mkdir sets the new file's mode by running
  *     `chmod` (`setPermission`);
  *   - every `FileContext` rename asks `getFileLinkStatus` of source
  *     and destination, and each of those runs `readlink`.
  * Structured Streaming commits each micro-batch through exactly these
  * calls: offset and commit log entries are written to a temp file and
  * renamed, and every state-store delta file and its checksum are
  * created and renamed. A JFR recording (`jdk.ProcessStart`, counted
  * by `tools/jfr_forks.py`) of one run of the benchmark's three keyed
  * stream detectors (36 micro-batches) counted about 3,860 child
  * processes, 3,024 `readlink` and 816 `chmod`, and a traced pass spent
  * 7.9 of its 10.5 s in Spark jobs. Through this class the same run
  * forks about 20 times, its jobs take 4.4 s, and it writes the same
  * files and bytes.
  *
  * What changes, in the raw filesystem ([[LocalFs.Raw]]) only:
  *   - `setPermission` is one `Files.setPosixFilePermissions` call;
  *   - `getFileLinkStatus` of a path that is not a symlink is its
  *     `getFileStatus` (which is what Hadoop returns for it, after the
  *     `readlink` has come back empty).
  * What falls back to Hadoop's own code, unchanged: a path that is a
  * symlink (or a dangling one), a mode with the sticky bit, and a
  * filesystem without POSIX attributes. Checksums (`.crc` files),
  * rename and overwrite semantics, listing and reading are Hadoop's.
  *
  * Bound for every session in the JVM by `core-site.xml` on the class
  * path (`fs.file.impl` for [[org.apache.hadoop.fs.FileSystem]],
  * `fs.AbstractFileSystem.file.impl` for
  * [[org.apache.hadoop.fs.FileContext]]). A deployment whose own
  * `core-site.xml` comes earlier on the class path overrides the
  * binding: graft stays correct there but forks again.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** POSIX mode bits, owner-read first: `PosixFilePermission` declares
    * its nine constants in `rwxrwxrwx` order. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (1 << (8 - i))) != 0) set.add(p)
    }
    set
  }

  /** `RawLocalFileSystem` with fork-free mode setting and link status. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else try {
        Files.setPosixFilePermissions(pathToFile(p).toPath,
          posix(permission.toShort.toInt))
      } catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
        case e: NoSuchFileException =>
          throw new FileNotFoundException(e.getMessage)
      }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath))
        super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** The `FileContext` side: `ChecksumFs` over [[RawAfs]], as Hadoop's
    * `org.apache.hadoop.fs.local.LocalFs` is over its `RawLocalFs`.
    * Hadoop instantiates it reflectively with `(URI, Configuration)`;
    * like Hadoop's, it serves `file:///` whatever the URI. */
  class Afs(uri: URI, conf: Configuration)
      extends ChecksumFs(new RawAfs(conf))

  /** `org.apache.hadoop.fs.local.RawLocalFs` over [[Raw]]. */
  class RawAfs(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new Raw, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    @deprecated("as in AbstractFileSystem", "3.0")
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
