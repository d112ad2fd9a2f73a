package graft.fs

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import graft.plans.GraftExtensions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` file system of graft sessions: Hadoop's `LocalFileSystem`
  * over a raw local file system that sets POSIX permissions through
  * java.nio instead of forking `chmod`.
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem.setPermission` runs
  * `Shell.execCommand("chmod", ...)`, and every local create and mkdirs
  * calls it: a checksummed create forks twice, once for the file and once
  * for its `.crc`. That is one process per state-store `.delta` file,
  * offset-log and commit-log entry, parquet part file and sidecar: 2,211
  * in one `stream` benchmark run. A checksummed 1-byte create took
  * 10.6-15.7 ms that way on one thread (11.6-15.6 ms per file per thread
  * with 4 writers), and 0.19-0.24 ms (0.43-0.55 ms) with
  * `Files.setPosixFilePermissions` (4 cores; CHANGES.md has the runs).
  *
  * It stays a `ChecksumFileSystem`, so `.crc` sidecars are still written
  * and verified. The mode bits are the ones the stock path sets: Hadoop
  * applies the umask (`fs.permissions.umask-mode`) before it calls
  * `setPermission`, and only the call itself changes. A permission NIO
  * cannot express (the sticky bit) and a default file store that is not
  * POSIX take the stock path.
  */
class LocalFiles extends LocalFileSystem(new LocalFiles.Raw)

/** Makes [[LocalFiles]] the `file:` file system, the way
  * `streaming.CheckpointFiles` becomes the checkpoint file manager: once
  * per JVM, from `GraftExtensions`, and only where the user set no
  * implementation. */
object LocalFiles {
  /** The SparkConf key that reaches every Hadoop conf Spark builds as
    * `fs.file.impl`. */
  val Key = "spark.hadoop.fs.file.impl"
  val Name: String = classOf[LocalFiles].getName

  /** `RawLocalFileSystem` with a fork-free `setPermission`. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      nioPermissions(permission).filter(_ => posixStore) match {
        case Some(perms) => Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        case None => super.setPermission(p, permission)
      }
  }

  private lazy val posixStore: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The NIO permission set with the mode bits of `permission`; `None`
    * when it has a bit above the nine rwx bits (the sticky bit), which NIO
    * cannot set. */
  def nioPermissions(permission: FsPermission): Option[java.util.Set[PosixFilePermission]] = {
    val mode = permission.toShort.toInt
    // PosixFilePermission's constants run OWNER_READ .. OTHERS_EXECUTE,
    // the mode bits 0400 .. 0001 in order
    if ((mode & ~0x1ff) != 0) None
    else Some(PosixFilePermission.values.zipWithIndex
      .collect { case (perm, i) if (mode & (0x100 >> i)) != 0 => perm }.toSet.asJava)
  }

  // Spark copies `spark.hadoop.*` into every Hadoop conf it builds
  private lazy val defaulted: Unit = GraftExtensions.defaultConf(Key, Name)

  /** Makes [[LocalFiles]] the `file:` file system of SparkContexts built
    * after this call, unless the key is set as a system property or in the
    * active SparkContext's conf; once per JVM, idempotent. */
  def ensureDefault(): Unit = defaulted
}
