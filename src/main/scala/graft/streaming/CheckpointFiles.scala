package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.internal.SQLConf

/** The checkpoint file manager of graft sessions: how offset logs,
  * commit logs and state-store delta/snapshot files (the Structured
  * Streaming form of Flink's barrier snapshots, SURVEY §3.3) reach the
  * disk.
  *
  * For `file:` paths it is Spark's `FileSystemBasedCheckpointFileManager`;
  * for every other scheme it is whatever Spark picks when no manager
  * class is set (`FileContext` for HDFS, falling back to `FileSystem`
  * for schemes without an `AbstractFileSystem`).
  *
  * Why not Spark's default on `file:`: `FileContext`'s overwrite-rename
  * of a local file asks `RawLocalFileSystem` for the destination's link
  * status, which without libhadoop forks a `readlink` process per
  * rename. Every micro-batch renames its offset-log and commit-log
  * entries and each stateful partition's delta file, plus their `.crc`
  * and checksum sidecars: 7,416 forks in one `stream` benchmark run,
  * and most of its state commit time (589 → 27 ms per pass, 4 cores;
  * CHANGES.md has the runs). On a POSIX disk `FileSystem.rename` is
  * `rename(2)`, an atomic replace, so the commit protocol keeps its
  * guarantee: `createAtomic` output stays invisible until `close`.
  * `LocalFileSystem` is a `ChecksumFileSystem` like `FileContext`'s
  * `LocalFs`, so `.crc` sidecars are still written and verified.
  */
class CheckpointFiles(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  private[graft] val delegate: CheckpointFileManager =
    if (CheckpointFiles.isLocal(path, hadoopConf))
      new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    else {
      // Spark's own choice, made on a copy without this class's name so
      // that CheckpointFileManager.create does not construct it again
      val c = new Configuration(hadoopConf)
      c.unset(CheckpointFiles.Key)
      CheckpointFileManager.create(path, c)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(p, filter)
  override def list(p: Path): Array[FileStatus] = delegate.list(p)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

/** Installs [[CheckpointFiles]] as the default manager, the way
  * `plans.CodegenCache` sizes the compiled-class cache: once per JVM,
  * from `GraftExtensions`, and only where the user set no manager. */
object CheckpointFiles {
  val Key: String = SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key
  val Name: String = classOf[CheckpointFiles].getName

  /** Whether `path` names the local file system: its own scheme, or the
    * default file system's when it has none. */
  private def isLocal(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** The manager class to default to, given the user's own setting if
    * any: `None` keeps the user's value. */
  def defaultFor(userValue: Option[String]): Option[String] =
    if (userValue.isDefined) None else Some(Name)

  // A system property reaches the SparkConf that `getOrCreate` builds
  // next, and from there every session's SQLConf and the Hadoop conf
  // each query hands to CheckpointFileManager.create. A builder
  // `.config` or a session conf set later overrides it.
  private lazy val defaulted: Unit =
    defaultFor(sys.props.get(Key).orElse(GraftSqlBridge.activeContextConf(Key)))
      .foreach(name => sys.props(Key) = name)

  /** Makes [[CheckpointFiles]] the default for SparkContexts built after
    * this call, unless the key is set as a system property or in the
    * active SparkContext's conf; once per JVM, idempotent. */
  def ensureDefault(): Unit = defaulted

  /** Sets [[CheckpointFiles]] on a live session unless it has a manager. */
  def install(spark: SparkSession): Unit =
    defaultFor(spark.conf.getOption(Key)).foreach(spark.conf.set(Key, _))
}
