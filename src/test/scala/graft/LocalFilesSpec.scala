package graft

import java.io.File
import java.net.URI
import java.nio.file.{Files, StandardOpenOption}
import java.nio.file.attribute.{PosixFilePermission, PosixFilePermissions}

import scala.jdk.CollectionConverters._

import graft.fs.LocalFiles
import graft.plans.GraftExtensions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FSDataInputStream, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalFiles]], graft's `file:` file system: the stock mode bits without
  * a `chmod` fork, the checksum layer kept, and its installation. */
class LocalFilesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def conf(umask: String): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** A fresh instance outside Hadoop's per-JVM cache. */
  private def init[F <: FileSystem](fs: F, c: Configuration): F = {
    fs.initialize(URI.create("file:///"), c)
    fs
  }

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toFile

  private def write(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** Every file and directory below `root`, by relative path, with its
    * rwx string. */
  private def modes(root: File): Map[String, String] = {
    def walk(f: File): Seq[File] =
      f +: Option(f.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(walk)
    walk(root).tail.map(f => root.toPath.relativize(f.toPath).toString ->
      PosixFilePermissions.toString(Files.getPosixFilePermissions(f.toPath))).toMap
  }

  test("files and directories get stock RawLocalFileSystem's mode bits " +
      "under umasks 022 and 077") {
    Seq("022" -> ("rw-r--r--", "rwxr-xr-x"), "077" -> ("rw-------", "rwx------"))
      .foreach { case (umask, (fileMode, dirMode)) =>
        val trees = Seq(new LocalFileSystem, new LocalFiles).map { fs =>
          init(fs, conf(umask))
          val root = tmp("graft_localfiles_mode")
          def p(rel: String) = new Path(root.toURI.toString + rel)
          write(fs, p("a/b/default"), "x")
          fs.create(p("a/explicit"), new FsPermission(Integer.parseInt("751", 8).toShort),
            true, 4096, 1.toShort, 1L << 20, null).close()
          fs.mkdirs(p("c/d"))
          fs.mkdirs(p("e"), new FsPermission(Integer.parseInt("750", 8).toShort))
          write(fs, p("f"), "y")
          fs.setPermission(p("f"), new FsPermission(Integer.parseInt("604", 8).toShort))
          fs.close()
          modes(root)
        }
        val Seq(stock, graft) = trees
        assert(graft == stock, s"umask $umask")
        assert(stock("a/b/default") == fileMode && stock("a/b/.default.crc") == fileMode, stock)
        assert(stock("a") == dirMode && stock("c/d") == dirMode, stock)
        assert(stock("f") == "rw----r--", stock)
      }
  }

  test(".crc sidecars are written, and a corrupted data byte fails the read " +
      "with ChecksumException") {
    // on a checksum failure LocalFileSystem tries to move the file to a
    // `bad_files` directory at the top of its mount (found by forking
    // `df`); this instance keeps it in place, and the read still fails
    val fs = init(new LocalFiles {
      override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
          sums: FSDataInputStream, sumsPos: Long): Boolean = false
    }, conf("022"))
    val root = tmp("graft_localfiles_crc")
    val p = new Path(root.toURI.toString + "data")
    write(fs, p, "the quick brown fox")
    assert(root.list().toSet == Set("data", ".data.crc"))

    val data = new File(root, "data").toPath
    val bytes = Files.readAllBytes(data)
    bytes(4) = (bytes(4) ^ 0x01).toByte
    Files.write(data, bytes, StandardOpenOption.TRUNCATE_EXISTING)
    val in = fs.open(p)
    try intercept[ChecksumException](in.readAllBytes()) finally in.close()
    fs.close()
  }

  test("a sticky-bit permission takes the stock path") {
    val rwx = LocalFiles.nioPermissions(new FsPermission(Integer.parseInt("754", 8).toShort))
    assert(rwx.map(_.asScala.toSet).contains(Set(PosixFilePermission.OWNER_READ,
      PosixFilePermission.OWNER_WRITE, PosixFilePermission.OWNER_EXECUTE,
      PosixFilePermission.GROUP_READ, PosixFilePermission.GROUP_EXECUTE,
      PosixFilePermission.OTHERS_READ)))
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    // nine characters like any other mode: its length does not tell
    assert(sticky.toString == "rwxrwxrwt")
    assert(LocalFiles.nioPermissions(sticky).isEmpty)

    val fs = init(new LocalFiles, conf("022"))
    val dir = tmp("graft_localfiles_sticky")
    fs.setPermission(new Path(dir.toURI), sticky)
    fs.close()
    // `unix:mode` has the bits NIO cannot set: only `chmod` set this one
    val mode = Files.getAttribute(dir.toPath, "unix:mode").asInstanceOf[Int]
    assert((mode & Integer.parseInt("7777", 8)) == Integer.parseInt("1777", 8),
      Integer.toOctalString(mode))
  }

  test("a user-set fs.file.impl wins") {
    val user = classOf[LocalFileSystem].getName
    val before = sys.props.get(LocalFiles.Key)
    sys.props(LocalFiles.Key) = user
    try {
      GraftExtensions.defaultConf(LocalFiles.Key, LocalFiles.Name)
      assert(sys.props(LocalFiles.Key) == user)
    } finally before match {
      case Some(v) => sys.props(LocalFiles.Key) = v
      case None => sys.props -= LocalFiles.Key
    }
    // graft's default is only a conf value: a conf naming another class
    // gets that class
    val c = conf("022")
    c.set("fs.file.impl", user)
    val fs = FileSystem.newInstance(URI.create("file:///"), c)
    try assert(fs.getClass == classOf[LocalFileSystem]) finally fs.close()
  }

  test("FileSystem.get(file:///) on the session's Hadoop conf is graft's") {
    val c = spark.sparkContext.hadoopConfiguration
    assert(sys.props.get(LocalFiles.Key).contains(LocalFiles.Name))
    assert(c.get("fs.file.impl") == LocalFiles.Name)
    assert(FileSystem.get(URI.create("file:///"), c).getClass == classOf[LocalFiles])
    assert(FileSystem.getLocal(c).getClass == classOf[LocalFiles])
  }
}
