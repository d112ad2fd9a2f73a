package graft

import java.io.File
import java.nio.file.{Files, StandardOpenOption}
import java.util.concurrent.atomic.AtomicInteger

import graft.streaming.CheckpointFiles
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** A manager class a session can name instead of graft's default; counts
  * its instances so a test can tell which class a query used. */
class CountingCheckpointFiles(path: Path, conf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, conf) {
  CountingCheckpointFiles.created.incrementAndGet()
}
object CountingCheckpointFiles {
  val created = new AtomicInteger
}

/** A `FileSystem` under a scheme with no `AbstractFileSystem`, so
  * `FileContext` cannot serve it. */
class NoFileContextFs extends RawLocalFileSystem {
  override def getScheme: String = "graftnofc"
}

class CheckpointFilesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def conf = new Configuration(spark.sparkContext.hadoopConfiguration)
  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toFile

  test("file: paths get Spark's FileSystem-based manager; other schemes " +
      "get Spark's own choice, its FileSystem fallback included") {
    def delegate(p: String, c: Configuration = conf) =
      new CheckpointFiles(new Path(p), c).delegate
    val dir = tmp("graft_cfm")
    assert(delegate(s"file:$dir/a").isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(delegate(s"$dir/b").isInstanceOf[FileSystemBasedCheckpointFileManager],
      "a path without a scheme is on the default file system, file:")
    // the session's own conf names this class; it must not recurse
    val named = conf
    named.set(CheckpointFiles.Key, CheckpointFiles.Name)
    assert(delegate("hdfs://localhost:9/ck", named)
      .isInstanceOf[FileContextBasedCheckpointFileManager])
    val noFc = conf
    noFc.set("fs.graftnofc.impl", classOf[NoFileContextFs].getName)
    assert(delegate("graftnofc:/ck", noFc).isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  test("createAtomic output is invisible until close; cancel leaves no " +
      "file; overwriteIfPossible = false refuses an existing file") {
    val dir = tmp("graft_cfm_atomic")
    val fm = new CheckpointFiles(new Path(dir.toURI), conf)
    def visible = dir.list().toSet
    val target = new Path(dir.toURI.toString + "/0")

    val out = fm.createAtomic(target, overwriteIfPossible = true)
    out.write("first".getBytes("UTF-8"))
    assert(!fm.exists(target), s"visible before close: $visible")
    out.close()
    assert(fm.exists(target))
    assert(visible == Set("0", ".0.crc"))

    val cancelled = fm.createAtomic(new Path(dir.toURI.toString + "/1"), overwriteIfPossible = true)
    cancelled.write("never".getBytes("UTF-8"))
    cancelled.cancel()
    assert(visible == Set("0", ".0.crc"), "cancel must leave no file, temp or sidecar")

    val refused = fm.createAtomic(target, overwriteIfPossible = false)
    refused.write("second".getBytes("UTF-8"))
    intercept[FileAlreadyExistsException](refused.close())
    val in = fm.open(target)
    try assert(new String(in.readAllBytes(), "UTF-8") == "first") finally in.close()
  }

  test("graft's manager is the session default; a builder or session " +
      "setting wins, and install leaves a set value alone") {
    assert(CheckpointFiles.defaultFor(Some("x")).isEmpty)
    assert(CheckpointFiles.defaultFor(None).contains(CheckpointFiles.Name))
    assert(spark.newSession().conf.get(CheckpointFiles.Key) == CheckpointFiles.Name)

    val s = spark.newSession()
    s.conf.unset(CheckpointFiles.Key)
    CheckpointFiles.install(s)
    assert(s.conf.get(CheckpointFiles.Key) == CheckpointFiles.Name)

    val counting = classOf[CountingCheckpointFiles].getName
    SparkSession.setActiveSession(s)
    try {
      // with a session active, the builder applies its settings to it
      SparkSession.builder().config(CheckpointFiles.Key, counting).getOrCreate()
      assert(s.conf.get(CheckpointFiles.Key) == counting)
      CheckpointFiles.install(s)
      assert(s.conf.get(CheckpointFiles.Key) == counting)
      val before = CountingCheckpointFiles.created.get
      val in = MemoryStream[(String, Int)](s)
      val q = counts(in.toDF(), tmp("graft_cfm_builder").toString)
      in.addData(("a", 1)); q.processAllAvailable(); q.stop()
      assert(CountingCheckpointFiles.created.get > before)
    } finally SparkSession.setActiveSession(spark)
    assert(spark.conf.get(CheckpointFiles.Key) == CheckpointFiles.Name)
  }

  private def counts(df: DataFrame, ckpt: String): StreamingQuery =
    df.groupBy("_1").count().writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch((b: DataFrame, _: Long) => { b.collect(); () }).start()

  /** Runs a keyed count over two chunks into a fresh checkpoint, stopped. */
  private def committedCheckpoint(): (File, MemoryStream[(String, Int)]) = {
    val ckpt = tmp("graft_cfm_ck")
    val in = MemoryStream[(String, Int)]
    val q = counts(in.toDF(), ckpt.toString)
    in.addData((1 to 200).map(i => (s"k${i % 17}", i))); q.processAllAvailable()
    in.addData((1 to 200).map(i => (s"k${i % 23}", i))); q.processAllAvailable()
    q.stop()
    (ckpt, in)
  }

  private def files(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))

  test("Hadoop .crc and Spark's checkpoint checksum sidecars are still written") {
    val (ckpt, _) = committedCheckpoint()
    val names = files(ckpt).map(f => ckpt.toPath.relativize(f.toPath).toString).toSet
    Seq("offsets/.0.crc", "offsets/.1.crc", "commits/.0.crc", "commits/.1.crc")
      .foreach(n => assert(names(n), s"$n missing in $names"))
    val deltas = names.filter(_.endsWith(".delta"))
    assert(deltas.nonEmpty, names)
    deltas.foreach { d =>
      val (parent, name) = d.splitAt(d.lastIndexOf('/') + 1)
      assert(names(s"$parent.$name.crc"), s"Hadoop sidecar of $d missing")
      assert(names(s"$d.crc"), s"checkpoint checksum of $d missing")
    }
  }

  test("a flipped byte in a committed state .delta file fails the " +
      "restarted query with a checksum error") {
    val (ckpt, in) = committedCheckpoint()
    val delta = files(ckpt).filter(_.getName.endsWith(".delta")).maxBy(_.length)
    val bytes = Files.readAllBytes(delta.toPath)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x01).toByte
    Files.write(delta.toPath, bytes, StandardOpenOption.TRUNCATE_EXISTING)
    val q = counts(in.toDF(), ckpt.toString)
    in.addData(("k1", 1))
    val e = intercept[Exception](q.processAllAvailable())
    q.stop()
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => s"${t.getClass.getName}: ${t.getMessage}").toList
    assert(chain.exists(_.toLowerCase.contains("checksum")), chain.mkString("\n"))
  }
}
