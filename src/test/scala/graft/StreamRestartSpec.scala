package graft

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import graft.streaming.{ChangelogAgg, StreamOps, StreamingTopN}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** One changelog event of the restart legs (top-level: Spark's product
  * encoder rejects spec-inner classes). */
case class RsEv(id: Long, key: Long, kind: String, v: Double, ts: Timestamp)

/** Restart-mid-stream equivalence for the stateful ops of the `stream`
  * benchmark that had no such leg: a query stopped after a chunk and
  * started again from the same local checkpoint must emit, chunk for
  * chunk, exactly what one uninterrupted query emits. A state store,
  * offset log or commit log that loses or replays anything across the
  * restart shows up as a differing chunk (reference: Flink restores
  * keyed state from the last completed checkpoint, VLDB 2017).
  */
class StreamRestartSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val Chunks = 4
  private val StopAfter = 1 // chunks 0-1 before the restart, 2-3 after

  /** Seeded chunks of events over 5 keys. Each chunk spans the next
    * second of event time; a tenth arrive up to 400 ms out of order and,
    * from the third chunk on, a few arrive 4 s late (behind a 1 s
    * watermark). A fifth are `-U`/`+U` pairs retracting a value inserted
    * in an EARLIER chunk, so the chunks after the restart retract rows
    * only the restored state knows. */
  private def chunks(seed: Long): Seq[Seq[RsEv]] = {
    val rnd = new scala.util.Random(seed)
    var id = 0L
    var live = Vector.empty[(Long, Double)]
    (0 until Chunks).map { c =>
      val out = ArrayBuffer.empty[RsEv]
      val inserted = ArrayBuffer.empty[(Long, Double)]
      def ev(key: Long, kind: String, v: Double): Unit = {
        val shift = rnd.nextInt(100) match {
          case r if r < 3 && c >= 2 => 4000
          case r if r < 13 => rnd.nextInt(400)
          case _ => 0
        }
        out += RsEv(id, key, kind, v,
          new Timestamp(1700000000000L + c * 1000L + rnd.nextInt(1000) - shift))
        id += 1
      }
      while (out.size < 60) {
        val v = (1 + rnd.nextInt(50)).toDouble
        if (live.nonEmpty && rnd.nextInt(5) == 0) {
          val i = rnd.nextInt(live.size)
          val (k, old) = live(i)
          live = live.patch(i, Nil, 1)
          ev(k, StreamOps.UpdateBefore, old)
          ev(k, StreamOps.UpdateAfter, v)
          inserted += ((k, v))
        } else {
          val k = rnd.nextInt(5).toLong
          ev(k, StreamOps.Insert, v)
          inserted += ((k, v))
        }
      }
      live ++= inserted
      out.toSeq
    }
  }

  /** Feeds the chunks to `op` over one MemoryStream, one chunk at a time,
    * and returns what each chunk made the query emit (rows sorted). With
    * `restart` the query is stopped after chunk [[StopAfter]] and a new
    * one started on the same checkpoint and the same source. */
  private def emitted[T: Encoder](input: Seq[Seq[T]], restart: Boolean,
      mode: String)(op: Dataset[T] => DataFrame): Seq[Seq[String]] = {
    val in = MemoryStream[T]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_restart_ck").toString
    val rows = ArrayBuffer.empty[String]
    def start() = op(in.toDS()).writeStream.outputMode(mode)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rs = b.collect().map(_.mkString(","))
        rows.synchronized { rows ++= rs }
        ()
      }.start()
    var q = start()
    try input.zipWithIndex.map { case (chunk, i) =>
      val mark = rows.synchronized(rows.size)
      in.addData(chunk)
      q.processAllAvailable()
      val out = rows.synchronized(rows.drop(mark).toList).sorted
      if (restart && i == StopAfter) { q.stop(); q = start() }
      out
    } finally q.stop()
  }

  private def assertRestartInvisible[T: Encoder](input: Seq[Seq[T]], mode: String)(
      op: Dataset[T] => DataFrame): Unit = {
    val whole = emitted(input, restart = false, mode)(op)
    val restarted = emitted(input, restart = true, mode)(op)
    assert(whole.drop(StopAfter + 1).exists(_.nonEmpty),
      "the chunks after the restart must emit something")
    assert(restarted == whole,
      s"\nrestarted=$restarted\nuninterrupted=$whole")
  }

  test("ChangelogAgg.sumCount: a restart from the checkpoint emits what " +
      "an uninterrupted run emits, retractions of pre-restart rows included") {
    Seq(1L, 2L).foreach { seed =>
      assertRestartInvisible(chunks(seed), "update") { ds =>
        ChangelogAgg.sumCount(ds)(_.key, _.kind, _.v)
          .map(u => (u.row_kind, u.key, u.sum, u.count)).toDF()
      }
    }
  }

  test("StreamingTopN: a restart from the checkpoint emits what an " +
      "uninterrupted run emits") {
    Seq(3L, 4L).foreach { seed =>
      val inserts = chunks(seed).map(_.filter(_.kind == StreamOps.Insert))
      assertRestartInvisible(inserts, "update") { ds =>
        StreamingTopN(ds, 3)(_.key, _.v, _.id)
          .map(c => (c.row_kind, c.key, c.rank_no, c.payload.id)).toDF()
      }
    }
  }

  test("StreamOps.intervalJoin: a restart from the checkpoint emits what " +
      "an uninterrupted run emits, late rows dropped alike") {
    // even ids on the left, odd on the right, from one source, as in the
    // benchmark's interval_join: each chunk is one batch for both sides
    def join(ds: Dataset[RsEv]): DataFrame = {
      val events = ds.toDF().withWatermark("ts", "1 second")
      StreamOps.intervalJoin(
        events.filter(col("id") % 2 === 0)
          .select(col("key"), col("ts").as("l_ts"), col("id").as("l_id")),
        events.filter(col("id") % 2 === 1)
          .select(col("key"), col("ts").as("r_ts"), col("id").as("r_id")),
        "key", "l_ts", "r_ts", "50 milliseconds", "50 milliseconds")
        .select("l_id", "r_id")
    }
    Seq(5L, 6L).foreach(seed => assertRestartInvisible(chunks(seed), "append")(join))
  }
}
