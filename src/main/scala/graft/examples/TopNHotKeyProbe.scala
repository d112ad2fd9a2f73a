package graft.examples

import graft.streaming.{RetractableTopN, StreamOps}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Hot-key micro-bench for the r15 incremental RetractableTopN board:
  * one key, EVENTS inserts with ~25% retractions (live set grows into
  * the thousands), one micro-batch — the regime where the old
  * re-sort-per-event board was O(events x L log L).
  *
  *   sbt -batch "runMain graft.examples.TopNHotKeyProbe [events]"
  */
object TopNHotKeyProbe {
  case class E(k: String, id: Long, kind: String, score: Double, seq: Long)

  def main(args: Array[String]): Unit = {
    val events = args.headOption.map(_.toInt).getOrElse(4000)
    val spark = graft.LocalSession.build(cpus = 4)
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(7)
    var live = Vector.empty[Long]
    var nextId = 0L
    val h = (1 to events).map { i =>
      if (rnd.nextInt(100) < 75 || live.isEmpty) {
        nextId += 1; live :+= nextId
        E("hot", nextId, StreamOps.Insert, rnd.nextInt(1000).toDouble, i)
      } else {
        val v = live(rnd.nextInt(live.size)); live = live.filterNot(_ == v)
        E("hot", v, StreamOps.Delete, 0.0, i)
      }
    }
    val in = MemoryStream[E]
    val ckpt = java.nio.file.Files.createTempDirectory("topn_hot").toString
    val q = RetractableTopN(in.toDS(), 3, RetractableTopN.Rank, true)(
      _.k, _.kind, _.id, _.score, _.seq)
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .format("noop").start()
    in.addData(h.take(10)) // warm the stream machinery
    q.processAllAvailable()
    val t0 = System.nanoTime()
    in.addData(h.drop(10))
    q.processAllAvailable()
    println(f"HOTKEY events=$events liveEnd=${live.size} " +
      f"sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    q.stop()
    spark.stop()
  }
}
