package graft

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import graft.streaming.StreamOps
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{expr, lit}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.BroadcastBlockId
import org.scalatest.funsuite.AnyFunSuite

/** One interval-join input row (top-level: Spark's product encoder
  * rejects spec-inner classes). A `None` key is a null join key. */
case class IjRow(id: Long, key: Option[Long], ts: Timestamp)

/** `StreamOps.intervalJoin` (a keyed operator on flatMapGroupsWithState)
  * against Spark's own stream-stream join with the same time-range
  * condition, batch by batch. Both run in ONE query over the same two
  * sources, so they see the same micro-batches whatever the trigger
  * timing; each batch's output must be the same multiset, and each
  * batch's late-row count the same.
  */
class IntervalJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val BaseMs = 1700000000000L

  /** The reference: Spark's stream-stream join on the interval
    * condition (what `intervalJoin` ran before it owned its state). */
  private def nativeJoin(left: DataFrame, right: DataFrame, before: String,
      after: String): DataFrame =
    left.join(right,
      left("key") === right("key") &&
        right("r_ts") >= left("l_ts") - expr(s"INTERVAL $before") &&
        right("r_ts") <= left("l_ts") + expr(s"INTERVAL $after"))

  private def sides(l: MemoryStream[IjRow], r: MemoryStream[IjRow],
      lDelay: String, rDelay: String): (DataFrame, DataFrame) = (
    l.toDF().withWatermark("ts", lDelay)
      .select($"key", $"ts".as("l_ts"), $"id".as("l_id")),
    r.toDF().withWatermark("ts", rDelay)
      .select($"key", $"ts".as("r_ts"), $"id".as("r_id")))

  private def ms(t: Timestamp): Long = t.getTime

  /** A history: seeded chunks fed in a closed loop, each generated from
    * the watermark the previous chunk left. */
  private final class History(val seed: Long, val beforeMs: Long, val afterMs: Long,
      val lDelayMs: Long, val rDelayMs: Long, val noDataBatches: Boolean) {
    def before = s"$beforeMs milliseconds"
    def after = s"$afterMs milliseconds"
  }

  private final class Gen(h: History) {
    private val rnd = new scala.util.Random(h.seed)
    private var nextId = 0L
    private var maxL = 0L
    private var maxR = 0L
    /** Planted pairs that lie exactly on a bound (must join) and 1 us
      * outside one (must not). */
    val onBound = ArrayBuffer.empty[(Long, Long)]
    val offBound = ArrayBuffer.empty[(Long, Long)]
    private var prevLefts = Vector.empty[(Long, Long, Timestamp)]

    // Zipf(1.2) over 5 keys: one hot key with several rows per batch
    private val cdf = {
      val w = (1 to 5).map(k => 1.0 / math.pow(k, 1.2))
      w.scanLeft(0.0)(_ + _ / w.sum).tail
    }
    private def key(): Long = cdf.indexWhere(_ >= rnd.nextDouble()).max(0).toLong
    private def at(msTime: Long, us: Int = 0): Timestamp = {
      val t = new Timestamp(msTime)
      t.setNanos(t.getNanos + us * 1000)
      t
    }
    private def row(key: Option[Long], ts: Timestamp): IjRow = {
      nextId += 1
      IjRow(nextId, key, ts)
    }

    /** Chunk `c` given the current watermark `wm` (ms): (left, right). */
    def chunk(c: Int, wm: Long): (Seq[IjRow], Seq[IjRow]) = {
      val base = BaseMs + c * 1000L
      val ls = ArrayBuffer.empty[IjRow]
      val rs = ArrayBuffer.empty[IjRow]
      def regular(): Timestamp = {
        val t = base + rnd.nextInt(1000)
        // a seventh arrive out of order, within the smaller delay mostly
        at(if (rnd.nextInt(7) == 0) t - rnd.nextInt(400) else t, rnd.nextInt(1000))
      }
      (0 until 24).foreach { _ =>
        ls += row(Some(key()), regular())
        rs += row(Some(key()), regular())
      }
      if (c >= 2) (0 until 2).foreach { _ => // far beyond the watermark
        ls += row(Some(key()), at(base - 3000 - rnd.nextInt(500)))
        rs += row(Some(key()), at(base - 3000 - rnd.nextInt(500)))
      }
      if (c >= 1) { // exactly on the watermark (late) and 1 us past it
        Seq(0, 1).foreach { us =>
          ls += row(Some(key()), at(wm, us))
          rs += row(Some(key()), at(wm, us))
        }
      }
      // the eviction watermark this chunk's batch runs at, when no no-data
      // batch ran in between: rows in (wm, next] are not late, and a pair
      // of them past its drop point (t + after <= next) still joins
      val next = math.max(wm, math.min(maxL - h.lDelayMs, maxR - h.rDelayMs))
      if (!h.noDataBatches && wm > 0 && next - h.afterMs > wm + 1) {
        val k = key()
        val t = at(wm + 1 + rnd.nextInt((next - h.afterMs - wm - 1).toInt))
        ls += row(Some(k), t)
        rs += row(Some(k), t)
      }
      // on and just outside both bounds of two fresh left rows, and of a
      // left row of the previous chunk (a cross-batch match)
      val fresh = ls.take(2).map(l => (l.id, l.key.get, l.ts))
      (fresh ++ prevLefts.take(1)).foreach { case (lId, k, lt) =>
        val lo = ms(lt) - h.beforeMs
        val hi = ms(lt) + h.afterMs
        val us = lt.getNanos / 1000 % 1000
        Seq((lo, us, true), (hi, us, true), (lo, us - 1, false), (hi, us + 1, false))
          .foreach { case (m, u, hit) =>
            val r = row(Some(k), at(m + Math.floorDiv(u, 1000), Math.floorMod(u, 1000)))
            if (ms(r.ts) > wm || (ms(r.ts) == wm && r.ts.getNanos % 1000000 != 0)) {
              rs += r
              (if (hit) onBound else offBound) += ((lId, r.id))
            }
          }
      }
      prevLefts = fresh.toVector
      // null keys watermark but never join
      ls += row(None, regular()); rs += row(None, regular())
      maxL = math.max(maxL, ls.map(x => ms(x.ts)).max)
      maxR = math.max(maxR, rs.map(x => ms(x.ts)).max)
      (rnd.shuffle(ls.toSeq), rnd.shuffle(rs.toSeq))
    }

    /** Null-key rows an hour ahead on both sides: the watermark passes
      * every buffered row, and nothing new is buffered. */
    def flush(): (Seq[IjRow], Seq[IjRow]) = {
      val t = at(BaseMs + 3600000L)
      (Seq(row(None, t)), Seq(row(None, t)))
    }
  }

  private def watermarkMs(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
      .map(w => java.time.Instant.parse(w).toEpochMilli).getOrElse(0L)

  private def replay(h: History, chunks: Int): Unit = {
    val lIn = MemoryStream[IjRow]
    val rIn = MemoryStream[IjRow]
    val (l, r) = sides(lIn, rIn, s"${h.lDelayMs} milliseconds", s"${h.rDelayMs} milliseconds")
    val graft = StreamOps.intervalJoin(l, r, "key", "l_ts", "r_ts", h.before, h.after)
    val native = nativeJoin(l, r, h.before, h.after)
    assert(graft.schema.map(f => (f.name, f.dataType)) ==
      native.schema.map(f => (f.name, f.dataType)))
    val cols = graft.columns.indices.map(i => s"c$i")
    val both = graft.toDF(cols: _*).withColumn("impl", lit("graft"))
      .union(native.toDF(cols: _*).withColumn("impl", lit("native")))
    val out = ArrayBuffer.empty[(Long, String, Row)]
    // Confs are read when the query starts. Exchange reuse stays off:
    // with it on, two identical Spark joins in one query were seen to
    // disagree on rows exactly on the watermark.
    val confs = Map("spark.sql.streaming.noDataMicroBatches.enabled" -> h.noDataBatches.toString,
      "spark.sql.exchange.reuse" -> "false")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val q = try both.writeStream.outputMode("append").foreachBatch {
      (b: DataFrame, id: Long) =>
        val rows = b.collect()
        out.synchronized(rows.foreach(x =>
          out += ((id, x.getString(x.length - 1), Row.fromSeq(x.toSeq.init)))))
        ()
    }.start() finally confs.keys.foreach(spark.conf.unset)
    val gen = new Gen(h)
    try {
      def feed(c: (Seq[IjRow], Seq[IjRow])): Unit = {
        lIn.addData(c._1); rIn.addData(c._2); q.processAllAvailable()
      }
      (0 until chunks).foreach(c => feed(gen.chunk(c, watermarkMs(q))))
      feed(gen.flush())
      // without no-data batches, timers fire only in the next data batch
      if (!h.noDataBatches) feed(gen.flush())

      val progress = q.recentProgress.toSeq.filter(_.stateOperators.nonEmpty)
      def op(p: org.apache.spark.sql.streaming.StreamingQueryProgress, graftOp: Boolean) =
        p.stateOperators.find(s => (s.operatorName == "flatMapGroupsWithState") == graftOp)
          .getOrElse(sys.error(p.stateOperators.map(_.operatorName).mkString(",")))
      val byBatch = out.synchronized(out.toList).groupBy(_._1)
      progress.map(_.batchId).distinct.foreach { id =>
        val rows = byBatch.getOrElse(id, Nil)
        def of(impl: String) = rows.filter(_._2 == impl).map(_._3.mkString("|")).sorted
        assert(of("graft") == of("native"), s"seed ${h.seed} batch $id")
      }
      progress.foreach { p =>
        assert(op(p, graftOp = true).numRowsDroppedByWatermark ==
          op(p, graftOp = false).numRowsDroppedByWatermark, s"seed ${h.seed} batch ${p.batchId}")
      }
      // the history covers what it claims
      val pairs = out.synchronized(out.toList).filter(_._2 == "native")
        .map(x => (x._3.getLong(2), x._3.getLong(5))).toSet
      assert(progress.map(p => op(p, graftOp = false).numRowsDroppedByWatermark).sum > 0)
      assert(byBatch.size >= chunks / 2)
      assert(gen.onBound.nonEmpty && gen.onBound.forall(pairs), gen.onBound)
      assert(gen.offBound.nonEmpty && !gen.offBound.exists(pairs), gen.offBound)
      assert(op(q.lastProgress, graftOp = true).numRowsTotal == 0,
        "graft's interval join still holds state after the final watermark")
    } finally q.stop()
  }

  test("intervalJoin emits what Spark's stream-stream join emits, batch " +
      "by batch (before 300 ms, after 0; watermark delays 200/600 ms)") {
    replay(new History(11L, beforeMs = 300L, afterMs = 0L,
      lDelayMs = 200L, rDelayMs = 600L, noDataBatches = true), chunks = 7)
  }

  test("intervalJoin emits what Spark's stream-stream join emits, batch " +
      "by batch, without no-data batches (before 0, after 450 ms; delays " +
      "700/250 ms)") {
    replay(new History(12L, beforeMs = 0L, afterMs = 450L,
      lDelayMs = 700L, rDelayMs = 250L, noDataBatches = false), chunks = 7)
  }

  test("intervalJoin rejects a stream side whose time column carries no " +
      "watermark, naming the side and the column") {
    val lIn = MemoryStream[IjRow]
    val rIn = MemoryStream[IjRow]
    val (l, r) = sides(lIn, rIn, "1 second", "1 second")
    val lBare = lIn.toDF().select($"key", $"ts".as("l_ts"), $"id".as("l_id"))
    val rBare = rIn.toDF().select($"key", $"ts".as("r_ts"), $"id".as("r_id"))
    val noRight = intercept[IllegalArgumentException](StreamOps.intervalJoin(
      l, rBare, "key", "l_ts", "r_ts", "1 second", "1 second"))
    assert(noRight.getMessage.contains("right side's time column `r_ts`"), noRight.getMessage)
    val noLeft = intercept[IllegalArgumentException](StreamOps.intervalJoin(
      lBare, r, "key", "l_ts", "r_ts", "1 second", "1 second"))
    assert(noLeft.getMessage.contains("left side's time column `l_ts`"), noLeft.getMessage)
  }

  test("one intervalJoin micro-batch makes at most 4 broadcasts") {
    // Spark's stream-stream join broadcast the session's Hadoop
    // configuration from its constructor, once per copy of the plan
    // node: ~36 times per micro-batch
    val in = MemoryStream[IjRow]
    val events = in.toDF().withWatermark("ts", "1 second")
    val joined = StreamOps.intervalJoin(
      events.filter($"id" % 2 === 0).select($"key", $"ts".as("l_ts"), $"id".as("l_id")),
      events.filter($"id" % 2 === 1).select($"key", $"ts".as("r_ts"), $"id".as("r_id")),
      "key", "l_ts", "r_ts", "10 milliseconds", "10 milliseconds")
    val q = joined.writeStream.outputMode("append")
      .foreachBatch((b: DataFrame, _: Long) => { b.collect(); () }).start()
    val ids = scala.collection.mutable.Set.empty[Long]
    val listener = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
        val b = e.blockUpdatedInfo
        b.blockId match {
          case BroadcastBlockId(id, _) if b.storageLevel.isValid => ids.synchronized(ids += id)
          case _ =>
        }
      }
    }
    def chunk(from: Int) = (from until from + 200).map(i =>
      IjRow(i, Some(i % 7L), new Timestamp(BaseMs + i * 5L)))
    try {
      in.addData(chunk(0)); q.processAllAvailable()
      val before = q.lastProgress.batchId
      GraftSqlBridge.awaitListeners(spark)
      spark.sparkContext.addSparkListener(listener)
      // event times under the first chunk's maximum: the watermark stays,
      // so this is exactly one micro-batch
      in.addData(chunk(0).map(e => e.copy(id = e.id + 1000))); q.processAllAvailable()
      GraftSqlBridge.awaitListeners(spark)
      assert(q.lastProgress.batchId == before + 1)
      assert(ids.size <= 4, s"${ids.size} broadcasts in one micro-batch")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      q.stop()
    }
  }
}
