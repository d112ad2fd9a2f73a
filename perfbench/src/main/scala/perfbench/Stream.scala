package perfbench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming._

/** One generated event. `seq` is its arrival position, `ts` its event
  * time, `late` marks an event sent beyond the watermark. */
final case class Ev(id: Long, seq: Long, ts: Timestamp, key: Long,
    kind: String, v: Double, late: Boolean)

final case class Doc(doc_id: Long, source: String, text: String)

/** The seeded event generator of the `stream` workload. Each chunk carries
  * events whose event times lie in the next span of the generator's clock,
  * except that a share arrives out of order (shifted back by up to half the
  * watermark delay) and, from the third chunk on, a small share arrives
  * beyond the watermark (shifted back by four delays). Spark drops an event
  * as late against the watermark of the micro-batch before the previous
  * one, which is first set after two micro-batches; so the third chunk is
  * the first whose late events are surely dropped. Keys
  * are Zipf-skewed. A share of events are changelog updates: a `-U`
  * retracting an earlier insert of the same key and a `+U` carrying the
  * new value, always in a later chunk than the insert. */
final class Generator(seed: Long) {
  import Generator._
  private val rng = new java.util.Random(seed)
  private var nextId = 0L
  private var nextSeq = 0L
  private val live = ArrayBuffer.empty[(Long, Double)]
  private val zipf: Array[Double] = {
    val w = (1 to Keys).map(k => 1.0 / math.pow(k, ZipfS))
    val total = w.sum
    w.scanLeft(0.0)(_ + _ / total).tail.toArray
  }
  private def key(): Long = {
    val i = java.util.Arrays.binarySearch(zipf, rng.nextDouble())
    (if (i >= 0) i else math.min(-i - 1, Keys - 1)).toLong
  }
  private def ev(ts: Timestamp, key: Long, kind: String, v: Double, late: Boolean): Ev = {
    val e = Ev(nextId, nextSeq, ts, key, kind, v, late)
    nextId += 1; nextSeq += 1
    e
  }

  private var clockMs = BaseMs
  private var chunks = 0

  /** The next `rows` or so events in arrival order, their event times in
    * the next `spanMs` of the generator's clock. */
  def events(rows: Int, spanMs: Int): IndexedSeq[Ev] = {
    val out = ArrayBuffer.empty[Ev]
    val inserted = ArrayBuffer.empty[(Long, Double)]
    while (out.size < rows) {
      val r = rng.nextDouble()
      val late = chunks >= 2 && r < LateShare
      val ooo = !late && r < LateShare + OutOfOrderShare
      val ts = new Timestamp(clockMs + rng.nextInt(spanMs) -
        (if (ooo) rng.nextInt(DelayMs / 2) else 0) - (if (late) 4L * DelayMs else 0L))
      val v = (rng.nextInt(100) + 1).toDouble
      if (live.nonEmpty && rng.nextDouble() < UpdateShare) {
        val i = rng.nextInt(live.size)
        val (k, old) = live(i)
        live(i) = live.last
        live.remove(live.size - 1)
        out += ev(ts, k, StreamOps.UpdateBefore, old, late)
        out += ev(ts, k, StreamOps.UpdateAfter, v, late)
        inserted += ((k, v))
      } else {
        val k = key()
        out += ev(ts, k, StreamOps.Insert, v, late)
        inserted += ((k, v))
      }
    }
    clockMs += spanMs
    chunks += 1
    // Inserted values become retractable only from the next chunk on.
    live ++= inserted
    out.toVector
  }

  /** `rows` documents, about a tenth of them near-duplicates (the same
    * token set) of one of the ten before; ids increase across calls. */
  def docs(rows: Int): IndexedSeq[Doc] = (0 until rows).map { _ =>
    val id = nextId; nextId += 1
    val recipe = if (id >= 10 && rng.nextDouble() < 0.1) id - 1 - rng.nextInt(10) else id
    val text = (0 until 12).map(j => "w" + ((recipe * 131 + j * 7919) % 40000)).mkString(" ")
    Doc(id, "s" + (id % 4), text)
  }
}

object Generator {
  val Keys = 1000
  val ZipfS = 1.1
  /** The watermark delay: a closed-loop chunk spans one such delay of event
    * time, so the watermark moves on, and join state is evicted, every
    * chunk. */
  val DelayMs = 1000
  val OutOfOrderShare = 0.1
  val LateShare = 0.01
  val UpdateShare = 0.2
  val BaseMs = 1700000000000L
}

/** A running query of one op, fed through its MemoryStream. */
trait Leg {
  def query: StreamingQuery
  /** Adds one chunk; returns the source offset it ends at. */
  def feed(rows: Seq[Any]): Long
  /** The op's output so far, each row rendered as a string. */
  def result(): Seq[String]
}

/** One stateful op of the `stream` workload: how to start it over a
  * MemoryStream, and its self-oracle: the same op (or, for the sink, the
  * same upsert rule) run in batch over the same events. */
trait Op extends Serializable {
  def name: String
  /** Whether the op reads documents rather than events. */
  def docs: Boolean = false
  /** The open-loop offered rate in rows/s: about half the op's closed-loop
    * capacity on a 4-core x86 box, fixed here so that every run offers the
    * same load. */
  def openRowsPerS: Double
  def start(spark: SparkSession, tag: String): Leg
  /** The expected output over the given rows, computed in batch. */
  def expected(spark: SparkSession, rows: Seq[Any]): Seq[String]
}

object Stream {
  /** Collects what a micro-batch emits, tagged with its batch id. */
  final class Collected {
    val rows = ArrayBuffer.empty[(Long, Row)]
    def sink(df: DataFrame, tag: String, mode: String = "update"): StreamingQuery =
      df.writeStream.outputMode(mode).queryName(tag).foreachBatch {
        (b: DataFrame, id: Long) =>
          val rs = b.collect()
          rows.synchronized(rs.foreach(r => rows += ((id, r))))
          ()
      }.start()
    def snapshot: Seq[(Long, Row)] = rows.synchronized(rows.toList)
  }

  /** The last row each key emitted. */
  def lastByKey(rows: Seq[(Long, Row)], key: Row => Any): Map[Any, Row] =
    rows.sortBy(_._1).foldLeft(Map.empty[Any, Row]) { case (m, (_, r)) => m + (key(r) -> r) }

  /** A leg over a MemoryStream of `T`; `plan` starts the query. */
  private def leg[T: Encoder](spark: SparkSession)(
      plan: Dataset[T] => (StreamingQuery, () => Seq[String])): Leg = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[T]
    val (q, res) = plan(in.toDS())
    new Leg {
      def query = q
      def feed(rows: Seq[Any]) = in.addData(rows.asInstanceOf[Seq[T]]).json.toLong
      def result() = res()
    }
  }
  private def evLeg(spark: SparkSession)(
      plan: Dataset[Ev] => (StreamingQuery, () => Seq[String])): Leg = {
    import spark.implicits._
    leg[Ev](spark)(plan)
  }

  private def evs(rows: Seq[Any]): Seq[Ev] = rows.asInstanceOf[Seq[Ev]]

  val changelog: Op = new Op {
    val name = "changelog_agg"; val openRowsPerS = 850.0
    def plan(ds: Dataset[Ev]): DataFrame = {
      import ds.sparkSession.implicits._
      ChangelogAgg.sumCount(ds)(_.key, _.kind, _.v)
        .map(u => (u.row_kind, u.key, u.sum, u.count)).toDF("kind", "key", "sum", "count")
    }
    def render(r: Row) = s"${r.getLong(1)},${r.getDouble(2)},${r.getLong(3)}"
    def start(spark: SparkSession, tag: String) = evLeg(spark) { ds =>
      val c = new Collected
      (c.sink(plan(ds), tag), () => lastByKey(c.snapshot, _.getLong(1)).values
        .filter(_.getString(0) != StreamOps.Delete).map(render).toSeq)
    }
    def expected(spark: SparkSession, rows: Seq[Any]) = {
      import spark.implicits._
      plan(evs(rows).toDS()).collect().filter(_.getString(0) != StreamOps.Delete).map(render).toSeq
    }
  }

  val topN: Op = new Op {
    val name = "topn"; val openRowsPerS = 850.0
    def plan(ds: Dataset[Ev]): DataFrame = {
      import ds.sparkSession.implicits._
      StreamingTopN(ds, 10)(_.key, _.v, _.id)
        .map(c => (c.row_kind, c.key, c.rank_no, c.payload.id)).toDF("kind", "key", "rank", "id")
    }
    def start(spark: SparkSession, tag: String) = evLeg(spark) { ds =>
      val c = new Collected
      (c.sink(plan(ds), tag), () => lastByKey(
        c.snapshot.filter(_._2.getString(0) != StreamOps.Delete),
        r => (r.getLong(1), r.getInt(2))).values
        .map(r => s"${r.getLong(1)},${r.getInt(2)},${r.getLong(3)}").toSeq)
    }
    def expected(spark: SparkSession, rows: Seq[Any]) = {
      import spark.implicits._
      plan(evs(rows).toDS()).collect()
        .map(r => s"${r.getLong(1)},${r.getInt(2)},${r.getLong(3)}").toSeq
    }
  }

  val cep: Op = new Op {
    val name = "cep"; val openRowsPerS = 900.0
    val pattern = Cep.Pattern.begin[Ev]("lo", _.v <= 20).next("hi", _.v > 60)
    def matches(m: Cep.Match[Long, Ev]) = (m.key, m.steps("lo").head.id, m.steps("hi").head.id)
    def start(spark: SparkSession, tag: String) = evLeg(spark) { ds =>
      import spark.implicits._
      val c = new Collected
      // Arrival order is the match order: the same order runBatch sorts by.
      val out = Cep.run(ds, pattern)(_.key, _.seq).map(matches).toDF("key", "lo", "hi")
      (c.sink(out, tag, "append"), () => c.snapshot.map { case (_, r) =>
        s"${r.getLong(0)},${r.getLong(1)},${r.getLong(2)}" })
    }
    def expected(spark: SparkSession, rows: Seq[Any]) = {
      import spark.implicits._
      Cep.runBatch(evs(rows).toDS(), pattern)(_.key, _.seq).map(matches).collect()
        .map { case (k, a, b) => s"$k,$a,$b" }.toSeq
    }
  }

  /** Events with even ids on the left, odd ids on the right, from one
    * source, so that each chunk is one micro-batch for both sides. */
  val intervalJoin: Op = new Op {
    val name = "interval_join"; val openRowsPerS = 230.0
    def sides(events: DataFrame): DataFrame = StreamOps.intervalJoin(
      events.filter(col("id") % 2 === 0)
        .select(col("key").as("key"), col("ts").as("l_ts"), col("id").as("l_id")),
      events.filter(col("id") % 2 === 1)
        .select(col("key").as("key"), col("ts").as("r_ts"), col("id").as("r_id")),
      "key", "l_ts", "r_ts", "10 milliseconds", "10 milliseconds").select("l_id", "r_id")
    def render(r: Row) = s"${r.getLong(0)},${r.getLong(1)}"
    def start(spark: SparkSession, tag: String) = evLeg(spark) { ds =>
      val c = new Collected
      (c.sink(sides(ds.toDF().withWatermark("ts", s"${Generator.DelayMs} milliseconds")),
        tag, "append"), () => c.snapshot.map(x => render(x._2)))
    }
    def expected(spark: SparkSession, rows: Seq[Any]) = {
      import spark.implicits._
      // Events beyond the watermark are dropped by the stream.
      sides(evs(rows).filterNot(_.late).toDF()).collect().map(render).toSeq
    }
  }

  val nearDup: Op = new Op {
    val name = "near_dup"; override val docs = true; val openRowsPerS = 210.0
    def render(r: Row) = s"${r.getLong(0)},${r.getInt(1)},${r.getBoolean(2)},${r.getLong(3)}"
    def start(spark: SparkSession, tag: String) = {
      import spark.implicits._
      leg[Doc](spark) { ds =>
        val c = new Collected
        (c.sink(StreamingNearDup.bandVerdicts(ds.toDF()).toDF(), tag, "append"),
          () => c.snapshot.map(x => render(x._2)))
      }
    }
    def expected(spark: SparkSession, rows: Seq[Any]) = {
      import spark.implicits._
      StreamingNearDup.bandVerdicts(rows.asInstanceOf[Seq[Doc]].toDF()).toDF()
        .collect().map(render).toSeq
    }
  }

  /** `Sinks.upsert` into a parquet snapshot; the self-oracle is the latest
    * event per key by the op's sequence number (event time, then id). */
  def upsert(dir: String): Op = new Op {
    val name = "upsert_sink"; val openRowsPerS = 450.0
    def start(spark: SparkSession, tag: String) = evLeg(spark) { ds =>
      val path = s"$dir/$tag"
      val q = Sinks.upsert(ds.select(col("key"), col("id"),
          (unix_millis(col("ts")) * 1000000L + col("id") % 1000000L).as("seq_no")),
        Seq("key"), "seq_no", path, buckets = 8).queryName(tag).start()
      (q, () => Sinks.readSnapshot(ds.sparkSession, path).select("key", "id").collect()
        .map(r => s"${r.getLong(0)},${r.getLong(1)}").toSeq)
    }
    def expected(spark: SparkSession, rows: Seq[Any]) =
      evs(rows).groupBy(_.key).values.map(_.maxBy(seqNo)).map(e => s"${e.key},${e.id}").toSeq
  }

  /** The upsert sink's order: event time, then id. */
  def seqNo(e: Ev): Long = e.ts.getTime * 1000000L + e.id % 1000000L

  /** Closed loop: chunks of `ClosedRows` events (a second of event time)
    * or `ClosedDocs` documents, `ClosedChunks` per segment. Open loop:
    * a chunk every `OpenIntervalMs` for `OpenChunks` chunks per segment,
    * sized by the op's offered rate. */
  val ClosedRows = 1000
  val ClosedDocs = 250
  val ClosedChunks = 1
  val OpenIntervalMs = 100
  val OpenChunks = 6
  /** The number of timed closed-loop passes is the run's seconds over this,
    * so that the same --seconds always measures the same number of passes:
    * three at 10 s, so that each op's median over them sets aside one
    * disturbed pass. A warm pass takes about 5.5 s on a 4-core x86 box. */
  val NominalPassS = 3.3
  /** One closed-loop pass after the cold pass: the pass after the cold one
    * is still markedly slower than the next; the curve is in the report. */
  val Warmups = 1

  /** One op's seeded input: a warm chunk, the closed-loop chunks of every
    * pass, then the open-loop chunks. Each op has its own generator. */
  final class Input(seed: Long, op: Op, index: Int, closedPasses: Int) {
    private val gen = new Generator(seed * 1000003L + index)
    private def next(closedSize: Boolean): Seq[Any] = {
      val rows = if (closedSize) { if (op.docs) ClosedDocs else ClosedRows }
        else math.max(1, math.round(op.openRowsPerS * OpenIntervalMs / 1000.0).toInt)
      val span = if (closedSize) 1000 else OpenIntervalMs
      if (op.docs) gen.docs(rows) else gen.events(rows, span)
    }
    val warm: Seq[Any] = next(true)
    val closed: IndexedSeq[Seq[Any]] = (0 until closedPasses * ClosedChunks).map(_ => next(true))
    val open: IndexedSeq[Seq[Any]] = (0 until OpenChunks).map(_ => next(false))
  }

  def ops(upsertDir: String): Seq[Op] =
    Seq(changelog, topN, cep, intervalJoin, nearDup, upsert(upsertDir))

  /** Inputs for a run of `seconds`: enough closed-loop chunks for the cold
    * pass, the most warm-up passes and the timed passes. */
  def inputs(seed: Long, seconds: Double): Seq[Input] = {
    val passes = 1 + Warmups + Ctx.timedPasses(seconds, NominalPassS)
    ops("").zipWithIndex.map { case (op, i) => new Input(seed, op, i, passes) }
  }

  /** Closed loop: each chunk is fed once the previous one has been
    * processed. Returns the rows fed and the seconds taken. */
  def closed(l: Leg, chunks: Seq[Seq[Any]]): (Int, Double) = {
    val t0 = System.nanoTime()
    chunks.foreach { c =>
      l.feed(c)
      l.query.processAllAvailable()
    }
    (chunks.map(_.size).sum, (System.nanoTime() - t0) / 1e9)
  }

  /** Open loop: one generator thread adds chunk `i` when it is due,
    * `i * OpenIntervalMs` after the start, whatever the state of the query,
    * which runs micro-batches back to back. Each chunk is timed from when it
    * was due to the end of the micro-batch that covered its offset, read
    * from the query's progress. Returns those latencies, how late the
    * generator added each chunk, and the most chunks one micro-batch took. */
  def open(l: Leg, chunks: IndexedSeq[Seq[Any]]): (Seq[Double], Seq[Double], Int) = {
    val n = chunks.size
    val due = Array.ofDim[Double](n)
    val lag = Array.ofDim[Double](n)
    val offsets = Array.ofDim[Long](n)
    val t0 = Clock.nowMs + 20
    val gen = new Thread(() => (0 until n).foreach { i =>
      due(i) = t0 + i * OpenIntervalMs
      val wait = due(i) - Clock.nowMs
      if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos((wait * 1e6).toLong)
      lag(i) = Clock.nowMs - due(i)
      offsets(i) = l.feed(chunks(i))
    }, "perfbench-generator")
    gen.start()
    gen.join()
    l.query.processAllAvailable()
    val batches = l.query.recentProgress.toSeq.filter(_.sources.nonEmpty).map { p =>
      (p.sources.map(s => Option(s.endOffset).map(_.toLong).getOrElse(-1L)).max,
        java.time.Instant.parse(p.timestamp).toEpochMilli +
          p.durationMs.getOrDefault("triggerExecution", 0L).toDouble)
    }
    val covering = offsets.map(o => batches.find(_._1 >= o))
    val lat = covering.zip(due).collect { case (Some((_, end)), d) => end - d }
    val backlog = covering.flatten.groupBy(identity).values.map(_.size).maxOption.getOrElse(0)
    (lat.toList, lag.toList, backlog)
  }

  /** One op's part of a pass. */
  final case class Segment(op: String, span: Span, seconds: Double, rowsPerS: Double,
      latencyMs: Seq[Double], lagMs: Seq[Double], backlog: Int, error: Option[String])

  /** Closed-loop capacity of each op on `spark`, from a fresh query: the
    * traced run's single-threaded (local[1]) baseline. */
  def capacity(spark: SparkSession, in: Seq[Input], upsertDir: String): Seq[Map[String, Any]] =
    ops(upsertDir).zip(in).map { case (op, input) =>
      try {
        val l = op.start(spark, s"${op.name}_baseline")
        try {
          l.feed(input.warm)
          l.query.processAllAvailable()
          val (rows, sec) = closed(l, input.closed.take(ClosedChunks))
          Map("op" -> op.name, "rows_per_s" -> rows / sec)
        } finally l.query.stop()
      } catch { case e: Throwable => Map("op" -> op.name, "error" -> Ctx.describe(e)) }
    }

  /** The `stream` workload. Each op's query starts once, in the cold pass,
    * and keeps its state across passes; only one query has data at a
    * time. The cold pass starts each query, feeds an untimed warm chunk and
    * a closed-loop segment. Warm-up and timed passes run a closed-loop
    * segment per op (capacity); a last pass runs an open-loop segment per
    * op (latency). Then each op's output is checked against its
    * self-oracle. */
  def run(ctx: Ctx, in: Seq[Input]): Map[String, Any] = {
    val spark = ctx.spark
    val all = ops(s"${ctx.outDir}/upsert").zip(in)
    val legs = scala.collection.mutable.Map.empty[String, Leg]
    var closedDone = 0
    val passes = ArrayBuffer.empty[(Seq[Segment], Span)]

    def segment(op: Op, input: Input)(body: Leg => Segment): Segment = {
      var seg: Option[Segment] = None
      val (err, span) = ctx.spans.timed("leg", Map("op" -> op.name)) {
        try {
          val l = legs.getOrElseUpdate(op.name, {
            val l = op.start(spark, op.name)
            l.feed(input.warm)
            l.query.processAllAvailable()
            l
          })
          seg = Some(body(l))
          None
        } catch { case e: Throwable => Some(Ctx.describe(e)) }
      }
      ctx.attempt(err.map(e => s"${op.name}: $e"))
      seg.map(_.copy(span = span))
        .getOrElse(Segment(op.name, span, 0.0, 0.0, Nil, Nil, 0, err))
    }
    def closedPass(): (Double, Span) = {
      val idx = closedDone * ClosedChunks until (closedDone + 1) * ClosedChunks
      closedDone += 1
      val (segs, span) = ctx.spans.timed("pass") {
        all.map { case (op, input) => segment(op, input) { l =>
          val (rows, sec) = closed(l, idx.map(input.closed))
          Segment(op.name, null, sec, rows / sec, Nil, Nil, 0, None)
        } }
      }
      passes += ((segs, span))
      (segs.map(_.seconds).sum, span)
    }

    var kinds = Seq.empty[String]
    val (_, workloadSpan) = ctx.spans.timed("workload", Map("workload" -> ctx.workload)) {
      closedPass()
      kinds = "first" +: ctx.warmThenTime(Warmups, Ctx.timedPasses(ctx.seconds, NominalPassS))(
        () => closedPass())
      val (segs, span) = ctx.spans.timed("pass") {
        all.map { case (op, input) => segment(op, input) { l =>
          val (lat, lag, backlog) = open(l, input.open)
          Segment(op.name, null, 0.0, 0.0, lat, lag, backlog, None)
        } }
      }
      passes += ((segs, span))
      kinds = kinds :+ "open"
      // Every op's whole output, late events included, against the op
      // run in batch over all the events it was fed.
      all.foreach { case (op, input) =>
        legs.get(op.name).foreach(l => ctx.checkStream(op.name, l.result(), op.expected(spark,
          input.warm ++ input.closed.take(closedDone * ClosedChunks).flatten ++
            input.open.flatten)))
      }
    }
    legs.values.foreach(l => try l.query.stop() catch { case _: Throwable => () })

    Map(
      "workload_s" -> workloadSpan.dur / 1000.0,
      "closed_rows" -> ClosedRows, "closed_docs" -> ClosedDocs,
      "closed_chunks" -> ClosedChunks, "open_chunks" -> OpenChunks,
      "open_interval_ms" -> OpenIntervalMs,
      "offered_rows_per_s" -> all.map { case (op, _) => op.name -> op.openRowsPerS }.toMap,
      "passes" -> kinds.zip(passes).map { case (kind, (segs, span)) =>
        Map("kind" -> kind,
          // The cold pass includes starting each query and its warm chunk.
          "total_s" -> (if (kind == "first") span.dur / 1000.0 else segs.map(_.seconds).sum),
          "legs" -> segs.map(r => Map("op" -> r.op, "wall_s" -> r.span.dur / 1000.0,
            "seconds" -> r.seconds, "rows_per_s" -> r.rowsPerS,
            "latency_ms" -> r.latencyMs, "generator_lag_ms" -> r.lagMs,
            "backlog_chunks" -> r.backlog, "error" -> r.error)))
      })
  }
}
