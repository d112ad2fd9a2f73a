package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeRow}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{BinaryType, DayTimeIntervalType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.CalendarInterval

/** Streaming core (SURVEY.md §7.2 M2/M3): watermarked window aggs,
  * changelog conventions, streaming dedup, stream-stream interval join.
  *
  * Reference semantics being re-expressed:
  *  - WatermarkAssigner (EN/stream/StreamExecWatermarkAssigner.java:62)
  *    -> `withWatermark`
  *  - Window TVF aggs (StreamExecWindowAggregate.java:86) -> groupBy
  *    window()/session_window() under watermark, append mode
  *  - RowKind changelog (flink-core .../types/RowKind.java:25) -> an
  *    explicit `row_kind` string column ("+I","-U","+U","-D") — a library
  *    convention consumed by our stateful ops and upsert sinks; Catalyst
  *    never sees it as anything but data.
  *  - ChangelogNormalize (StreamExecChangelogNormalize.java:74) /
  *    Deduplicate keep-last (StreamExecDeduplicate.java:85) ->
  *    flatMapGroupsWithState keeping the last row per key
  *  - DropUpdateBefore (StreamExecDropUpdateBefore.java:55) -> filter
  *  - Interval join (StreamExecIntervalJoin.java:82 planning
  *    OP/join/interval/TimeIntervalJoin.java) -> [[intervalJoin]]: both
  *    sides buffered in keyed state, dropped by watermark-driven
  *    event-time timers, as in Flink's TimeIntervalJoin
  */
object StreamOps {

  val RowKind = "row_kind"
  val Insert = "+I"; val UpdateBefore = "-U"; val UpdateAfter = "+U"; val Delete = "-D"

  /** DropUpdateBefore: retraction-unaware consumers skip -U rows. */
  def dropUpdateBefore(df: DataFrame): DataFrame =
    df.filter(col(RowKind) =!= UpdateBefore)

  /** Internal marker column added by [[withIdleKeepalive]]. */
  val KeepaliveCol = "__keepalive"

  /** Watermark-idleness keepalive (reference flink-core
    * .../eventtime/WatermarksWithIdleness.java): Spark's watermark only
    * advances when events flow, so one silent source in a union (or a
    * quiet topic) stalls every event-time window in the query forever.
    * Flink solves this by marking idle sources and excluding them from
    * the watermark; Spark has no per-source idleness hook, so this
    * operator injects wall-clock KEEPALIVE rows from a rate source
    * unioned into the stream: the watermark then tracks processing time
    * whenever the real sources are quiet.
    *
    * Apply BEFORE `withWatermark` (the keepalive rows must flow through
    * the watermark node), then strip them with [[dropKeepalives]] before
    * the aggregation so they never count. The keepalive carries the
    * current processing time in `tsCol` and null everywhere else.
    *
    * Trade-off (identical to Flink's idleness marking): once the
    * watermark has advanced on keepalives, genuinely late events from
    * the quiet source are late — bound their tolerance with the normal
    * watermark delay. */
  def withIdleKeepalive(df: DataFrame, tsCol: String,
      rowsPerSecond: Int = 1): DataFrame = {
    val rate = df.sparkSession.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
    val shaped = df.schema.fields.map { f =>
      if (f.name == tsCol) col("timestamp").cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    df.withColumn(KeepaliveCol, lit(false))
      .unionByName(rate.select(shaped.toIndexedSeq: _*)
        .withColumn(KeepaliveCol, lit(true)))
  }

  /** Strip [[withIdleKeepalive]] rows after the watermark node, before
    * any aggregation.
    *
    * The predicate is deliberately marked non-deterministic: a plain
    * `!__keepalive` filter references neither the event-time column nor
    * anything else the optimizer must respect, so Catalyst pushes it
    * THROUGH the EventTimeWatermark node and into the union branches —
    * the keepalive branch constant-folds to an empty scan and its rows
    * never reach the watermark statistics, silently disabling the whole
    * mechanism. Non-deterministic predicates are never pushed, so the
    * filter stays above the watermark node where it belongs. */
  def dropKeepalives(df: DataFrame): DataFrame = {
    val notKeepalive = udf((k: Boolean) => !k).asNondeterministic()
    df.filter(notKeepalive(col(KeepaliveCol))).drop(KeepaliveCol)
  }

  /** Watermark alignment analog (reference flink-core
    * .../eventtime/WatermarksWithWatermarkAlignment.java, FLIP-182): no
    * row more than `maxDriftMs` ahead of the current event-time
    * watermark is released downstream. Rows from a source running ahead
    * of the group (union under the default min-watermark policy: the
    * watermark is the SLOWEST source's) park in per-source state and a
    * per-source event-time timer re-releases them as the watermark
    * catches up — so a downstream operator never sees drift beyond the
    * bound, exactly the alignment contract.
    *
    * Honest difference from Flink: alignment there pauses the SOURCE,
    * so excess data waits in the broker; a micro-batch source cannot be
    * paused per-partition from inside a query, so here the excess waits
    * in this operator's state (bounded by drift-violating rows only —
    * size it with the source's rate x expected drift). What it buys is
    * the contract downstream: bounded event-time disorder for
    * order-sensitive stateful ops, and a cap on how much early data
    * per-window/per-join-key state must absorb.
    *
    * Apply AFTER `withWatermark` (the timer needs the event-time
    * watermark). Released rows carry their original event times, which
    * are `maxDriftMs`-bounded ahead of the watermark by construction —
    * never late — so chained windows/joins accept them. */
  def alignedRelease[T](ds: Dataset[T], maxDriftMs: Long)(
      sourceOf: T => String, tsMillis: T => Long)(
      implicit tEnc: Encoder[T]): Dataset[T] = {
    implicit val bufEnc: Encoder[List[T]] =
      org.apache.spark.sql.Encoders.kryo[List[T]]
    implicit val strEnc: Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    ds.groupByKey(sourceOf)
      .flatMapGroupsWithState[List[T], T](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[T], state: GroupState[List[T]]) =>
          val wm = state.getCurrentWatermarkMs()
          val all = state.getOption.getOrElse(Nil) ++ rows
          val (release, park) = all.partition(t => tsMillis(t) <= wm + maxDriftMs)
          if (park.isEmpty) state.remove()
          else {
            state.update(park)
            // fire when the watermark reaches the earliest parked row's
            // release point (must be strictly beyond the current wm)
            state.setTimeoutTimestamp(
              math.max(park.map(tsMillis).min - maxDriftMs, wm + 1))
          }
          release.iterator
      }
  }

  /** Tumbling-window streaming aggregation under a watermark (append
    * mode emits each window once, when the watermark passes its end). */
  def tumbleAgg(stream: DataFrame, tsCol: String, delay: String, size: String,
      keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    stream.withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), size) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start").cast("timestamp_ntz"))
      .withColumn("window_end", col("window.end").cast("timestamp_ntz"))
      .drop("window")

  /** Streaming keep-first dedup on arbitrary keys, state expired by
    * watermark (Spark's dropDuplicatesWithinWatermark ==
    * ProcTimeDeduplicateKeepFirstRowFunction + TTL). */
  def dedupKeepFirst(stream: DataFrame, tsCol: String, delay: String,
      keys: Seq[String]): DataFrame =
    stream.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keys)

  /** Streaming keep-last dedup / ChangelogNormalize: emits, per trigger,
    * the latest row per key (Update-mode changelog of an upsert stream).
    * seqNo breaks ordering ties (use event-time micros + a unique id). */
  def keepLast[K: Encoder, T: Encoder](ds: Dataset[T])(
      key: T => K, seqNo: T => Long,
      ttlMs: Option[Long] = None): Dataset[T] = {
    implicit val stateEnc: Encoder[(Long, T)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, implicitly[Encoder[T]])
    ds.groupByKey(key)
      .flatMapGroupsWithState[(Long, T), T](
        OutputMode.Update(), Ttl.conf(ttlMs)) {
        (k: K, rows: Iterator[T], state: GroupState[(Long, T)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val best = (state.getOption.iterator ++ rows.map(t => (seqNo(t), t)))
              .maxBy(_._1)
            val changed = state.getOption.forall(_._1 < best._1) ||
              state.getOption.isEmpty
            state.update(best)
            Ttl.arm(state, ttlMs)
            if (changed) Iterator.single(best._2) else Iterator.empty
          }
      }
  }

  /** Two-stream keyed co-process (SURVEY.md §2.13; reference
    * flink-streaming-java .../datastream/ConnectedStreams.java:57 +
    * co/KeyedCoProcessFunction.java): both streams are keyed to the
    * same key space; `fn` sees each element tagged by side (Left =
    * first stream) with shared per-key state — the primitive under
    * ChangelogJoin and every two-input stateful operator here.
    *
    * `ttlMs` evicts idle keys (see [[Ttl]]). Within a micro-batch the
    * two sides' rows arrive in nondeterministic relative order — carry
    * a sequence in the payloads and sort inside `fn` if cross-side
    * ordering matters (same caveat as ChangelogJoin's lSeq/rSeq). */
  def connect[K: Encoder, L: Encoder, R: Encoder, S, O](
      left: Dataset[L], right: Dataset[R],
      ttlMs: Option[Long] = None)(
      lKey: L => K, rKey: R => K)(
      fn: (K, Iterator[Either[L, R]], GroupState[S]) => Iterator[O])
      (implicit sEnc: Encoder[S], oEnc: Encoder[O]): Dataset[O] = {
    implicit val eEnc: Encoder[Either[L, R]] =
      org.apache.spark.sql.Encoders.kryo[Either[L, R]]
    left.map(l => (Left(l): Either[L, R]))
      .union(right.map(r => (Right(r): Either[L, R])))
      .groupByKey(e => e.fold(lKey, rKey))
      .flatMapGroupsWithState[S, O](OutputMode.Update(), Ttl.conf(ttlMs)) {
        (k: K, rows: Iterator[Either[L, R]], state: GroupState[S]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // materialize: GroupState must not be touched after return,
            // and the output iterator is consumed later
            val out = fn(k, rows, state).toVector
            Ttl.arm(state, ttlMs)
            out.iterator
          }
      }
  }

  /** Windowed coGroup (SURVEY.md §2.13; reference flink-streaming-java
    * .../datastream/CoGroupedStreams.java:59 + the windowed
    * CoGroupWindowFunction): both keyed streams buffer into the same
    * tumbling event-time window; when the watermark passes the window
    * end, `fn` sees the COMPLETE buffers of both sides at once. Window
    * join is the special case that pairs them; coGroup exposes the raw
    * groups (outer-join-like logic, per-window set reconciliation).
    *
    * Keyed by (key, window_start) under EventTimeTimeout, so state per
    * live window is exactly its buffered rows, dropped at emission.
    * The watermark (event time - `delayMs`) is applied INSIDE on the
    * unioned stream: a typed map to the tagged union would erase any
    * upstream watermark column, so callers pass the delay instead of
    * pre-watermarking. Rows later than an already-fired window are
    * re-buffered and fire on the next watermark advance (they form a
    * second, late emission — downstream dedup by window if needed). */
  def windowCoGroup[K: Encoder, L: Encoder, R: Encoder, O: Encoder](
      left: Dataset[L], right: Dataset[R], windowMs: Long,
      delayMs: Long = 0L)(
      lKey: L => K, rKey: R => K, lTs: L => Long, rTs: R => Long)(
      fn: (K, Long, Seq[L], Seq[R]) => IterableOnce[O]): Dataset[O] = {
    require(windowMs > 0 && delayMs >= 0)
    val kryoE = org.apache.spark.sql.Encoders.kryo[Either[L, R]]
    implicit val teEnc: Encoder[(java.sql.Timestamp, Either[L, R])] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.TIMESTAMP, kryoE)
    implicit val kEnc: Encoder[(K, Long)] =
      org.apache.spark.sql.Encoders.kryo[(K, Long)]
    implicit val sEnc: Encoder[(List[L], List[R])] =
      org.apache.spark.sql.Encoders.kryo[(List[L], List[R])]
    left.map(l => (new java.sql.Timestamp(lTs(l)), Left(l): Either[L, R]))
      .union(right.map(r =>
        (new java.sql.Timestamp(rTs(r)), Right(r): Either[L, R])))
      .toDF("ets", "tagged")
      .withWatermark("ets", s"$delayMs milliseconds")
      .as[(java.sql.Timestamp, Either[L, R])]
      .groupByKey(p =>
        (p._2.fold(lKey, rKey), p._1.getTime / windowMs * windowMs))
      .flatMapGroupsWithState[(List[L], List[R]), O](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (kw: (K, Long), rows: Iterator[(java.sql.Timestamp, Either[L, R])],
            state: GroupState[(List[L], List[R])]) =>
          val (k, winStart) = kw
          if (state.hasTimedOut) {
            val (ls, rs) = state.get
            state.remove()
            fn(k, winStart, ls.reverse, rs.reverse).iterator.toVector.iterator
          } else {
            var (ls, rs) = state.getOption.getOrElse((Nil: List[L], Nil: List[R]))
            rows.foreach {
              case (_, Left(l)) => ls ::= l
              case (_, Right(r)) => rs ::= r
            }
            state.update((ls, rs))
            // fire when the watermark REACHES the window end: Spark
            // event-time timeouts fire when wm > t, so arm at end-1 (a
            // timer at `end` would withhold a window whose end equals
            // the final watermark forever). A late window (watermark
            // already beyond it) fires on the next watermark move.
            state.setTimeoutTimestamp(
              math.max(winStart + windowMs - 1,
                state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** Streaming global limit (SURVEY.md §2.8; reference
    * StreamExecLimit.java): pass through the first `n` rows of the
    * whole stream, in arrival order, across triggers. All rows route
    * to ONE key — the same single-parallelism constraint Flink's
    * StreamExecLimit has (a global limit is inherently serial); state
    * is a single counter. */
  def limit[T: Encoder](ds: Dataset[T], n: Int): Dataset[T] = {
    implicit val kEnc: Encoder[Boolean] =
      org.apache.spark.sql.Encoders.scalaBoolean
    CountWindows.firstN(ds, n)((_: T) => true)
  }

  /** Streaming PROCTIME sort (SURVEY §2.8; reference
    * StreamExecTemporalSort.java proctime branch / ProcTimeSortOperator):
    * Flink buffers rows per processing-time tick and emits each tick's
    * buffer sorted on the secondary keys. A Spark micro-batch IS the
    * proctime tick, so the operator is: per batch, deliver rows in
    * (batch, sort-key) order. `deliver` receives each batch already
    * sorted — e.g. append it to a sink that preserves insertion order.
    * (Event-time sort is the separate [[EventTimeSort]] operator.) */
  def procTimeSorted(stream: DataFrame, order: Seq[Column])(
      deliver: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      deliver(batch.orderBy(order: _*)); ()
    }

  /** Stream-stream interval join (reference OP/join/interval/
    * TimeIntervalJoin.java): every pair of a left and a right row on
    * equal, non-null keys whose right time lies in
    * [leftTs - before, leftTs + after], emitted once, as all left
    * columns followed by all right columns. `before`/`after` are
    * fixed-length interval texts (`"10 milliseconds"`, `"30 MINUTES"`).
    *
    * A graft keyed operator, not Spark's stream-stream join: the two
    * sides are unioned, tagged, and keyed on the join key; each key's
    * state holds both sides' buffered rows. An arriving row meets the
    * other side's buffered rows and this micro-batch's new ones. A left
    * row at `t` is dropped once the watermark reaches `t + after` (no
    * later right row can match it), a right row once it reaches
    * `t + before`, and an event-time timer at the earliest such point
    * clears keys that see no more rows. A row at or behind the previous
    * batch's watermark is late: dropped before the join and counted in
    * the operator's `numRowsDroppedByWatermark`. These are the rules of
    * Spark's own stream-stream join, and the two emit the same rows in
    * the same micro-batch (IntervalJoinSpec).
    *
    * Streams: both sides MUST carry a watermark on their time column
    * (`withWatermark`), or their buffers would never be dropped; a side
    * without one is rejected here. Output is append-only and carries no
    * watermark of its own. Two batch DataFrames join in one pass;
    * a stream and a batch DataFrame are rejected (join a static side
    * with a plain join). */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String,
      before: String, after: String): DataFrame = {
    require(left.isStreaming == right.isStreaming,
      "intervalJoin: join two streams or two batch DataFrames; " +
        "a static side joins a stream with a plain join")
    Seq((left, "left", leftTs), (right, "right", rightTs)).foreach { case (df, side, ts) =>
      val f = df.schema(ts)
      require(f.dataType == TimestampType || f.dataType == TimestampNTZType,
        s"intervalJoin: the $side side's time column `$ts` is ${f.dataType.sql}, not a timestamp")
      require(!df.isStreaming || f.metadata.contains(EventTimeWatermark.delayKey),
        s"intervalJoin: the $side side's time column `$ts` carries no watermark; " +
          s"""call withWatermark("$ts", <delay>) on the $side stream, or its """ +
          "buffered rows are never dropped")
    }
    val beforeUs = fixedMicros(before)
    val afterUs = fixedMicros(after)
    // quote every column: a name with a dot must not read as a field path
    def cols(df: DataFrame) = df.columns.map(c => df.col(s"`${c.replace("`", "``")}`"))
    def tagged(df: DataFrame, ts: String, isLeft: Boolean, other: StructType) = {
      val self = struct(cols(df).toIndexedSeq: _*)
      val none = lit(null).cast(other)
      // the time column keeps its watermark metadata through the alias,
      // so FlatMapGroupsWithStateExec drops late rows of either side
      df.select(df(key).as("k"), df(ts).as("ets"),
        (if (isLeft) self else none).as("l"), (if (isLeft) none else self).as("r"))
    }
    val (lType, rType) = (left.schema, right.schema)
    val input = tagged(left, leftTs, isLeft = true, rType)
      .union(tagged(right, rightTs, isLeft = false, lType))
    val joiner = new IntervalJoiner(lType, rType, lType.fieldIndex(leftTs),
      rType.fieldIndex(rightTs), beforeUs, afterUs, left.isStreaming)
    input.groupBy(col("k"))
      .as[Row, Row](Encoders.row(StructType(Seq(input.schema("k")))),
        Encoders.row(input.schema))
      .flatMapGroupsWithState[Row, Row](OutputMode.Append(),
        if (left.isStreaming) GroupStateTimeout.EventTimeTimeout()
        else GroupStateTimeout.NoTimeout())(joiner.apply)(
        Encoders.row(new StructType()
          .add("l", BinaryType, nullable = false).add("r", BinaryType, nullable = false)),
        Encoders.row(StructType(lType.fields ++ rType.fields)))
  }

  /** Micros of a fixed-length interval text, parsed as `INTERVAL <text>`
    * is in SQL. */
  private def fixedMicros(bound: String): Long =
    CatalystSqlParser.parseExpression(s"INTERVAL $bound") match {
      case Literal(us: Long, _: DayTimeIntervalType) => us
      case Literal(i: CalendarInterval, _) if i.months == 0 =>
        i.days * 86400000000L + i.microseconds
      case _ => throw new IllegalArgumentException(
        s"intervalJoin: bound '$bound' is not a fixed-length interval")
    }

  /** One key's step of [[intervalJoin]]. Input rows are (k, ets, l, r)
    * with one of l/r set; state is (l, r): each side's buffered rows as
    * length-prefixed UnsafeRow bytes, so a row's time (micros) is read
    * without decoding it, and only a matched row is turned back into a
    * Row. A null time never matches and is not buffered. */
  private final class IntervalJoiner(lSchema: StructType, rSchema: StructType,
      lt: Int, rt: Int, beforeUs: Long, afterUs: Long, streaming: Boolean)
      extends Serializable {
    // Resolved once, here: an encoder resolved per batch or per task gets
    // fresh lambda-variable ids for array/map fields, so its generated
    // code would be compiled again each time.
    private val lEnc = ExpressionEncoder(lSchema).resolveAndBind()
    private val rEnc = ExpressionEncoder(rSchema).resolveAndBind()
    @transient private lazy val lTo = lEnc.createSerializer()
    @transient private lazy val lFrom = lEnc.createDeserializer()
    @transient private lazy val rTo = rEnc.createSerializer()
    @transient private lazy val rFrom = rEnc.createDeserializer()

    /** A buffered row: its time, its bytes, and the Row it arrived as in
      * this batch (null once buffered). */
    private type Held = (Long, UnsafeRow, Row)

    private def held(rows: Iterator[Row], to: Row => InternalRow, ts: Int): Vector[Held] =
      rows.map(r => (to(r).asInstanceOf[UnsafeRow].copy(), r))
        .filterNot(_._1.isNullAt(ts)).map { case (u, r) => (u.getLong(ts), u, r) }.toVector

    private def unpack(bytes: Array[Byte], fields: Int, ts: Int): Vector[Held] = {
      val buf = java.nio.ByteBuffer.wrap(bytes)
      val out = Vector.newBuilder[Held]
      while (buf.hasRemaining) {
        val size = buf.getInt()
        val u = new UnsafeRow(fields)
        u.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + buf.position(), size)
        buf.position(buf.position() + size)
        out += ((u.getLong(ts), u, null))
      }
      out.result()
    }

    private def pack(rows: Seq[Held]): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(rows.map(_._2.getSizeInBytes + 4).sum)
      rows.foreach { h => buf.putInt(h._2.getSizeInBytes); h._2.writeTo(buf) }
      buf.array()
    }

    def apply(k: Row, rows: Iterator[Row], state: GroupState[Row]): Iterator[Row] = {
      // a null key joins nothing (Spark's join skips it the same way)
      if (k.isNullAt(0)) return Iterator.empty
      val wmUs = if (streaming) state.getCurrentWatermarkMs() * 1000L else Long.MinValue
      // a left row can meet no later right row once the watermark reaches
      // t + after; a right row no later left row once it reaches t + before
      def lLive(h: Held) = h._1 + afterUs > wmUs
      def rLive(h: Held) = h._1 + beforeUs > wmUs
      val (oldL, oldR) = state.getOption.fold((Vector.empty[Held], Vector.empty[Held])) { s =>
        (unpack(s.getAs[Array[Byte]](0), lSchema.length, lt),
          unpack(s.getAs[Array[Byte]](1), rSchema.length, rt))
      }
      val (lIn, rIn) = rows.partition(!_.isNullAt(2))
      val newL = held(lIn.map(_.getStruct(2)), lTo, lt)
      val newR = held(rIn.map(_.getStruct(3)), rTo, rt)
      val out = Vector.newBuilder[Row]
      def pairs(ls: Seq[Held], rs: Seq[Held]): Unit =
        for (l <- ls; r <- rs; d = r._1 - l._1; if d >= -beforeUs && d <= afterUs) {
          val lRow = if (l._3 != null) l._3 else lFrom(l._2)
          val rRow = if (r._3 != null) r._3 else rFrom(r._2)
          out += Row.fromSeq(lRow.toSeq ++ rRow.toSeq)
        }
      pairs(newL, oldR)
      val ls = oldL ++ newL
      pairs(ls, newR)
      if (streaming) {
        val keepL = ls.filter(lLive)
        val keepR = (oldR ++ newR).filter(rLive)
        if (keepL.isEmpty && keepR.isEmpty) state.remove()
        else {
          state.update(Row(pack(keepL), pack(keepR)))
          // fire once the watermark reaches the earliest drop point: a
          // timer at T fires when the watermark passes T
          val dropUs = (keepL.map(_._1 + afterUs) ++ keepR.map(_._1 + beforeUs)).min
          state.setTimeoutTimestamp(Math.floorDiv(dropUs + 999L, 1000L) - 1L)
        }
      }
      out.result().iterator
    }
  }
}
