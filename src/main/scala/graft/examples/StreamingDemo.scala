package graft.examples

import graft.streaming._
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Runnable tour of the streaming surface through the public API:
  * CEP pattern matching, streaming Top-N changelog, event-time sort,
  * watermarked tumbling aggregation.
  *
  * sbt "runMain graft.examples.StreamingDemo"
  */
object StreamingDemo {
  case class Tick(sym: String, price: Double, ts: Timestamp)

  def t(s: Int) = new Timestamp(1700000000000L + s * 1000L)

  def main(args: Array[String]): Unit = {
    val spark: SparkSession = graft.LocalSession.build(cpus = 2)
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // --- CEP: rise-then-fall ---------------------------------------
    val ticks = MemoryStream[Tick]
    // strict rise (next) then relaxed-contiguity spike run, then a drop
    val pattern = Cep.Pattern.begin[Tick]("low", _.price < 100)
      .followedByOneOrMore("high", _.price >= 100)
      .next("drop", _.price < 100)
    val cepQ = Cep.run(ticks.toDS(), pattern)(_.sym, _.ts.getTime)
      .writeStream.format("memory").queryName("demo_cep")
      .outputMode("append").start()
    ticks.addData(Tick("AAPL", 95, t(0)), Tick("AAPL", 105, t(1)),
      Tick("AAPL", 111, t(2)), Tick("AAPL", 90, t(3)), Tick("MSFT", 200, t(1)))
    cepQ.processAllAvailable(); cepQ.stop()
    val matches = spark.table("demo_cep")
      .as[Cep.Match[String, Tick]](Encoders.kryo[Cep.Match[String, Tick]])
      .collect()
    println("CEP matches: " + matches.map(m =>
      s"${m.key}: low=${m.steps("low").map(_.price)} " +
        s"high=${m.steps("high").map(_.price)} drop=${m.steps("drop").map(_.price)}")
      .mkString("; "))

    // --- Streaming Top-N changelog ---------------------------------
    val scores = MemoryStream[Tick]
    val topQ = StreamingTopN(scores.toDS(), 2)(_.sym, _.price, _.ts.getTime)
      .map(c => (c.row_kind, c.key, c.rank_no, c.payload.price))
      .toDF("kind", "key", "rank_no", "price")
      .writeStream.format("memory").queryName("demo_topn")
      .outputMode("update").start()
    scores.addData(Tick("X", 10, t(0)), Tick("X", 30, t(1)))
    topQ.processAllAvailable()
    scores.addData(Tick("X", 20, t(2))) // evicts 10 from the board
    topQ.processAllAvailable(); topQ.stop()
    println("TopN changelog: " + spark.table("demo_topn").collect().mkString(", "))

    // --- Watermarked tumbling aggregation --------------------------
    val evs = MemoryStream[Tick]
    val aggQ = StreamOps.tumbleAgg(evs.toDF(), "ts", "5 seconds", "1 minute",
        Seq(col("sym")), Seq(count(lit(1)).as("n")))
      .writeStream.format("memory").queryName("demo_agg")
      .outputMode("append").start()
    evs.addData(Tick("A", 1, t(10)), Tick("A", 2, t(20)), Tick("B", 3, t(70)))
    aggQ.processAllAvailable()
    evs.addData(Tick("Z", 0, t(600))) // advance watermark past both windows
    aggQ.processAllAvailable(); aggQ.stop()
    println("Tumble agg: " + spark.table("demo_agg")
      .select(col("window_start").cast("string"), col("sym"), col("n"))
      .collect().mkString(", "))

    // --- Count windows + retraction-aware aggregation ---------------
    val cwIn = MemoryStream[Tick]
    val cwQ = CountWindows.tumbling(cwIn.toDS(), 2)(_.sym)
      .map(w => (w.key, w.window_no, w.rows.map(_.price).mkString("|")))
      .toDF("key", "w", "prices")
      .writeStream.format("memory").queryName("demo_cw")
      .outputMode("append").start()
    cwIn.addData(Tick("A", 1, t(0)), Tick("A", 2, t(1)), Tick("A", 3, t(2)))
    cwQ.processAllAvailable(); cwQ.stop()
    println("Count windows: " + spark.table("demo_cw").collect().mkString(", "))

    val clIn = MemoryStream[(String, String, Double)] // (kind, key, value)
    val clQ = ChangelogAgg.sumCount(clIn.toDS())(_._2, _._1, _._3)
      .map(u => (u.row_kind, u.key, u.sum, u.count))
      .toDF("kind", "key", "sum", "n")
      .writeStream.format("memory").queryName("demo_cl")
      .outputMode("update").start()
    clIn.addData(("+I", "k", 10.0), ("+I", "k", 5.0))
    clQ.processAllAvailable()
    clIn.addData(("-D", "k", 10.0))
    clQ.processAllAvailable(); clQ.stop()
    println("Changelog agg: " + spark.table("demo_cl").collect().mkString(", "))

    // --- Changelog two-sided join -----------------------------------
    val ljIn = MemoryStream[(String, Long, String)]
    val rjIn = MemoryStream[(String, Long, String)]
    val cjQ = ChangelogJoin.inner(ljIn.toDS(), rjIn.toDS())(
        _._2, _._1, _._3, _._2, _._1, _._3)
      .map(dlt => (dlt.row_kind, dlt.left._3, dlt.right._3))
      .toDF("kind", "l", "r")
      .writeStream.format("memory").queryName("demo_cj")
      .outputMode("update").start()
    ljIn.addData(("+I", 1L, "order#1"))
    cjQ.processAllAvailable()
    rjIn.addData(("+I", 1L, "payment#A"))
    cjQ.processAllAvailable()
    ljIn.addData(("-D", 1L, "order#1")) // cancel -> retraction delta
    cjQ.processAllAvailable(); cjQ.stop()
    println("Changelog join: " + spark.table("demo_cj").collect().mkString(", "))

    // --- Left-outer changelog join (padding retraction) -------------
    val loL = MemoryStream[(String, Long, String)]
    val loR = MemoryStream[(String, Long, String)]
    val loQ = ChangelogJoin.leftOuter(loL.toDS(), loR.toDS())(
        _._2, _._1, _._3, _._2, _._1, _._3)
      .map(dlt => (dlt.row_kind, dlt.left._3, dlt.right.map(_._3).getOrElse("∅")))
      .toDF("kind", "l", "r")
      .writeStream.format("memory").queryName("demo_loj")
      .outputMode("update").start()
    loL.addData(("+I", 5L, "order#5"))
    loQ.processAllAvailable()
    loR.addData(("+I", 5L, "ship#S"))
    loQ.processAllAvailable(); loQ.stop()
    println("LeftOuter changelog join: " +
      spark.table("demo_loj").collect().mkString(", "))

    // --- Changelog semi/anti join (streaming EXISTS / NOT EXISTS) ---
    val saL = MemoryStream[(String, Long, String)]
    val saR = MemoryStream[(String, Long, String)]
    val antiQ = ChangelogJoin.anti(saL.toDS(), saR.toDS())(
        _._2, _._1, _._3, _._2, _._1, _._3)
      .map(dlt => (dlt.row_kind, dlt.left._3))
      .toDF("kind", "l")
      .writeStream.format("memory").queryName("demo_anti")
      .outputMode("update").start()
    saL.addData(("+I", 9L, "event#9")) // not on the allowlist yet -> +I
    antiQ.processAllAvailable()
    saR.addData(("+I", 9L, "allow#9")) // allowlisted -> retract it
    antiQ.processAllAvailable()
    saR.addData(("-D", 9L, "allow#9")) // de-listed -> it comes back
    antiQ.processAllAvailable(); antiQ.stop()
    println("Anti changelog join: " +
      spark.table("demo_anti").collect().mkString(", "))

    // --- Streaming rowtime temporal (as-of) join --------------------
    val rateIn = MemoryStream[Tick] // versioned side: price = rate
    val orderIn = MemoryStream[Tick] // probe side
    val tjQ = StreamingTemporalJoin.asOf(orderIn.toDS(), rateIn.toDS())(
        _.sym, _.ts.getTime, _.ts.getTime, _.sym, _.ts.getTime)
      .map { case (o, r) => (o.ts.toString, r.map(_.price).getOrElse(-1.0)) }
      .toDF("order_ts", "rate_at_order_time")
      .writeStream.format("memory").queryName("demo_tj")
      .outputMode("append").start()
    rateIn.addData(Tick("EUR", 1.10, t(0)), Tick("EUR", 1.20, t(100)))
    orderIn.addData(Tick("EUR", 0, t(50)), Tick("EUR", 0, t(150)))
    tjQ.processAllAvailable()
    rateIn.addData(Tick("ZZZ", 0, t(1000)))
    orderIn.addData(Tick("YYY", 0, t(1000)))
    tjQ.processAllAvailable()
    rateIn.addData(Tick("ZZZ", 0, t(2000)))
    orderIn.addData(Tick("YYY", 0, t(2000)))
    tjQ.processAllAvailable(); tjQ.stop()
    println("Temporal join: " + spark.table("demo_tj").collect().mkString(", "))

    spark.stop()
  }
}
