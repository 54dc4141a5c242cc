package graft

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{LateDataMonitor, StreamingMetrics}

/** The J1 cogroup sink ([[StreamingMetrics.cogroupedMetricsSink]]): its
  * state metrics count each micro-batch once, a null key is one cogroup
  * row, and its output does not depend on where micro-batch boundaries
  * fall. Legs: click/view (`n_a`) against purchase (`n_b`), 30 s windows,
  * 30 s watermark.
  */
class CogroupSinkSpec extends SparkSpec {
  import spark.implicits._
  import CogroupSinkSpec.Ev

  private val T0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private def at(sec: Double) = new Timestamp(T0 + math.round(sec * 1000))
  private def ev(sec: Double, t: String, u: Long) = Ev(at(sec), t, Some(u))

  /** (window start s, user, n_a, n_b), sortable as a multiset. */
  private type Out = (Long, Option[Long], Option[Long], Option[Long])
  private def out(r: Row): Out = {
    def opt(c: String) = Option(r.get(r.fieldIndex(c)))
      .map(_.asInstanceOf[Long])
    ((r.getAs[Timestamp]("window_start").getTime - T0) / 1000,
      opt("user_id"), opt("n_a"), opt("n_b"))
  }
  private def sorted(rows: Seq[Out]): Seq[Out] = rows.sortBy(_.toString)

  /** Feeds each element of `batches` as one micro-batch and drains the
    * query; returns every row the sink saw and the stopped query.
    */
  private def drain(batches: Seq[Seq[Ev]]): (Seq[Out], StreamingQuery) = {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Ev]
    val seen = ArrayBuffer[Out]()
    val q = StreamingMetrics.cogroupedMetricsSink(mem.toDF(),
        Seq("click", "view"), Seq("purchase"), "30 seconds",
        "30 seconds") { (df, _) =>
      val rows = df.collect().map(out)
      seen.synchronized(seen ++= rows)
    }.start()
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    (seen.synchronized(seen.toSeq), q)
  }

  test("state metrics count each micro-batch once: late (window, user) " +
       "partials and open keys exactly") {
    val (rows, q) = drain(Seq(
      Seq(ev(5, "click", 1), ev(10, "purchase", 2), ev(15, "view", 3)),
      // advances the watermark to 570 s: window [0, 30) closes
      Seq(ev(600, "click", 1)),
      // late: (0 s, user 4) and (60 s, user 5), two event types each;
      // on time: three open keys (600 s, 1), (600 s, 6), (630 s, 7)
      Seq(ev(20, "click", 4), ev(25, "purchase", 4), ev(60, "view", 5),
        ev(65, "purchase", 5), ev(605, "purchase", 6), ev(610, "view", 1),
        ev(640, "click", 7))))
    assert(LateDataMonitor.droppedByWatermark(q) === 2L)
    assert(q.lastProgress.stateOperators.map(_.numRowsTotal).sum === 3L)
    assert(sorted(rows) === sorted(Seq(
      (0L, Some(1L), Some(1L), None), (0L, Some(2L), None, Some(1L)),
      (0L, Some(3L), Some(1L), None))))
  }

  test("a null user_id is one cogroup row carrying both legs") {
    val (rows, _) = drain(Seq(
      Seq(Ev(at(5), "click", None), Ev(at(10), "purchase", None),
        Ev(at(12), "view", None), ev(7, "click", 9)),
      Seq(ev(600, "click", 9))))
    assert(sorted(rows) === sorted(Seq(
      (0L, None, Some(2L), Some(1L)), (0L, Some(9L), Some(1L), None))))
  }

  test("output is invariant under 20 seeded micro-batch splits: the sink " +
       "union equals the batch full-outer cogroup over on-time rows") {
    // On-time rows arrive in event-time order give or take 15 s, less
    // than the 30 s watermark delay, so no split makes one late. Late
    // rows (windows [0, 30) and [30, 60)) arrive after on-time row 100;
    // every split's first batch holds on-time rows 0..69 (event time
    // >= 103.5 s, watermark >= 73.5 s), so every split drops them all.
    val rnd = new Random(7)
    val types = Seq("click", "view", "purchase", "other")
    val onTime = (0 until 240).map(i => ev(1.5 * i + rnd.nextInt(16),
      types(rnd.nextInt(4)), rnd.nextInt(6).toLong))
    val late = (0 until 24).map(_ => ev(rnd.nextInt(60).toDouble,
      types(rnd.nextInt(3)), rnd.nextInt(6).toLong))
    val lateAt = late.map(_ => 100 + rnd.nextInt(140)).sorted
    val arrival = onTime.zipWithIndex.flatMap { case (e, i) =>
      e +: late.zip(lateAt).collect { case (l, p) if p == i => l }
    }
    val wm = onTime.map(_.ts.getTime).max - 30000L

    val w = onTime.toDF()
      .groupBy(window(col("ts"), "30 seconds"), col("event_type"),
        col("user_id")).agg(count(lit(1)).as("n"))
      .filter(col("window.end") <= lit(new Timestamp(wm)))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("user_id"), col("n"))
    def leg(types: Seq[String], as: String) =
      w.filter(col("event_type").isin(types: _*))
        .groupBy(col("window_start"), col("user_id"))
        .agg(sum(col("n")).as(as))
    val expected = sorted(leg(Seq("click", "view"), "n_a")
      .join(leg(Seq("purchase"), "n_b"), Seq("window_start", "user_id"),
        "full_outer").collect().map(out).toSeq)
    assert(expected.exists(_._1 == 0L) && expected.exists(_._1 == 30L))

    (1 to 20).foreach { seed =>
      val r = new Random(seed)
      val first = 70 + r.nextInt(31)
      val rest = Seq.fill(1 + r.nextInt(4))(first + 1 +
        r.nextInt(arrival.length - first - 1)).distinct.sorted
      val cuts = 0 +: first +: rest :+ arrival.length
      val batches = cuts.sliding(2).map { case Seq(a, b) =>
        arrival.slice(a, b) }.toSeq
      val (rows, q) = drain(batches)
      assert(java.time.Instant.parse(q.lastProgress.eventTime
        .get("watermark")).toEpochMilli === wm, s"seed $seed watermark")
      assert(sorted(rows) === expected, s"seed $seed cuts $cuts")
      assert(LateDataMonitor.droppedByWatermark(q) > 0L, s"seed $seed")
    }
  }
}

object CogroupSinkSpec {
  /** The events schema of the speed layer. */
  final case class Ev(ts: Timestamp, event_type: String,
                      user_id: Option[Long], value: Double = 1.0)
}
