package perfbench

import java.time.Instant

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._

import graft.streaming.StreamingMetrics

/** The `speed_layer` workload: a closed-loop drain of a seeded event feed
  * through `StreamingMetrics.cogroupedMetricsSink` (the J1 30 s window
  * cogroup of click/view against purchase). The feed is one parquet file
  * per micro-batch (`maxFilesPerTrigger=1`), so each batch starts only
  * after the previous one commits, as in catch-up after a restart. A
  * per-batch parquet sink writes each batch under `batch_id=<n>`.
  *
  * File `f` holds events of [T0 + f*10 s, T0 + (f+1)*10 s) plus, from
  * file 2 on, late bursts 120 s behind the file's start: always below
  * the watermark (previous batches' max event time - 30 s) whatever the
  * batch boundaries, so exactly the late rows are dropped.
  */
object SpeedLayer {
  val FileSpanSec = 10L
  val T0: Instant = Instant.parse("2024-01-01T00:00:00Z")

  val schema: StructType = StructType(Seq(
    StructField("ts", TimestampType), StructField("event_type", StringType),
    StructField("user_id", LongType), StructField("value", DoubleType)))

  final case class Drain(wallS: Double, cpuS: Double,
                         batches: Seq[StreamingQueryProgress],
                         sinkMs: Seq[Double])

  /** Drains `feed` from a fresh checkpoint into `sinkDir` and, if
    * `checked`, checks the union of the sink's rows against a batch
    * recomputation.
    */
  def drain(spark: SparkSession, ctx: Ctx, feed: String, tag: String,
            trace: Trace, checked: Boolean = true): Drain = {
    val res = ctx.res
    val sinkDir = s"${ctx.work}/sink_$tag"
    val sinkMs = mutable.ArrayBuffer[Double]()
    val events = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(feed)
    val writer = StreamingMetrics.cogroupedMetricsSink(events,
        Seq("click", "view"), Seq("purchase"), "30 seconds", "30 seconds") {
      (df, id) =>
        val t0 = System.nanoTime()
        df.write.mode("overwrite").parquet(s"$sinkDir/batch_id=$id")
        val t1 = System.nanoTime()
        sinkMs.synchronized(sinkMs += (t1 - t0) / 1e6)
        trace.record("sink", s"$tag|batch$id", t0, t1)
    }.option("checkpointLocation", s"${ctx.work}/ckpt_$tag")
    val c0 = Ctx.cpuNs
    val t0 = System.nanoTime()
    val q = trace.span("drain", tag) {
      val q = writer.start()
      try q.processAllAvailable()
      finally q.stop()
      q
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Ctx.cpuNs - c0) / 1e9
    val progress = q.recentProgress.toSeq
    val data = progress.filter(_.numInputRows > 0)
    System.err.println(f"[perfbench] drain $tag $wall%.3f s, batches (ms): " +
      data.map(_.durationMs.get("triggerExecution")).mkString(" "))
    res.attempted += data.size
    if (checked) check(spark, ctx, feed, sinkDir, progress, tag)
    Drain(wall, cpu, data, sinkMs.toSeq)
  }

  /** Sink rows == both legs recomputed in batch over the on-time rows, for
    * every window that the last batch's watermark closed.
    */
  private def check(spark: SparkSession, ctx: Ctx, feed: String,
                    sinkDir: String, progress: Seq[StreamingQueryProgress],
                    tag: String): Unit = {
    ctx.res.attempted += 1
    try {
      val wm = progress.lastOption
        .flatMap(p => Option(p.eventTime.get("watermark")))
        .map(s => Instant.parse(s)).getOrElse(Instant.EPOCH)
      val keys = Seq(col("window_start"), col("user_id"))
      val cols = keys ++ Seq(col("n_a"), col("n_b"))
      val fileIdx = regexp_extract(input_file_name(), "feed-(\\d+)", 1)
        .cast("long")
      val onTime = spark.read.schema(schema).parquet(feed)
        .filter(col("ts") >= lit(java.sql.Timestamp.from(T0)) +
          make_dt_interval(lit(0), lit(0), lit(0), fileIdx * FileSpanSec))
      val w = onTime.groupBy(window(col("ts"), "30 seconds"),
          col("event_type"), col("user_id")).agg(count(lit(1)).as("n"))
        .filter(col("window.end") <= lit(java.sql.Timestamp.from(wm)))
        .select(col("window.start").as("window_start"),
          col("event_type"), col("user_id"), col("n"))
      def leg(types: Seq[String], as: String): DataFrame =
        w.filter(col("event_type").isin(types: _*))
          .groupBy(keys: _*).agg(sum(col("n")).as(as))
      val expected = leg(Seq("click", "view"), "n_a")
        .join(leg(Seq("purchase"), "n_b"), Seq("window_start", "user_id"),
          "full_outer").select(cols: _*)
      val got = spark.read.parquet(sinkDir).select(cols: _*)
      val (de, dg) = (Digest.of(expected, "expected"), Digest.of(got, "sink"))
      if (de != dg || de.rows == 0)
        ctx.res.fail(s"$tag/check", s"sink $dg != recomputed $de (wm $wm)")
    } catch {
      case NonFatal(e) => ctx.res.fail(s"$tag/check", e.toString)
    }
  }

  private def durMs(ps: Seq[StreamingQueryProgress], k: String): Seq[Double] =
    ps.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble))

  def run(spark0: SparkSession, ctx: Ctx): Unit = {
    val m = ctx.res.metrics
    var spark = spark0
    val off = new Trace(false)
    val feed = s"${ctx.inputs}/feed"
    drain(spark, ctx, s"${ctx.inputs}/warm", "warm", off, checked = false)

    ctx.res.timedStart()
    val (gc0, jit0) = (Ctx.gcMs, Ctx.jitMs)
    val d = drain(spark, ctx, feed, "timed", off)
    val lat = d.batches.map(_.durationMs.get("triggerExecution").toDouble)
    m("wall_s") = d.wallS
    m("cpu_s") = d.cpuS
    m("op_p50_ms") = Ctx.quantile(lat, 0.5)

    if (ctx.trace) {
      m("jvm.gc_s") = (Ctx.gcMs - gc0) / 1e3
      m("jvm.jit_s") = (Ctx.jitMs - jit0) / 1e3
      val trace = new Trace(true)
      trace.attach(spark)
      val t = drain(spark, ctx, feed, "t", trace)
      trace.detach(spark)
      m("trace.overhead_s") = t.wallS - d.wallS
      Layers.exec(m, trace, _ => true)
      val ps = trace.progress.map(_.progress).filter(_.numInputRows > 0)
        .toSeq
      // micro-batch spans, parented by the drain span; sinks nest in them
      val drainId = trace.idOf("drain", "t")
      ps.foreach { p =>
        val start = trace.nanoOf(Instant.parse(p.timestamp).toEpochMilli)
        trace.record("batch", s"t|batch${p.batchId}", start,
          start + p.durationMs.get("triggerExecution") * 1000000L, drainId)
      }
      trace.nest("sink", "batch")
      m("streaming.batches") = ps.size
      m("streaming.batch_p75_ms") = Ctx.quantile(lat, 0.75)
      m("streaming.rows_per_s") = ps.map(_.numInputRows).sum / d.wallS
      Seq("add_batch" -> "addBatch", "query_planning" -> "queryPlanning",
          "latest_offset" -> "latestOffset", "get_batch" -> "getBatch",
          "wal_commit" -> "walCommit", "commit_offsets" -> "commitOffsets")
        .foreach { case (n, k) =>
          m(s"streaming.${n}_ms") = Ctx.median(durMs(ps, k))
        }
      val lastOps = ps.lastOption.toSeq.flatMap(_.stateOperators)
      m("streaming.state_rows") = lastOps.map(_.numRowsTotal).sum
      m("streaming.state_mem_bytes") = lastOps.map(_.memoryUsedBytes).sum
      val dropped = ps.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      m("streaming.late_dropped_rows") = dropped
      m("streaming.late_drop_share") =
        dropped.toDouble / math.max(1L, ps.map(_.numInputRows).sum)
      m("streaming.sink_write_ms") = Ctx.median(t.sinkMs)
      trace.write(s"${ctx.out}/trace_spans.jsonl")
      Layers.selfTimes(m, trace)

      // the same drain on one core: exec.scaling_4v1, and the output
      // check re-run at a different core count
      spark.stop()
      spark = Ctx.session(1, ctx.work)
      m("exec.scaling_4v1") = drain(spark, ctx, feed, "c1", off).wallS / d.wallS
    }
  }
}
