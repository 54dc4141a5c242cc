package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row

/** Structured Streaming assembly of the reference's speed layer
  * (SURVEY.md §3.1, §2.10 T1-T4, J1).
  *
  * Event time = the `ts` column; `withWatermark` + append output mode
  * reproduces Beam's default allowed_lateness=0 discard-late semantics
  * (stream_join.py:479-524 uses default triggers — late records drop).
  *
  * J1 (the 30 s CoGroupByKey of tweets and prices) is ONE stateful
  * conditional aggregation keyed by (window, key): each leg is a
  * `sum(when(leg, 1))` column, so a (window, key) seen by one leg only
  * carries null on the other — the full-outer cogroup of the reference's
  * batch layer (batch_to_mongo.py:235) without a per-batch join. A
  * stream-stream outer join could not emit a (window, key) row when only
  * one side has data (SURVEY.md §7 risk 1).
  */
object StreamingMetrics {

  /** T2+A1-A4: watermarked tumbling-window metrics over one stream. */
  def windowedMetrics(events: DataFrame, dur: String, watermark: String,
                      timeCol: String = "ts", keyCol: String = "event_type",
                      valCol: String = "value"): DataFrame =
    events
      .withWatermark(timeCol, watermark)
      .groupBy(window(col(timeCol), dur), col(keyCol))
      .agg(
        count(lit(1)).as("n_events"),
        avg(col(valCol)).as("avg_value"),
        max_by(col(valCol), col(timeCol)).as("last_value"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("n_events"), col("avg_value"), col("last_value"))

  /** J1: the per-window cogroup of two event-type legs, keyed by
    * (window_start, user_id), written by `sink` once per micro-batch
    * (parquet in tests; any idempotent writer in production — T8).
    *
    * One watermarked aggregation counts both legs: `n_a` over
    * `leftTypes`, `n_b` over `rightTypes`. This equals aggregating each
    * leg and full-outer joining them on (window_start, user_id):
    *  - append mode emits a (window, key) once, in the batch whose
    *    watermark passes the window end — the same batch for every event
    *    type, so both legs of a key arrive in one row;
    *  - `sum` over no non-null input is null, which is exactly the
    *    outer join's missing side.
    *
    * A null `user_id` is one group, as in Beam's CoGroupByKey (which
    * groups by key value, null included): its row carries both legs.
    * A join on the key would instead emit two unmatched rows, since
    * null never equals null.
    *
    * Late rows are dropped at the state store per (window, user_id)
    * partial, counted once per micro-batch in the query's progress.
    * Each action `sink` runs on its batch re-runs the stateful plan, so
    * a sink that needs more than one action should persist the batch.
    */
  def cogroupedMetricsSink(
      events: DataFrame, leftTypes: Seq[String], rightTypes: Seq[String],
      dur: String, watermark: String)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val isL = col("event_type").isin(leftTypes: _*)
    val isR = col("event_type").isin(rightTypes: _*)
    events
      .withWatermark("ts", watermark)
      .filter(isL || isR)
      .groupBy(window(col("ts"), dur), col("user_id"))
      .agg(sum(when(isL, 1L)).as("n_a"), sum(when(isR, 1L)).as("n_b"))
      .select(col("window.start").as("window_start"), col("user_id"),
        col("n_a"), col("n_b"))
      .writeStream
      .outputMode("append")
      .foreachBatch(sink)
  }

  /** Genuine stream-stream inner join (the J1-inner variant): both streams
    * watermarked, joined on key + a bounded event-time band. Spark buffers
    * each side's state until the watermark passes the band — this is the
    * right tool when BOTH raw streams must pair row-by-row; the full-outer
    * per-window cogroup stays a conditional aggregation
    * ([[cogroupedMetricsSink]]) because stream-stream outer joins cannot
    * emit a row for a window where only one side has data (SURVEY.md §7
    * risk 1).
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame, key: String,
                       watermark: String, bandSeconds: Int): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col(key), col("ts").as("l_ts"),
        col("value").as("l_value"))
    val r = right.withWatermark("ts", watermark)
      .select(col(key).as(s"r_$key"), col("ts").as("r_ts"),
        col("value").as("r_value"))
    l.join(r,
      col(key) === col(s"r_$key") &&
      col("r_ts") >= col("l_ts") - expr(s"interval $bandSeconds seconds") &&
      col("r_ts") <= col("l_ts") + expr(s"interval $bandSeconds seconds"))
      .drop(s"r_$key")
  }

  /** Streaming exact dedup: drop payload duplicates keyed by content hash
    * with state bounded by the watermark — the streaming leg of the dedup
    * suite (state is evicted once the watermark passes, so it does not
    * grow with the stream).
    */
  def dedupStream(events: DataFrame, timeCol: String, watermark: String,
                  contentCols: Seq[String]): DataFrame =
    events
      .withColumn("_content_hash",
        md5(concat_ws("|", contentCols.map(col): _*)))
      .withWatermark(timeCol, watermark)
      .dropDuplicatesWithinWatermark("_content_hash")
      .drop("_content_hash")

  /** Session windows over the stream: activity bursts separated by more
    * than `gap` close as independent sessions (the batch analog is the
    * t_session_window query). Spark merges open-session state across
    * micro-batches until the watermark passes a session's end, then emits
    * it once in append mode — state per key is O(open sessions), bounded
    * by the watermark exactly like the tumbling-window case.
    */
  def sessionMetrics(events: DataFrame, gap: String, watermark: String,
                     timeCol: String = "ts", keyCol: String = "event_type",
                     valCol: String = "value"): DataFrame =
    events
      .withWatermark(timeCol, watermark)
      .groupBy(session_window(col(timeCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col(valCol)), 2).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col(keyCol),
        col("n_events"), col("sum_value"))

  /** Speed-layer drift alarm: per-window PSI of a streamed value column
    * against a REFERENCE bin-share vector (precomputed from a batch
    * snapshot via [[graft.ops.StatsOps.psiDrift]]'s binning — same
    * fixed-width clamped bins, same Laplace smoothing). The per-bin
    * counts are conditional aggregates of ONE windowed aggregation (a
    * chained second aggregation is not allowed in streaming), so the op
    * runs in append mode with watermark-bounded O(windows × nBins)
    * state, and the PSI is a plain projection over the finished window
    * row with the reference shares inlined as literals.
    */
  def psiDriftStream(events: DataFrame, refShares: Seq[Double], lo: Double,
                     hi: Double, windowDur: String, watermark: String,
                     timeCol: String = "ts",
                     valCol: String = "value"): DataFrame = {
    val nBins = refShares.length
    val width = (hi - lo) / nBins
    val bin = least(greatest(
      floor((col(valCol) - lo) / width).cast("int"), lit(0)),
      lit(nBins - 1))
    val counts = (0 until nBins).map(b =>
      count(when(bin === b, 1)).as(s"_b$b"))
    val agg = events.withWatermark(timeCol, watermark)
      .groupBy(window(col(timeCol), windowDur))
      .agg(counts.head, counts.tail: _*)
    val total = (0 until nBins).map(b => col(s"_b$b")).reduce(_ + _)
    val psi = (0 until nBins).map { b =>
      val qs = (col(s"_b$b").cast("double") + 0.5) /
        (total.cast("double") + 0.5 * nBins)
      val ps = lit(refShares(b))
      (ps - qs) * log(ps / qs)
    }.reduce(_ + _)
    agg.select(col("window.start").as("window_start"),
      col("window.end").as("window_end"), total.as("n_events"),
      round(psi, 6).as("psi"))
  }

  /** T7/S4: incremental file ingestion — the Structured Streaming file
    * source replaces the reference's hand-rolled processed-blob state file
    * (batch_to_mongo.py:22-57: list blobs, skip processed, persist JSON).
    * Checkpointing tracks processed files natively.
    */
  def fileStream(spark: org.apache.spark.sql.SparkSession,
                 schema: org.apache.spark.sql.types.StructType,
                 path: String, format: String = "json"): DataFrame =
    spark.readStream.schema(schema).format(format)
      .option("maxFilesPerTrigger", 64).load(path)
}
