package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.CryptoPipeline
import graft.schemas.Schemas

/** The reference's speed layer assembled end-to-end (SURVEY.md §3.1):
  * tweet JSON stream + wide-price JSON stream -> event-time parse ->
  * explode -> 30 s windowed metrics with the full-outer CoGroupByKey
  * semantics -> parquet sink.
  *
  * Both sources normalize into one envelope stream (kind, event_time,
  * symbol, text, price) before a single watermark; each micro-batch then
  * aggregates the two legs and full-outer joins them
  * (batch_to_mongo.py:201-238 semantics — see SURVEY.md §7 risk 1 for why
  * this beats a stream-stream outer join here). The parquet append per
  * batch id is the idempotent at-least-once sink (T8).
  *
  * Scope note: metrics are computed over each micro-batch's arrivals —
  * exactly the reference's cron-batch discipline (every run windows the
  * new files and appends). A window spanning two micro-batches yields two
  * partial rows, as two reference cron runs would; downstream compaction
  * or an update-mode stateful aggregation tightens that when needed.
  */
object CryptoStreamJob {

  def envelope(tweets: DataFrame, pricesWide: DataFrame,
               symbols: Seq[String]): DataFrame = {
    val t = tweets
      .withColumn("event_time", CryptoPipeline.parseEventTime(
        col("created_at_iso"), col("created_at_raw"), col("timestamp_ms")))
      .filter(col("event_time").isNotNull && col("crypto_key").isNotNull)
      .select(lit("tweet").as("kind"), col("event_time"),
        col("crypto_key").as("symbol"), col("text"),
        lit(null).cast("double").as("price"))
    val p = CryptoPipeline.explodePrices(pricesWide, symbols)
      .withColumn("event_time", timestamp_millis(col("timestamp")))
      .filter(col("event_time").isNotNull)
      .select(lit("price").as("kind"), col("event_time"), col("symbol"),
        lit(null).cast("string").as("text"), col("price"))
    t.unionByName(p)
  }

  /** Start the job over file-source directories; returns the running query.
    */
  def start(spark: SparkSession, tweetsDir: String, pricesDir: String,
            symbols: Seq[String], outDir: String, checkpointDir: String,
            dur: String = "30 seconds",
            watermark: String = "30 seconds"): StreamingQuery = {
    val tweets = StreamingMetrics.fileStream(spark, Schemas.tweetSchema,
      tweetsDir)
    val priceSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("timestamp",
        org.apache.spark.sql.types.LongType) +:
      symbols.map(s => org.apache.spark.sql.types.StructField(s,
        org.apache.spark.sql.types.DoubleType)))
    val prices = StreamingMetrics.fileStream(spark, priceSchema, pricesDir)
    envelope(tweets, prices, symbols)
      .withWatermark("event_time", watermark)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // the emptiness probe and both legs read the batch: persist so
        // the source files are read once per micro-batch
        val b = batch.persist()
        try {
          val tweetsLeg = b.filter(col("kind") === "tweet")
            .select(col("event_time").as("created_at_iso"),
              lit(null).cast("string").as("created_at_raw"),
              lit(null).cast("long").as("timestamp_ms"),
              col("symbol").as("crypto_key"), col("text"))
          val pricesLeg = b.filter(col("kind") === "price")
            .select(col("symbol"), col("price"),
              unix_millis(col("event_time")).as("timestamp"))
          val metrics = CryptoPipeline.windowedCryptoMetrics(
            tweetsLeg, pricesLeg, dur)
          if (!metrics.isEmpty)
            metrics.write.mode("append").parquet(outDir)
        } finally b.unpersist(blocking = true)
      }
      .start()
  }
}
