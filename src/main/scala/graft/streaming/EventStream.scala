package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming surface: the same tumbling-window aggregation the
  * batch query q05 computes, expressed as readStream -> watermark -> window
  * -> memory sink. The transform is shared between batch and streaming so
  * correctness of the streaming path reduces to the oracle-checked batch
  * result.
  *
  * At scale this runs against a file/Kafka source with the identical plan;
  * state is bounded by the watermark (1h windows x 2h late tolerance).
  */
object EventStream {
  /** Shared transform: tumbling 1h windows per event_type. The parquet ts is
    * TIMESTAMP_NTZ; watermarks require TIMESTAMP, so normalize (session TZ is
    * UTC, so the instant is unchanged). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col("w.start").cast("timestamp_ntz").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Batch form (same physical agg, no state). */
  def batch(spark: SparkSession, sfDir: String): DataFrame =
    windowedCounts(spark.read.parquet(s"$sfDir/events.parquet"))
      .orderBy("hour_start", "event_type")

  /** Streaming exact dedup: dropDuplicatesWithinWatermark on the business
    * key — the streaming twin of q13/q14's exact-dedup pass (a training-data
    * pipeline ingesting a crawl feed dedups incrementally instead of
    * re-running batch dedup per drop). The WithinWatermark variant is what
    * actually bounds state: plain dropDuplicates(subset) only evicts when
    * the event-time column is part of the subset, so keyed dedup state
    * would grow forever on a continuous feed. */
  def dedupStream(spark: SparkSession, sourceDir: String,
                  sinkTable: String): StreamingQuery = {
    FileStream.parquet(spark, sourceDir, maxFilesPerTrigger = 4)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("user_id"), col("event_type"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(sinkTable)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming form over a file source; returns the started query writing to
    * an in-memory table named `sinkTable`. */
  def stream(spark: SparkSession, sourceDir: String, sinkTable: String): StreamingQuery = {
    val events = FileStream.parquet(spark, sourceDir, maxFilesPerTrigger = 4)
    windowedCounts(events.withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "2 hours"))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(sinkTable)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
