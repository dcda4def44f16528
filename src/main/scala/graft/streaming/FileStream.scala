package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The file feed and the micro-batch sink the streaming operators share. */
private[streaming] object FileStream {
  /** The parquet files landing in `dir` as a stream, at most
    * `maxFilesPerTrigger` files per micro-batch. The schema is read from
    * the files already there, so at least one must be present. */
  def parquet(spark: SparkSession, dir: String, maxFilesPerTrigger: Int): DataFrame =
    spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(dir)

  /** Starts `rows` draining what is present (Trigger.AvailableNow), with
    * its offsets checkpointed in `checkpointDir`: each micro-batch goes to
    * `commit` with its own directory, `outDir/batch=<id>`. */
  def drain[T](rows: Dataset[T], checkpointDir: String, outDir: String)
              (commit: (Dataset[T], String) => Unit): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch((batch: Dataset[T], batchId: Long) => commit(batch, s"$outDir/batch=$batchId"))
      .start()
}
