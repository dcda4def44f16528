package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous extraction: the SAME per-row conversion flow the batch
  * pipeline runs, over a streaming file source of arriving page files —
  * the "crawl keeps landing" deployment shape.
  *
  * Delivery semantics: each micro-batch is committed by the batch commit,
  * `Pipeline.extractAndCommit`, into its own `outDir/batch=<id>` (rows
  * under `data/bucket=N`, manifests under `_lineage`). A replay of the same
  * batch after a crash resumes that directory bucket by bucket through its
  * lineage manifest: committed buckets are skipped, uncommitted leftovers
  * are deleted and re-extracted — checkpointed source offsets + a resumable
  * commit = exactly-once table contents.
  */
object StreamingExtract {
  /** Start a streaming extraction from `sourceDir` (parquet page files with
    * url/html/text/lang, at least one present: the source schema is read
    * from them) committing extracted rows under `outDir/batch=<id>`.
    * Trigger.AvailableNow drains what is present and stops — the batch-parity
    * test shape; a production deployment uses a processing-time trigger. */
  def stream(spark: SparkSession, sourceDir: String, outDir: String,
             checkpointDir: String, numBuckets: Int = 16): StreamingQuery =
    FileStream.drain(FileStream.parquet(spark, sourceDir, maxFilesPerTrigger = 2),
        checkpointDir, outDir) { (batch, dir) =>
      graft.extract.Pipeline.extractAndCommit(spark, batch, dir, numBuckets)
      ()
    }
}
