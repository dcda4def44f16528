package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import graft.ops.Ops

/** Streaming MinHash-LSH candidate pairs — the incremental twin of the
  * batch `Ops.minhashLshPairsOf` (uncapped candidate pairs): as documents
  * arrive on a crawl feed, each lands in its 4 band buckets and is paired
  * against the bucket's previous members, so near-dup candidates surface
  * AT INGEST time instead of in a nightly batch join. Signatures come from
  * the batch path's own kernel (`Ops.minhashOf` over `Ops.trigramHashes`),
  * so with no bucket above the cap the streamed pair SET equals the batch
  * operator's output exactly (q68 pins this under the oracle).
  *
  * State per band bucket is the member-id list, capped at
  * `maxBucketSize`, which defaults to `Ops.LshMaxBucketSize` (512).
  * The cap is a PREFIX cap: members beyond it neither pair nor enter
  * state. So the default does NOT give the exact batch pair set on a feed
  * with a bucket above 512 members; pass `Int.MaxValue` for that. Nor is
  * it the batch guard of `Ops.lshStarEdgesOf`, which sees final bucket
  * sizes and drops a saturated bucket whole.
  */
object StreamingLsh {
  case class BandedDoc(band_key: String, doc_id: Long)
  case class CandidatePair(id_a: Long, id_b: Long)

  /** The 4 band keys of a signature (bandIdx : sig_2j : sig_2j+1) —
    * string-identical to the batch operator's band columns. */
  def bandKeys(sig: Array[Long]): Seq[String] =
    (0 until Ops.MinhashK by 2).map(j => s"${j / 2}|${sig(j)}:${sig(j + 1)}")

  private def fold(maxBucketSize: Int)(
      bandKey: String, docs: Iterator[BandedDoc],
      state: GroupState[Seq[Long]]): Iterator[CandidatePair] = {
    var members = state.getOption.getOrElse(Seq.empty)
    // O(1) membership: probing the Seq state with `contains` is O(n) per
    // arrival, quadratic in a hot bucket
    val seen = scala.collection.mutable.HashSet.empty[Long]
    seen ++= members
    val out = scala.collection.mutable.ArrayBuffer.empty[CandidatePair]
    // deterministic within-batch order; arrival order across batches rides
    // the source file order as usual
    for (d <- docs.toArray.sortBy(_.doc_id) if !seen.contains(d.doc_id)) {
      if (members.size < maxBucketSize) {
        for (m <- members)
          out += CandidatePair(math.min(m, d.doc_id), math.max(m, d.doc_id))
        members = members :+ d.doc_id
        seen += d.doc_id
      } // beyond the cap: neither pairs nor joins state (prefix cap)
    }
    state.update(members)
    out.iterator
  }

  /** The default bucket cap of [[stream]], the batch chain's: without it a
    * saturated band bucket on a template-heavy feed grows state without
    * bound and pairs quadratically. Callers that need the exact uncapped
    * pair set pass `Int.MaxValue`. */
  val DefaultMaxBucketSize: Int = Ops.LshMaxBucketSize

  /** Start the streaming pair emitter over parquet (doc_id, text) files.
    * Emitted pairs may repeat across bands/batches — candidates are a SET
    * (the batch operator distincts too); consumers dedup on read. */
  def stream(spark: SparkSession, sourceDir: String, outDir: String,
             checkpointDir: String,
             maxBucketSize: Int = DefaultMaxBucketSize): StreamingQuery = {
    import spark.implicits._
    val pairs: Dataset[CandidatePair] = FileStream.parquet(spark, sourceDir, maxFilesPerTrigger = 1)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val hs = Ops.trigramHashes(text)
        if (hs == null) Nil else bandKeys(Ops.minhashOf(hs)).map(k => BandedDoc(k, id))
      }
      .groupByKey(_.band_key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        fold(maxBucketSize))
    FileStream.drain(pairs, checkpointDir, outDir)((batch, dir) =>
      batch.write.mode("overwrite").parquet(dir))
  }
}
