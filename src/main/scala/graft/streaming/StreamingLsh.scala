package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.ops.Ops

/** Streaming MinHash-LSH candidate pairs — the incremental twin of the
  * batch `Ops.minhashLshPairsOf` (uncapped candidate pairs): as documents
  * arrive on a crawl feed, each lands in its 4 band buckets and is paired
  * against the bucket's previous members, so near-dup candidates surface
  * AT INGEST time instead of in a nightly batch join. Signatures are
  * computed by a row-local twin of the column pipeline (same shingles,
  * same polyhash, same permutations — bit-identical), so with no bucket
  * above the cap the streamed pair SET equals the batch operator's output
  * exactly (q68 pins this under the oracle).
  *
  * State per band bucket is the member-id list, capped at
  * `maxBucketSize`, which defaults to 512 (see [[DefaultMaxBucketSize]]).
  * The cap is a PREFIX cap: members beyond it neither pair nor enter
  * state. So the default does NOT give the exact batch pair set on a feed
  * with a bucket above 512 members; pass `Int.MaxValue` for that. Nor is
  * it the batch guard of `Ops.lshStarEdgesOf`, which sees final bucket
  * sizes and drops a saturated bucket whole.
  */
object StreamingLsh {
  case class BandedDoc(band_key: String, doc_id: Long)
  case class CandidatePair(id_a: Long, id_b: Long)

  /** Row-local minhash signature — bit-identical to Ops.minhashSigOf
    * (distinct word-3-grams -> polyhash -> min over the LCG permutations).
    * None when the text has fewer than 3 tokens (no shingle, no signature —
    * same as the batch groupBy producing no row). */
  def minhashSigLocal(text: String): Option[Array[Long]] = {
    // limit -1 keeps trailing empty tokens, matching Spark's split(col, " ")
    // (a plain String.split(" ") drops them and diverges on trailing spaces)
    val w = text.split(" ", -1)
    if (w.length < 3) return None
    val seen = scala.collection.mutable.HashSet.empty[String]
    val sig = Array.fill(Ops.MinhashK)(Long.MaxValue)
    var i = 0
    while (i + 2 < w.length) {
      val ng = w(i) + " " + w(i + 1) + " " + w(i + 2)
      if (seen.add(ng)) {
        val h = graft.functions.PolyHash.hashString(ng)
        var j = 0
        while (j < Ops.MinhashK) {
          val v = java.lang.Math.floorMod(Ops.minhashA(j) * h + Ops.minhashB(j),
            Ops.MinhashP)
          if (v < sig(j)) sig(j) = v
          j += 1
        }
      }
      i += 1
    }
    Some(sig)
  }

  /** The 4 band keys of a signature (bandIdx : sig_2j : sig_2j+1) —
    * string-identical to the batch operator's band columns. */
  def bandKeys(sig: Array[Long]): Seq[String] =
    (0 until Ops.MinhashK by 2).map(j => s"${j / 2}|${sig(j)}:${sig(j + 1)}")

  private def fold(maxBucketSize: Int)(
      bandKey: String, docs: Iterator[BandedDoc],
      state: GroupState[Seq[Long]]): Iterator[CandidatePair] = {
    var members = state.getOption.getOrElse(Seq.empty)
    // O(1) membership: the Seq state probed with `contains` was O(n) per
    // arrival — quadratic in a hot bucket (round-6 hardening; the batch
    // operator hit the same wall in round 4)
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

  /** The default bucket cap of [[stream]]: 512, the batch chain's value
    * (Ops.dedupChain). It was unbounded before round 6; a saturated band
    * bucket on a template-heavy feed would otherwise grow state without
    * bound and pair quadratically. Callers that need the exact uncapped
    * pair set pass `Int.MaxValue`. */
  val DefaultMaxBucketSize = 512

  /** Start the streaming pair emitter over parquet (doc_id, text) files.
    * Emitted pairs may repeat across bands/batches — candidates are a SET
    * (the batch operator distincts too); consumers dedup on read. */
  def stream(spark: SparkSession, sourceDir: String, outDir: String,
             checkpointDir: String,
             maxBucketSize: Int = DefaultMaxBucketSize): StreamingQuery = {
    import spark.implicits._
    val schema = spark.read.parquet(sourceDir).schema
    val pairs: Dataset[CandidatePair] = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(sourceDir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        minhashSigLocal(Option(text).getOrElse("")).toSeq
          .flatMap(sig => bandKeys(sig).map(k => BandedDoc(k, id)))
      }
      .groupByKey(_.band_key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        fold(maxBucketSize))
    pairs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[CandidatePair], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()
  }
}
