package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Gap-based sessionization — the custom-state streaming operator the
  * north-star's streaming bullet names (`KeyValueGroupedDataset
  * .flatMapGroupsWithState`): per-user event streams are folded into
  * sessions that CLOSE when the gap to the next event exceeds
  * `gapMinutes`, with event-time timeouts evicting idle state. The batch
  * twin (window lag + running break-count) computes the identical result
  * relationally, so streaming correctness reduces to set equality against
  * an oracle-checked batch query (q66).
  *
  * State per user is ONE open session (O(1)); the watermark-driven timeout
  * bounds state lifetime on a continuous feed — the two properties that
  * make the operator safe on an unbounded crawl/event stream.
  */
object Sessionize {
  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class OpenSession(startUs: Long, lastUs: Long, n: Long, sum: Double)

  /** java.sql.Timestamp <-> MICROsecond epoch (getTime alone truncates to
    * millis and breaks equality against microsecond-resolution event
    * times). */
  private def micros(t: java.sql.Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000
  private def toTs(us: Long): java.sql.Timestamp = {
    val ts = new java.sql.Timestamp(us / 1000000L * 1000L)
    ts.setNanos(((us % 1000000L) * 1000L).toInt)
    ts
  }
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
                     session_end: java.sql.Timestamp, n_events: Long,
                     sum_value: Double)

  /** Batch twin: break when the gap to the previous event exceeds the
    * threshold; running break-count is the session id. */
  def batchSessions(events: DataFrame, gapMinutes: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes * 60000000L
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      // MICROsecond gap arithmetic — the oracle's interval comparison and
      // the streaming fold both work at the event times' full precision
      .withColumn("brk",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapUs, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("brk")).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("sum_value"))
  }

  /** The flatMapGroupsWithState fold. Sessions emit when a later event
    * exceeds the gap (data-driven close) or when the event-time watermark
    * passes lastEvent + gap (timeout close — the production path for users
    * that simply stop). */
  private def fold(gapUs: Long)(
      userId: Long, events: Iterator[SessionEvent],
      state: GroupState[OpenSession]): Iterator[Session] = {
    def emit(s: OpenSession): Session = Session(userId,
      toTs(s.startUs), toTs(s.lastUs),
      s.n, math.rint(s.sum * 10000) / 10000)
    if (state.hasTimedOut) {
      val out = state.getOption.map(emit).iterator
      state.remove()
      out
    } else {
      // within one invocation events are this batch's slice for the user —
      // sort by event time (cross-batch order rides on source file order,
      // bounded by the watermark as usual)
      val evs = events.toArray.sortBy(e => micros(e.ts))
      val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
      var cur = state.getOption
      for (e <- evs) {
        val t = micros(e.ts)
        cur match {
          case Some(s) if t - s.lastUs <= gapUs =>
            // a late cross-batch event may precede the open session's start:
            // extend startUs backwards too, so session_start == min(ts) like
            // the batch twin
            cur = Some(OpenSession(math.min(s.startUs, t), math.max(s.lastUs, t),
              s.n + 1, s.sum + e.value))
          case Some(s) =>
            closed += emit(s)
            cur = Some(OpenSession(t, t, 1, e.value))
          case None =>
            cur = Some(OpenSession(t, t, 1, e.value))
        }
      }
      cur.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(s.lastUs / 1000 + gapUs / 1000) // ms API
      }
      closed.iterator
    }
  }

  /** Start the streaming sessionizer over parquet event files, appending
    * closed sessions to `outDir`. */
  def stream(spark: SparkSession, sourceDir: String, outDir: String,
             checkpointDir: String, gapMinutes: Int): StreamingQuery = {
    import spark.implicits._
    val gapUs = gapMinutes * 60000000L
    val sessions: Dataset[Session] = FileStream.parquet(spark, sourceDir, maxFilesPerTrigger = 1)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("value"))
      .withWatermark("ts", "10 minutes")
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        fold(gapUs))
    FileStream.drain(sessions, checkpointDir, outDir)((batch, dir) =>
      batch.write.mode("overwrite").parquet(dir))
  }
}
