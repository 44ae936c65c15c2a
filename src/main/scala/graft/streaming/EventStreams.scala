package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-stream operators over the `events` fixture shape: tumbling /
  * sliding / session windows, interval joins, and two arbitrary-state
  * operators — gap detection and forward fill — each one
  * `flatMapGroupsWithState` holding one small value per key. Batch and
  * streaming share the same expressions, so batch runs serve as the oracle
  * for the streaming path (asserted in StreamingSpec).
  */
object EventStreams {

  /** Tumbling event-time window aggregate (works on batch or stream;
    * stream callers add a watermark first). */
  def tumbling(events: DataFrame, dur: String): DataFrame =
    events.groupBy(window(col("ts"), dur), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("total"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("total"))

  /** Sliding window: each event lands in dur/slide windows. */
  def sliding(events: DataFrame, dur: String, slide: String): DataFrame =
    events.groupBy(window(col("ts"), dur, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** Session windows per user with a fixed inactivity gap. */
  def sessions(events: DataFrame, gap: String): DataFrame =
    events.groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .select(col("user_id"), col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("n_events"),
        col("first_ts"), col("last_ts"))

  /** Stream-stream INTERVAL JOIN shape: left rows matched to right rows
    * with `keyEq` satisfied and `rTs` within [lTs - lookback, lTs].
    * Works identically on batch or streaming inputs; streaming callers
    * watermark BOTH sides first — the bounded time range is exactly what
    * lets Spark evict join state, so executor state stays O(rows inside
    * the lookback window) instead of O(stream history). Batch runs of the
    * same expression are the oracle (s5 at the driver gate; stream-vs-
    * batch equivalence in StreamingSpec). */
  def intervalJoin(left: DataFrame, right: DataFrame, keyEq: Column,
      lTs: Column, rTs: Column, lookback: String): DataFrame =
    left.join(right,
      keyEq && rTs >= lTs - expr(s"INTERVAL $lookback") && rTs <= lTs)

  case class Ping(user_id: Long, ts: Timestamp)
  case class Gap(user_id: Long, last_seen: Timestamp, silent_ms: Long)

  /** Arbitrary-state example (SURVEY §2b): emit a Gap row whenever a user's
    * consecutive events are more than `gapMs` apart — flatMapGroupsWithState
    * keeping only (last timestamp) per key, so state is O(#users). */
  def detectGaps(pings: Dataset[Ping], gapMs: Long): Dataset[Gap] = {
    import pings.sparkSession.implicits._
    pings.groupByKey(_.user_id)
      .flatMapGroupsWithState[Timestamp, Gap](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[Ping], state: GroupState[Timestamp]) =>
          val sorted = rows.toSeq.sortBy(_.ts.getTime)
          var last = state.getOption
          val gaps = Seq.newBuilder[Gap]
          sorted.foreach { p =>
            last.foreach { prev =>
              val silent = p.ts.getTime - prev.getTime
              if (silent > gapMs) gaps += Gap(uid, prev, silent)
            }
            last = Some(p.ts)
          }
          last.foreach(state.update)
          gaps.result().iterator
      }
  }

  case class HourObs(user_id: Long, hour_ms: Long, v: Long)
  case class FilledHour(user_id: Long, hour_ms: Long, v: Long,
      was_observed: Boolean)

  /** Streaming twin of [[graft.queries.TimeSeries.gapFillHourly]]:
    * per-entity forward fill over finalized hourly observations. Each
    * incoming (entity, hour, value) row emits itself plus one carried
    * row per missing hour since the entity's previous observation.
    * State is one (hour_ms, value) pair per entity — O(#entities),
    * independent of stream length.
    *
    * Input contract: observations must arrive per-entity in
    * NON-DECREASING hour order across micro-batches (within a batch any
    * order is fine — the group iterator is sorted). In a deployment
    * that is exactly what an upstream watermarked hourly aggregation
    * emits in append mode: an hour is finalized (and thus emitted) only
    * once the watermark passes it, in event-time order. Cross-batch
    * equivalence against the batch operator is asserted in
    * StreamingSpec. */
  def fillGapsHourly(obs: Dataset[HourObs]): Dataset[FilledHour] = {
    import obs.sparkSession.implicits._
    val hourMs = 3600000L
    obs.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), FilledHour](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[HourObs],
            state: GroupState[(Long, Long)]) =>
          val sorted = rows.toSeq.sortBy(_.hour_ms)
          var last = state.getOption
          val out = Seq.newBuilder[FilledHour]
          sorted.foreach { o =>
            last.foreach { case (lh, lv) =>
              var h = lh + hourMs
              while (h < o.hour_ms) {
                out += FilledHour(uid, h, lv, was_observed = false)
                h += hourMs
              }
            }
            out += FilledHour(uid, o.hour_ms, o.v, was_observed = true)
            last = Some((o.hour_ms, o.v))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }
}
