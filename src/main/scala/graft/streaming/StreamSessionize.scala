package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.{Sessionize, Tables}

/**
 * q75: sessionization run THROUGH Structured Streaming — the q54 operator
 * as an incremental event-time job, oracle-pinned end-to-end.
 *
 * The plan is the idiomatic streaming form of the 30-min-gap rule:
 * `readStream` (file source, one [[SliceReplay]] slice per micro-batch) →
 * watermark → `groupBy(session_window(ts, 30 min), user_id)` → append-mode
 * session log (parquet, via foreachBatch) → one batch aggregate over the
 * log for the global stats. Spark's session_window merges two events into
 * one session iff their gap is ≤ the gap duration (verified: events
 * exactly 30 min apart merge, +1 s splits) — the SAME boundary rule as the
 * batch operator's `ts - lag(ts) > GapUs` new-session flag, so this gate
 * shares `SessionizeOracleSql` verbatim with q54/q57 (the twin discipline:
 * one oracle string pins the window path, the salted path, and the
 * streaming path against DuckDB's independent window implementation).
 *
 * Determinism: [[SliceReplay]]'s disjoint ordered slices mean no event is
 * ever late and no emitted session can retro-merge (an emitted session's
 * end is below the watermark, and every future event is ≥ gap beyond it),
 * so the emitted session log equals the batch session set exactly, for any
 * slice count. A sentinel event at max(ts) + gap + watermark + margin
 * arrives last to push the watermark past every real session's end; its
 * user id is DATA-DERIVED (max(user_id) + 1 — no reserved value stolen
 * from the key domain, so negative or any other user ids sessionize
 * identically to batch), its session has nothing behind it to close it so
 * it never reaches the log, and it is filtered defensively anyway.
 *
 * Scale: session state is per-user open sessions only (closed sessions are
 * evicted by the watermark — bounded state on an unbounded firehose); the
 * sink is an append-only distributed parquet session log; the stats pass
 * is one batch aggregate over that log. No driver-side collect anywhere.
 */
object StreamSessionize {

  private val WatermarkDelay = "30 minutes"
  private val WatermarkUs = 1800000000L

  /** The streaming session log over `ev` (user_id, event_id, ts, tus) via
    * `slices` time-range micro-batches — exposed for the spec's
    * boundary-straddle fixtures. */
  private[graft] def sessionLog(spark: SparkSession, ev: DataFrame,
      slices: Int = SliceReplay.Slices): DataFrame = {
    val events = ev.select(col("user_id").cast("long"),
      col("event_id").cast("long"), col("ts").cast("timestamp").as("ts"),
      col("tus").cast("long"))
    // ONE bounds pass feeds both the slice ranges and the sentinel: a
    // far-future event advancing the watermark past every real session
    // end (its own session can never close, so it never reaches the log),
    // owned by the data-derived user max(user_id) + 1
    val b = events.agg(min(col("tus")), max(col("tus")),
      max(col("user_id"))).head()
    val (minTus, maxTus, sentinelUser) =
      (b.getLong(0), b.getLong(1), b.getLong(2) + 1L)
    val sentinelTus = maxTus + Sessionize.GapUs + WatermarkUs + 7200000000L
    import spark.implicits._
    val sentinel = Seq((sentinelUser, -1L, sentinelTus))
      .toDF("user_id", "event_id", "tus")
      .select(col("user_id"), col("event_id"),
        timestamp_micros(col("tus")).as("ts"), col("tus"))
    val staged = SliceReplay.stage(spark, "q75", events, slices,
      Some(sentinel), Some((minTus, maxTus)))
    val sessions = SliceReplay.ParquetLog(staged.source
      .withWatermark("ts", WatermarkDelay)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("tus")) - min(col("tus"))).as("dur_us"))
      .select(col("user_id"), col("n_events"), col("dur_us")),
      s"${staged.root}/sessions")
    SliceReplay.drain(staged, stateful = true)(sessions.sink)
    sessions.read.filter(col("user_id") =!= sentinelUser)
  }

  /** q75: global session statistics — identical output contract (and
    * oracle string) to q54/q57, computed through the streaming path. */
  def streamSessionStats(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        col("ts").cast("timestamp").as("ts"),
        unix_micros(col("ts").cast("timestamp")).as("tus"))
    Sessionize.statsFromSessions(sessionLog(spark, ev))
  }
}
