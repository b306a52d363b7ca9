package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.queries.Sessionize

/**
 * q75 contract: the Structured Streaming sessionization (session_window
 * over time-ordered micro-batches) must be SESSION-identical to the batch
 * window operator — the shared-oracle claim — including at the exact gap
 * boundary and across micro-batch boundaries.
 */
class StreamSessionizeSpec extends SparkTestBase {

  import spark.implicits._

  private val Gap = 1800000000L // 30 min in us

  private def ev(rows: (Long, Long, Long)*) = // (user_id, event_id, tus)
    rows.toDF("user_id", "event_id", "tus")
      .select(col("user_id"), col("event_id"),
        timestamp_micros(col("tus")).as("ts"), col("tus"))

  private def logOf(rows: (Long, Long, Long)*) =
    StreamSessionize.sessionLog(spark, ev(rows: _*), slices = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(identity).toSeq

  test("boundary rule parity: gap == 30 min merges, +1 us splits, in BOTH engines") {
    // the claim the shared q54 oracle string rests on: session_window and
    // the lag-based batch flag put the boundary at the same place
    val atGap = ev((1L, 1L, 0L), (1L, 2L, Gap))
    val overGap = ev((2L, 1L, 0L), (2L, 2L, Gap + 1L))
    val batchSessions = Sessionize.sessionIds(atGap.union(overGap))
      .groupBy(col("user_id")).agg(max(col("sid")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batchSessions === Map(1L -> 1L, 2L -> 2L))
    val sw = atGap.union(overGap)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sw === batchSessions)
  }

  test("a session straddling the micro-batch boundary merges in state") {
    // slices=2 over [0, 10h]: the cut falls at 5h; events at 5h-10min and
    // 5h+10min land in DIFFERENT files but 20 min apart -> ONE session
    val h = 3600000000L
    val log = logOf(
      (1L, 1L, 0L), // anchors slice 0's range
      (1L, 2L, 5L * h - 600000000L),
      (1L, 3L, 5L * h + 600000000L),
      (2L, 1L, 10L * h)) // anchors slice 1's range
    assert(log === Seq((1L, 1L, 0L), (1L, 2L, 1200000000L), (2L, 1L, 0L)))
  }

  test("a gap straddling the micro-batch boundary splits across state") {
    val h = 3600000000L
    val log = logOf(
      (1L, 1L, 0L),
      (1L, 2L, 4L * h), // slice 0; next event 2h later in slice 1
      (1L, 3L, 6L * h),
      (2L, 1L, 10L * h))
    assert(log === Seq((1L, 1L, 0L), (1L, 1L, 0L), (1L, 1L, 0L), (2L, 1L, 0L)))
  }

  test("gate parity: streaming stats == batch q54 stats at sf0.001") {
    val stream = StreamSessionize.streamSessionStats(spark, sf("sf0.001"))
      .collect().map(_.toString).toSeq
    val batch = Sessionize.sessionStats(spark, sf("sf0.001"))
      .collect().map(_.toString).toSeq
    assert(stream === batch)
    // the run must have been genuinely incremental AND stateful — a silent
    // rewrite into one batch pass fails here, not at 100x
    val run = SliceReplay.lastRun("q75")
    assert(run.batches >= 4, s"expected >=4 data micro-batches, got ${run.batches}")
    assert(run.stateRows > 0L, "no state rows updated")
  }

  test("sentinel never reaches the log; negative user ids are NOT stolen for it") {
    // the sentinel user is data-derived (max(user_id) + 1), so a negative
    // user id — valid for batch q54 and the shared oracle — must
    // sessionize identically through the streaming path
    val h = 3600000000L
    val log = StreamSessionize.sessionLog(spark,
      ev((7L, 1L, 0L), (7L, 2L, 9L * h),
        (-5L, 3L, 0L), (-5L, 4L, 9L * h)), slices = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // four 1-event sessions (two per user), sentinel (user 8) absent
    assert(log === Seq((-5L, 1L), (-5L, 1L), (7L, 1L), (7L, 1L)))
  }
}
