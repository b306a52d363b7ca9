package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/**
 * q93 contract: the streamed interval join's pair log must equal the
 * batch interval join EXACTLY (the oracle restates that join in DuckDB),
 * for any slice count, including pairs that straddle a micro-batch
 * boundary — and the run must be genuinely incremental and stateful with
 * watermark eviction bounding state below the stream size.
 */
class StreamJoinSpec extends SparkTestBase {

  import spark.implicits._

  private val H = 3600000000L // 1h in us

  /** Fixture epoch base (2020-09-13): an event at raw tus=0 would land ON
    * the zero-initialized watermark and be dropped as late — every
    * streaming fixture sits far above the epoch (the q79 lesson). */
  private val B = 1600000000000000L

  // (event_id, user_id, tus-offset-from-B, event_type, value)
  private def ev(rows: (Long, Long, Long, String, Double)*) =
    rows.map { case (e, u, t, ty, v) => (e, u, B + t, ty, v) }
      .toDF("event_id", "user_id", "tus", "event_type", "value")
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("tus")).as("ts"), col("tus"),
        col("event_type"), col("value"))

  private def pairsOf(df: org.apache.spark.sql.DataFrame, slices: Int) =
    StreamJoin.pairLog(spark, df, slices)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(identity).toSeq

  test("a pair straddling the micro-batch boundary matches from state; beyond-horizon does not") {
    // slices=2 over [0, 10h]: the cut falls at 5h. The click at 5h-30min
    // must match the purchase at 5h+30min (different files, 1h lag) but
    // NOT the purchase at 5h-30min+2h+1us (one tick past the horizon).
    val df = ev(
      (1L, 1L, 0L, "view", 0.0), // anchors slice 0's range
      (2L, 7L, 5L * H - 1800000000L, "click", 0.0),
      (3L, 7L, 5L * H + 1800000000L, "purchase", 5.25),
      (4L, 7L, 5L * H - 1800000000L + StreamJoin.HorizonUs + 1L, "purchase", 9.0),
      (5L, 1L, 10L * H, "view", 0.0)) // anchors slice 1's range
    assert(pairsOf(df, 2) === Seq((7L, 2L, 3L, H, 5250000L)))
  }

  test("the horizon boundary is inclusive and self-time purchases match") {
    val df = ev(
      (1L, 3L, 0L, "click", 0.0),
      (2L, 3L, 0L, "purchase", 1.0), // lag 0: inclusive lower bound
      (3L, 3L, StreamJoin.HorizonUs, "purchase", 2.0), // exactly 2h: inclusive
      (4L, 9L, StreamJoin.HorizonUs, "view", 0.0))
    assert(pairsOf(df, 2) === Seq(
      (3L, 1L, 2L, 0L, 1000000L),
      (3L, 1L, 3L, StreamJoin.HorizonUs, 2000000L)))
  }

  test("user keys never cross: same timing, different user -> no pair") {
    val df = ev(
      (1L, 1L, 0L, "click", 0.0),
      (2L, 2L, H, "purchase", 3.0),
      (3L, 1L, 10L * H, "view", 0.0))
    assert(pairsOf(df, 2) === Seq.empty)
  }

  test("gate parity: streamed pair log == batch interval join at sf0.001, slicing-invariant") {
    val raw = graft.queries.Tables.events(spark, sf("sf0.001"))
      .select(col("event_id"), col("user_id"),
        col("ts").cast("timestamp").as("ts"),
        unix_micros(col("ts").cast("timestamp")).as("tus"),
        col("event_type"), col("value"))
    val batch = StreamJoin.pairsBatch(raw)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(identity).toSeq
    assert(batch.nonEmpty, "fixture corpus must contain attributable pairs")
    val s2 = pairsOf(raw, 2)
    val s4 = pairsOf(raw, 4)
    assert(s2 === batch)
    assert(s4 === batch, "pair log must be independent of the slicing")
    // genuinely incremental, stateful, and watermark-evicted: peak resident
    // state must sit well below the full click+purchase population — a
    // never-evicting join accumulates everything and fails HERE, not at 100x
    val run = SliceReplay.lastRun("q93")
    assert(run.batches >= 4, s"expected >=4 data micro-batches, got ${run.batches}")
    val population = raw
      .filter(col("event_type").isin("click", "purchase")).count()
    assert(run.stateRowsMax > 0L, "join kept no state")
    assert(run.stateRowsMax < population,
      s"state never evicted: peak ${run.stateRowsMax} of $population")
  }
}
