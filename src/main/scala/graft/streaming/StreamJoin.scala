package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.Tables

/**
 * q93: click→purchase attribution as a STREAM-STREAM event-time interval
 * join — the fifth streaming face (after the stateful window q75, the
 * monoid sketch q78, bounded-state dedup q79/q82 and quantiles q90):
 * two `readStream`s over the same [[SliceReplay]] arrival log (one
 * filtered to clicks, one to purchases), both watermarked, inner-joined on
 * the user key plus the event-time range `c.ts ≤ p.ts ≤ c.ts + 2 h`, the
 * matched pairs appended to a distributed parquet log, and ONE batch
 * census over that log. The oracle replays the identical interval join in
 * DuckDB over the static table — a FULL value oracle (pair count, distinct
 * clicks/users/purchases, attributed value, lag extrema and mass).
 *
 * Why the streamed pair set equals the batch join exactly: Spark emits
 * inner stream-stream matches EAGERLY (no watermark hold — only outer
 * sides wait for eviction), and a click's state survives until the
 * purchase-side watermark passes `c.ts + 2 h`, which [[SliceReplay]]'s
 * disjoint oldest-first slices guarantee happens only after every
 * purchase that could still match has arrived. So no pair is dropped at a
 * slice boundary and no sentinel row is needed. Slicing invariance (2 vs
 * 4 slices, same pairs) is spec-pinned.
 *
 * Scale: this is the 100 TB attribution shape — join state is the last
 * 2 h of clicks plus the in-flight purchases per state partition (the
 * range condition is the eviction rule, so state is horizon-bounded, not
 * stream-bounded: spec-witnessed via peak `numRowsTotal` ≪ stream size);
 * the pair log is append-only and distributed; the census is one
 * aggregate with no driver residency. Value doubles are floored to micro
 * BIGINTs at the pair (the cross-engine double discipline).
 */
object StreamJoin {

  private val WatermarkDelay = "30 minutes"

  /** Attribution horizon: purchases within 2 h after the click. */
  private[graft] val HorizonUs = 7200000000L

  /** The batch twin of the streamed interval join — the spec's ground
    * truth (the oracle states the same join in DuckDB). */
  private[graft] def pairsBatch(ev: DataFrame): DataFrame = {
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("user_id"),
        col("tus").as("ctus"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id").as("p_user"),
        col("tus").as("ptus"), col("value"))
    c.join(p, col("user_id") === col("p_user") &&
        col("ptus") >= col("ctus") &&
        col("ptus") <= col("ctus") + lit(HorizonUs))
      .select(col("user_id"), col("cid"), col("pid"),
        (col("ptus") - col("ctus")).as("lag_us"),
        floor(col("value") * lit(1000000L)).cast("long").as("val_micro"))
  }

  /** Stream `ev` (event_id, user_id, ts, tus, event_type, value) through
    * the interval join via `slices` micro-batches; returns the matched
    * pair log (user_id, cid, pid, lag_us, val_micro) — exposed for the
    * spec's cross-slice fixtures. */
  private[graft] def pairLog(spark: SparkSession, ev: DataFrame,
      slices: Int = SliceReplay.Slices): DataFrame = {
    val staged = SliceReplay.stage(spark, "q93", ev.select(col("event_id").cast("long"),
      col("user_id").cast("long"), col("ts").cast("timestamp").as("ts"),
      col("tus").cast("long"), col("event_type").cast("string"),
      col("value").cast("double")), slices)
    def side(tpe: String): DataFrame = staged.source.filter(col("event_type") === tpe)
    val clicks = side("click")
      .select(col("event_id").as("cid"), col("user_id"),
        col("ts").as("cts"), col("tus").as("ctus"))
      .withWatermark("cts", WatermarkDelay)
    val buys = side("purchase")
      .select(col("event_id").as("pid"), col("user_id").as("p_user"),
        col("ts").as("pts"), col("tus").as("ptus"), col("value"))
      .withWatermark("pts", WatermarkDelay)
    // the interval literal derives from HorizonUs so the streamed range
    // condition and the batch twin's bound can never drift apart
    val pairs = clicks.join(buys,
        expr("user_id = p_user AND pts >= cts AND " +
          s"pts <= cts + interval ${HorizonUs / 1000000L} seconds"))
      .select(col("user_id"), col("cid"), col("pid"),
        (col("ptus") - col("ctus")).as("lag_us"),
        floor(col("value") * lit(1000000L)).cast("long").as("val_micro"))
    val log = SliceReplay.ParquetLog(pairs, s"${staged.root}/pairs")
    SliceReplay.drain(staged, stateful = true)(log.sink)
    log.read
  }

  /** The one-row census shared by the gate and the oracle contract. */
  private[graft] def census(pairs: DataFrame): DataFrame =
    pairs.agg(
      count(lit(1)).as("n_pairs"),
      countDistinct(col("user_id")).as("n_users"),
      countDistinct(col("cid")).as("n_clicks"),
      countDistinct(col("pid")).as("n_purchases"),
      sum(col("val_micro")).as("value_micro"),
      min(col("lag_us")).as("min_lag_us"),
      max(col("lag_us")).as("max_lag_us"),
      sum(col("lag_us")).as("sum_lag_us"))

  /** q93: the attribution census computed through the streaming path. */
  def streamAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        col("ts").cast("timestamp").as("ts"),
        unix_micros(col("ts").cast("timestamp")).as("tus"),
        col("event_type"), col("value"))
    census(pairLog(spark, ev))
  }
}
