package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.agg.SketchFunctions._
import graft.queries.Tables

/**
 * q78: the sketch layer's streaming face as a GATE query — heavy-hitter
 * build (CM + candidate heap, the flagship operator) run through
 * Structured Streaming micro-batches, sharing q02's oracle string
 * verbatim.
 *
 * Why this is exact: the sketch aggregates are mergeable MONOIDS, so a
 * complete-mode streaming aggregation — partial buffers merged into the
 * state store across micro-batches — must produce bit-identically the same
 * sketch as one batch pass, regardless of how the stream is sliced
 * (StreamingSpec pins the bit-parity; this gate pins the VALUES against
 * DuckDB). q02's sizing puts the gate in the deterministic regime
 * (capacity 4096 ≥ user keyspace → no heap trim; ε=1e-4 → collision-free
 * at the verify scale), so the streamed heavy-hitter listing equals exact
 * SQL counts.
 *
 * No watermark, no event-time: a global monoid aggregate is
 * order-insensitive, which is exactly the property that makes the sketch
 * library streaming-ready for free — this gate is the driver-checked proof.
 * Scale: state = ONE sketch buffer (KB–MB), constant in stream length;
 * complete-mode re-emission cost is the sketch size, not the data.
 */
object StreamSketch {

  private val Slices = 3

  /** One global sketch buffer — a single state partition IS the layout. */
  private val StatePartitions = "1"

  /** Progress of the most recent run (test evidence only). */
  @volatile private[graft] var lastRunBatches: Int = 0

  /** q78: top-20 heavy-hitter users via a streamed cm_topk build —
    * identical output contract (and oracle string) to q02. */
  def streamTopKUsers(spark: SparkSession, sfDir: String,
      slices: Int = Slices): DataFrame = {
    val root = SliceReplay.freshRoot("q78")
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id").cast("string").as("k"),
        unix_micros(col("ts").cast("timestamp")).as("tus"))
    val schema = SliceReplay.stage(spark, ev, slices, root)
    val sketch = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$root/in")
      .agg(cm_topk(col("k"), lit(1L), capacity = 4096, eps = 1e-4).as("sk"))
    // complete mode re-emits the full (one-row) aggregate each micro-batch;
    // the LAST capture is the final merged sketch (bounded driver collect —
    // see SliceReplay.CompleteCapture)
    val cap = new SliceReplay.CompleteCapture
    val q = SliceReplay.startSized(spark, StatePartitions) {
      sketch.writeStream.outputMode("complete")
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch(cap.sink _)
        .start()
    }
    lastRunBatches = SliceReplay.runToCompletion(q).batches
    cap.result(spark)
      .select(explode(topk_entries(col("sk"), 20)).as("e"))
      .select(col("e.key").as("user_id"), col("e.est").as("est_count"))
      .orderBy(desc("est_count"), asc("user_id"))
  }

  /** Progress of the most recent q90 run (test evidence only). */
  @volatile private[graft] var lastKllRunBatches: Int = 0

  /** q90: the QUANTILE face of the streaming layer — a KLL build through
    * complete-mode micro-batches, sharing q08's oracle string verbatim.
    * Same exactness argument as q78 one tier over: KLL partial buffers are
    * a merge monoid, and q08's sizing (k = 65536 ≥ every verify-scale row
    * count) keeps the sketch compaction-free, so ANY slicing of the stream
    * merges to the same item multiset and the discrete quantile equals
    * DuckDB's `quantile_disc` exactly. Arrival order comes from the
    * table's own order keys — tus here only SLICES the replay (no
    * watermark, no event-time op: a global monoid aggregate is
    * order-insensitive, and the spec varies the slicing to prove it).
    * State = ONE sketch buffer, constant
    * in stream length; at production k the same plan is the approximate
    * streaming-quantile service with the q64-audited 2/k rank bound. */
  def streamKllPrice(spark: SparkSession, sfDir: String,
      slices: Int = Slices): DataFrame = {
    import spark.implicits._
    val root = SliceReplay.freshRoot("q90")
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_extendedprice").as("x"),
        col("l_orderkey").cast("long").as("tus"))
    val schema = SliceReplay.stage(spark, li, slices, root)
    val sketch = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$root/in")
      .agg(kll_sketch(col("x"), k = 65536).as("sk"))
    val cap = new SliceReplay.CompleteCapture
    val q = SliceReplay.startSized(spark, StatePartitions) {
      sketch.writeStream.outputMode("complete")
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch(cap.sink _)
        .start()
    }
    lastKllRunBatches = SliceReplay.runToCompletion(q).batches
    val sk = cap.result(spark)
    Seq(0.01, 0.25, 0.5, 0.75, 0.99).toDF("p")
      .crossJoin(broadcast(sk))
      .select(col("p"), kll_quantile(col("sk"), col("p")).as("quantile_value"))
      .orderBy("p")
  }

  /** Progress of the most recent q105 run (test evidence only). */
  @volatile private[graft] var lastHllRunBatches: Int = 0

  /** q105: the CARDINALITY face of the streaming layer — q05's HLL
    * distinct-user build through complete-mode micro-batches, sharing
    * q05's oracle string verbatim; with q78 (heavy hitters) and q90
    * (quantiles) this completes the streaming build of every mergeable
    * tier in the library's sketch core. Same exactness argument: HLL
    * merge is register-wise max — associative, commutative and IDEMPOTENT
    * — so ANY slicing of the stream produces bit-identically the batch
    * sketch (the spec varies the slicing to prove it).
    *
    * The exact count in the output is the batch AUDIT over the very
    * arrival files the stream consumed (streaming cannot produce an exact
    * distinct — that is the point of the operator): the streamed artifact
    * is the sketch, the twin pins it inside the 3σ bound. State = ONE
    * 16 KB register array, constant in stream length. */
  def streamHllUsers(spark: SparkSession, sfDir: String,
      slices: Int = Slices): DataFrame = {
    val root = SliceReplay.freshRoot("q105")
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id").cast("string").as("k"),
        unix_micros(col("ts").cast("timestamp")).as("tus"))
    val schema = SliceReplay.stage(spark, ev, slices, root)
    val sketch = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$root/in")
      .agg(hll_sketch(col("k")).as("sk"))
    val cap = new SliceReplay.CompleteCapture
    val q = SliceReplay.startSized(spark, StatePartitions) {
      sketch.writeStream.outputMode("complete")
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch(cap.sink _)
        .start()
    }
    lastHllRunBatches = SliceReplay.runToCompletion(q).batches
    val sk = cap.result(spark)
    spark.read.schema(schema).parquet(s"$root/in")
      .agg(countDistinct(col("k")).as("exact_users"))
      .crossJoin(broadcast(sk))
      .select(col("exact_users"),
        (abs(hll_count(col("sk")).cast("double")
          - col("exact_users").cast("double")) <=
          greatest(lit(2.0), lit(3.0) * hll_stderr(col("sk"))
            * col("exact_users").cast("double"))).as("hll_within_bound"))
  }

  /** Progress of the most recent q112 run (test evidence only). */
  @volatile private[graft] var lastBloomRunBatches: Int = 0

  /** q112: the MEMBERSHIP face of the streaming layer — q07's Bloom build
    * through complete-mode micro-batches, sharing q07's oracle string
    * verbatim. Bloom merge is bitwise OR — associative, commutative and
    * IDEMPOTENT — so any slicing of the member stream produces
    * bit-identically the batch filter; the probe side (every order
    * against the finished filter) runs batch, exactly q07's split. With
    * q78 (CM), q90 (KLL) and q105 (HLL) this closes the claim: EVERY
    * mergeable sketch tier in the library builds correctly under
    * Structured Streaming, each pinned by a shared batch oracle. State =
    * ONE bit array, constant in stream length. */
  def streamBloomOrders(spark: SparkSession, sfDir: String,
      slices: Int = Slices): DataFrame = {
    val root = SliceReplay.freshRoot("q112")
    val members = Tables.customer(spark, sfDir)
      .filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").cast("string").as("k"),
        col("c_custkey").cast("long").as("tus"))
    // ONE bounds+count pass sizes BOTH the slice ranges and the filter
    // (ADVICE r6: a fixed expectedItems=100000 saturates once the member
    // dim outgrows it — the decade corpus has ~333K members, inflating
    // effective fpp from 1e-9 to ~5% and divorcing bloom_positives from
    // true_positives in bench output; sizing from the actual member count
    // keeps the fpp contract at every scale, at no extra job — stage()
    // skips its own bounds aggregate when handed the bounds)
    val b = members.agg(min(col("tus")), max(col("tus")),
      count(lit(1))).head()
    val expected = math.max(100000L, b.getLong(2))
    val schema = SliceReplay.stage(spark, members, slices, root,
      bounds = Some((b.getLong(0), b.getLong(1))))
    val sketch = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$root/in")
      .agg(bloom_sketch(col("k"), expectedItems = expected, fpp = 1e-9).as("sk"))
    val cap = new SliceReplay.CompleteCapture
    val q = SliceReplay.startSized(spark, StatePartitions) {
      sketch.writeStream.outputMode("complete")
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch(cap.sink _)
        .start()
    }
    lastBloomRunBatches = SliceReplay.runToCompletion(q).batches
    graft.queries.SketchQueries.bloomProbeCounts(Tables.orders(spark, sfDir),
      cap.result(spark).select("sk"),
      spark.read.schema(schema).parquet(s"$root/in").select(col("k")).distinct())
  }
}
