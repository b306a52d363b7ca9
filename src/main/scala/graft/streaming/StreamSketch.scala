package graft.streaming

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import graft.agg.Decoder
import graft.agg.SketchFunctions._
import graft.queries.{SketchQueries, Tables}
import graft.sketch.Mergeable

/**
 * The sketch layer's streaming faces as GATE queries: q78 (heavy hitters,
 * `cm_topk`), q90 (quantiles, `kll_sketch`), q105 (cardinality,
 * `hll_sketch`) and q112 (membership, `bloom_sketch`) build their sketch
 * through Structured Streaming micro-batches, each sharing its batch
 * twin's oracle string verbatim.
 *
 * Why this is exact: the sketches are mergeable MONOIDS, so folding each
 * micro-batch's sketch into a running sketch gives the same sketch as one
 * batch pass, however the stream is sliced (StreamSketchSpec pins it;
 * these gates pin the VALUES against DuckDB). Each gate's sizing puts it
 * in the deterministic regime, so the streamed answer equals exact SQL.
 *
 * The fold ([[SketchFold]]) is the paper's shape — one in-memory sketch
 * that every packet batch is folded into and a query reads. Each
 * micro-batch runs through `foreachBatch` as a plain batch aggregate (the
 * library aggregator, partial buffers and all), and the driver merges
 * that one sketch into the running one with the kind's [[Decoder]] and
 * `Mergeable.merge`. No state store is involved: the running blob is
 * written atomically to `<checkpoint>/sketch/<batchId>` after every batch,
 * so a restart on the same checkpoint resumes and a replayed batch id is
 * never counted twice. No watermark, no event-time: a global monoid
 * aggregate is order-insensitive. Scale: the driver holds ONE sketch
 * (KB–MB), constant in stream length.
 *
 * Staging and the stream run inside [[SliceReplay.scoped]], so the
 * checkpoint logs and the staged slices are written without a shell fork
 * per file. Each gate answers through its batch twin's own code over the
 * folded frame (`SketchQueries.topUsers`, `kllQuantiles`,
 * `bloomProbeCounts`), so the two can only agree.
 */
object StreamSketch {

  /** Folds micro-batches into one running sketch of kind `decode`: each
    * batch's `build` aggregate merges into the sketch of the batch before,
    * and the running blob is written atomically to `checkpoint/sketch/<id>`.
    * Batch b starts from blob b-1, or from memory when memory holds exactly
    * b-1, so a batch id handed in twice replaces its own result. */
  private[streaming] final class SketchFold[S <: Mergeable[S]](decode: Decoder[S],
      build: Column, checkpoint: String) {
    private val dir = new File(checkpoint, "sketch")
    /** (batch id, running sketch, its blob) after the last folded batch. */
    @volatile private var held: Option[(Long, S, Array[Byte])] = None

    private def blob(id: Long) = new File(dir, id.toString)

    /** foreachBatch body. */
    def sink(batch: DataFrame, batchId: Long): Unit = {
      val prior = held match {
        case Some((id, s, _)) if id == batchId - 1 => Some(s)
        case _ if batchId == 0 => None
        case _ =>
          val f = blob(batchId - 1)
          require(f.isFile, s"no folded sketch for batch ${batchId - 1} under $dir")
          Some(decode(Files.readAllBytes(f.toPath)))
      }
      held = None // the merge below may mutate the held sketch
      val part = decode(batch.agg(build).head().getAs[Array[Byte]](0))
      val running = prior.fold(part)(_.merge(part))
      val bytes = running.serialize()
      dir.mkdirs()
      val tmp = new File(dir, s".$batchId.tmp")
      Files.write(tmp.toPath, bytes)
      Files.move(tmp.toPath, blob(batchId).toPath,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      // batch b+1 reads only blob b, and a replay of b+1 reads blob b
      blob(batchId - 2).delete()
      held = Some((batchId, running, bytes))
    }

    /** The running blob after the last batch folded by this sink, else
      * the newest one on disk, as a one-row local frame with column `sk`. */
    def result(spark: SparkSession): DataFrame = {
      val bytes = held.map(_._3).getOrElse {
        val ids = Option(dir.list()).getOrElse(Array.empty[String])
          .filterNot(_.startsWith(".")).map(_.toLong)
        require(ids.nonEmpty, s"no micro-batch was folded under $dir")
        Files.readAllBytes(blob(ids.max).toPath)
      }
      spark.createDataFrame(java.util.List.of(Row(bytes)),
        StructType(Seq(StructField("sk", BinaryType))))
    }
  }

  /** Streams `staged`'s arrivals through a [[SketchFold]] checkpointed at
    * `staged.checkpoint`; returns the final sketch frame. */
  private[streaming] def foldStream[S <: Mergeable[S]](staged: SliceReplay.Staged,
      decode: Decoder[S], build: Column): DataFrame = {
    val fold = new SketchFold(decode, build, staged.checkpoint)
    SliceReplay.drain(staged, stateful = false)(
      staged.source.writeStream.foreachBatch(fold.sink _))
    fold.result(staged.spark)
  }

  /** q78: top-20 heavy-hitter users via a streamed cm_topk build —
    * identical output contract (and oracle string) to q02. */
  def streamTopKUsers(spark: SparkSession, sfDir: String,
      slices: Int = SliceReplay.Slices): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id").cast("string").as("k"),
        unix_micros(col("ts").cast("timestamp")).as("tus"))
    SketchQueries.topUsers(foldStream(SliceReplay.stage(spark, "q78", ev, slices),
      Decoder.TopK, cm_topk(col("k"), lit(1L), capacity = 4096, eps = 1e-4)))
  }

  /** q90: the QUANTILE face of the streaming layer — a KLL build folded over
    * micro-batches, sharing q08's oracle string verbatim.
    * Same exactness argument as q78 one tier over: KLL partial buffers are
    * a merge monoid, and q08's sizing (k = 65536 ≥ every verify-scale row
    * count) keeps the sketch compaction-free, so ANY slicing of the stream
    * merges to the same item multiset and the discrete quantile equals
    * DuckDB's `quantile_disc` exactly. Arrival order comes from the
    * table's own order keys — tus here only SLICES the replay (no
    * watermark, no event-time op: a global monoid aggregate is
    * order-insensitive, and the spec varies the slicing to prove it).
    * The driver holds ONE sketch, constant
    * in stream length; at production k the same plan is the approximate
    * streaming-quantile service with the q64-audited 2/k rank bound. */
  def streamKllPrice(spark: SparkSession, sfDir: String,
      slices: Int = SliceReplay.Slices): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_extendedprice").as("x"),
        col("l_orderkey").cast("long").as("tus"))
    SketchQueries.kllQuantiles(foldStream(SliceReplay.stage(spark, "q90", li, slices),
      Decoder.Kll, kll_sketch(col("x"), k = 65536)))
  }

  /** q105: the CARDINALITY face of the streaming layer — q05's HLL
    * distinct-user build folded over micro-batches, sharing
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
    * is the sketch, the twin pins it inside the 3σ bound. The driver holds
    * ONE 16 KB register array, constant in stream length. */
  def streamHllUsers(spark: SparkSession, sfDir: String,
      slices: Int = SliceReplay.Slices): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id").cast("string").as("k"),
        unix_micros(col("ts").cast("timestamp")).as("tus"))
    val staged = SliceReplay.stage(spark, "q105", ev, slices)
    val sk = foldStream(staged, Decoder.Hll, hll_sketch(col("k"))).scalar()
    staged.table.agg(countDistinct(col("k")).as("exact_users"))
      .select(col("exact_users"),
        (abs(hll_count(sk).cast("double")
          - col("exact_users").cast("double")) <=
          greatest(lit(2.0), lit(3.0) * hll_stderr(sk)
            * col("exact_users").cast("double"))).as("hll_within_bound"))
  }

  /** q112: the MEMBERSHIP face of the streaming layer — q07's Bloom build
    * folded over micro-batches, sharing q07's oracle string
    * verbatim. Bloom merge is bitwise OR — associative, commutative and
    * IDEMPOTENT — so any slicing of the member stream produces
    * bit-identically the batch filter; the probe side (every order
    * against the finished filter) runs batch, exactly q07's split. With
    * q78 (CM), q90 (KLL) and q105 (HLL) this closes the claim: EVERY
    * mergeable sketch tier in the library builds correctly under
    * Structured Streaming, each pinned by a shared batch oracle. The
    * driver holds ONE bit array, constant in stream length. */
  def streamBloomOrders(spark: SparkSession, sfDir: String,
      slices: Int = SliceReplay.Slices): DataFrame = {
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
    val staged = SliceReplay.stage(spark, "q112", members, slices,
      bounds = Some((b.getLong(0), b.getLong(1))))
    val sk = foldStream(staged, Decoder.Bloom,
      bloom_sketch(col("k"), expectedItems = expected, fpp = 1e-9))
    SketchQueries.bloomProbeCounts(Tables.orders(spark, sfDir), sk,
      staged.table.select(col("k")))
  }
}
