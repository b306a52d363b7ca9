package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession, functions}
import org.apache.spark.sql.functions._
import graft.agg.SketchAggregators.{TopRowsAggregator, TopRowsCodec}
import graft.queries.{Tables, TextQueries}

/**
 * q97: priority sampling (q86, Duffield–Lund–Thorup) run as a STREAMING
 * job — the sixth streaming face (window q75, heavy hitters q78, dedup
 * q79/q82, quantiles q90, join q93, SAMPLING q97), sharing q86's oracle
 * string verbatim.
 *
 * Why streamed == batch: the DLT sample is "the top-(k+1) rows by
 * priority", and bounded top-k under (p DESC, id ASC) is a merge monoid
 * (union-then-truncate — [[TopRowsAggregator]]), so a complete-mode
 * streaming aggregation over ANY slicing of the corpus merges to exactly
 * the batch top-(k+1); τ and every ŵ follow deterministically. The same
 * argument as q78/q90, here for an EXACT bounded-state operator rather
 * than a sketch. No watermark, no event-time: order-insensitivity is the
 * whole point (spec varies the slicing to prove it).
 *
 * Scale: state = k+1 rows (constant in stream length); the md5 priority
 * and the milli-floored integer priority are computed INSIDE the
 * streaming plan (one codegen map pass per micro-batch — production
 * points the identical plan at the real landing zone); the driver touches
 * only the final k+1 rows.
 */
object StreamSample {

  /** Sink for the one-row top-rows aggregate, whose complete-mode
    * re-emission is bounded by construction: each micro-batch's emission
    * is captured by a bounded driver collect, and the LAST one (complete
    * mode's final merged state) is handed back. It replaced a
    * per-micro-batch parquet OVERWRITE + read-back sink, whose write and
    * read jobs were pure fixed cost. */
  private final class CompleteCapture {
    @volatile private var emission: Option[Row] = None
    /** foreachBatch body: bounded collect of the re-emitted aggregate. */
    def sink(df: DataFrame, batchId: Long): Unit =
      emission = df.collect().headOption
    /** The captured final emission's single row. */
    def headRow: Row = {
      require(emission.nonEmpty, "complete-mode stream emitted no batch")
      emission.get
    }
  }

  /** q97: the q86 priority sample computed through the streaming path —
    * identical output contract (and oracle string) to q86. */
  def streamPrioritySample(spark: SparkSession, sfDir: String,
      slices: Int = SliceReplay.Slices): DataFrame = {
    import spark.implicits._
    val k = TextQueries.PrioritySampleK
    val docs = Tables.documents(spark, sfDir)
      .filter(col("n_chars").isNotNull)
      .select(col("doc_id"), col("n_chars").cast("long").as("w"),
        col("doc_id").as("tus"))
    val staged = SliceReplay.stage(spark, "q97", docs, slices)
    val topRows = functions.udaf(new TopRowsAggregator(k + 1),
      Encoders.product[(Long, Long, Long, Long)])
    val agg = staged.source
      .withColumn("u", expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) + 1"))
      .withColumn("p_milli", expr("w * 4294967296 * 1000 div u"))
      .agg(topRows(col("p_milli"), col("doc_id"), col("w"), col("u")).as("top"))
    // complete mode re-emits the one-row aggregate; the last bounded
    // capture wins
    val cap = new CompleteCapture
    SliceReplay.drain(staged, stateful = true)(
      agg.writeStream.outputMode("complete").foreachBatch(cap.sink _))
    val rows = TopRowsCodec.deserialize(cap.headRow.getAs[Array[Byte]]("top"))
    require(rows.length == k + 1,
      s"priority sample needs k+1 = ${k + 1} rows for tau, got ${rows.length}")
    val tauMilli = rows(k)._1
    rows.take(k).zipWithIndex.map { case ((p, docId, w, u), i) =>
      ((i + 1).toLong, docId, w, u, p, math.max(w * 1000L, tauMilli))
    }.toDF("smp_rank", "doc_id", "w", "u", "p_milli", "w_hat_milli")
      .orderBy(col("smp_rank"))
  }
}
