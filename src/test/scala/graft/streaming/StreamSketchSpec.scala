package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.agg.SketchFunctions._
import graft.queries.{SketchQueries, Tables}

/**
 * q78 contract: the streamed heavy-hitter build equals the batch q02 build
 * (the monoid claim behind the shared oracle) for ANY slicing, and the run
 * is genuinely multi-micro-batch.
 */
class StreamSketchSpec extends SparkTestBase {

  private def batch = SketchQueries.cmTopKUsers(spark, sf("sf0.001"))
    .collect().map(_.toString).toSeq

  test("streamed build == batch build at sf0.001, over >=3 micro-batches") {
    val streamed = StreamSketch.streamTopKUsers(spark, sf("sf0.001"))
      .collect().map(_.toString).toSeq
    assert(streamed === batch)
    assert(StreamSketch.lastRunBatches >= 3,
      s"expected >=3 data micro-batches, got ${StreamSketch.lastRunBatches}")
  }

  test("slice count cannot change the result (merge is a monoid)") {
    val oneSlice = StreamSketch.streamTopKUsers(spark, sf("sf0.001"), slices = 1)
      .collect().map(_.toString).toSeq
    val sevenSlices = StreamSketch.streamTopKUsers(spark, sf("sf0.001"), slices = 7)
      .collect().map(_.toString).toSeq
    assert(oneSlice === batch)
    assert(sevenSlices === batch)
  }

  // ---- q90: the quantile face ----

  private def batchKll = SketchQueries.kllPrice(spark, sf("sf0.001"))
    .collect().map(_.toString).toSeq

  test("q90: streamed KLL quantiles == batch q08 at sf0.001, over >=3 micro-batches") {
    val streamed = StreamSketch.streamKllPrice(spark, sf("sf0.001"))
      .collect().map(_.toString).toSeq
    assert(streamed === batchKll)
    assert(StreamSketch.lastKllRunBatches >= 3,
      s"expected >=3 data micro-batches, got ${StreamSketch.lastKllRunBatches}")
  }

  test("q90: slice count cannot change the quantiles (KLL merge is a monoid)") {
    val five = StreamSketch.streamKllPrice(spark, sf("sf0.001"), slices = 5)
      .collect().map(_.toString).toSeq
    assert(five === batchKll)
  }

  // ---- q105: the cardinality face ----

  private def batchHll = SketchQueries.hllUsers(spark, sf("sf0.001"))
    .collect().map(_.toString).toSeq

  test("q105: streamed HLL == batch q05 at sf0.001, over >=3 micro-batches") {
    val streamed = StreamSketch.streamHllUsers(spark, sf("sf0.001"))
      .collect().map(_.toString).toSeq
    assert(streamed === batchHll)
    assert(StreamSketch.lastHllRunBatches >= 3,
      s"expected >=3 data micro-batches, got ${StreamSketch.lastHllRunBatches}")
  }

  test("q105: slice count cannot change the cardinality (HLL merge is idempotent)") {
    val five = StreamSketch.streamHllUsers(spark, sf("sf0.001"), slices = 5)
      .collect().map(_.toString).toSeq
    assert(five === batchHll)
  }

  // ---- q112: the membership face ----

  private def batchBloom = SketchQueries.bloomOrders(spark, sf("sf0.001"))
    .collect().map(_.toString).toSeq

  test("q112: streamed Bloom == batch q07 at sf0.001, over >=3 micro-batches") {
    val streamed = StreamSketch.streamBloomOrders(spark, sf("sf0.001"))
      .collect().map(_.toString).toSeq
    assert(streamed === batchBloom)
    assert(StreamSketch.lastBloomRunBatches >= 3,
      s"expected >=3 data micro-batches, got ${StreamSketch.lastBloomRunBatches}")
  }

  test("q112: slice count cannot change the filter (Bloom OR-merge is idempotent)") {
    val five = StreamSketch.streamBloomOrders(spark, sf("sf0.001"), slices = 5)
      .collect().map(_.toString).toSeq
    assert(five === batchBloom)
  }

  /** q07's probe in the shape the scalar subquery replaced: the one-row
    * filter cross-joined into every order row. */
  private def crossJoinBloomOrders(dir: String) = {
    val members = Tables.customer(spark, dir).filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").cast("string").as("k"))
    val sk = members.agg(bloom_sketch(col("k"), expectedItems = 100000, fpp = 1e-9).as("sk"))
    val ord = Tables.orders(spark, dir)
    val probed = ord.crossJoin(broadcast(sk))
      .select(bloom_contains(col("sk"), col("o_custkey").cast("string")).as("hit"))
    val trueMembers = ord.join(members.withColumnRenamed("k", "ck"),
      col("o_custkey").cast("string") === col("ck"), "left_semi")
    probed.agg(
      count(lit(1)).as("probes"),
      sum(when(col("hit"), 1L).otherwise(0L)).as("bloom_positives"))
      .crossJoin(trueMembers.agg(count(lit(1)).as("true_positives")))
      .collect().map(_.toString).toSeq
  }

  test("q07/q112: the scalar-subquery probe returns the cross-join shape's rows") {
    for (dir <- Seq("sf0.001", "sf0.01")) {
      val want = crossJoinBloomOrders(sf(dir))
      assert(SketchQueries.bloomOrders(spark, sf(dir))
        .collect().map(_.toString).toSeq === want, dir)
      assert(StreamSketch.streamBloomOrders(spark, sf(dir))
        .collect().map(_.toString).toSeq === want, dir)
    }
  }
}
