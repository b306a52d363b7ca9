package graft.data

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.sketch.StreamFixtures

/** The trace-resampling recipe exists twice on purpose — a pure kernel
  * (StreamFixtures.traceInterpolate, for the no-Spark accuracy repro) and a
  * codegen Spark expression (CorpusGenerator.traceShapedTotals, for
  * distributed generation). They implement the same reference arithmetic
  * and must agree value-for-value. The trace is a 200-flow spine-leaf coflow
  * in the reference's coflow JSON schema, committed under test resources. */
class TraceShapeSpec extends SparkTestBase {
  import spark.implicits._

  test("kernel and Spark trace interpolation agree value-for-value") {
    val traffics = StreamFixtures.coflowTraffics(TraceShapeSpec.SpineCoflow)
    assert(traffics.length === 200)
    for (count <- Seq(100, 1000, 20000)) {
      val kernel = StreamFixtures.traceInterpolate(traffics, count)
      val sparkSide = CorpusGenerator.traceShapedTotals(spark, traffics, count, 8)
        .select(regexp_replace(col("key"), "flow", "").cast("long").as("i"), col("total"))
        .orderBy(col("i")).as[(Long, Long)].collect().map(_._2)
      assert(sparkSide.toSeq === kernel.toSeq, s"count=$count")
    }
  }

  test("chunked stream preserves totals exactly") {
    val totals = StreamFixtures.traceInterpolate(
      StreamFixtures.coflowTraffics(TraceShapeSpec.SpineCoflow), 500)
    val stream = StreamFixtures.chunkedTraceStream(totals, 500L)
    val truth = StreamFixtures.exactCounts(stream)
    totals.zipWithIndex.foreach { case (t, i) =>
      if (t > 0) assert(truth(s"flow$i") === t, s"flow$i")
    }
    assert(stream.forall { case (_, w) => w >= 1L && w <= 500L })
  }
}

object TraceShapeSpec {
  /** Committed coflow fixture in the reference's schema: 200 flows, the
    * heaviest carrying 42710.0. */
  def SpineCoflow: String =
    getClass.getResource("/reference/coflow_spine_200.json").getPath
  /** Committed reroute output in the reference's schema: 24 five-hop
    * fat-tree flows, each with traffic <= origtraffic. */
  def FattreeReroute: String =
    getClass.getResource("/reference/reroute_fattree_24.json").getPath
}
