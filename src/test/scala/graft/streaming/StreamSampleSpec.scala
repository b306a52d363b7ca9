package graft.streaming

import graft.SparkTestBase
import graft.agg.SketchAggregators.{TopRowsAggregator, TopRowsCodec}
import graft.queries.TextQueries

/**
 * q97 contract: the streamed priority sample must be ROW-identical to the
 * batch q86 sample (the shared-oracle claim), for any slicing, because
 * bounded top-(k+1) by (p DESC, id ASC) is a merge monoid.
 */
class StreamSampleSpec extends SparkTestBase {

  test("top-rows aggregator is a monoid: merge order and grouping never matter") {
    val rows = (1L to 50L).map(i => (i * 7919L % 101L, i, i * 2L, i * 3L))
    val agg = new TopRowsAggregator(5)
    def fold(rs: Seq[(Long, Long, Long, Long)]) =
      rs.foldLeft(agg.zero)((b, r) => agg.reduce(b, r))
    val whole = TopRowsCodec.deserialize(agg.finish(fold(rows)))
    for (cut <- Seq(1, 10, 25, 49)) {
      val (l, r) = rows.splitAt(cut)
      val merged = TopRowsCodec.deserialize(
        agg.finish(agg.merge(fold(l), fold(r))))
      val mergedRev = TopRowsCodec.deserialize(
        agg.finish(agg.merge(fold(r), fold(l))))
      assert(merged === whole, s"cut=$cut")
      assert(mergedRev === whole, s"cut=$cut reversed")
    }
    // the kept set is the exact (p DESC, id ASC) top-5
    assert(whole === rows.sortBy(r => (-r._1, r._2)).take(5))
  }

  test("gate parity: streamed sample == batch q86 at sf0.001, slicing-invariant") {
    val dir = sf("sf0.001")
    val batch = TextQueries.prioritySample(spark, dir)
      .collect().map(_.toString).toSeq
    val s3 = StreamSample.streamPrioritySample(spark, dir)
      .collect().map(_.toString).toSeq
    assert(s3 === batch)
    assert(SliceReplay.lastRun("q97").batches >= 3,
      s"expected >=3 data micro-batches, got ${SliceReplay.lastRun("q97").batches}")
    val s2 = StreamSample.streamPrioritySample(spark, dir, slices = 2)
      .collect().map(_.toString).toSeq
    assert(s2 === batch, "sample must be independent of the slicing")
    spark.catalog.clearCache()
  }
}
