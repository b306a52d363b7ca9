package graft.streaming

import graft.SparkTestBase

/**
 * q82 contract: the streamed incremental dedup produces the exact census
 * (planted cross-snapshot dups dropped, fresh arrivals survive once), is
 * genuinely multi-micro-batch and stateful, and the census is
 * slicing-invariant (first-occurrence identity is order-dependent, the
 * COUNT is not).
 */
class StreamIncrDedupSpec extends SparkTestBase {

  private val Expected = "[35,25,10]" // n_delta, new_distinct, dropped at sf0.001

  test("streamed census matches the exact values at sf0.001, multi-batch, stateful") {
    val rows = StreamIncrDedup.streamIncrementalDedup(spark, sf("sf0.001"))
      .collect()
    assert(rows.length === 1)
    assert(rows.head.toString === Expected)
    // raw arrivals land in the first slice, planted copies ~5e9 us later
    // in the last — at least two data micro-batches by construction
    val run = SliceReplay.lastRun("q82")
    assert(run.batches >= 2, s"expected >=2 data micro-batches, got ${run.batches}")
    // the dedup operator must carry state for the NEW hashes it admitted
    assert(run.stateRows > 0L)
    spark.catalog.clearCache()
  }

  test("slice count cannot change the census") {
    val one = StreamIncrDedup.streamIncrementalDedup(spark, sf("sf0.001"),
      slices = 1).collect()
    assert(one.head.toString === Expected)
    spark.catalog.clearCache()
    val five = StreamIncrDedup.streamIncrementalDedup(spark, sf("sf0.001"),
      slices = 5).collect()
    assert(five.head.toString === Expected)
    spark.catalog.clearCache()
  }
}
