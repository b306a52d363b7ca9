package graft.streaming

import graft.SparkTestBase
import graft.queries.TextQueries

/**
 * q79 contract: the streamed dedup census equals the batch q15 census (the
 * order-free-count claim behind the shared oracle) for any slicing, the run
 * is genuinely multi-micro-batch, and the dedup face genuinely carries
 * keyed state (the survivor log is load-bearing, not recomputed in batch).
 */
class StreamDedupSpec extends SparkTestBase {

  private def batch = TextQueries.dedupExact(spark, sf("sf0.001"))
    .collect().map(_.toString).toSeq

  test("streamed dedup census == batch census at sf0.001, over >=3 micro-batches") {
    val streamed = StreamDedup.streamDedupCensus(spark, sf("sf0.001"))
      .collect().map(_.toString).toSeq
    assert(streamed === batch)
    val run = SliceReplay.lastRun("q79")
    assert(run.batches >= 3, s"expected >=3 data micro-batches, got ${run.batches}")
    // the dedup operator must have committed one state row per distinct
    // hash it admitted — zero state rows would mean the survivor log was
    // produced by something other than the stateful dedup
    assert(run.stateRows > 0L)
  }

  test("narrow horizon: state bounded by the horizon, census still exact") {
    // 1000 arrivals, 500 distinct hashes, each duplicate exactly 1 h after
    // its first occurrence, 2 h horizon, 10 micro-batches: every duplicate
    // re-arrives INSIDE the horizon (census stays exact — the production
    // sizing rule), while hashes older than the horizon are EVICTED — the
    // peak resident state must sit near one batch's inserts (~50 hashes),
    // far below the 500 distinct hashes a no-eviction run would hold.
    val spark2 = spark
    import spark2.implicits._
    val docs = (0 until 1000).map { i =>
      ("k" + (i / 2), SliceReplay.BaseTus + i.toLong * 3600000000L)
    }.toDF("h", "tus")
    val out = StreamDedup.streamDedupCensusOn(spark, docs, slices = 10,
      watermarkDelay = "2 hours").head()
    assert(out.toString === "[1000,500,500,1000]")
    val peak = SliceReplay.lastRun("q79").stateRowsMax
    assert(peak > 0L)
    assert(peak < 200L, s"eviction not bounding state: peak=$peak")
    spark.catalog.clearCache()
  }

  test("slice count cannot change the census (counts are order-free)") {
    val oneSlice = StreamDedup.streamDedupCensus(spark, sf("sf0.001"), slices = 1)
      .collect().map(_.toString).toSeq
    val fiveSlices = StreamDedup.streamDedupCensus(spark, sf("sf0.001"), slices = 5)
      .collect().map(_.toString).toSeq
    assert(oneSlice === batch)
    assert(fiveSlices === batch)
  }
}
