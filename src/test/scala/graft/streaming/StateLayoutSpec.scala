package graft.streaming

import graft.SparkTestBase

/**
 * Every stateful streaming gate keeps the state-store layout it had when
 * each gate set its own width: the `numStateStoreInstances` of each
 * stateful operator, read from the run record. The expected values were
 * read from the gates' progress before their widths became the one
 * [[SliceReplay]] constant: two partitions for q75, both faces of q79,
 * q82 and q93 (whose stream-stream join keeps four stores per partition),
 * and one store for q97's one-row global aggregate, which it also keeps
 * at width 1.
 */
class StateLayoutSpec extends SparkTestBase {

  private val Layouts = Seq(
    ("q75_stream_sessions", "q75", Seq(Seq(2L))),
    ("q79_stream_dedup", "q79", Seq(Seq(2L), Seq(2L))),
    ("q82_stream_incr_dedup", "q82", Seq(Seq(2L))),
    ("q93_stream_join", "q93", Seq(Seq(8L))),
    ("q97_stream_sample", "q97", Seq(Seq(1L))))

  test("each stateful gate keeps its state-store layout at sf0.001") {
    for ((q, tag, stores) <- Layouts) {
      graft.SparkEntry.queries(q)(spark, sf("sf0.001")).collect()
      spark.catalog.clearCache()
      for ((want, i) <- stores.zipWithIndex)
        assert(SliceReplay.lastRun(tag, i).stateStores === want, s"$q query $i")
    }
  }
}
