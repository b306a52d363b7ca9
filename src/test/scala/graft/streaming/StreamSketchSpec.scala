package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.agg.Decoder
import graft.agg.SketchFunctions._
import graft.queries.{SketchQueries, Tables}
import graft.sketch.{BloomFilter, HyperLogLog, KllSketch, Mergeable, TopKSketch}

/**
 * q78 contract: the streamed heavy-hitter build equals the batch q02 build
 * (the monoid claim behind the shared oracle) for ANY slicing, and the run
 * is genuinely multi-micro-batch. The fold behind q78/q90/q105/q112 resumes
 * from its checkpoint after a restart and never counts a replayed batch
 * twice.
 */
class StreamSketchSpec extends SparkTestBase {

  private def batch = SketchQueries.cmTopKUsers(spark, sf("sf0.001"))
    .collect().map(_.toString).toSeq

  test("streamed build == batch build at sf0.001, over >=3 micro-batches") {
    val streamed = StreamSketch.streamTopKUsers(spark, sf("sf0.001"))
      .collect().map(_.toString).toSeq
    assert(streamed === batch)
    assert(SliceReplay.lastRun("q78").batches >= 3,
      s"expected >=3 data micro-batches, got ${SliceReplay.lastRun("q78").batches}")
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
    assert(SliceReplay.lastRun("q90").batches >= 3,
      s"expected >=3 data micro-batches, got ${SliceReplay.lastRun("q90").batches}")
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
    assert(SliceReplay.lastRun("q105").batches >= 3,
      s"expected >=3 data micro-batches, got ${SliceReplay.lastRun("q105").batches}")
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
    assert(SliceReplay.lastRun("q112").batches >= 3,
      s"expected >=3 data micro-batches, got ${SliceReplay.lastRun("q112").batches}")
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

  test("q07/q112: one-scan membership counts as the semi join did") {
    import spark.implicits._
    // customer 1 is a member twice, order 3 has no customer, customer 2 is
    // no member
    val members = Seq("1", "1", "4").toDF("k")
    val ord = Seq[(Long, Option[Long])]((1, Some(1)), (2, Some(2)), (3, None),
      (4, Some(4)), (5, Some(1))).toDF("o_orderkey", "o_custkey")
    val sk = members.agg(bloom_sketch(col("k"), expectedItems = 1000, fpp = 1e-9).as("sk"))
    val key = col("o_custkey").cast("string")
    val semiJoin = ord.select(bloom_contains(sk.scalar(), key).as("hit"))
      .agg(count(lit(1)).as("probes"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("bloom_positives"))
      .crossJoin(ord.join(members.toDF("ck"), key === col("ck"), "left_semi")
        .agg(count(lit(1)).as("true_positives")))
    val got = SketchQueries.bloomProbeCounts(ord, sk, members)
    assert(got.columns.toSeq === semiJoin.columns.toSeq)
    assert(got.collect().toSeq === semiJoin.collect().toSeq)
    assert(got.head().getAs[Long]("true_positives") === 3L)
  }

  // ---- the fold: restart and replay ----

  private def bytesOf(sk: DataFrame): Array[Byte] = sk.head().getAs[Array[Byte]]("sk")

  /** One streamed sketch kind: its input (with a `tus` slicing column), its
    * build, and the view of a finished sketch that a restart must keep. */
  private case class Kind[S <: Mergeable[S]](name: String, decode: Decoder[S],
      input: () => DataFrame, build: Column, view: S => Any)

  private def events = Tables.events(spark, sf("sf0.001"))
    .select(col("user_id").cast("string").as("k"),
      unix_micros(col("ts").cast("timestamp")).as("tus"))

  private val topK = cm_topk(col("k"), lit(1L), capacity = 4096, eps = 1e-4)

  /** Stages `kind`'s input as 3 slices, folds the first 2, restarts on the
    * same checkpoint once the third arrives, and checks the resumed sketch
    * against the uninterrupted batch build. */
  private def restartResumes[S <: Mergeable[S]](kind: Kind[S]): Unit = {
    def view(bytes: Array[Byte]) = kind.view(kind.decode(bytes))
    val whole = view(kind.input().agg(kind.build).head().getAs[Array[Byte]](0))
    val staged = SliceReplay.stage(spark, s"fold-restart-${kind.name}", kind.input(), 3)
    def fold() = StreamSketch.foldStream(staged, kind.decode, kind.build)
    def batches = SliceReplay.lastRun(staged.tag).batches
    // the third slice arrives only after the restart
    val third = Paths.get(staged.root, "in", "slice_2.parquet")
    val held = Paths.get(staged.root, "slice_2.parquet")
    Files.move(third, held)
    fold()
    assert(batches === 2, kind.name)
    Files.move(held, third)
    val resumed = fold()
    assert(batches === 1, s"${kind.name}: the restart must fold only the third slice")
    assert(view(bytesOf(resumed)) === whole, kind.name)
    // a restart with nothing new answers from the checkpoint
    val idle = fold()
    assert(batches === 0 && view(bytesOf(idle)) === whole, kind.name)
  }

  test("a restart on the same checkpoint resumes the fold: == the uninterrupted build") {
    restartResumes(Kind[TopKSketch]("topk", Decoder.TopK, () => events, topK,
      s => (s.topK(4096).toSeq, s.totalWeight)))
    restartResumes(Kind[KllSketch]("kll", Decoder.Kll,
      () => Tables.lineitem(spark, sf("sf0.001")).select(col("l_extendedprice").as("x"),
        col("l_orderkey").cast("long").as("tus")),
      kll_sketch(col("x"), k = 65536),
      s => (s.n, Seq(0.01, 0.25, 0.5, 0.75, 0.99).map(s.quantile))))
    // HLL and Bloom merges are idempotent: the resumed bytes are the batch bytes
    restartResumes(Kind[HyperLogLog]("hll", Decoder.Hll, () => events, hll_sketch(col("k")),
      s => s.serialize().toSeq))
    restartResumes(Kind[BloomFilter]("bloom", Decoder.Bloom,
      () => Tables.customer(spark, sf("sf0.001")).select(
        col("c_custkey").cast("string").as("k"), col("c_custkey").cast("long").as("tus")),
      bloom_sketch(col("k"), expectedItems = 100000, fpp = 1e-9),
      s => s.serialize().toSeq))
  }

  test("a replayed batch id is folded once") {
    val dir = Files.createTempDirectory("graft-fold-replay").toString
    val ev = events.select(col("k"))
    val (a, b) = (ev.filter(col("k") < "5"), ev.filter(col("k") >= "5"))
    def state(sk: DataFrame) = {
      val s = Decoder.TopK(bytesOf(sk))
      val top = s.topK(20).toSeq
      (s.totalWeight, top, top.map { case (k, _) => s.estimate(k) })
    }
    val fold = new StreamSketch.SketchFold(Decoder.TopK, topK, dir)
    fold.sink(a, 0)
    fold.sink(b, 1)
    val once = state(fold.result(spark))
    assert(once._1 === ev.count())
    assert(once === state(ev.agg(topK.as("sk"))))
    // batch 1 again starts from blob 0, in this sink and in a fresh one
    fold.sink(b, 1)
    assert(state(fold.result(spark)) === once)
    val restarted = new StreamSketch.SketchFold(Decoder.TopK, topK, dir)
    restarted.sink(b, 1)
    assert(state(restarted.result(spark)) === once)
  }
}
