package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.agg.SketchFunctions._
import graft.sketch._

/** Layer metrics measured from outside by timing calls into each layer's
  * public functions. Runs in traced runs only, after the workload.
  *  - `sketch.*`: single-threaded kernel calls on a driver-side sample drawn
  *    from the run's seed;
  *  - `agg.*` and `data.*`: Spark builds and probes over a small cached
  *    corpus of the same shape. */
final class LayerProbe(spark: SparkSession, rec: Recorder, ls: Listeners, seed: Long,
    parts: Int, workDir: String) {

  private val Reps = 3
  import LayerProbe.{AggRows, ProbeRows}

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median seconds of `Reps` timed calls, after one untimed call. */
  private def med(f: => Unit): Double = {
    f
    median((1 to Reps).map(_ => Recorder.time(f)._2))
  }

  private def put(k: String, v: Double): Unit = rec.values(k) = v

  // ---- graft.sketch

  /** The corpus token distribution, drawn on the driver from the seed. */
  private def sampleKeys(n: Int): Array[String] = {
    val r = new scala.util.Random(seed)
    Array.fill(n)("tok_" + math.pow(100000.0, r.nextDouble()).toLong)
  }

  def sketchLayer(): Unit = {
    val n = 200000
    val keys = sampleKeys(n)
    val xs = keys.map(k => (k.hashCode & 0x7fffffff) % 100 + 1.0)
    var sink = 0L
    put("sketch.hash_ns", med {
      var i = 0; while (i < n) { sink += Hash128.ofString(keys(i), 0L).row(0); i += 1 }
    } / n * 1e9)

    type Build = () => AnyRef
    val builds: Seq[(String, Build)] = Seq(
      "cm" -> (() => { val s = CountMinSketch.fromErrorBounds(Ungrouped.Eps, 0.01); keys.foreach(s.update(_, 1L)); s }),
      "topk" -> (() => { val s = TopKSketch(Ungrouped.Capacity, Ungrouped.Eps, 0.01); keys.foreach(s.update(_, 1L)); s }),
      "hll" -> (() => { val s = HyperLogLog(Ungrouped.HllP); keys.foreach(s.add); s }),
      "kll" -> (() => { val s = KllSketch(Ungrouped.KllK); xs.foreach(s.update); s }),
      "tdigest" -> (() => { val s = TDigest(); xs.foreach(s.update); s }),
      "bloom" -> (() => { val s = BloomFilter.fromExpected(Ungrouped.BloomItems, Ungrouped.BloomFpp); keys.foreach(s.add); s }))
    def ser(o: AnyRef): Array[Byte] = o match {
      case s: CountMinSketch => s.serialize()
      case s: TopKSketch => s.serialize()
      case s: HyperLogLog => s.serialize()
      case s: KllSketch => s.serialize()
      case s: TDigest => s.serialize()
      case s: BloomFilter => s.serialize()
    }
    val deser: Map[String, Array[Byte] => AnyRef] = Map(
      "cm" -> CountMinSketch.deserialize, "topk" -> TopKSketch.deserialize,
      "hll" -> HyperLogLog.deserialize, "kll" -> KllSketch.deserialize,
      "tdigest" -> TDigest.deserialize, "bloom" -> BloomFilter.deserialize)
    def merge(a: AnyRef, b: AnyRef): Unit = (a, b) match {
      case (x: CountMinSketch, y: CountMinSketch) => x.merge(y)
      case (x: TopKSketch, y: TopKSketch) => x.merge(y)
      case (x: HyperLogLog, y: HyperLogLog) => x.merge(y)
      case (x: KllSketch, y: KllSketch) => x.merge(y)
      case (x: TDigest, y: TDigest) => x.merge(y)
      case (x: BloomFilter, y: BloomFilter) => x.merge(y)
    }
    for ((k, build) <- builds) {
      put(s"sketch.${k}_update_ns", med(build()) / n * 1e9)
      val blob = ser(build())
      put(s"sketch.${k}_bytes", blob.length.toDouble)
      val obj = deser(k)(blob)
      put(s"sketch.${k}_ser_us", med(ser(obj)) * 1e6)
      put(s"sketch.${k}_deser_us", med(deser(k)(blob)) * 1e6)
      // merge into fresh copies, so every merge does the same work
      val copies = Iterator.continually(deser(k)(blob))
      val other = deser(k)(blob)
      val times = (0 to Reps).map { _ =>
        val a = copies.next()
        Recorder.time(merge(a, other))._2
      }.drop(1)
      put(s"sketch.${k}_merge_us", median(times) * 1e6)
    }
    val cm = builds.head._2().asInstanceOf[CountMinSketch]
    put("sketch.cm_query_ns", med { keys.foreach(k => sink += cm.query(k)) } / n * 1e9)
    val bloom = builds(5)._2().asInstanceOf[BloomFilter]
    put("sketch.bloom_query_ns", med { keys.foreach(k => if (bloom.mightContain(k)) sink += 1) } / n * 1e9)
    val hll = builds(2)._2().asInstanceOf[HyperLogLog]
    put("sketch.hll_estimate_us", med { sink += hll.estimateLong() } * 1e6)
    val kll = builds(3)._2().asInstanceOf[KllSketch]
    put("sketch.kll_quantile_us", med { sink += kll.quantile(0.5).toLong } * 1e6)
    val td = builds(4)._2().asInstanceOf[TDigest]
    put("sketch.tdigest_quantile_us", med { sink += td.quantile(0.5).toLong } * 1e6)
    val topk = builds(1)._2().asInstanceOf[TopKSketch]
    put("sketch.topk_entries_us", med { sink += topk.topK(20).length } * 1e6)
    if (sink == 42) println("") // keeps the loops observable
  }

  // ---- graft.agg and graft.data

  def aggLayer(): Unit = {
    val (corpus, genS) = Recorder.time {
      val c = Workload.keyed(spark, seed, AggRows, parts).drop("id")
        .withColumn("x", col("weight").cast("double")).cache()
      c.count(); c
    }
    put("data.gen_s", genS)
    corpus.createOrReplaceTempView("pb_probe")
    graft.agg.NativeCountMinAgg.register(spark, eps = Ungrouped.Eps)
    graft.agg.NativeTopKAgg.register(spark, capacity = Ungrouped.Capacity, eps = Ungrouped.Eps)
    graft.agg.NativeHllAgg.register(spark, p = Ungrouped.HllP)
    def agg(c: org.apache.spark.sql.Column): Double = med(corpus.agg(c).head())
    def sql(s: String): Double = med(spark.sql(s"SELECT $s FROM pb_probe").head())
    val scan = agg(expr("bit_xor(xxhash64(token))"))
    put("data.scan_mrows_s", AggRows / scan / 1e6)

    val builds = Seq(
      "cm" -> cm_sketch(col("token"), col("weight"), eps = Ungrouped.Eps),
      "topk" -> cm_topk(col("token"), col("weight"), capacity = Ungrouped.Capacity, eps = Ungrouped.Eps),
      "hll" -> hll_sketch(col("token"), p = Ungrouped.HllP),
      "kll" -> kll_sketch(col("x"), k = Ungrouped.KllK),
      "tdigest" -> tdigest_sketch(col("x")),
      "bloom" -> bloom_sketch(col("token"), expectedItems = Ungrouped.BloomItems, fpp = Ungrouped.BloomFpp))
    for ((k, c) <- builds) put(s"agg.${k}_scan_ratio", scan / agg(c))
    for ((k, f) <- Seq("cm" -> "cm_sketch_fast(token, weight)",
        "topk" -> "topk_sketch_fast(token, weight)", "hll" -> "hll_sketch_fast(token)"))
      put(s"agg.${k}_native_mrows_s", AggRows / sql(f) / 1e6)

    // partial buffers and the final merge of one CM build
    ls.drain()
    val before = ls.counters.synchronized(ls.counters.shuffleWriteBytes)
    val wasTracing = rec.tracing
    rec.tracing = true
    val stages = ls.stageDurations(corpus.agg(builds.head._2).head())
    rec.tracing = wasTracing
    val after = ls.counters.synchronized(ls.counters.shuffleWriteBytes)
    put("agg.partial_mb", (after - before) / 1e6)
    put("agg.final_merge_ms", stages.lastOption.getOrElse(0.0))

    // per-row cost of probing one prebuilt blob through the Column API
    val blobs = corpus.agg(builds.head._2.as("cm"), builds(2)._2.as("hll"),
      builds(5)._2.as("bloom")).cache()
    blobs.count()
    // the probes re-identify the blob on every row, so a few thousand rows
    // measure the per-row cost well
    val probeSide = corpus.limit(ProbeRows.toInt).cache()
    probeSide.count()
    val probed = probeSide.crossJoin(broadcast(blobs))
    val base = med(probed.agg(expr("bit_xor(xxhash64(token))")).head())
    def perRow(c: org.apache.spark.sql.Column): Double =
      math.max(0.0, med(probed.agg(c).head()) - base) / ProbeRows * 1e9
    put("agg.bloom_contains_ns", perRow(sum(when(bloom_contains(col("bloom"), col("token")), 1L).otherwise(0L))))
    put("agg.cm_query_ns", perRow(sum(cm_query(col("cm"), col("token")))))
    put("agg.hll_count_ns", perRow(sum(hll_count(col("hll")))))

    // write and read back a per-group sketch frame
    val dir = s"$workDir/probe_sketches"
    val perGroup = corpus.groupBy(pmod(xxhash64(col("token")), lit(1000)).as("g"))
      .agg(hll_sketch(col("token"), p = 10).as("hll"), kll_sketch(col("x"), k = 64).as("kll"))
      .cache()
    perGroup.count()
    put("data.sketch_write_s", med(perGroup.write.mode("overwrite").parquet(dir)))
    put("data.sketch_read_s", med(Workload.noop(spark.read.parquet(dir))))
    perGroup.unpersist()
    probeSide.unpersist()
    blobs.unpersist()
    corpus.unpersist()
  }
}

object LayerProbe {
  /** Rows of the probe's own corpus. */
  val AggRows = 300000L
  /** Rows probed against one prebuilt blob per probe call. */
  val ProbeRows = 500L
}
