package graft.agg

import org.apache.spark.sql.{Column, DataFrame, Encoders, functions}
import org.apache.spark.sql.functions._
import graft.{GraftExtensions, SparkTestBase}
import graft.agg.SketchAggregators.TopRowsAggregator
import graft.agg.SketchFunctions._
import graft.sketch._

/**
 * Golden serialized bytes of every sketch build surface: each Column-API
 * build, each `*_merge`, each SQL-registered build and each `*_fast` build,
 * over one fixed seeded fixture. A blob is pinned as its length and the
 * leading 16 hex digits of its SHA-256. Every kernel is pinned on one
 * partition, where the update order is the fixture's order; the
 * order-invariant kernels (CM, HLL, Bloom, Count-Sketch and the CM/HLL
 * merges) must give the same bytes on 8 partitions.
 */
class GoldenBytesSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val stream = StreamFixtures.weightedZipfStream(20000, 1500, seed = 77L)

  /** (k, w, x, i): key, weight, a double derived from both, row index. */
  private def frame(parts: Int): DataFrame =
    spark.sparkContext.parallelize(stream.zipWithIndex.map { case ((k, w), i) =>
      (k, w, w.toDouble + (i % 97) / 97.0, i.toLong)
    }, parts).toDF("k", "w", "x", "i")

  /** Kernel-built shards (row index mod 4): the fixed input of the merges. */
  private def shards[S](make: () => S, add: (S, (String, Long), Int) => Unit,
      ser: S => Array[Byte]): Seq[Array[Byte]] =
    (0 until 4).map { s =>
      val sk = make()
      stream.zipWithIndex.foreach { case (r, i) => if (i % 4 == s) add(sk, r, i) }
      ser(sk)
    }

  private def blobFrame(blobs: Seq[Array[Byte]], parts: Int): DataFrame =
    spark.sparkContext.parallelize(blobs, parts).toDF("sk")

  private def fingerprint(bytes: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
    s"${bytes.length}:" + d.take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  private def build(df: DataFrame, c: Column): String =
    fingerprint(df.agg(c.as("sk")).head().getAs[Array[Byte]](0))

  private def buildSql(df: DataFrame, call: String): String = {
    df.createOrReplaceTempView("golden_v")
    fingerprint(spark.sql(s"SELECT $call AS sk FROM golden_v").head().getAs[Array[Byte]](0))
  }

  private val topRows = functions.udaf(new TopRowsAggregator(16),
    Encoders.product[(Long, Long, Long, Long)])

  private val columnBuilds: Seq[(String, Boolean, () => Column)] = Seq(
    ("cm_sketch", true, () => cm_sketch(col("k"), col("w"), eps = 1e-3)),
    ("cm_topk", false, () => cm_topk(col("k"), col("w"), capacity = 64, eps = 1e-3)),
    ("hll_sketch", true, () => hll_sketch(col("k"), p = 12)),
    ("kll_sketch", false, () => kll_sketch(col("x"), k = 200)),
    ("tdigest_sketch", false, () => tdigest_sketch(col("x"))),
    ("bloom_sketch", true, () => bloom_sketch(col("k"), expectedItems = 5000L)),
    ("cs_sketch", true, () => cs_sketch(col("k"), col("w"), width = 1024)),
    ("mg_sketch", false, () => mg_sketch(col("k"), col("w"), capacity = 64)),
    ("fss_sketch", false, () => fss_sketch(col("k"), col("w"), numEntries = 64, numBuckets = 512)),
    ("top_rows", false, () => topRows(col("w"), col("i"), col("i"), col("w"))))

  private val sqlBuilds: Seq[(String, Boolean, String)] = Seq(
    ("sql cm_sketch", true, "cm_sketch(k, w)"),
    ("sql cm_topk", false, "cm_topk(k, w)"),
    ("sql hll_sketch", true, "hll_sketch(k)"),
    ("sql kll_sketch", false, "kll_sketch(x)"),
    ("sql tdigest_sketch", false, "tdigest_sketch(x)"),
    ("sql bloom_sketch", true, "bloom_sketch(k)"),
    ("sql cs_sketch", true, "cs_sketch(k, w)"),
    ("sql mg_sketch", false, "mg_sketch(k, w)"),
    ("sql fss_sketch", false, "fss_sketch(k, w)"),
    ("cm_sketch_fast", true, "cm_sketch_fast(k, w)"),
    ("cm_sketch_fast literals", true, "cm_sketch_fast(k, w, 1e-3, 0.05, 7)"),
    ("topk_sketch_fast", false, "topk_sketch_fast(k, w)"),
    ("topk_sketch_fast literals", false, "topk_sketch_fast(k, w, 64, 1e-3)"),
    ("hll_sketch_fast", true, "hll_sketch_fast(k)"),
    ("hll_sketch_fast literals", true, "hll_sketch_fast(k, 12, 7)"))

  private val Golden: Map[String, String] = Map(
    "cm_sketch" -> "163868:7c8f333abdc968f4",
    "cm_topk" -> "165026:927a42d48352565b",
    "hll_sketch" -> "4112:ba1a6bb66b252d6d",
    "kll_sketch" -> "4512:fdc4a600bb04bb10",
    "tdigest_sketch" -> "1032:5ed0bd34a2556e50",
    "bloom_sketch" -> "6028:3a99107fffbbf3a0",
    "cs_sketch" -> "40988:7fc19b8f8df83f76",
    "mg_sketch" -> "1200:f1aec490fb1dda29",
    "fss_sketch" -> "5785:f67a4afd26713aee",
    "top_rows" -> "512:b5a1907624e941d5",
    "sql cm_sketch" -> "1310748:098c192134d06f35",
    "sql cm_topk" -> "1330321:02a2677844efafbd",
    "sql hll_sketch" -> "16400:d85654a22201ec90",
    "sql kll_sketch" -> "4512:fdc4a600bb04bb10",
    "sql tdigest_sketch" -> "1032:5ed0bd34a2556e50",
    "sql bloom_sketch" -> "1256372:32348c2d0a21831c",
    "sql cs_sketch" -> "163868:b39bdf3ef0a1ce30",
    "sql mg_sketch" -> "19564:52b9b1132cec8fb4",
    "sql fss_sketch" -> "60550:e87265cfc5cb5065",
    "cm_sketch_fast" -> "1310748:098c192134d06f35",
    "cm_sketch_fast literals" -> "98332:a7b187b927f10880",
    "topk_sketch_fast" -> "1336539:dd0cd6f194fb87d1",
    "topk_sketch_fast literals" -> "165026:927a42d48352565b",
    "hll_sketch_fast" -> "16400:d85654a22201ec90",
    "hll_sketch_fast literals" -> "4112:6b07cbc9585abe6a",
    "cm_merge" -> "163868:7c8f333abdc968f4",
    "sql cm_merge" -> "163868:7c8f333abdc968f4",
    "hll_merge" -> "4112:ba1a6bb66b252d6d",
    "kll_merge" -> "2816:cc932c96b57c600e")

  /** Runs `body`, then fails once, naming every blob off its golden value. */
  private def pinned(body: ((String, String) => Unit) => Unit): Unit = {
    val off = Seq.newBuilder[String]
    body((name, got) => if (!Golden.get(name).contains(got)) off += s""""$name" -> "$got"""")
    assert(off.result().isEmpty, off.result().mkString("\n", ",\n", ""))
  }

  test("Column-API builds match their golden bytes") {
    pinned { check =>
      for ((name, invariant, c) <- columnBuilds; parts <- if (invariant) Seq(1, 8) else Seq(1))
        check(name, build(frame(parts), c()))
    }
  }

  test("SQL builds and *_fast builds match their golden bytes") {
    GraftExtensions.install(spark)
    pinned { check =>
      for ((name, invariant, call) <- sqlBuilds; parts <- if (invariant) Seq(1, 8) else Seq(1))
        check(name, buildSql(frame(parts), call))
    }
  }

  test("*_merge re-aggregations match their golden bytes") {
    val cm = shards[CountMinSketch](() => CountMinSketch.fromErrorBounds(1e-3, 0.01),
      (s, r, _) => s.update(r._1, r._2), _.serialize())
    val hll = shards[HyperLogLog](() => HyperLogLog(12), (s, r, _) => s.add(r._1), _.serialize())
    val kll = shards[KllSketch](() => KllSketch(200), (s, r, i) => s.update(r._2 + (i % 97) / 97.0),
      _.serialize())
    GraftExtensions.install(spark)
    pinned { check =>
      for (parts <- Seq(1, 8)) {
        check("cm_merge", build(blobFrame(cm, parts), cm_merge(col("sk"))))
        check("hll_merge", build(blobFrame(hll, parts), hll_merge(col("sk"))))
        check("sql cm_merge", buildSql(blobFrame(cm, parts), "cm_merge(sk)"))
      }
      check("kll_merge", build(blobFrame(kll, 1), kll_merge(col("sk"))))
    }
  }
}
