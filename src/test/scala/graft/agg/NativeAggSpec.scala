package graft.agg

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.agg.SketchFunctions._
import graft.sketch.StreamFixtures

class NativeAggSpec extends SparkTestBase {

  import spark.implicits._

  test("native cm_sketch_fast == udaf cm_sketch, bit-exact, across partitionings") {
    NativeCountMinAgg.register(spark, eps = 1e-3, delta = 0.01)
    val stream = StreamFixtures.weightedZipfStream(40000, 2000)
    for (parts <- Seq(1, 8, 32)) {
      val df = stream.toDF("k", "w").repartition(parts)
      df.createOrReplaceTempView("native_stream_v")
      val native = spark.sql("SELECT cm_sketch_fast(k, w) AS sk FROM native_stream_v")
        .head().getAs[Array[Byte]]("sk")
      val viaUdaf = df.agg(cm_sketch(col("k"), col("w"), eps = 1e-3).as("sk"))
        .head().getAs[Array[Byte]]("sk")
      assert(java.util.Arrays.equals(native, viaUdaf), s"parts=$parts")
    }
  }

  test("native hll_sketch_fast == udaf hll_sketch, bit-exact, across partitionings") {
    NativeHllAgg.register(spark, p = 14)
    val stream = StreamFixtures.weightedZipfStream(40000, 2000)
    for (parts <- Seq(1, 8, 32)) {
      val df = stream.toDF("k", "w").repartition(parts)
      df.createOrReplaceTempView("native_hll_v")
      val native = spark.sql("SELECT hll_sketch_fast(k) AS sk FROM native_hll_v")
        .head().getAs[Array[Byte]]("sk")
      val viaUdaf = df.agg(hll_sketch(col("k")).as("sk"))
        .head().getAs[Array[Byte]]("sk")
      // register max is order-independent, so the serialized state (not just
      // the estimate) must match bit-for-bit at any partitioning
      assert(java.util.Arrays.equals(native, viaUdaf), s"parts=$parts")
    }
  }

  test("native topk_sketch_fast == udaf cm_topk, semantically identical") {
    // capacity exceeds the distinct keyspace, so no trim happens and the
    // candidate set + merged-CM estimates are partition-order independent;
    // serialized bytes may differ (heap insertion order), the deterministic
    // (est desc, key asc) topK listing must not
    NativeTopKAgg.register(spark, capacity = 4096, eps = 1e-3, delta = 0.01)
    val stream = StreamFixtures.weightedZipfStream(40000, 2000)
    for (parts <- Seq(1, 8, 32)) {
      val df = stream.toDF("k", "w").repartition(parts)
      df.createOrReplaceTempView("native_topk_v")
      val native = graft.sketch.TopKSketch.deserialize(
        spark.sql("SELECT topk_sketch_fast(k, w) AS sk FROM native_topk_v")
          .head().getAs[Array[Byte]]("sk"))
      val udaf = graft.sketch.TopKSketch.deserialize(
        df.agg(cm_topk(col("k"), col("w"), capacity = 4096, eps = 1e-3).as("sk"))
          .head().getAs[Array[Byte]]("sk"))
      assert(native.totalWeight === udaf.totalWeight, s"parts=$parts weight")
      assert(native.candidateCount === udaf.candidateCount, s"parts=$parts candidates")
      assert(native.topK(4096).toSeq === udaf.topK(4096).toSeq, s"parts=$parts topK")
    }
  }

  test("native topk agg trims deterministically under capacity pressure") {
    // capacity below the keyspace: single partition → one sequential stream,
    // the native path must reproduce the udaf path's exact heap evolution
    NativeTopKAgg.register(spark, capacity = 64, eps = 1e-3, delta = 0.01)
    val df = StreamFixtures.weightedZipfStream(40000, 2000)
      .toDF("k", "w").repartition(1)
    df.createOrReplaceTempView("native_topk_small_v")
    val native = graft.sketch.TopKSketch.deserialize(
      spark.sql("SELECT topk_sketch_fast(k, w) AS sk FROM native_topk_small_v")
        .head().getAs[Array[Byte]]("sk"))
    val udaf = graft.sketch.TopKSketch.deserialize(
      df.agg(cm_topk(col("k"), col("w"), capacity = 64, eps = 1e-3).as("sk"))
        .head().getAs[Array[Byte]]("sk"))
    assert(native.topK(64).toSeq === udaf.topK(64).toSeq)
  }

  test("native aggregate works in groupBy and skips nulls") {
    graft.GraftExtensions.install(spark)
    NativeCountMinAgg.register(spark, eps = 1e-3, delta = 0.01)
    val df = Seq(("g1", "a", 1L), ("g1", null, 5L), ("g2", "b", 2L), ("g1", "a", 3L))
      .toDF("g", "k", "w")
    df.createOrReplaceTempView("native_groups_v")
    val rows = spark.sql(
      "SELECT g, cm_query(cm_sketch_fast(k, w), 'a') AS est FROM native_groups_v GROUP BY g ORDER BY g")
      .as[(String, Long)].collect()
    assert(rows.toSeq === Seq(("g1", 4L), ("g2", 0L)))
  }
}
