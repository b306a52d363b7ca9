package graft.agg

import org.apache.spark.SparkConf
import org.apache.spark.serializer.KryoSerializer
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import graft.{GraftExtensions, SparkTestBase}
import graft.agg.SketchAggregators._
import graft.agg.SketchFunctions._
import graft.sketch._

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

  // ---- input rules the udaf builds gave, kept by the native aggregate

  test("a null key is skipped; a null weight adds 0 and still offers its key") {
    GraftExtensions.install(spark)
    val df = Seq[(String, Option[Long])](("a", Some(3L)), ("b", None), (null, Some(2L)))
      .toDF("k", "w")
    val r = df.agg(cm_sketch(col("k"), col("w")), cm_topk(col("k"), col("w"), capacity = 8),
      mg_sketch(col("k"), col("w"), capacity = 8), fss_sketch(col("k"), col("w"), numEntries = 8),
      hll_sketch(col("k")), expr("cm_sketch_fast(k, w)")).head()
    val cm = CountMinSketch.deserialize(r.getAs[Array[Byte]](0))
    assert(cm.totalWeight === 3L)
    assert(cm.query("a") === 3L && cm.query("b") === 0L)
    assert(TopKSketch.deserialize(r.getAs[Array[Byte]](1)).topK(8).toSeq === Seq("a" -> 3L, "b" -> 0L))
    assert(MisraGries.deserialize(r.getAs[Array[Byte]](2)).entries === Map("a" -> 3L, "b" -> 0L))
    assert(FilteredSpaceSaving.deserialize(r.getAs[Array[Byte]](3)).entries.map(_._1).toSet ===
      Set("a", "b"))
    assert(HyperLogLog.deserialize(r.getAs[Array[Byte]](4)).estimateLong() === 2L)
    // *_fast follows the same rule (it counted a null weight as 1 before)
    assert(java.util.Arrays.equals(r.getAs[Array[Byte]](5), r.getAs[Array[Byte]](0)))
  }

  test("an int key is cast to string, a string x to double, and a bad x fails at run time") {
    val ints = Seq((1, 2L), (7, 3L), (1, 1L)).toDF("k", "w")
    for ((a, b) <- Seq(
        cm_sketch(col("k"), col("w")) -> cm_sketch(col("k").cast("string"), col("w")),
        hll_sketch(col("k")) -> hll_sketch(col("k").cast("string")))) {
      val r = ints.agg(a, b).head()
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1)))
    }
    val strs = Seq("1.5", "-2", "1e3").toDF("x")
    val r = strs.agg(kll_sketch(col("x")), kll_sketch(col("x").cast("double")),
      tdigest_sketch(col("x")), tdigest_sketch(col("x").cast("double"))).head()
    assert(java.util.Arrays.equals(r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1)))
    assert(java.util.Arrays.equals(r.getAs[Array[Byte]](2), r.getAs[Array[Byte]](3)))
    assert(KllSketch.deserialize(r.getAs[Array[Byte]](0)).quantile(1.0) === 1000.0)
    val bad = Seq("x").toDF("x").agg(kll_sketch(col("x")))
    bad.queryExecution.assertAnalyzed()
    val e = intercept[Exception](bad.head())
    assert(e.getMessage.contains("CAST_INVALID_INPUT"), e.getMessage)
  }

  // ---- old state

  test("a Kryo-era partial buffer fails to decode with the sketch's typed error") {
    val cm = CountMinSketch.fromErrorBounds(1e-2, 0.01); cm.update("a", 2L)
    val hll = HyperLogLog(10); hll.add("a")
    val kll = KllSketch(200); (1 to 500).foreach(i => kll.update(i.toDouble))
    val topk = TopKSketch(8, 1e-2, 0.01); topk.update("a", 1L)
    val bloom = BloomFilter.fromExpected(100, 0.01); bloom.add("a")
    val cs = CountSketch(5, 64); cs.update("a", 1L)
    val mg = MisraGries(8); mg.update("a", 1L)
    val fss = FilteredSpaceSaving(8, 64); fss.update("a", 1L)
    val td = TDigest(100); (1 to 500).foreach(i => td.update(i.toDouble))
    def agg[S <: Mergeable[S]](k: SketchKernel[S]): NativeSketchAgg[S] =
      NativeSketchAgg(k, k.inputTypes.map(Literal(null, _)), k.name)
    val kryo = new KryoSerializer(new SparkConf()).newInstance()
    // the aggregate, the udaf's buffer in the two forms it took (the row the
    // udaf kept in a state store, and the bare Kryo bytes), the sketch's name
    def old[T: scala.reflect.ClassTag](a: NativeSketchAgg[_], buf: T, what: String) = {
      val enc = encoderFor(Encoders.kryo[T])
      val row = enc.createSerializer().apply(buf).asInstanceOf[UnsafeRow].getBytes
      val bb = kryo.serialize(buf)
      (a, Seq("state row" -> row, "Kryo" -> java.util.Arrays.copyOfRange(bb.array(), 0, bb.limit())),
        what)
    }
    val cases = Seq(
      old(agg(CmAggregator(1e-2, 0.01, 1L)), cm, "Count-Min"),
      old(agg(CmMergeAggregator()), Option(cm), "Count-Min"),
      old(agg(TopKAggregator(8, 1e-2, 0.01, 1L)), topk, "TopK"),
      old(agg(HllAggregator(10, 1L)), hll, "HyperLogLog"),
      old(agg(HllMergeAggregator()), Option(hll), "HyperLogLog"),
      old(agg(BloomAggregator(100, 0.01, 1L)), bloom, "Bloom"),
      old(agg(CsAggregator(5, 64, 1L)), cs, "Count-Sketch"),
      old(agg(MgAggregator(8)), mg, "Misra-Gries"),
      old(agg(FssAggregator(8, 64, 1L)), fss, "FSS"),
      old(agg(KllAggregator(200, 1L)), kll, "KLL"),
      old(agg(KllMergeAggregator()), Option(kll), "KLL"),
      old(agg(TDigestAggregator(100)), td, "t-digest"))
    for ((a, forms, what) <- cases; (form, bytes) <- forms) {
      val e = intercept[IllegalArgumentException](a.deserialize(bytes))
      assert(e.getMessage.contains(what), s"${a.prettyName} $form: ${e.getMessage}")
    }
  }

  // ---- plan names

  private lazy val planFixture: DataFrame = {
    val shards = (0 until 3).map { s =>
      val c = CountMinSketch.fromErrorBounds(1e-2, 0.01); c.update(s"k$s", 1L)
      val h = HyperLogLog(10); h.add(s"k$s")
      val q = KllSketch(200); q.update(s.toDouble)
      (s"k$s", s.toLong + 1, s.toDouble, c.serialize(), h.serialize(), q.serialize())
    }
    shards.toDF("k", "w", "x", "cm", "hll", "kll")
  }

  /** The sketch aggregates of `df`'s plan, and its executed plan's text. */
  private def planOf(df: DataFrame): (Seq[Any], String) = {
    val fns = df.queryExecution.optimizedPlan.collect { case a: Aggregate =>
      a.aggregateExpressions.flatMap(_.collect { case e: AggregateExpression => e.aggregateFunction })
    }.flatten
    df.head()
    (fns, df.queryExecution.executedPlan.toString.toLowerCase(java.util.Locale.ROOT))
  }

  private def assertNative(df: DataFrame, name: String): Unit = {
    val (fns, plan) = planOf(df)
    assert(fns.nonEmpty && fns.forall(_.isInstanceOf[NativeSketchAgg[_]]), fns.toString)
    assert(plan.contains(name + "("), plan)
    assert(!plan.contains("scalaaggregator") && !plan.contains("kryo"), plan)
  }

  test("every Column-API build and merge plans as NativeSketchAgg, named <class>aggregator") {
    val calls: Seq[(String, Column)] = Seq(
      "cmaggregator" -> cm_sketch(col("k"), col("w")),
      "cmmergeaggregator" -> cm_merge(col("cm")),
      "topkaggregator" -> cm_topk(col("k"), col("w"), capacity = 8),
      "hllaggregator" -> hll_sketch(col("k")),
      "hllmergeaggregator" -> hll_merge(col("hll")),
      "bloomaggregator" -> bloom_sketch(col("k"), expectedItems = 100L),
      "csaggregator" -> cs_sketch(col("k"), col("w")),
      "mgaggregator" -> mg_sketch(col("k"), col("w"), capacity = 8),
      "fssaggregator" -> fss_sketch(col("k"), col("w"), numEntries = 8),
      "kllaggregator" -> kll_sketch(col("x")),
      "kllmergeaggregator" -> kll_merge(col("kll")),
      "tdigestaggregator" -> tdigest_sketch(col("x")))
    for ((name, c) <- calls) assertNative(planFixture.agg(c.as("sk")), name)
  }

  test("every SQL build and merge plans as NativeSketchAgg, named as it was called") {
    GraftExtensions.install(spark)
    planFixture.createOrReplaceTempView("plan_names_v")
    val calls = Seq("cm_sketch(k, w)", "cm_merge(cm)", "cm_topk(k, w)", "hll_sketch(k)",
      "hll_merge(hll)", "bloom_sketch(k)", "cs_sketch(k, w)", "mg_sketch(k, w)",
      "fss_sketch(k, w)", "kll_sketch(x)", "kll_merge(kll)", "tdigest_sketch(x)",
      "cm_sketch_fast(k, w)", "topk_sketch_fast(k, w)", "hll_sketch_fast(k)")
    for (call <- calls)
      assertNative(spark.sql(s"SELECT $call AS sk FROM plan_names_v"), call.takeWhile(_ != '('))
  }

  test("a merge over no sketch, or only null ones, gives null") {
    val nulls = Seq[Array[Byte]](null, null).toDF("sk")
    val r = nulls.agg(cm_merge(col("sk")), hll_merge(col("sk")), kll_merge(col("sk"))).head()
    assert(r.toSeq === Seq(null, null, null))
    val none = nulls.filter(lit(false)).agg(cm_merge(col("sk"))).head()
    assert(none.isNullAt(0))
  }
}
