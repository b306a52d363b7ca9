package graft.agg

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.agg.SketchFunctions._
import graft.sketch._

/**
 * Distributed-correctness suite: the properties the reference never needed
 * (single-threaded updates) and our engine lives on — partial aggregation
 * per partition + shuffle merge must equal a single-pass build, bit-exactly
 * for the linear/idempotent sketches, bound-preserving for the quantile ones.
 */
class AggregatorsSpec extends SparkTestBase {

  import spark.implicits._

  private lazy val stream = StreamFixtures.weightedZipfStream(60000, 3000)
  private lazy val truth = StreamFixtures.exactCounts(stream)

  private def streamDf(parts: Int) =
    stream.toDF("k", "w").repartition(parts)

  test("cm_sketch over shuffled partitions == single-pass kernel build, bit-exact") {
    val single = CountMinSketch.fromErrorBounds(1e-3, 0.01)
    stream.foreach { case (k, w) => single.update(k, w) }
    for (parts <- Seq(1, 8, 32)) {
      val bytes = streamDf(parts)
        .agg(cm_sketch(col("k"), col("w"), eps = 1e-3).as("sk"))
        .head().getAs[Array[Byte]]("sk")
      assert(java.util.Arrays.equals(bytes, single.serialize()), s"parts=$parts")
    }
  }

  test("cm_query over the built sketch answers every key exactly (wide) / within eps*N (narrow)") {
    val df = streamDf(8)
    val wide = df.agg(cm_sketch(col("k"), col("w"), eps = 1e-4).as("sk"))
    val keys = df.select(col("k")).distinct()
    val answered = keys.crossJoin(broadcast(wide))
      .select(col("k"), cm_query(col("sk"), col("k")).as("est"))
      .as[(String, Long)].collect().toMap
    truth.foreach { case (k, t) => assert(answered(k) === t, s"key $k") }
  }

  test("groupBy + cm_sketch: one sketch per group, each matching its group's stream") {
    val df = streamDf(16).withColumn("grp", substring(col("k"), 5, 1)) // key_X -> X digit
    val sketches = df.groupBy(col("grp"))
      .agg(cm_sketch(col("k"), col("w"), eps = 1e-4).as("sk"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]]("sk")).toMap
    // rebuild per-group truth kernel-side
    val byGroup = stream.groupBy { case (k, _) => k.substring(4, 5) }
    byGroup.foreach { case (g, rows) =>
      val kernel = CountMinSketch.fromErrorBounds(1e-4, 0.01)
      rows.foreach { case (k, w) => kernel.update(k, w) }
      assert(java.util.Arrays.equals(sketches(g), kernel.serialize()), s"group $g")
    }
  }

  test("hll_sketch distributed == kernel single-pass, bit-exact; estimate in bound") {
    val single = HyperLogLog(14)
    stream.foreach { case (k, _) => single.add(k) }
    val bytes = streamDf(32).agg(hll_sketch(col("k"), p = 14).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    assert(java.util.Arrays.equals(bytes, single.serialize()))
    val est = HyperLogLog.deserialize(bytes).estimate()
    val exact = truth.size
    assert(math.abs(est - exact) <= 3 * 1.04 / math.sqrt(1 << 14) * exact + 2)
  }

  test("bloom_sketch distributed == kernel single-pass; no false negatives") {
    val single = BloomFilter.fromExpected(10000, 1e-4)
    truth.keys.foreach(single.add)
    val bytes = streamDf(16).select(col("k")).distinct()
      .agg(bloom_sketch(col("k"), expectedItems = 10000, fpp = 1e-4).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val bf = BloomFilter.deserialize(bytes)
    truth.keys.foreach(k => assert(bf.mightContain(k)))
    // OR-merge built from disjoint partitions == single-pass (word-level)
    assert(java.util.Arrays.equals(bytes, single.serialize()))
  }

  test("cm_topk distributed matches exact top-20 in the exact regime") {
    val got = streamDf(32)
      .agg(cm_topk(col("k"), col("w"), capacity = 4096, eps = 1e-4).as("sk"))
      .select(explode(topk_entries(col("sk"), 20)).as("e"))
      .select(col("e.key"), col("e.est")).as[(String, Long)].collect().toSeq
    val expected = truth.toSeq.sortBy { case (k, c) => (-c, k) }.take(20)
    assert(got === expected)
  }

  test("kll_sketch distributed quantiles within rank bound (compaction regime)") {
    val xs = stream.map(_._2.toDouble)
    val sorted = xs.sorted
    val bytes = streamDf(32)
      .agg(kll_sketch(col("w").cast("double"), k = 200).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val kll = KllSketch.deserialize(bytes)
    assert(kll.n === xs.length.toLong)
    for (q <- Seq(0.1, 0.5, 0.9)) {
      val est = kll.quantile(q)
      val rank = sorted.count(_ < est).toDouble / sorted.length
      assert(math.abs(rank - q) <= 0.04, s"q=$q rank=$rank")
    }
  }

  test("tdigest distributed quantiles within rank bound") {
    val xs = stream.map(_._2.toDouble)
    val sorted = xs.sorted
    val bytes = streamDf(32)
      .agg(tdigest_sketch(col("w").cast("double"), compression = 200.0).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val td = TDigest.deserialize(bytes)
    for (q <- Seq(0.05, 0.5, 0.95)) {
      val est = td.quantile(q)
      val rank = sorted.count(_ < est).toDouble / sorted.length
      assert(math.abs(rank - q) <= 0.03, s"q=$q rank=$rank")
    }
  }

  test("cm_merge of pre-built shard sketches == flat build (two-level agg)") {
    val df = streamDf(16)
    val flat = df.agg(cm_sketch(col("k"), col("w"), eps = 1e-3).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val twoLevel = df
      .withColumn("salt", pmod(xxhash64(col("k")), lit(8)))
      .groupBy(col("salt"))
      .agg(cm_sketch(col("k"), col("w"), eps = 1e-3).as("shard"))
      .agg(cm_merge(col("shard")).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    assert(java.util.Arrays.equals(flat, twoLevel))
  }

  test("SQL registration: cm_sketch/cm_query usable from spark.sql") {
    graft.GraftExtensions.install(spark)
    streamDf(8).createOrReplaceTempView("stream_v")
    val rows = spark.sql(
      """SELECT cm_query(sk, 'key_0') AS est FROM
        | (SELECT cm_sketch(k, w) AS sk FROM stream_v)""".stripMargin)
      .as[Long].collect()
    assert(rows.length === 1 && rows.head === truth("key_0"))
  }

  test("probe memo: two same-shape sparse sketches answer from their own contents") {
    // regression: head/mid/tail-sampled fingerprints collided for sparse
    // same-shape sketches and a probe answered from the wrong sketch
    val evA = Seq.fill(10000)("alpha").toDF("k")
    val evB = Seq.fill(10000)("beta").toDF("k")
    def probe(df: org.apache.spark.sql.DataFrame, key: String): Long = {
      val sk = df.agg(cm_sketch(col("k"), lit(1L), eps = 1e-4).as("sk"))
      df.select(col("k")).distinct().crossJoin(broadcast(sk))
        .select(cm_query(col("sk"), lit(key)).as("est"))
        .head().getLong(0)
    }
    assert(probe(evA, "alpha") === 10000L)
    assert(probe(evB, "alpha") === 0L) // same dims, same totalWeight, sparse
    assert(probe(evB, "beta") === 10000L)
  }

  test("probe memo: Bloom blobs equal but for one late word, alternated on one thread") {
    // two filters with the same length and header whose bytes differ only
    // in the word holding `key`'s single bit, placed in the last eighth
    val m = 64L * 1024
    val key = Iterator.from(0).map(i => s"late$i").find { k =>
      val f = BloomFilter(m, 1); f.add(k)
      f.words.indexWhere(_ != 0L) >= f.words.length * 7 / 8
    }.get
    val withKey = BloomFilter(m, 1); withKey.add(key)
    val a = withKey.serialize()
    val b = a.clone()
    val word = withKey.words.indexWhere(_ != 0L)
    java.util.Arrays.fill(b, a.length - 8 * (withKey.words.length - word),
      a.length - 8 * (withKey.words.length - word - 1), 0.toByte)
    assert(a.length === b.length && !java.util.Arrays.equals(a, b))
    assert(BloomFilter.deserialize(a).mightContain(key))
    assert(!BloomFilter.deserialize(b).mightContain(key))
    val even = (0 until 200).map(_ % 2 == 0)
    // identity path: two literals, each row handed one of the same two arrays
    val byRef = spark.range(0, 200, 1, 1)
      .select(bloom_contains(when(col("id") % 2 === 0, lit(a)).otherwise(lit(b)),
        lit(key)).as("hit"))
      .as[Boolean].collect().toSeq
    assert(byRef === even)
    // content path: every row carries its own copy, through the SQL name
    graft.GraftExtensions.install(spark)
    Seq((a, b)).toDF("a", "b").crossJoin(spark.range(0, 200, 1, 1))
      .createOrReplaceTempView("memo_late_word_v")
    val byCopy = spark.sql(s"""SELECT bloom_contains(IF(id % 2 = 0, a, b), '$key')
      | AS hit FROM memo_late_word_v ORDER BY id""".stripMargin)
      .as[Boolean].collect().toSeq
    assert(byCopy === even)
  }

  test("SQL probe names answer like the Column API") {
    graft.GraftExtensions.install(spark)
    val df = streamDf(8)
    val sks = df.agg(
      cm_sketch(col("k"), col("w")).as("cm"),
      cm_topk(col("k"), col("w"), capacity = 1024).as("topk"),
      cs_sketch(col("k"), col("w")).as("cs"),
      mg_sketch(col("k"), col("w"), capacity = 1024).as("mg"),
      fss_sketch(col("k"), col("w"), numEntries = 1024).as("fss"),
      hll_sketch(col("k")).as("hll"),
      bloom_sketch(col("k"), expectedItems = 1L << 20).as("bloom"),
      kll_sketch(col("w").cast("double")).as("kll"),
      tdigest_sketch(col("w").cast("double")).as("td"))
    val probes = df.select(col("k")).distinct().limit(50).crossJoin(broadcast(sks))
    probes.createOrReplaceTempView("sql_probe_v")
    val viaApi = probes.select(col("k"),
      cm_query(col("cm"), col("k")), cm_total(col("cm")),
      to_json(topk_entries(col("topk"), 5)),
      cs_query(col("cs"), col("k")), mg_query(col("mg"), col("k")),
      fss_query(col("fss"), col("k")), hll_count(col("hll")),
      bloom_contains(col("bloom"), col("k")),
      kll_quantile(col("kll"), lit(0.5)), tdigest_quantile(col("td"), lit(0.9)))
      .orderBy("k").collect().map(_.toSeq)
    val viaSql = spark.sql("""SELECT k, cm_query(cm, k), cm_total(cm),
      | to_json(topk_entries(topk, 5)), cs_query(cs, k), mg_query(mg, k),
      | fss_query(fss, k), hll_count(hll), bloom_contains(bloom, k),
      | kll_quantile(kll, 0.5D), tdigest_quantile(td, 0.9D)
      | FROM sql_probe_v ORDER BY k""".stripMargin).collect().map(_.toSeq)
    assert(viaSql.length === 50)
    assert(viaSql.toSeq === viaApi.toSeq)
  }
}
