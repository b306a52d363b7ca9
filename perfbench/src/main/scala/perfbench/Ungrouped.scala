package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.{NativeCountMinAgg, NativeHllAgg, NativeTopKAgg}
import graft.agg.SketchFunctions._
import graft.sketch._

/** `build_ungrouped`: each kernel builds one sketch over a cached, seeded
  * zipf key corpus of `Rows` rows, through the Column API; the SQL `*_fast`
  * twins and a codegen scan anchor run alongside. */
final class Ungrouped(spark: SparkSession, seed: Long, parts: Int) extends Workload {
  import Ungrouped._

  def name: String = "build_ungrouped"

  private var corpus: DataFrame = _
  private val blobs = scala.collection.mutable.Map.empty[String, Array[Byte]]

  NativeCountMinAgg.register(spark, eps = Eps)
  NativeTopKAgg.register(spark, capacity = Capacity, eps = Eps)
  NativeHllAgg.register(spark, p = HllP)

  def setup(): Unit = {
    if (corpus != null) corpus.unpersist(blocking = true)
    corpus = Workload.keyed(spark, seed, Rows, parts).drop("id")
      .withColumn("x", col("weight").cast("double")).cache()
    corpus.count()
    corpus.createOrReplaceTempView("pb_corpus")
  }

  /** Builds one sketch and keeps its blob for the output checks. */
  private def build(key: String, c: => org.apache.spark.sql.Column): () => Unit =
    () => blobs(key) = corpus.agg(c.as("sk")).head().getAs[Array[Byte]](0)

  private def buildSql(key: String, sql: String): () => Unit =
    () => blobs(key) = spark.sql(s"SELECT $sql FROM pb_corpus").head().getAs[Array[Byte]](0)

  def ops: Seq[Op] = Seq(
    Op("scan", None, "build", "graft.data", Rows, anchor = true)(() =>
      corpus.agg(expr("bit_xor(xxhash64(token))")).head()),
    Op("cm", Some("cm"), "build", "graft.agg", Rows)(
      build("cm", cm_sketch(col("token"), col("weight"), eps = Eps))),
    Op("cm_fast", None, "build", "graft.agg", Rows)(
      buildSql("cm_fast", "cm_sketch_fast(token, weight)")),
    Op("topk", Some("topk"), "build", "graft.agg", Rows)(
      build("topk", cm_topk(col("token"), col("weight"), capacity = Capacity, eps = Eps))),
    Op("topk_fast", None, "build", "graft.agg", Rows)(
      buildSql("topk_fast", "topk_sketch_fast(token, weight)")),
    Op("hll", Some("hll"), "build", "graft.agg", Rows)(
      build("hll", hll_sketch(col("token"), p = HllP))),
    Op("hll_fast", None, "build", "graft.agg", Rows)(
      buildSql("hll_fast", "hll_sketch_fast(token)")),
    Op("kll", Some("kll"), "build", "graft.agg", Rows)(
      build("kll", kll_sketch(col("x"), k = KllK))),
    Op("tdigest", Some("tdigest"), "build", "graft.agg", Rows)(
      build("tdigest", tdigest_sketch(col("x")))),
    Op("bloom", Some("bloom"), "build", "graft.agg", Rows)(
      build("bloom", bloom_sketch(col("token"), expectedItems = BloomItems, fpp = BloomFpp))))

  def checks(rec: Recorder, plans: Map[String, Seq[String]]): Unit =
    Ungrouped.checkBlobs(rec, spark, corpus, seed, blobs.toMap)
}

object Ungrouped {
  /** Corpus rows: enough that the per-row update, not the fixed cost of a
    * Spark job, makes most of each build's time. */
  val Rows = 3000000L
  val Eps = 1e-4
  val Capacity = 4096
  val HllP = 14
  val KllK = 200
  val BloomItems = 100000L
  val BloomFpp = 0.01
  /** Shards of the rollup check. */
  val RollupShards = 16

  /** Quantiles the rank checks ask the KLL and t-digest blobs for. */
  val Qs = Seq(0.01, 0.1, 0.5, 0.9, 0.99)

  /** Bloom filter built by the kernel alone, one per partition and merged:
    * the twin the Column-API aggregate must match bit for bit. */
  def kernelBloom(corpus: DataFrame): Array[Byte] =
    corpus.select("token").rdd.mapPartitions { it =>
      val b = BloomFilter.fromExpected(BloomItems, BloomFpp)
      it.foreach(r => b.add(r.getString(0)))
      Iterator(b)
    }.reduce((a, b) => a.merge(b)).serialize()

  /** Exact rank interval [P(X < x), P(X <= x)] of each estimate. */
  private def rankIntervals(corpus: DataFrame, xs: Seq[Double], n: Long): Seq[(Double, Double)] = {
    val aggs = xs.zipWithIndex.flatMap { case (x, i) =>
      Seq(sum(when(col("x") < x, 1L).otherwise(0L)).as(s"lt$i"),
        sum(when(col("x") <= x, 1L).otherwise(0L)).as(s"le$i"))
    }
    val r = corpus.agg(aggs.head, aggs.tail: _*).head()
    xs.indices.map(i => (r.getLong(2 * i).toDouble / n, r.getLong(2 * i + 1).toDouble / n))
  }

  def checkBlobs(rec: Recorder, spark: SparkSession, corpus: DataFrame, seed: Long,
      blobs: Map[String, Array[Byte]]): Unit = {
    def same(a: String, b: String) = rec.check(s"$a blob == $b blob") {
      java.util.Arrays.equals(blobs(a), blobs(b))
    }
    same("cm", "cm_fast")
    same("hll", "hll_fast")
    rec.check("bloom blob == kernel-built bloom") {
      java.util.Arrays.equals(blobs("bloom"), kernelBloom(corpus))
    }

    // exact per-key counts, computed once and outside the timed region
    val perKey = corpus.groupBy("token").agg(sum("weight").as("w")).cache()
    val distinct = perKey.count()
    val heaviest = perKey.orderBy(desc("w"), asc("token")).head().getString(0)
    val exact = perKey.orderBy(xxhash64(col("token"), lit(seed))).limit(500).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    perKey.unpersist()

    val cm = CountMinSketch.deserialize(blobs("cm"))
    val slack = math.ceil(cm.epsilon * cm.totalWeight).toLong
    rec.check("cm estimates within [true, true + eps*N]") {
      exact.forall { case (k, w) => val e = cm.query(k); e >= w && e <= w + slack }
    }
    rec.check("topk heaviest key is the exact heaviest key") {
      TopKSketch.deserialize(blobs("topk")).topK(1).headOption.exists(_._1 == heaviest)
    }
    val bloom = BloomFilter.deserialize(blobs("bloom"))
    rec.check("bloom has no false negatives") {
      exact.forall { case (k, _) => bloom.mightContain(k) }
    }
    val hll = HyperLogLog.deserialize(blobs("hll"))
    rec.check("hll estimate within 3 sigma") {
      math.abs(hll.estimate() - distinct) <= 3 * hll.standardError * distinct
    }
    // shard rollups: per-shard sketches, re-merged, against the direct builds
    val merged = corpus.groupBy(pmod(xxhash64(col("token"), lit(seed)), lit(RollupShards)).as("s"))
      .agg(hll_sketch(col("token"), p = HllP).as("hll"),
        cm_sketch(col("token"), col("weight"), eps = Eps).as("cm"),
        kll_sketch(col("x"), k = KllK).as("kll"))
      .agg(hll_merge(col("hll")), cm_merge(col("cm")), kll_merge(col("kll"))).head()
    rec.check("re-merged shard hll == direct hll") {
      java.util.Arrays.equals(merged.getAs[Array[Byte]](0), blobs("hll"))
    }
    rec.check("re-merged shard cm == direct cm") {
      java.util.Arrays.equals(merged.getAs[Array[Byte]](1), blobs("cm"))
    }

    val kll = KllSketch.deserialize(blobs("kll"))
    val td = TDigest.deserialize(blobs("tdigest"))
    // KLL compaction is randomized, so a re-merged KLL is not byte-equal to
    // a direct build; it must count the same stream and keep the rank bound
    val kllMerged = KllSketch.deserialize(merged.getAs[Array[Byte]](2))
    rec.check("re-merged shard kll counts the same stream") { kllMerged.n == kll.n }
    val estimates = Seq(Qs.map(kll.quantile), Qs.map(td.quantile), Qs.map(kllMerged.quantile))
    val ranks = rankIntervals(corpus, estimates.flatten, Rows).grouped(Qs.size).toSeq
    def ranksOk(name: String, rs: Seq[(Double, Double)], bound: Double): Unit =
      rec.check(s"$name quantiles within rank bound $bound") {
        rs.zip(Qs).forall { case ((lo, hi), q) => q >= lo - bound && q <= hi + bound }
      }
    ranksOk("kll", ranks(0), kll.rankError)
    ranksOk("tdigest", ranks(1), TDigestRankBound)
    ranksOk("re-merged kll", ranks(2), kllMerged.rankError)
  }

  /** t-digest has no worst-case guarantee; at compression 100 its rank
    * error stays well inside 1% of the stream on this corpus. */
  val TDigestRankBound = 0.01
}
