package graft

import org.apache.spark.sql.{AnalysisException, Row, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions._
import graft.agg.SketchFunctions._
import graft.sketch.{CountMinSketch, HyperLogLog, KllSketch, TopKSketch}

/** The SQL function surface (GraftExtensions): native builds and probes
  * must agree bit-exactly with the Scala-API udaf builds decoded by the
  * kernels, mistyped SQL must fail at analysis, and both ways into a
  * session must expose the same names. */
class GraftExtensionsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val installed: Unit = GraftExtensions.install(spark)

  private def fixture(): Unit = {
    val df = Seq.tabulate(5000)(i => (s"k${i % 37}", 1L + (i % 3))).toDF("k", "w")
    df.createOrReplaceTempView("ext_fixture")
  }

  test("cm_query_sketch over cm_sketch_fast == udaf build + udf probe") {
    installed; fixture()
    val sqlRows = spark.sql(
      """SELECT cm_query_sketch(sk, 'k1') AS est, cm_total_sketch(sk) AS n
        |FROM (SELECT cm_sketch_fast(k, w) AS sk FROM ext_fixture)""".stripMargin)
      .head()
    val df = spark.table("ext_fixture")
    val cm = CountMinSketch.deserialize(df.agg(cm_sketch(col("k"), col("w"), eps = 1e-4).as("sk"))
      .head().getAs[Array[Byte]](0))
    assert(sqlRows.getLong(0) === cm.query("k1"))
    assert(sqlRows.getLong(1) === cm.totalWeight)
    // exact regime sanity: 37 keys vs width 2^15 — the estimate is exact
    val truth = df.filter(col("k") === "k1").agg(sum("w")).head().getLong(0)
    assert(sqlRows.getLong(0) === truth)
  }

  test("topk_entries_sketch over topk_sketch_fast == udaf build + udf listing") {
    installed; fixture()
    val sqlRows = spark.sql(
      """SELECT e.key, e.est FROM (
        |  SELECT explode(topk_entries_sketch(sk, 10)) AS e FROM
        |    (SELECT topk_sketch_fast(k, w) AS sk FROM ext_fixture))""".stripMargin)
      .as[(String, Long)].collect().toSeq
    val scalaRows = TopKSketch.deserialize(spark.table("ext_fixture")
      .agg(cm_topk(col("k"), col("w"), capacity = 4096, eps = 1e-4).as("sk"))
      .head().getAs[Array[Byte]](0)).topK(10).toSeq
    assert(sqlRows === scalaRows)
    assert(sqlRows.length === 10)
    // exact regime: estimates equal the true sums
    val truth = spark.table("ext_fixture").groupBy("k").agg(sum("w").as("t"))
      .orderBy(desc("t"), asc("k")).limit(10)
      .as[(String, Long)].collect().toSeq
    assert(sqlRows === truth)
  }

  test("literal eps/delta/seed arguments change the sketch deterministically") {
    installed; fixture()
    val a = spark.sql(
      """SELECT cm_query_sketch(sk, 'k2') FROM
        |(SELECT cm_sketch_fast(k, w, 1e-3, 0.01, 42) AS sk FROM ext_fixture)""".stripMargin)
      .head().getLong(0)
    val b = df_with_seed(42L)
    assert(a === b)
    val truth = spark.table("ext_fixture")
      .filter(col("k") === "k2").agg(sum("w")).head().getLong(0)
    assert(a === truth) // still exact at width 2^12 vs 37 keys
  }

  private def df_with_seed(seed: Long): Long =
    CountMinSketch.deserialize(spark.table("ext_fixture")
      .agg(cm_sketch(col("k"), col("w"), eps = 1e-3, seed = seed).as("sk"))
      .head().getAs[Array[Byte]](0)).query("k2")

  test("hll_sketch_fast literal p/seed arguments reach the aggregate") {
    installed; fixture()
    // non-default p AND seed through the extensions literal-arg builder —
    // a swapped foldNum index would build a different register file and
    // break bit-parity with the udaf built at the same (p, seed)
    val sqlBytes = spark.sql(
      "SELECT hll_sketch_fast(k, 12, 7) AS sk FROM ext_fixture")
      .head().getAs[Array[Byte]]("sk")
    val udafBytes = spark.table("ext_fixture")
      .agg(hll_sketch(col("k"), p = 12, seed = 7L).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    assert(java.util.Arrays.equals(sqlBytes, udafBytes))
    // and they genuinely differ from the default-(p, seed) build
    val defBytes = spark.sql(
      "SELECT hll_sketch_fast(k) AS sk FROM ext_fixture")
      .head().getAs[Array[Byte]]("sk")
    assert(!java.util.Arrays.equals(sqlBytes, defBytes))
  }

  test("hll/kll SQL surface: build udafs + native probes match the Scala API") {
    installed; fixture()
    val sqlRow = spark.sql(
      """SELECT hll_count_sketch(h) AS card,
        |  kll_quantile_sketch(kl, 0.5) AS med
        |FROM (SELECT hll_sketch(k) AS h,
        |        kll_sketch(cast(w AS double)) AS kl
        |      FROM ext_fixture)""".stripMargin).head()
    val df = spark.table("ext_fixture")
    val scalaRow = df.agg(
        hll_sketch(col("k")).as("h"),
        kll_sketch(col("w").cast("double")).as("kl"))
      .head()
    assert(sqlRow.getLong(0) ===
      HyperLogLog.deserialize(scalaRow.getAs[Array[Byte]](0)).estimateLong())
    assert(sqlRow.getDouble(1) ===
      KllSketch.deserialize(scalaRow.getAs[Array[Byte]](1)).quantile(0.5))
    assert(sqlRow.getLong(0) === 37L) // p=14 is exact at 37 distinct keys
  }

  test("mistyped SQL fails at analysis, not execution") {
    installed; fixture()
    val e1 = intercept[AnalysisException] {
      spark.sql("SELECT cm_query_sketch(1, 'a')").collect()
    }
    assert(e1.getMessage.contains("cm_query_sketch"))
    val e2 = intercept[AnalysisException] {
      spark.sql("SELECT cm_sketch_fast(w, w) FROM ext_fixture").collect()
    }
    assert(e2.getMessage.contains("cm_sketch_fast"))
  }

  test("extensions class injects without error (spark-submit wiring)") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must register all builders cleanly
  }

  test("a bad literal argument names the function it was passed to") {
    installed; fixture()
    val e = intercept[Exception] {
      spark.sql("SELECT hll_sketch_fast(k, 'x') FROM ext_fixture").collect()
    }
    assert(e.getMessage.contains("hll_sketch_fast: p must be numeric"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("SELECT topk_sketch_fast(k, w, capacity) FROM " +
        "(SELECT *, 4 AS capacity FROM ext_fixture)").collect()
    }
    assert(e2.getMessage.contains("topk_sketch_fast: capacity must be a literal"), e2.getMessage)
  }

  /** Temp-function names `install` adds to a fresh session. */
  private def installedNames(): Set[String] = {
    def temp(s: org.apache.spark.sql.SparkSession) =
      s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet
    val fresh = spark.newSession()
    val before = temp(fresh)
    GraftExtensions.install(fresh)
    temp(fresh) -- before
  }

  test("the extensions path injects exactly the names install registers") {
    val injected = Seq.newBuilder[String]
    val ext = new SparkSessionExtensions {
      override def injectFunction(
          fd: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)): Unit = {
        injected += fd._1.funcName
        super.injectFunction(fd)
      }
    }
    new GraftExtensions().apply(ext)
    val names = injected.result()
    assert(names.distinct.length === names.length, "a name is registered twice")
    assert(names.toSet === installedNames())
  }

  test("every SQL name of the earlier registries still resolves") {
    val before = Set("cm_sketch", "cm_merge", "cm_topk", "hll_sketch", "bloom_sketch",
      "kll_sketch", "tdigest_sketch", "cs_sketch", "mg_sketch", "fss_sketch", "cs_query",
      "mg_query", "fss_query", "cm_query", "cm_total", "hll_count", "bloom_contains",
      "kll_quantile", "tdigest_quantile", "topk_entries", "cm_sketch_fast", "cm_query_sketch",
      "cm_total_sketch", "hll_count_sketch", "kll_quantile_sketch", "topk_sketch_fast",
      "hll_sketch_fast", "topk_entries_sketch", "cosine_micro", "dot_range",
      "intersect_count_sorted", "cdc_cuts")
    assert(before -- installedNames() === Set.empty[String])
  }

  test("SQL names and the Column API agree on null sketch and key inputs") {
    installed
    val sks = Seq("a", "b", "a").toDF("k").agg(
      cm_sketch(col("k"), lit(1L)).as("cm"), hll_sketch(col("k")).as("hll"),
      kll_sketch(lit(1.0)).as("kll"), cm_topk(col("k"), lit(1L), capacity = 8).as("topk"))
    val nulls = sks.select(lit(null).cast("binary").as("nb"), lit(null).cast("string").as("nk"),
      col("cm"), col("hll"), col("kll"), col("topk"))
    nulls.createOrReplaceTempView("ext_nulls")
    val viaApi = nulls.select(
      cm_query(col("nb"), lit("a")), cm_query(col("cm"), col("nk")), cm_total(col("nb")),
      hll_count(col("nb")), kll_quantile(col("nb"), lit(0.5)),
      kll_quantile(col("kll"), lit(null).cast("double")),
      to_json(topk_entries(col("nb"), 3))).head()
    assert(viaApi === Row(-1L, -1L, -1L, -1L, Double.NaN, null, "[]"))
    for (suffix <- Seq("", "_sketch")) {
      val viaSql = spark.sql(s"""SELECT cm_query$suffix(nb, 'a'), cm_query$suffix(cm, nk),
        | cm_total$suffix(nb), hll_count$suffix(nb), kll_quantile$suffix(nb, 0.5D),
        | kll_quantile$suffix(kll, CAST(NULL AS DOUBLE)),
        | to_json(topk_entries$suffix(nb, 3)) FROM ext_nulls""".stripMargin).head()
      assert(viaSql === viaApi, s"suffix '$suffix'")
    }
  }

  test("SQL merges equal the Column-API merges") {
    installed
    val shards = spark.range(0, 4000, 1, 4).select(col("id"), (col("id") % 8).as("s"),
        concat(lit("k"), (col("id") % 300).cast("string")).as("k"))
      .groupBy("s").agg(cm_sketch(col("k"), lit(1L)).as("cm"), hll_sketch(col("k")).as("hll"),
        kll_sketch(col("id").cast("double")).as("kll"))
      .repartition(1).cache()
    shards.createOrReplaceTempView("ext_shards")
    val viaApi = shards.agg(cm_merge(col("cm")), hll_merge(col("hll")), kll_merge(col("kll")))
      .head()
    val viaSql = spark.sql("SELECT cm_merge(cm), hll_merge(hll), kll_merge(kll) FROM ext_shards")
      .head()
    for (i <- 0 until 3)
      assert(java.util.Arrays.equals(viaSql.getAs[Array[Byte]](i), viaApi.getAs[Array[Byte]](i)), s"$i")
    shards.unpersist()
  }
}
