package graft.agg

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestBase
import graft.agg.SketchFunctions._
import graft.sketch._

/**
 * The input rules of every sketch probe, through the Column API and through
 * each SQL name it has: the answer for non-null inputs (the kernel's own
 * answer), the answers for a null sketch, key, q, x or k, and the result
 * type and nullability the oracle compares.
 */
class SketchProbeSpec extends SparkTestBase {
  import spark.implicits._

  /** One row: a sketch of every kind, null columns of each argument type,
    * and a key. */
  private lazy val sks = {
    graft.GraftExtensions.install(spark)
    val df = Seq.tabulate(600)(i => (s"k${i % 23}", 1L + i % 4, (i % 97).toDouble))
      .toDF("k", "w", "x")
    val out = df.agg(
        cm_sketch(col("k"), col("w")).as("cm"),
        cm_topk(col("k"), col("w"), capacity = 64).as("topk"),
        cs_sketch(col("k"), col("w")).as("cs"),
        mg_sketch(col("k"), col("w"), capacity = 16).as("mg"),
        fss_sketch(col("k"), col("w"), numEntries = 16).as("fss"),
        hll_sketch(col("k")).as("hll"),
        hll_sketch(when(col("w") > 2, concat(col("k"), lit("b")))).as("hll_b"),
        bloom_sketch(col("k"), expectedItems = 1000).as("bloom"),
        kll_sketch(col("x")).as("kll"),
        tdigest_sketch(col("x")).as("td"))
      .select(col("*"), lit(null).cast("binary").as("nb"), lit(null).cast("string").as("nk"),
        lit(null).cast("double").as("nd"), lit(null).cast("int").as("ni"), lit("k1").as("key"))
    out.createOrReplaceTempView("probe_pin")
    out
  }
  private lazy val row = sks.head()
  private def blob(c: String): Array[Byte] = row.getAs[Array[Byte]](c)

  private val entry = StructType(Seq(
    StructField("key", StringType), StructField("est", LongType, nullable = false)))
  private val fssEntry = StructType(Seq(StructField("key", StringType),
    StructField("f", LongType, nullable = false), StructField("e", LongType, nullable = false)))

  /** `api` over the fixture answers `want` with type `dt`, and so does
    * `fn(sqlArgs)` under each SQL name `fn` in `sqlNames`. */
  private def pin(api: Column, sqlNames: Seq[String], sqlArgs: String)(
      want: Any, dt: DataType, nullable: Boolean): Unit =
    answers(("api" -> sks.select(api)) +: sql(sqlNames, sqlArgs), want, dt, nullable)

  private def sql(names: Seq[String], args: String) =
    names.map(n => n -> spark.sql(s"SELECT $n($args) FROM probe_pin"))

  private def answers(frames: Seq[(String, DataFrame)], want: Any, dt: DataType,
      nullable: Boolean): Unit = frames.foreach { case (how, f) =>
    assert(f.schema.head.dataType === dt, how)
    assert(f.schema.head.nullable === nullable, s"$how nullable")
    assert(f.head() === Row(want), how)
  }

  private def twins(fn: String) = Seq(fn, s"${fn}_sketch")

  test("cm_query, cm_total, cs_query, mg_query, fss_query: −1 for a null sketch or key") {
    val cm = CountMinSketch.deserialize(blob("cm"))
    pin(cm_query(col("cm"), col("key")), twins("cm_query"), "cm, key")(
      cm.query("k1"), LongType, false)
    pin(cm_query(col("nb"), col("key")), twins("cm_query"), "nb, key")(-1L, LongType, false)
    pin(cm_query(col("cm"), col("nk")), twins("cm_query"), "cm, nk")(-1L, LongType, false)
    pin(cm_total(col("cm")), twins("cm_total"), "cm")(cm.totalWeight, LongType, false)
    pin(cm_total(col("nb")), twins("cm_total"), "nb")(-1L, LongType, false)
    val point: Seq[(String, (Column, Column) => Column, Long)] = Seq(
      ("cs_query", cs_query, CountSketch.deserialize(blob("cs")).query("k1")),
      ("mg_query", mg_query, MisraGries.deserialize(blob("mg")).query("k1")),
      ("fss_query", fss_query, FilteredSpaceSaving.deserialize(blob("fss")).query("k1")))
    point.foreach { case (fn, f, want) =>
      val sk = fn.take(fn.indexOf('_'))
      pin(f(col(sk), col("key")), Seq(fn), s"$sk, key")(want, LongType, false)
      pin(f(col("nb"), col("key")), Seq(fn), "nb, key")(-1L, LongType, false)
      pin(f(col(sk), col("nk")), Seq(fn), s"$sk, nk")(-1L, LongType, false)
    }
    assert(point.forall(_._3 > 0L))
  }

  test("bloom_contains: false for a null sketch or key") {
    pin(bloom_contains(col("bloom"), col("key")), Seq("bloom_contains"), "bloom, key")(
      true, BooleanType, false)
    pin(bloom_contains(col("bloom"), lit("absent-key")), Seq("bloom_contains"),
      "bloom, 'absent-key'")(
      BloomFilter.deserialize(blob("bloom")).mightContain("absent-key"), BooleanType, false)
    pin(bloom_contains(col("nb"), col("key")), Seq("bloom_contains"), "nb, key")(
      false, BooleanType, false)
    pin(bloom_contains(col("bloom"), col("nk")), Seq("bloom_contains"), "bloom, nk")(
      false, BooleanType, false)
  }

  test("hll_count, hll_stderr, kll_n: −1 or NaN for a null sketch") {
    val hll = HyperLogLog.deserialize(blob("hll"))
    pin(hll_count(col("hll")), twins("hll_count"), "hll")(hll.estimateLong(), LongType, false)
    pin(hll_count(col("nb")), twins("hll_count"), "nb")(-1L, LongType, false)
    pin(hll_stderr(col("hll")), Nil, "")(hll.standardError, DoubleType, false)
    pin(hll_stderr(col("nb")), Nil, "")(Double.NaN, DoubleType, false)
    pin(kll_n(col("kll")), Nil, "")(600L, LongType, false)
    pin(kll_n(col("nb")), Nil, "")(-1L, LongType, false)
  }

  test("kll_quantile, tdigest_quantile, tdigest_rank: NaN for a null sketch, null for a null q or x") {
    val kll = KllSketch.deserialize(blob("kll"))
    val td = TDigest.deserialize(blob("td"))
    val probes: Seq[(String, String, (Column, Column) => Column, Seq[String], Double)] = Seq(
      ("kll", "0.5", kll_quantile, twins("kll_quantile"), kll.quantile(0.5)),
      ("td", "0.5", tdigest_quantile, Seq("tdigest_quantile"), td.quantile(0.5)),
      ("td", "40.0", tdigest_rank, Nil, td.rank(40.0)))
    probes.foreach { case (sk, arg, f, names, want) =>
      val a = lit(arg.toDouble)
      pin(f(col(sk), a), names, s"$sk, ${arg}D")(want, DoubleType, false)
      pin(f(col("nb"), a), names, s"nb, ${arg}D")(Double.NaN, DoubleType, false)
      pin(f(col(sk), col("nd")), names, s"$sk, nd")(null, DoubleType, true)
      pin(f(col("nb"), col("nd")), names, "nb, nd")(null, DoubleType, true)
    }
    // the natural SQL literal 0.5 is a DECIMAL(1,1)
    pin(kll_quantile(col("kll"), lit(0.5)), twins("kll_quantile"), "kll, 0.5")(
      kll.quantile(0.5), DoubleType, false)
    pin(tdigest_quantile(col("td"), lit(0.5)), Seq("tdigest_quantile"), "td, 0.5")(
      td.quantile(0.5), DoubleType, false)
  }

  test("topk_entries, mg_entries, fss_entries: [] for a null sketch, null for a null k") {
    val topk = TopKSketch.deserialize(blob("topk")).topK(3).map { case (k, e) => Row(k, e) }
    pin(topk_entries(col("topk"), 3), twins("topk_entries"), "topk, 3")(
      topk.toSeq, ArrayType(entry), false)
    pin(topk_entries(col("nb"), 3), twins("topk_entries"), "nb, 3")(Nil, ArrayType(entry), false)
    pin(topk_entries(col("topk"), 3), twins("topk_entries"), "topk, 3L")(
      topk.toSeq, ArrayType(entry), false)
    // a null k reaches a probe only through SQL
    answers(sql(twins("topk_entries"), "topk, ni"), null, ArrayType(entry), true)
    val mg = MisraGries.deserialize(blob("mg")).entries.toSeq
      .sortBy { case (k, v) => (-v, k) }.map { case (k, v) => Row(k, v) }
    assert(mg.nonEmpty)
    pin(mg_entries(col("mg")), Nil, "")(mg, ArrayType(entry), true)
    pin(mg_entries(col("nb")), Nil, "")(Nil, ArrayType(entry), true)
    val fss = FilteredSpaceSaving.deserialize(blob("fss")).entries
      .sortBy { case (k, f, _) => (-f, k) }.map { case (k, f, e) => Row(k, f, e) }
    assert(fss.nonEmpty)
    pin(fss_entries(col("fss")), Nil, "")(fss, ArrayType(fssEntry), true)
    pin(fss_entries(col("nb")), Nil, "")(Nil, ArrayType(fssEntry), true)
  }

  test("hll_set_union: null if either side is null") {
    val a = HyperLogLog.deserialize(blob("hll"))
    val union = a.copySketch().merge(HyperLogLog.deserialize(blob("hll_b"))).serialize()
    val got = sks.select(hll_set_union(col("hll"), col("hll_b"))).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(got, union))
    assert(a.estimateLong() < HyperLogLog.deserialize(got).estimateLong())
    pin(hll_set_union(col("nb"), col("hll")), Nil, "")(null, BinaryType, true)
    pin(hll_set_union(col("hll"), col("nb")), Nil, "")(null, BinaryType, true)
  }

  test("hll_set_union never merges into a cached decode, in either order on one thread") {
    // the expressions are evaluated here, on this thread, so every probe
    // below reads the same thread-local decode memo
    def eval(c: Column): Long = spark.range(1).select(c).queryExecution.analyzed
      .expressions.head.eval().asInstanceOf[Long]
    def sketch(keys: Range): Array[Byte] = {
      val h = HyperLogLog(14); keys.foreach(i => h.add(s"u$i")); h.serialize()
    }
    val (a, b, c, d) = (sketch(0 until 500), sketch(300 until 2000),
      sketch(5000 until 5400), sketch(5200 until 7000))
    def standalone(x: Array[Byte]) = HyperLogLog.deserialize(x).estimateLong()
    def union(x: Array[Byte], y: Array[Byte]) = hll_count(hll_set_union(lit(x), lit(y)))
    // a count first, then the union, then the count again
    val estA = eval(hll_count(lit(a)))
    val estAB = eval(union(a, b))
    assert(estA === standalone(a))
    assert(eval(hll_count(lit(a))) === standalone(a))
    assert(estAB === HyperLogLog.deserialize(a).merge(HyperLogLog.deserialize(b)).estimateLong())
    assert(eval(union(a, b)) === estAB)
    // the union first, then the count
    val estCD = eval(union(c, d))
    assert(eval(hll_count(lit(c))) === standalone(c))
    assert(eval(hll_count(lit(d))) === standalone(d))
    assert(eval(union(c, d)) === estCD)
    assert(standalone(a) < estAB && standalone(c) < estCD)
  }

  test("SQL probe names print as called") {
    val calls = Seq("cm_query(cm, key)", "cm_query_sketch(cm, key)", "cm_total(cm)",
      "cm_total_sketch(cm)", "hll_count(hll)", "hll_count_sketch(hll)",
      "kll_quantile(kll, 0.5)", "kll_quantile_sketch(kll, 0.5)", "topk_entries(topk, 3)",
      "topk_entries_sketch(topk, 3)", "cs_query(cs, key)", "mg_query(mg, key)",
      "fss_query(fss, key)", "bloom_contains(bloom, key)", "tdigest_quantile(td, 0.5)")
    calls.foreach { c =>
      assert(spark.sql(s"SELECT $c FROM probe_pin").columns.toSeq === Seq(c))
    }
  }

  // ---- input rules shared with the builds: the analyzer casts each argument

  test("a type error names the probe as called") {
    for (fn <- Seq("cm_query", "cm_query_sketch", "cs_query", "mg_query", "fss_query",
        "bloom_contains", "kll_quantile", "tdigest_quantile", "topk_entries")) {
      val e = intercept[AnalysisException](
        spark.sql(s"SELECT $fn(cm, array(1)) FROM probe_pin").collect())
      assert(e.getMessage.contains(s"$fn(cm, array(1))"), e.getMessage)
    }
  }

  test("every probe casts a castable argument, as the builds do") {
    val cm = CountMinSketch.deserialize(blob("cm"))
    val want = Row(cm.query("7"), cm.query("7"), cm.totalWeight,
      HyperLogLog.deserialize(blob("hll")).estimateLong(),
      KllSketch.deserialize(blob("kll")).quantile(0.25))
    for (s <- Seq("", "_sketch")) {
      val got = spark.sql(s"""SELECT cm_query$s(cm, 7), cm_query$s(cm, '7'),
        | cm_total$s(CAST(cm AS STRING)), hll_count$s(CAST(hll AS STRING)),
        | kll_quantile$s(kll, '0.25') FROM probe_pin""".stripMargin).head()
      assert(got === want, s"suffix '$s'")
    }
    assert(sks.select(cm_query(col("cm"), lit(7)), cs_query(col("cs"), lit(7)))
      .head() === Row(cm.query("7"), CountSketch.deserialize(blob("cs")).query("7")))
    // a binary sketch accepts no int
    val e = intercept[AnalysisException](spark.sql("SELECT cm_query_sketch(1, 'a')").collect())
    assert(e.getMessage.contains("cm_query_sketch"), e.getMessage)
  }

  test("a q or x that is not a number fails at run time, as the builds do") {
    for (q <- Seq("kll_quantile(kll, 'x')", "kll_quantile_sketch(kll, 'x')",
        "tdigest_quantile(td, 'x')")) {
      val e = intercept[Exception](spark.sql(s"SELECT $q FROM probe_pin").collect())
      assert(!e.isInstanceOf[AnalysisException], q)
      assert(e.getMessage.contains("CAST_INVALID_INPUT"), s"$q: ${e.getMessage}")
    }
  }

  test("Column-API probes are named by their function") {
    val named = sks.select(cs_query(col("cs"), col("key")), mg_query(col("mg"), col("key")),
      fss_query(col("fss"), col("key")), bloom_contains(col("bloom"), col("key")),
      tdigest_quantile(col("td"), lit(0.5)), tdigest_rank(col("td"), lit(1.0)),
      mg_entries(col("mg")), fss_entries(col("fss")), hll_stderr(col("hll")),
      hll_set_union(col("hll"), col("hll_b")), kll_n(col("kll")),
      cm_query(col("cm"), col("key")), cm_total(col("cm")), hll_count(col("hll")),
      kll_quantile(col("kll"), lit(0.5)), topk_entries(col("topk"), 3))
    assert(named.columns.toSeq === Seq("cs_query(cs, key)", "mg_query(mg, key)",
      "fss_query(fss, key)", "bloom_contains(bloom, key)", "tdigest_quantile(td, 0.5)",
      "tdigest_rank(td, 1.0)", "mg_entries(mg)", "fss_entries(fss)", "hll_stderr(hll)",
      "hll_set_union(hll, hll_b)", "kll_n(kll)", "cm_query(cm, key)", "cm_total(cm)",
      "hll_count(hll)", "kll_quantile(kll, 0.5)", "topk_entries(topk, 3)"))
  }
}
