package graft.agg

import graft.SparkTestBase
import graft.queries.{Tables, TextQueries}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

/** `cdc_cuts` (the native rolling CDC boundary scan): bit-parity with the
  * HOF twin on ASCII text (the corpus contract), codepoint handling of
  * supplementary characters against a JVM reference, the interpreted-eval
  * path, and the null/empty edges. */
class StringExprSpec extends SparkTestBase {

  import spark.implicits._

  private val W = TextQueries.CdcWindow
  private val D = TextQueries.CdcDiv

  /** JVM reference: recomputed (non-rolling) codepoint fold per window. */
  private def refCuts(s: String, w: Int = W, d: Int = D): Seq[Int] = {
    val cps = s.codePoints.toArray
    val n = cps.length
    if (n < w) Seq.empty
    else (w to n).filter { i =>
      var h = 0L
      var j = i - w
      while (j < i) { h = (h * 131 + cps(j)) % 4093; j += 1 }
      h % d == 0
    }
  }

  private def bothPaths(texts: Seq[String]) = {
    graft.GraftExtensions.install(spark)
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text").as("s"), length(col("text")).as("n"))
      .select(col("doc_id"),
        call_function("cdc_cuts", col("s"), lit(W), lit(D)).as("native"),
        TextQueries.cdcCutsHof.as("hof"))
      .as[(Long, Seq[Int], Seq[Long])].collect().toSeq.sortBy(_._1)
  }

  test("cdc_cuts: bit-parity with the HOF twin on the gate corpus") {
    graft.GraftExtensions.install(spark)
    val rows = Tables.documents(spark, sf("sf0.001"))
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text").as("s"), length(col("text")).as("n"))
      .select(col("doc_id"),
        call_function("cdc_cuts", col("s"), lit(W), lit(D)).as("native"),
        TextQueries.cdcCutsHof.as("hof"))
      .as[(Long, Seq[Int], Seq[Long])].collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_._2.nonEmpty), "corpus produced no cuts at all")
    for ((id, nat, hof) <- rows)
      assert(nat.map(_.toLong) === hof, s"doc $id")
    spark.catalog.clearCache()
  }

  test("cdc_cuts: ASCII edge fixtures match the HOF twin and the JVM reference") {
    val texts = Seq(
      "", "a", "abcdefg", // below the window
      "abcdefgh", // exactly one window
      "aaaaaaaaaaaaaaaaaaaaaaaa", // uniform text
      "the quick brown fox jumps over the lazy dog 0123456789" * 3,
      ("x" * 7) + "y" + ("z" * 40))
    for ((i, nat, hof) <- bothPaths(texts)) {
      val t = texts(i.toInt)
      assert(nat.map(_.toLong) === hof, s"native vs hof on '$t'")
      assert(nat === refCuts(t), s"native vs jvm ref on '$t'")
    }
  }

  test("cdc_cuts: supplementary characters count as ONE codepoint (DuckDB unicode() semantics)") {
    // 😀 = U+1F600 (two UTF-16 code units) — the native scan and the JVM
    // codepoint reference must agree; position indices are codepoint-based
    val t = "😀😀abcdef😀gh" * 4
    graft.GraftExtensions.install(spark)
    val got = Seq(t).toDF("s")
      .select(call_function("cdc_cuts", col("s"), lit(W), lit(D)).as("native"))
      .as[Seq[Int]].collect()(0)
    assert(got === refCuts(t))
  }

  test("cdc_cuts: interpreted eval matches codegen and the reference") {
    for (t <- Seq("", "abcdefgh", "the quick brown fox jumps over the lazy dog" * 2)) {
      val e = CdcCuts(Literal(t), W, D)
      val got = e.eval(null).asInstanceOf[ArrayData].toIntArray.toSeq
      assert(got === refCuts(t), s"eval on '$t'")
    }
    assert(CdcCuts(Literal.create(null, org.apache.spark.sql.types.StringType), W, D)
      .eval(null) === null)
  }

  test("cdc_cuts: null text row yields null, not a crash") {
    graft.GraftExtensions.install(spark)
    val got = Seq(Some("abcdefghij"), None).toDF("s")
      .select(call_function("cdc_cuts", col("s"), lit(W), lit(D)).as("c"))
      .collect()
    assert(got(0).getSeq[Int](0) === refCuts("abcdefghij"))
    assert(got(1).isNullAt(0))
  }
}
