package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/**
 * SketchSelect.topK must select EXACTLY the rows of
 * `orderBy(measure desc, key asc).limit(k)` — same set, every k, including
 * heavy tie plateaus (the boundary value usually sits on one).
 */
class SketchSelectSpec extends SparkTestBase {
  import spark.implicits._

  test("matches naive sort-limit on a tie-heavy zipf fixture") {
    // counts plateau hard at small values — the k-th value is nearly always
    // inside a tie run, exercising the tie-take path
    val perKey = (1 to 5000)
      .map(i => (s"key$i", math.max(1L, (5000.0 / i).toLong)))
      .toDF("k", "true_count").repartition(8).cache()
    for (k <- Seq(1L, 7L, 50L, 499L, 2500L, 4999L, 5000L, 6000L)) {
      val got = SketchSelect.sketchTopK(perKey, "true_count", "k", k)
        .select("k").as[String].collect().sorted
      val want = perKey.orderBy(desc("true_count"), asc("k")).limit(math.min(k, 5000L).toInt)
        .select("k").as[String].collect().sorted
      assert(got.length === want.length, s"k=$k size")
      assert(got.toSeq === want.toSeq, s"k=$k set")
    }
    perKey.unpersist()
  }

  test("matches naive sort-limit on continuous double measures") {
    val perKey = (1 to 3000)
      .map(i => (s"o$i", math.sin(i.toDouble) * 1000.0 + i * 0.001))
      .toDF("k", "m").repartition(8).cache()
    for (k <- Seq(1L, 30L, 1500L, 2999L)) {
      val got = SketchSelect.sketchTopK(perKey, "m", "k", k)
        .select("k").as[String].collect().sorted
      val want = perKey.orderBy(desc("m"), asc("k")).limit(k.toInt)
        .select("k").as[String].collect().sorted
      assert(got.toSeq === want.toSeq, s"k=$k")
    }
    perKey.unpersist()
  }

  test("topK dispatch: exact-limit plan below the cutover, sketch path above") {
    val perKey = (1 to 9000).map(i => (s"key$i", (9000 - i).toLong))
      .toDF("k", "true_count").repartition(8).cache()
    val small = SketchSelect.topK(perKey, "true_count", "k", 10L)
      .select("k").as[String].collect().sorted
    assert(small.toSeq === (1 to 10).map(i => s"key$i").sorted.toSeq)
    assert(5000L > SketchSelect.exactLimitMaxK(9000L)) // stays on the sketch path
    val big = SketchSelect.topK(perKey, "true_count", "k", 5000L)
      .select("k").as[String].collect().sorted
    val want = perKey.orderBy(desc("true_count"), asc("k")).limit(5000)
      .select("k").as[String].collect().sorted
    assert(big.toSeq === want.toSeq)
    perKey.unpersist()
  }

  test("scale-aware cutover: cap grows with n, floor holds below it") {
    // small data: floor — any k below 4096 is a TakeOrdered at any scale
    assert(SketchSelect.exactLimitMaxK(1000L) === SketchSelect.ExactLimitMinFloor)
    // big data: k = θ·n keeps the P·k funnel ~0.1% of the scan until
    // n/1000, so a gate-scale k≈5000 of n≈5M rows takes the exact plan...
    assert(SketchSelect.exactLimitMaxK(5000000L) === 5000L)
    // ...while θ·10⁹ keys still route to the sketch path
    assert(SketchSelect.exactLimitMaxK(1000000000L) === 1000000L)
    assert(5000000L > SketchSelect.exactLimitMaxK(1000000000L))
    // and the exact plan at k just above the old constant matches the naive
    val perKey = (1 to 9000).map(i => (s"key$i", (9000 - i).toLong))
      .toDF("k", "true_count").repartition(8).cache()
    val got = SketchSelect.topK(perKey, "true_count", "k", 5000L, knownN = 9000000L)
      .select("k").as[String].collect().sorted
    val want = perKey.orderBy(desc("true_count"), asc("k")).limit(5000)
      .select("k").as[String].collect().sorted
    assert(got.toSeq === want.toSeq)
    perKey.unpersist()
  }

  test("exact funnel sizes from the frame's task count, not the core count") {
    // 400 tasks, well past defaultParallelism and the shuffle width: k rows
    // from each of them would reach the one TakeOrdered merge
    val wide = 400
    val df = spark.range(0, 30000, 1, wide)
      .select(concat(lit("key"), col("id")).as("k"), (col("id") % 977).as("c"))
    assert(wide > spark.sparkContext.defaultParallelism)
    assert(SketchSelect.upstreamTasks(df) >= wide)
    // k is above the n/1000 cap; a core-count funnel would admit it to the
    // exact plan, but 400 tasks × k rows passes the merge budget
    val k = 25000L
    assert(k > SketchSelect.exactLimitMaxK(30000L))
    assert(k <= SketchSelect.exactFunnelMaxK(spark.sparkContext.defaultParallelism))
    assert(k > SketchSelect.exactFunnelMaxK(wide))
    val got = SketchSelect.topK(df, "c", "k", k)
    assert(got.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.nonEmpty, "expected the sketch path (strict ∪ ties)")
    val want = df.orderBy(desc("c"), asc("k")).limit(k.toInt)
      .select("k").as[String].collect().sorted
    assert(got.select("k").as[String].collect().sorted.toSeq === want.toSeq)
  }

  test("selected plan has no full-width global sort of the input") {
    val perKey = (1 to 2000).map(i => (s"key$i", (i % 37).toLong))
      .toDF("k", "true_count").cache()
    val plan = SketchSelect.sketchTopK(perKey, "true_count", "k", 200L)
      .queryExecution.executedPlan.toString
    // the only TakeOrdered allowed is over the tie plateau, never a global
    // Sort + Limit of the full input
    assert(!plan.contains("GlobalLimit"), s"global limit in:\n$plan")
    perKey.unpersist()
  }
}
