package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.agg.SketchFunctions._
import graft.sketch.StreamFixtures

/**
 * Reference-metric reproduction (FIXTURES.md F3): the three evaluation
 * metrics on (a) a hand-checkable golden stream and (b) a narrow CM over a
 * 200k-update zipf stream at the reference's thresholds, asserting the
 * qualitative targets from the committed reference outputs
 * (/root/reference/data/hy_k_hit_200000.txt: CM-variant hit rate ≥0.95;
 * metric defs /root/reference/Simulator/Program.cs:715-740).
 */
class MetricsFixtureSpec extends SparkTestBase {

  import spark.implicits._

  test("golden hand-checked stream: all three metrics") {
    // 10 keys: true = 100..10, est = true except k3 (+50) and k7 (-5 → est can't
    // underestimate in CM, but the metric itself must handle both signs)
    val rows = (1 to 10).map { i =>
      val t = 110L - 10 * i
      val e = if (i == 3) t + 50L else if (i == 7) t - 5L else t
      (s"k$i", t, e)
    }
    val df = rows.toDF("k", "true_count", "est")
    // θ=0.3 → K=3: keys k1,k2,k3; errors 0,0,50/80 → avg = 0.2083333…
    val r1 = MetricQueries.relativeErrorOfTop(df, 0.3).head()
    assert(r1.getAs[Long]("k") === 3L)
    assert(r1.getAs[Long]("avg_rel_err_micro") === 208333L)
    // θ=0.3: top3(true)={k1,k2,k3}; est ranks: k1=100,k2=90,k3=130 → same set → 3/3
    val r2 = MetricQueries.elephantCover(df, 0.3).head()
    assert(r2.getAs[Long]("hits") === 3L)
    assert(r2.getAs[Long]("hit_rate_micro") === 1000000L)
    // φ-inverse=11: total=650 → threshold 59.09; keys with true>59.09: k1..k5
    // errors: 0,0,50/80,0,0 → avg=0.125
    val r3 = MetricQueries.hhFilter(df, 11.0).head()
    assert(r3.getAs[Long]("hh_keys") === 5L)
    assert(r3.getAs[Long]("avg_rel_err_micro") === 125000L)
  }

  test("narrow CM vs exact on 200k zipf updates: reference-threshold metrics") {
    val stream = StreamFixtures.zipfStream(200000, 20000, s = 1.0)
    val df = stream.toDF("k", "w").repartition(16)
    val sk = df.agg(cm_sketch(col("k"), col("w"), eps = 5e-4, delta = 0.01).as("sk"))
    val perKey = df.groupBy(col("k")).agg(count(lit(1)).as("true_count"))
      .crossJoin(broadcast(sk))
      .select(col("k"), col("true_count"),
        cm_query(col("sk"), col("k")).as("est"),
        cm_total(col("sk")).as("n"))
      .cache()
    // ε·N pass rate ≥ 1−δ (the BASELINE.md metric of record)
    val width = graft.sketch.SketchIO.nextPow2(math.ceil(math.E / 5e-4).toInt)
    val epsEff = math.E / width
    val total = perKey.agg(sum(when(
      col("est").cast("double") > col("true_count").cast("double")
        + lit(epsEff) * col("n").cast("double"), 1).otherwise(0)).as("viol"),
      count(lit(1)).as("keys")).head()
    val passRate = 1.0 - total.getAs[Long]("viol").toDouble / total.getAs[Long]("keys")
    assert(passRate >= 0.99, s"eps*N pass rate $passRate")
    // never underestimates
    assert(perKey.filter(col("est") < col("true_count")).count() === 0L)
    // RelativeErrorOfTop at the reference's θ ∈ {0.005, 0.01}: tight for top keys
    for (theta <- Seq(0.005, 0.01)) {
      val err = MetricQueries.relativeErrorOfTop(perKey, theta).head()
        .getAs[Long]("avg_rel_err_micro")
      assert(err <= 20000L, s"theta=$theta avg rel err micro=$err") // ≤2%
    }
    // ElephantCover at θ=0.01 ≥ 0.95 (reference CM-variant band)
    val cover = MetricQueries.elephantCover(perKey, 0.01).head()
    assert(cover.getAs[Long]("hit_rate_micro") >= 950000L,
      s"hit rate ${cover.getAs[Long]("hit_rate_micro")}")
    // HHFilter at the reference's φ ∈ {1/1000, 1/2000, 1/10000}
    for (phiInv <- Seq(1000.0, 2000.0, 10000.0)) {
      val r = MetricQueries.hhFilter(perKey, phiInv).head()
      assert(r.getAs[Long]("hh_keys") > 0L)
      assert(r.getAs[Long]("avg_rel_err_micro") <= 50000L,
        s"phiInv=$phiInv err=${r.getAs[Long]("avg_rel_err_micro")}") // ≤5%
    }
    perKey.unpersist()
  }

  test("trace-shaped stream (spine coflow interpolation): reference-threshold metrics") {
    // VERDICT r2 item 7: accuracy numbers on REAL-trace-shaped tails, not
    // closed-form zipf — per-key totals resample the committed trace's
    // empirical distribution via the reference's own NewGen interpolation
    val traffics = graft.data.ReferenceIO
      .readCoflowJson(spark, graft.data.TraceShapeSpec.SpineCoflow)
      .select(col("traffic")).as[Double].collect()
    assert(traffics.length === 200)
    val totals = graft.data.CorpusGenerator
      .traceShapedTotals(spark, traffics, keys = 20000, partitions = 16).cache()
    // tail-shape sanity: resampling preserves the trace's endpoints and sum scale
    val mx = totals.agg(max(col("total")), sum(col("total"))).head()
    assert(mx.getLong(0) === 42710L) // the trace's heaviest flow survives
    // 100 keys per flow: about 100× the trace mass
    assert(math.abs(mx.getLong(1) / (100 * traffics.sum) - 1.0) < 0.2, s"mass ${mx.getLong(1)}")
    val stream = graft.data.CorpusGenerator.chunkedStream(totals, 500L)
      .repartition(16)
    val sk = stream.agg(cm_sketch(col("key"), col("w"), eps = 1e-4, delta = 0.01).as("sk"))
    val perKey = totals
      .select(col("key").as("k"), col("total").as("true_count"))
      .crossJoin(broadcast(sk))
      .select(col("k"), col("true_count"),
        cm_query(col("sk"), col("k")).as("est"), cm_total(col("sk")).as("n"))
      .cache()
    // chunking preserved mass; CM never underestimates
    assert(perKey.head().getAs[Long]("n") === mx.getLong(1))
    assert(perKey.filter(col("est") < col("true_count")).count() === 0L)
    // q11-shape: RelativeErrorOfTop at the reference's θ ∈ {0.005, 0.01}
    for (theta <- Seq(0.005, 0.01)) {
      val err = MetricQueries.relativeErrorOfTop(perKey, theta).head()
        .getAs[Long]("avg_rel_err_micro")
      assert(err <= 50000L, s"theta=$theta avg rel err micro=$err") // ≤5% on the trace tail
    }
    // q12-shape: ElephantCover ≥ 0.95 at θ=0.01 (reference CM-variant band)
    val cover = MetricQueries.elephantCover(perKey, 0.01).head()
    assert(cover.getAs[Long]("hit_rate_micro") >= 950000L,
      s"hit rate ${cover.getAs[Long]("hit_rate_micro")}")
    // q13-shape: HHFilter at the reference's φ ∈ {1/1000, 1/2000}
    for (phiInv <- Seq(1000.0, 2000.0)) {
      val r = MetricQueries.hhFilter(perKey, phiInv).head()
      assert(r.getAs[Long]("hh_keys") > 0L)
      assert(r.getAs[Long]("avg_rel_err_micro") <= 50000L,
        s"phiInv=$phiInv err=${r.getAs[Long]("avg_rel_err_micro")}")
    }
    perKey.unpersist()
    totals.unpersist()
  }

  test("sampled-slice eps*N audit (north-star acceptance shape)") {
    val stream = StreamFixtures.zipfStream(100000, 10000, s = 1.05)
    val df = stream.toDF("k", "w").repartition(16)
    val audit = BoundAudit.sampledSliceAudit(df, "k", "w",
      samplePred = pmod(xxhash64(col("k"), lit(0x5a11ed)), lit(7)) === 0,
      eps = 1e-3, delta = 0.01).head()
    assert(audit.getAs[Long]("n_sampled_keys") > 500L)
    assert(audit.getAs[Long]("under_violations") === 0L)
    val overRate = audit.getAs[Long]("over_violations").toDouble /
      audit.getAs[Long]("n_sampled_keys")
    assert(overRate <= 0.01, s"over-bound rate $overRate")
  }
}
