package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.agg.SketchFunctions._

/**
 * The north star's acceptance check as a reusable operator: CM estimates
 * versus exact `groupBy().count()` on a *sampled key slice* — at corpus
 * scale the exact side is computed only for a deterministic hash-sample of
 * keys (the full exact aggregate is exactly what sketches exist to avoid),
 * while the sketch side is the full-stream build.
 *
 * Returns one row: (n_sampled_keys, under_violations, over_violations,
 * eps_n_bound) — under_violations must be 0 always (CM never
 * underestimates); over_violations/n must stay ≤ δ.
 */
object BoundAudit {

  /** Effective ε of a CM built at nominal `eps` (width rounds up to 2^k). */
  def effectiveEps(eps: Double): Double =
    math.E / graft.sketch.SketchIO.nextPow2(math.ceil(math.E / eps).toInt)

  /** q60: the approximate-regime contract IN THE GATE (VERDICT r3 item 6).
    * Every other oracle query sizes its sketch into the deterministic
    * regime; this one deliberately sizes the CM to COLLIDE (width ≪ key
    * count, so every counter is shared by several keys) and emits the
    * published Cormode–Muthukrishnan contract as data:
    *
    *  - `under_violations` must be 0 — CM never underestimates, a
    *    structural property independent of regime (mirrored as 0);
    *  - `pass_ok` = 1 iff the fraction of audited keys with
    *    est ≤ true + ε_eff·N reaches 1 − δ — the P[err > εN] ≤ δ bound,
    *    evaluated on the same deterministic hash family every run, so the
    *    verdict is reproducible and the oracle mirrors it as 1.
    *
    * The audited keys are q40's sampled slice (`samplePred`, exact counts
    * only for the sampled keys — the full exact aggregate is what sketches
    * exist to avoid), so the plan stays scale-safe: full-stream sketch
    * build + a filtered groupBy + a probe pass. */
  def collidingSliceAudit(df: DataFrame, keyCol: String, weightCol: String,
      samplePred: Column, eps: Double, delta: Double): DataFrame = {
    // persisted: TWO consumers (the full-stream sketch aggregate, read as
    // a scalar subquery, and the exact sampled-slice groupBy);
    // uncached, the events scan ran twice per gate run (ADVICE r4).
    // Released by the gate runners' clearCache contract.
    val keyed = df.select(col(keyCol).cast("string").as("k"),
      col(weightCol).cast("long").as("w"), samplePred.as("sampled"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sk = keyed.agg(cm_sketch(col("k"), col("w"), eps, delta)).scalar()
    val epsEff = effectiveEps(eps)
    keyed.filter(col("sampled"))
      .groupBy(col("k")).agg(sum(col("w")).as("true_w"))
      .select(col("k"), col("true_w"), cm_query(sk, col("k")).as("est"),
        (lit(epsEff) * cm_total(sk).cast("double")).as("eps_n"))
      .agg(
        count(lit(1)).as("n_sampled_keys"),
        // coalesce: sum() over an EMPTY key slice is NULL, which would
        // diverge from the oracle's constant 0/1 (0 violations and a
        // vacuously-true bound are the correct degenerate answers — the
        // q56 sound_ok discipline)
        coalesce(sum(when(col("est") < col("true_w"), 1L).otherwise(0L)),
          lit(0L)).as("under_violations"),
        when(
          coalesce(sum(when(col("est").cast("double") <=
            col("true_w").cast("double") + col("eps_n"), 1L).otherwise(0L)),
            lit(0L))
            .cast("double") >= lit(1.0 - delta) * count(lit(1)).cast("double"),
          1L).otherwise(0L).as("pass_ok"))
  }

  /** `samplePred` picks the audited KEY slice (not rows — a key's count must
    * be exact, so every row of a sampled key is included). It must be
    * deterministic; keep it ANSI-SQL-expressible (e.g. `key % 3 = 0`) and
    * the audit gets a DuckDB oracle twin, since in the collision-free gate
    * regime the violation counts are deterministically zero. */
  def sampledSliceAudit(df: DataFrame, keyCol: String, weightCol: String,
      samplePred: Column, eps: Double, delta: Double): DataFrame = {
    // persisted for the same two-consumer shape as collidingSliceAudit
    val keyed = df.select(col(keyCol).cast("string").as("k"),
      col(weightCol).cast("long").as("w"), samplePred.as("sampled"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sk = keyed.agg(cm_sketch(col("k"), col("w"), eps, delta)).scalar()
    val sampledExact = keyed
      .filter(col("sampled"))
      .groupBy(col("k")).agg(sum(col("w")).as("true_w"))
    val epsN = lit(effectiveEps(eps)) * cm_total(sk).cast("double")
    sampledExact
      .select(col("k"), col("true_w"),
        cm_query(sk, col("k")).as("est"),
        epsN.as("eps_n"))
      .agg(
        count(lit(1)).as("n_sampled_keys"),
        // coalesce on every sum/max: an empty sampled slice must read as
        // 0 violations (and a 0 bound), not NULLs that break the oracle
        coalesce(sum(when(col("est") < col("true_w"), 1L).otherwise(0L)), lit(0L))
          .as("under_violations"),
        coalesce(sum(when(
          col("est").cast("double") > col("true_w").cast("double") + col("eps_n"), 1L)
          .otherwise(0L)), lit(0L)).as("over_violations"),
        // eps_n is row-independent (ε_eff · N), so the bound column reads
        // the sketch, not the rows — identical to the oracle's expression
        // on any slice, including an empty one (max() over empty rows is
        // NULL)
        floor(epsN * lit(1000.0)).as("eps_n_bound_milli"))
  }
}
