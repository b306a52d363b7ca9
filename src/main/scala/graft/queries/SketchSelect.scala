package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import graft.agg.SketchFunctions._
import graft.sketch.KllSketch

/**
 * Sketch-guided EXACT top-k selection — the scale-safe replacement for
 * `orderBy(desc(measure)).limit(k)` when k is a fraction of the keyspace
 * (θ·N keys: ~10⁷ rows at 10⁹ keys, which a TakeOrdered funnels through one
 * final heap).
 *
 * The selected set is exactly the rows the reference's metric family sorts
 * out (`RelativeErrorOfTop` etc., /root/reference/Simulator/Program.cs:715-740):
 * top-k by (measure desc, key asc). Algorithm — the library dogfooding its
 * own quantile sketch as a planner:
 *
 * 1. one KLL pass over the measure brackets the k-th value m* between two
 *    quantile estimates (t_lo, t_hi) with ±slack ranks of headroom;
 * 2. one exact counting pass validates the bracket (count > t_hi must be
 *    < k ≤ count ≥ t_lo); if the sketch lied, slack ×4 and retry — the
 *    bracket [min, max] always terminates the loop;
 * 3. the rows inside the bracket — O(slack + sketch error), NOT O(k) — are
 *    histogrammed by exact value and the k-th value m* plus the number of
 *    ties to take is resolved on the driver;
 * 4. result = rows(measure > m*) ∪ first (k − |above|) ties at m* by key
 *    asc (a TakeOrdered over the ties only).
 *
 * No global sort anywhere; nothing O(k) ever converges on one task. Exact
 * for any measure values whose doubles are distinct per value (longs up to
 * 2⁵³ — vs the round-1 `k.toInt` which silently overflowed past 2³¹).
 */
object SketchSelect {

  /** Floor of the exact-limit cutover: below this k TakeOrdered is the
    * right plan at ANY data scale (LocalLimit keeps ≤ k rows per partition,
    * so the single merge task sees ≤ P·k narrow rows — P=2000, k=4096 → 8M
    * rows ≈ tens of MB), and no row count is needed to decide. */
  val ExactLimitMinFloor = 4096L

  /** Scale-aware cutover: the sketch path costs ~4 driver actions (KLL
    * build, bracket validate, histogram, final) — pure overhead unless the
    * TakeOrdered funnel is genuinely large RELATIVE to the data. k = θ·n
    * keeps the funnel at P·θ·n rows ≈ 0.1% of a full scan's rows at
    * n/1000 — cheaper than 4 extra passes — so the cap grows with n: the
    * gate-scale k (just above a constant floor) takes the exact plan, while
    * the θ·10⁹-key regime the sketch path exists for still routes to it.
    * Round 2 used a constant 4096 and q11 paid 4.3 s of sketch overhead to
    * select k≈5000 of n≈5M rows. */
  def exactLimitMaxK(n: Long): Long = math.max(ExactLimitMinFloor, n / 1000L)

  /** Absolute-funnel arm of the cutover (round 7): what actually bounds the
    * exact plan is the MERGE-TASK load — LocalLimit keeps ≤ k rows per
    * upstream task, so the single TakeOrdered merge sees ≤ P·k narrow rows.
    * The constant floor hard-codes the documented worst case (P = 2000,
    * k = 4096 → 8M rows); on a narrower execution (P = 32 tasks: P·k at
    * k = 5620 is 180K rows, trivia) the same 8M-row budget admits a
    * proportionally larger k, while at P = 2000 this arm reduces exactly to
    * the old floor. P is the frame's own task count, [[upstreamTasks]], not
    * the core count: a scan of thousands of splits feeds the merge
    * thousands of k-row heaps on any number of cores (measured: q63's
    * top-θ at sf0.1, k = 5620 of n = 562K, paid ~1.5 s of sketch actions
    * the exact funnel does not). */
  private val FunnelMaxRows = ExactLimitMinFloor * 2000L

  def exactFunnelMaxK(parallelism: Int): Long =
    FunnelMaxRows / math.max(1L, parallelism.toLong)

  /** How many tasks feed the exact plan's LocalLimit, read off `df`'s
    * physical plan without running it: the partition count the plan
    * declares (a range, a repartition, a shuffle) and, for file scans,
    * which declare none, their split estimate (bytes over
    * `spark.sql.files.maxPartitionBytes`); never below the session's
    * default parallelism or shuffle width. An upper bound once AQE
    * coalesces, which only routes a borderline k to the sketch path. */
  private[queries] def upstreamTasks(df: DataFrame): Int = {
    val qe = df.queryExecution
    val conf = qe.sparkSession.sessionState.conf
    val plan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val scanSplits = plan.collectLeaves().collect {
      case s: FileSourceScanExec =>
        s.relation.sizeInBytes / math.max(1L, conf.filesMaxPartitionBytes) + 1
    }.sum
    Seq(qe.sparkSession.sparkContext.defaultParallelism.toLong,
      conf.numShufflePartitions.toLong,
      plan.outputPartitioning.numPartitions.toLong, scanSplits)
      .max.min(Int.MaxValue.toLong).toInt
  }

  /** Exact top-k rows of `df` by (`measureCol` desc, `keyCol` asc).
    * `knownN` skips the row count when the caller already has it. */
  def topK(dfIn: DataFrame, measureCol: String, keyCol: String, k: Long,
      knownN: Long = -1L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val m = col(measureCol).cast("double")
    // null/NaN measures are dropped on BOTH paths — so the operator's
    // semantics ("top-k among well-defined measures") don't flip with k.
    // On the exact path Spark would otherwise sort NaN above every double;
    // on the sketch path null/NaN count toward n but can never satisfy
    // `m >= tLo`, making the bracket validation unreachable (infinite loop).
    val df = dfIn.filter(m.isNotNull && !isnan(m))
    def exact = df.orderBy(m.desc, col(keyCol).asc).limit(k.toInt)
    if (k <= ExactLimitMinFloor) exact
    else {
      val n = if (knownN >= 0) knownN else df.count()
      // the exact path must also clear limit()'s Int argument: at n beyond
      // ~4.4e12, n/1000 passes 2^31 and k.toInt would flip negative — route
      // those k to the sketch path, whose arithmetic is Long throughout
      if (k <= Int.MaxValue.toLong &&
          (k <= exactLimitMaxK(n) || k <= exactFunnelMaxK(upstreamTasks(df))))
        exact
      else sketchTopK(df, measureCol, keyCol, k, knownN = n)
    }
  }

  /** The sketch-guided path, selectable directly for tests; callers use
    * [[topK]], which dispatches on k and pre-drops null/NaN measures. */
  private[queries] def sketchTopK(dfIn: DataFrame, measureCol: String,
      keyCol: String, k: Long, knownN: Long = -1L): DataFrame = {
    val m = col(measureCol).cast("double")
    val df = dfIn.filter(m.isNotNull && !isnan(m))
    val n = if (knownN >= 0) knownN else df.count()
    // k >= n selects everything; sorted so the "top-k rows" contract keeps
    // a stable row order on every path (ADVICE round 2)
    if (k >= n) return df.orderBy(m.desc, col(keyCol).asc)

    // k=8192 keeps the per-partition partial buffer small (the sketch only
    // BRACKETS m*; the validate loop absorbs any rank error, so precision
    // buys nothing past the slack width)
    val skBytes = df.agg(kll_sketch(m, k = 8192).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val kll = KllSketch.deserialize(skBytes)

    // bracket m*: rank-from-bottom of the k-th largest is n-k+1
    var slack = math.max(1024L, n / 2000L)
    var tLo = 0.0
    var tHi = 0.0
    var cAboveHi = 0L
    var valid = false
    while (!valid) {
      tHi = kll.quantile(math.min(1.0, (n - k + slack).toDouble / n))
      tLo = kll.quantile(math.max(0.0, (n - k - slack).toDouble / n))
      val counts = df.agg(
        sum(when(m > tHi, 1L).otherwise(0L)).as("cHi"),
        sum(when(m >= tLo, 1L).otherwise(0L)).as("cLoInc")).head()
      cAboveHi = counts.getAs[Long]("cHi")
      val cLoInc = counts.getAs[Long]("cLoInc")
      valid = cAboveHi < k && cLoInc >= k
      if (!valid) {
        // slack = n brackets [min, max], which validates for any k ≤
        // (non-null rows); if even that fails the caller's knownN counted
        // rows this frame doesn't have — fail loudly, never spin
        if (slack >= n) throw new IllegalStateException(
          s"sketchTopK cannot validate at full slack: k=$k exceeds the " +
            s"frame's ${cLoInc} non-null measures (knownN=$n overcounts?)")
        slack = math.min(n, slack * 4)
      }
    }

    // exact value histogram of the narrow band (size ~2·slack, not k)
    val hist = df.filter(m >= tLo && m <= tHi)
      .groupBy(m.as("v")).agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getAs[Double]("v"), r.getAs[Long]("c")))
      .sortBy(-_._1)
    var above = cAboveHi
    var mStar = Double.NegativeInfinity
    var tieTake = 0L
    var i = 0
    while (i < hist.length && mStar.isNegInfinity) {
      val (v, c) = hist(i)
      if (above + c >= k) { mStar = v; tieTake = k - above }
      else above += c
      i += 1
    }

    val strict = df.filter(m > mStar)
    // ties funnel through a TakeOrdered sized by the PLATEAU at m*, not by k
    require(tieTake <= Int.MaxValue,
      s"$tieTake ties at the k-th value $mStar — plateau exceeds 2^31; " +
        "select within the tie plateau by key range instead")
    val ties = df.filter(m === mStar)
      .orderBy(col(keyCol).asc).limit(tieTake.toInt)
    strict.unionAll(ties)
  }
}
