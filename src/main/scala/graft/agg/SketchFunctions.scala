package graft.agg

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.functions.lit
import graft.sketch._
import ProbeKernel._

/**
 * User-facing surface of the sketch library: `Column`-returning builders,
 * usable directly in `df.agg(...)`. Their SQL names are registered by
 * `graft.GraftExtensions`. Every build or merge is one [[NativeSketchAgg]]
 * call, and every query of a finished sketch one [[SketchProbe]] call,
 * mirroring the reference's split between sketch build (update loop) and
 * the point-query service that answers key batches against finished sketch
 * state (the reference's KernelQueue/main.c:63-144).
 */
object SketchFunctions {

  import SketchAggregators._

  // ---- aggregate builders (Column API), each one NativeSketchAgg call

  /** Count-Min build: `cm_sketch(key, weight)` → binary sketch. */
  def cm_sketch(key: Column, weight: Column, eps: Double = 1e-4,
      delta: Double = 0.01, seed: Long = CountMinSketch.DefaultSeed): Column =
    NativeSketchAgg.column(CmAggregator(eps, delta, seed), key, weight)

  /** Merge pre-built CM sketches (shards → one). */
  def cm_merge(sketch: Column): Column = NativeSketchAgg.column(CmMergeAggregator(), sketch)

  /** Heavy-hitter build: CM + candidate heap of `capacity` keys. */
  def cm_topk(key: Column, weight: Column, capacity: Int, eps: Double = 1e-4,
      delta: Double = 0.01, seed: Long = CountMinSketch.DefaultSeed): Column =
    NativeSketchAgg.column(TopKAggregator(capacity, eps, delta, seed), key, weight)

  /** Count-Sketch build (signed rows, unbiased median query). */
  def cs_sketch(key: Column, weight: Column, depth: Int = 5, width: Int = 4096,
      seed: Long = CountSketch.DefaultSeed): Column =
    NativeSketchAgg.column(CsAggregator(depth, width, seed), key, weight)

  /** Misra-Gries frequent-items summary (SketchVisor's role, provable). */
  def mg_sketch(key: Column, weight: Column, capacity: Int): Column =
    NativeSketchAgg.column(MgAggregator(capacity), key, weight)

  /** Filtered Space-Saving summary. */
  def fss_sketch(key: Column, weight: Column, numEntries: Int,
      numBuckets: Int = 4096, seed: Long = FilteredSpaceSaving.DefaultSeed): Column =
    NativeSketchAgg.column(FssAggregator(numEntries, numBuckets, seed), key, weight)

  def hll_sketch(key: Column, p: Int = 14,
      seed: Long = HyperLogLog.DefaultSeed): Column =
    NativeSketchAgg.column(HllAggregator(p, seed), key)

  def bloom_sketch(key: Column, expectedItems: Long, fpp: Double = 0.01,
      seed: Long = BloomFilter.DefaultSeed): Column =
    NativeSketchAgg.column(BloomAggregator(expectedItems, fpp, seed), key)

  def kll_sketch(x: Column, k: Int = 200,
      seed: Long = KllSketch.DefaultSeed): Column =
    NativeSketchAgg.column(KllAggregator(k, seed), x)

  /** Merge pre-built KLL shards (shards → one), the quantile tier's
    * re-aggregation surface next to [[cm_merge]]. */
  def kll_merge(sketch: Column): Column = NativeSketchAgg.column(KllMergeAggregator(), sketch)

  /** Merge pre-built HLL shards (shards → one) — idempotent register max,
    * so overlapping shard sets never double-count. */
  def hll_merge(sketch: Column): Column = NativeSketchAgg.column(HllMergeAggregator(), sketch)

  def tdigest_sketch(x: Column, compression: Double = 100.0): Column =
    NativeSketchAgg.column(TDigestAggregator(compression), x)

  // ---- scalar query functions over serialized sketches

  private def probe(kernel: ProbeKernel, args: Column*): Column =
    column(SketchProbe(kernel, args.map(expression)))

  /** Point-frequency estimate of `key` from a serialized CM sketch; −1 for
    * a null sketch or key. Probe a one-row sketch frame `sk` as
    * `cm_query(sk.scalar(), key)`: every row of a task then sees the same
    * array and the memo decodes once. */
  def cm_query(sketch: Column, key: Column): Column = probe(CmQuery, sketch, key)

  /** Total stream weight N recorded in a CM sketch (for ε·N bounds); −1
    * for a null sketch. */
  def cm_total(sketch: Column): Column = probe(CmTotal, sketch)

  /** Top-k entries of a serialized TopK sketch → array<struct<key,est>>;
    * empty for a null sketch. */
  def topk_entries(sketch: Column, k: Int): Column = probe(TopKEntries, sketch, lit(k))

  def cs_query(sketch: Column, key: Column): Column = probe(CsQuery, sketch, key)

  def mg_query(sketch: Column, key: Column): Column = probe(MgQuery, sketch, key)

  /** All (key, est) entries of a Misra-Gries summary, est desc. */
  def mg_entries(sketch: Column): Column = probe(MgEntries, sketch)

  def fss_query(sketch: Column, key: Column): Column = probe(FssQuery, sketch, key)

  /** All (key, f, e) entries of an FSS summary, f desc. */
  def fss_entries(sketch: Column): Column = probe(FssEntries, sketch)

  /** HLL cardinality estimate; −1 for a null sketch. */
  def hll_count(sketch: Column): Column = probe(HllCount, sketch)

  def hll_stderr(sketch: Column): Column = probe(HllStderr, sketch)

  /** Register-wise max of two HLL sketches — the |A ∪ B| estimator and the
    * root of the sketch set-algebra surface (intersection and difference
    * fall out by inclusion–exclusion on the three estimates). Merge is
    * associative, commutative and IDEMPOTENT, so unions of overlapping
    * shards never double-count — the property exact distinct aggregation
    * loses the moment the sets live on different machines. */
  def hll_set_union(a: Column, b: Column): Column = probe(HllSetUnion, a, b)

  /** Bloom membership of `key`. Probe a one-row sketch frame `sk` as a
    * scalar subquery, `bloom_contains(sk.scalar(), key)`: every row of a
    * task then sees the same array and the memo answers by identity. A
    * `crossJoin(broadcast(sk))` copies the filter into every row. */
  def bloom_contains(sketch: Column, key: Column): Column = probe(BloomContains, sketch, key)

  /** KLL quantile `q`; NaN for a null sketch, null for a null `q`. */
  def kll_quantile(sketch: Column, q: Column): Column = probe(KllQuantile, sketch, q)

  def kll_n(sketch: Column): Column = probe(KllN, sketch)

  def tdigest_quantile(sketch: Column, q: Column): Column = probe(TDigestQuantile, sketch, q)

  def tdigest_rank(sketch: Column, x: Column): Column = probe(TDigestRank, sketch, x)
}
