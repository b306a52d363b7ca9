package graft.agg

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions
import graft.sketch._

/**
 * User-facing surface of the sketch library: `Column`-returning builders,
 * usable directly in `df.agg(...)`. Their SQL names are registered by
 * `graft.GraftExtensions`. Scalar query functions decode the fixed binary layout
 * ([[graft.sketch.SketchIO]]), mirroring the reference's split between
 * sketch build (update loop) and the point-query service that answers key
 * batches against finished sketch state
 * (/root/reference/KernelQueue/main.c:63-144).
 */
/** Decoded heavy-hitter entry: sketch-estimated count per key. */
final case class TopKEntry(key: String, est: Long)

/** Decoded FSS entry: monitored count f and its error bound e. */
final case class FssEntry(key: String, f: Long, e: Long)

object SketchFunctions {

  import SketchAggregators._

  /**
   * Thread-local memo for deserialized sketches. A probe hands a scalar UDF
   * or native expression the same serialized sketch once per row; a d×w CM
   * is ~1.3MB and q07's Bloom ~540KB, so decoding per row would dominate
   * the probe. Each slot keeps the caller's own array (no clone) beside its
   * decoded value and matches in two exact steps:
   *  - reference identity, O(1): a sketch passed as a scalar subquery
   *    (`bloom_contains(sk.scalar(), key)`) reaches every row of a task as
   *    the same array;
   *  - `java.util.Arrays.equals`: a cross-joined sketch arrives as a fresh
   *    copy per row, and a byte compare costs a fraction of a decode. The
   *    slot then adopts the caller's array, so that caller's later rows
   *    hit by identity.
   * No hash or sample stands in for the bytes, so two same-shape sketches
   * that differ in one late word never share a decode. A kept array must
   * not be mutated afterwards; Spark never mutates a value it hands to an
   * expression.
   */
  private final class SketchMemo[T >: Null <: AnyRef] {
    // 4 slots per thread so queries probing several sketches per row (e.g.
    // q42's 3 replicas combined with `least`) don't thrash the memo back
    // into per-row deserialization; round-robin eviction.
    private final class Slots {
      val keys = new Array[Array[Byte]](4)
      val vs = new Array[AnyRef](4)
      var next = 0
    }
    private val local = new ThreadLocal[Slots] {
      override def initialValue(): Slots = new Slots
    }
    def get(bytes: Array[Byte], parse: Array[Byte] => T): T = {
      val s = local.get()
      var i = 0
      while (i < 4) {
        if (s.keys(i) eq bytes) return s.vs(i).asInstanceOf[T]
        i += 1
      }
      i = 0
      while (i < 4) {
        if (s.keys(i) != null && java.util.Arrays.equals(s.keys(i), bytes)) {
          s.keys(i) = bytes
          return s.vs(i).asInstanceOf[T]
        }
        i += 1
      }
      val v = parse(bytes)
      val slot = s.next
      s.keys(slot) = bytes; s.vs(slot) = v
      s.next = (slot + 1) & 3
      v
    }
  }

  private val cmMemo = new SketchMemo[CountMinSketch]

  /** Memoized decodes for the native scalar expressions
    * ([[CmQuerySketch]] etc.) — same thread-local memos as the UDF probes,
    * so both surfaces share amortization. */
  private[agg] def decodeCmMemoized(bytes: Array[Byte]): CountMinSketch =
    cmMemo.get(bytes, CountMinSketch.deserialize)
  private[agg] def decodeHllMemoized(bytes: Array[Byte]): HyperLogLog =
    hllMemo.get(bytes, HyperLogLog.deserialize)
  private[agg] def decodeKllMemoized(bytes: Array[Byte]): KllSketch =
    kllMemo.get(bytes, KllSketch.deserialize)
  private[agg] def decodeTopKMemoized(bytes: Array[Byte]): TopKSketch =
    topkMemo.get(bytes, TopKSketch.deserialize)
  private val topkMemo = new SketchMemo[TopKSketch]
  private val csMemo = new SketchMemo[CountSketch]
  private val mgMemo = new SketchMemo[MisraGries]
  private val fssMemo = new SketchMemo[FilteredSpaceSaving]
  private val hllMemo = new SketchMemo[HyperLogLog]
  private val bloomMemo = new SketchMemo[BloomFilter]
  private val kllMemo = new SketchMemo[KllSketch]
  private val tdMemo = new SketchMemo[TDigest]

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

  // The UDF probes, each defined once: the Column builders below and their
  // SQL names in `graft.GraftExtensions` apply the same value, so both
  // surfaces decode through the kernel's memo. cm_query, cm_total,
  // hll_count, kll_quantile and topk_entries are native expressions
  // ([[SketchExpressions]]) instead.

  private[graft] val csQuery: UserDefinedFunction =
    functions.udf((bytes: Array[Byte], key: String) =>
      if (bytes == null || key == null) -1L
      else csMemo.get(bytes, CountSketch.deserialize).query(key))
  private[graft] val mgQuery: UserDefinedFunction =
    functions.udf((bytes: Array[Byte], key: String) =>
      if (bytes == null || key == null) -1L
      else mgMemo.get(bytes, MisraGries.deserialize).query(key))
  private[graft] val fssQuery: UserDefinedFunction =
    functions.udf((bytes: Array[Byte], key: String) =>
      if (bytes == null || key == null) -1L
      else fssMemo.get(bytes, FilteredSpaceSaving.deserialize).query(key))
  private[graft] val bloomContains: UserDefinedFunction =
    functions.udf((bytes: Array[Byte], key: String) =>
      bytes != null && key != null &&
        bloomMemo.get(bytes, BloomFilter.deserialize).mightContain(key))
  private[graft] val tdigestQuantile: UserDefinedFunction =
    functions.udf((bytes: Array[Byte], q: Double) =>
      if (bytes == null) Double.NaN
      else tdMemo.get(bytes, TDigest.deserialize).quantile(q))

  /** Point-frequency estimate of `key` from a serialized CM sketch; −1 for
    * a null sketch or key. Probe a one-row sketch frame `sk` as
    * `cm_query(sk.scalar(), key)`: every row of a task then sees the same
    * array and the memo decodes once. */
  def cm_query(sketch: Column, key: Column): Column =
    column(CmQuerySketch(expression(sketch), expression(key)))

  /** Total stream weight N recorded in a CM sketch (for ε·N bounds); −1
    * for a null sketch. */
  def cm_total(sketch: Column): Column =
    column(CmTotalSketch(expression(sketch)))

  /** Top-k entries of a serialized TopK sketch → array<struct<key,est>>;
    * empty for a null sketch. */
  def topk_entries(sketch: Column, k: Int): Column =
    column(TopKEntriesSketch(expression(sketch), Literal(k)))

  def cs_query(sketch: Column, key: Column): Column = csQuery(sketch, key)

  def mg_query(sketch: Column, key: Column): Column = mgQuery(sketch, key)

  /** All (key, est) entries of a Misra-Gries summary. */
  def mg_entries(sketch: Column): Column =
    functions.udf((bytes: Array[Byte]) =>
      if (bytes == null) Array.empty[TopKEntry]
      else MisraGries.deserialize(bytes).entries.toArray
        .sortBy { case (k, v) => (-v, k) }.map(e => TopKEntry(e._1, e._2))
    ).apply(sketch)

  def fss_query(sketch: Column, key: Column): Column = fssQuery(sketch, key)

  /** All (key, f, e) entries of an FSS summary, f desc. */
  def fss_entries(sketch: Column): Column =
    functions.udf((bytes: Array[Byte]) =>
      if (bytes == null) Array.empty[FssEntry]
      else FilteredSpaceSaving.deserialize(bytes).entries.toArray
        .sortBy { case (k, f, _) => (-f, k) }
        .map { case (k, f, e) => FssEntry(k, f, e) }
    ).apply(sketch)

  /** HLL cardinality estimate; −1 for a null sketch. */
  def hll_count(sketch: Column): Column =
    column(HllCountSketch(expression(sketch)))

  def hll_stderr(sketch: Column): Column =
    functions.udf((bytes: Array[Byte]) =>
      if (bytes == null) Double.NaN else hllMemo.get(bytes, HyperLogLog.deserialize).standardError
    ).apply(sketch)

  /** Register-wise max of two HLL sketches — the |A ∪ B| estimator and the
    * root of the sketch set-algebra surface (intersection and difference
    * fall out by inclusion–exclusion on the three estimates). Merge is
    * associative, commutative and IDEMPOTENT, so unions of overlapping
    * shards never double-count — the property exact distinct aggregation
    * loses the moment the sets live on different machines. Deserializes
    * fresh copies, so the in-place register merge never aliases cached
    * sketches. */
  def hll_set_union(a: Column, b: Column): Column =
    functions.udf((x: Array[Byte], y: Array[Byte]) =>
      if (x == null || y == null) null
      else HyperLogLog.deserialize(x).merge(HyperLogLog.deserialize(y)).serialize()
    ).apply(a, b)

  /** Bloom membership of `key`. Probe a one-row sketch frame `sk` as a
    * scalar subquery, `bloom_contains(sk.scalar(), key)`: every row of a
    * task then sees the same array and the memo answers by identity. A
    * `crossJoin(broadcast(sk))` copies the filter into every row. */
  def bloom_contains(sketch: Column, key: Column): Column = bloomContains(sketch, key)

  /** KLL quantile `q`; NaN for a null sketch, null for a null `q`. */
  def kll_quantile(sketch: Column, q: Column): Column =
    column(KllQuantileSketch(expression(sketch), expression(q)))

  def kll_n(sketch: Column): Column =
    functions.udf((bytes: Array[Byte]) =>
      if (bytes == null) -1L else kllMemo.get(bytes, KllSketch.deserialize).n
    ).apply(sketch)

  def tdigest_quantile(sketch: Column, q: Column): Column = tdigestQuantile(sketch, q)

  def tdigest_rank(sketch: Column, x: Column): Column =
    functions.udf((bytes: Array[Byte], x: Double) =>
      if (bytes == null) Double.NaN else tdMemo.get(bytes, TDigest.deserialize).rank(x)
    ).apply(sketch, x)
}
