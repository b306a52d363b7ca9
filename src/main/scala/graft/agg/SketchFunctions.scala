package graft.agg

import org.apache.spark.sql.{Column, Encoders, SparkSession}
import org.apache.spark.sql.functions
import graft.sketch._

/**
 * User-facing surface of the sketch library: `Column`-returning builders
 * (usable directly in `df.agg(...)`) plus SQL registration under stable
 * names. Scalar query functions decode the fixed binary layout
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
    // 4 slots per thread so queries probing several broadcast sketches per
    // row (e.g. q42's 3 replicas combined with `least`) don't thrash the
    // memo back into per-row deserialization; round-robin eviction.
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

  private val tupleStrLong = Encoders.product[(String, Long)]

  // ---- aggregate builders (Column API)

  /** Count-Min build: `cm_sketch(key, weight)` → binary sketch. */
  def cm_sketch(key: Column, weight: Column, eps: Double = 1e-4,
      delta: Double = 0.01, seed: Long = CountMinSketch.DefaultSeed): Column =
    functions.udaf(new CmAggregator(eps, delta, seed), tupleStrLong)
      .apply(key, weight)

  /** Merge pre-built CM sketches (shards → one). */
  def cm_merge(sketch: Column): Column =
    functions.udaf(new CmMergeAggregator, Encoders.BINARY).apply(sketch)

  /** Heavy-hitter build: CM + candidate heap of `capacity` keys. */
  def cm_topk(key: Column, weight: Column, capacity: Int, eps: Double = 1e-4,
      delta: Double = 0.01, seed: Long = CountMinSketch.DefaultSeed): Column =
    functions.udaf(new TopKAggregator(capacity, eps, delta, seed), tupleStrLong)
      .apply(key, weight)

  /** Count-Sketch build (signed rows, unbiased median query). */
  def cs_sketch(key: Column, weight: Column, depth: Int = 5, width: Int = 4096,
      seed: Long = CountSketch.DefaultSeed): Column =
    functions.udaf(new CsAggregator(depth, width, seed), tupleStrLong)
      .apply(key, weight)

  /** Misra-Gries frequent-items summary (SketchVisor's role, provable). */
  def mg_sketch(key: Column, weight: Column, capacity: Int): Column =
    functions.udaf(new MgAggregator(capacity), tupleStrLong).apply(key, weight)

  /** Filtered Space-Saving summary. */
  def fss_sketch(key: Column, weight: Column, numEntries: Int,
      numBuckets: Int = 4096, seed: Long = FilteredSpaceSaving.DefaultSeed): Column =
    functions.udaf(new FssAggregator(numEntries, numBuckets, seed), tupleStrLong)
      .apply(key, weight)

  def hll_sketch(key: Column, p: Int = 14,
      seed: Long = HyperLogLog.DefaultSeed): Column =
    functions.udaf(new HllAggregator(p, seed), Encoders.STRING).apply(key)

  def bloom_sketch(key: Column, expectedItems: Long, fpp: Double = 0.01,
      seed: Long = BloomFilter.DefaultSeed): Column =
    functions.udaf(new BloomAggregator(expectedItems, fpp, seed), Encoders.STRING)
      .apply(key)

  def kll_sketch(x: Column, k: Int = 200,
      seed: Long = KllSketch.DefaultSeed): Column =
    functions.udaf(new KllAggregator(k, seed),
      Encoders.DOUBLE)
      .apply(x)

  /** Merge pre-built KLL shards (shards → one), the quantile tier's
    * re-aggregation surface next to [[cm_merge]]. */
  def kll_merge(sketch: Column): Column =
    functions.udaf(new KllMergeAggregator, Encoders.BINARY).apply(sketch)

  /** Merge pre-built HLL shards (shards → one) — idempotent register max,
    * so overlapping shard sets never double-count. */
  def hll_merge(sketch: Column): Column =
    functions.udaf(new HllMergeAggregator, Encoders.BINARY).apply(sketch)

  def tdigest_sketch(x: Column, compression: Double = 100.0): Column =
    functions.udaf(new TDigestAggregator(compression),
      Encoders.DOUBLE)
      .apply(x)

  // ---- scalar query functions over serialized sketches

  // The probe bodies, each defined once: the Column builders below and the
  // SQL names in [[register]] wrap the same function, so both surfaces
  // decode through the kernel's memo.

  /** Point-frequency estimate of `key` from a serialized CM sketch. */
  val cmQueryUdf: (Array[Byte], String) => Long = (bytes, key) =>
    if (bytes == null || key == null) -1L
    else cmMemo.get(bytes, CountMinSketch.deserialize).query(key)
  private val cmTotalUdf: Array[Byte] => Long = bytes =>
    if (bytes == null) -1L
    else cmMemo.get(bytes, CountMinSketch.deserialize).totalWeight
  private val topkEntriesUdf: (Array[Byte], Int) => Array[TopKEntry] = (bytes, k) =>
    if (bytes == null) Array.empty[TopKEntry]
    else topkMemo.get(bytes, TopKSketch.deserialize).topK(k)
      .map(e => TopKEntry(e._1, e._2))
  private val csQueryUdf: (Array[Byte], String) => Long = (bytes, key) =>
    if (bytes == null || key == null) -1L
    else csMemo.get(bytes, CountSketch.deserialize).query(key)
  private val mgQueryUdf: (Array[Byte], String) => Long = (bytes, key) =>
    if (bytes == null || key == null) -1L
    else mgMemo.get(bytes, MisraGries.deserialize).query(key)
  private val fssQueryUdf: (Array[Byte], String) => Long = (bytes, key) =>
    if (bytes == null || key == null) -1L
    else fssMemo.get(bytes, FilteredSpaceSaving.deserialize).query(key)
  private val hllCountUdf: Array[Byte] => Long = bytes =>
    if (bytes == null) -1L
    else hllMemo.get(bytes, HyperLogLog.deserialize).estimateLong()
  private val bloomContainsUdf: (Array[Byte], String) => Boolean = (bytes, key) =>
    bytes != null && key != null &&
      bloomMemo.get(bytes, BloomFilter.deserialize).mightContain(key)
  private val kllQuantileUdf: (Array[Byte], Double) => Double = (bytes, q) =>
    if (bytes == null) Double.NaN
    else kllMemo.get(bytes, KllSketch.deserialize).quantile(q)
  private val tdigestQuantileUdf: (Array[Byte], Double) => Double = (bytes, q) =>
    if (bytes == null) Double.NaN
    else tdMemo.get(bytes, TDigest.deserialize).quantile(q)

  def cm_query(sketch: Column, key: Column): Column =
    functions.udf(cmQueryUdf).apply(sketch, key)

  /** Batched point-frequency probe: decode the sketch ONCE, answer every
    * key in the array — the preferred probe shape when the key set fits a
    * row (the per-row `cm_query` UDF is for billion-key probe sides). */
  def cm_query_each(sketch: Column, keys: Column): Column =
    functions.udf((bytes: Array[Byte], keys: Array[String]) =>
      if (bytes == null) Array.empty[TopKEntry]
      else {
        val cm = CountMinSketch.deserialize(bytes)
        keys.map(k => TopKEntry(k, if (k == null) -1L else cm.query(k)))
      }
    ).apply(sketch, keys)

  /** Probe a finished 1-row CM sketch against a LARGE key side: collects the
    * sketch at plan-build time, broadcasts the DECODED object once per
    * executor, and returns a key→estimate Column builder. Two shapes serve
    * a one-row sketch frame `sk` without per-row cost: this one, and the
    * lazy `cm_query(sk.scalar(), key)`, whose scalar subquery hands every
    * row of a task the same array (memo hit by identity, no collect before
    * the plan runs). Avoid `keys.crossJoin(broadcast(sk))` + `cm_query`
    * on a big probe side: the crossJoin copies the ~1.3MB serialized
    * sketch into EVERY probe row (tens of GB of byte copying at 20k keys;
    * measured: q28 29.6s → sub-second probe at sf0.1 on leaving it). */
  def cm_probe(sketchRow: org.apache.spark.sql.DataFrame): Column => Column = {
    val bytes = sketchRow.head().getAs[Array[Byte]](0)
    val bc = sketchRow.sparkSession.sparkContext
      .broadcast(CountMinSketch.deserialize(bytes))
    key => functions.udf((k: String) =>
      if (k == null) -1L else bc.value.query(k)).apply(key)
  }

  /** [[cm_probe]]'s Bloom twin: collect a finished 1-row Bloom sketch,
    * broadcast the DECODED filter once per executor, return a membership
    * Column builder. Its lazy twin is `bloom_contains(sk.scalar(), key)`
    * (q07, q112); a `crossJoin(broadcast(sk))` would copy the filter's
    * bytes into EVERY probe row. */
  def bloom_probe(sketchRow: org.apache.spark.sql.DataFrame): Column => Column = {
    val bytes = sketchRow.head().getAs[Array[Byte]](0)
    val bc = sketchRow.sparkSession.sparkContext
      .broadcast(BloomFilter.deserialize(bytes))
    key => functions.udf((k: String) =>
      k != null && bc.value.mightContain(k)).apply(key)
  }

  /** Like [[cm_probe]] but also exposes the sketch's total weight N. */
  def cm_probe_with_total(sketchRow: org.apache.spark.sql.DataFrame)
      : (Column => Column, Long) = {
    val bytes = sketchRow.head().getAs[Array[Byte]](0)
    val sk = CountMinSketch.deserialize(bytes)
    val bc = sketchRow.sparkSession.sparkContext.broadcast(sk)
    (key => functions.udf((k: String) =>
      if (k == null) -1L else bc.value.query(k)).apply(key),
      sk.totalWeight)
  }

  /** Total stream weight N recorded in a CM sketch (for ε·N bounds). */
  def cm_total(sketch: Column): Column =
    functions.udf(cmTotalUdf).apply(sketch)

  /** Top-k entries of a serialized TopK sketch → array<struct<key,est>>. */
  def topk_entries(sketch: Column, k: Int): Column =
    functions.udf(topkEntriesUdf).apply(sketch, functions.lit(k))

  def cs_query(sketch: Column, key: Column): Column =
    functions.udf(csQueryUdf).apply(sketch, key)

  def mg_query(sketch: Column, key: Column): Column =
    functions.udf(mgQueryUdf).apply(sketch, key)

  /** All (key, est) entries of a Misra-Gries summary. */
  def mg_entries(sketch: Column): Column =
    functions.udf((bytes: Array[Byte]) =>
      if (bytes == null) Array.empty[TopKEntry]
      else MisraGries.deserialize(bytes).entries.toArray
        .sortBy { case (k, v) => (-v, k) }.map(e => TopKEntry(e._1, e._2))
    ).apply(sketch)

  def fss_query(sketch: Column, key: Column): Column =
    functions.udf(fssQueryUdf).apply(sketch, key)

  /** All (key, f, e) entries of an FSS summary, f desc. */
  def fss_entries(sketch: Column): Column =
    functions.udf((bytes: Array[Byte]) =>
      if (bytes == null) Array.empty[FssEntry]
      else FilteredSpaceSaving.deserialize(bytes).entries.toArray
        .sortBy { case (k, f, _) => (-f, k) }
        .map { case (k, f, e) => FssEntry(k, f, e) }
    ).apply(sketch)

  def hll_count(sketch: Column): Column =
    functions.udf(hllCountUdf).apply(sketch)

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
  def bloom_contains(sketch: Column, key: Column): Column =
    functions.udf(bloomContainsUdf).apply(sketch, key)

  def kll_quantile(sketch: Column, q: Column): Column =
    functions.udf(kllQuantileUdf).apply(sketch, q)

  def kll_n(sketch: Column): Column =
    functions.udf((bytes: Array[Byte]) =>
      if (bytes == null) -1L else kllMemo.get(bytes, KllSketch.deserialize).n
    ).apply(sketch)

  def tdigest_quantile(sketch: Column, q: Column): Column =
    functions.udf(tdigestQuantileUdf).apply(sketch, q)

  def tdigest_rank(sketch: Column, x: Column): Column =
    functions.udf((bytes: Array[Byte], x: Double) =>
      if (bytes == null) Double.NaN else tdMemo.get(bytes, TDigest.deserialize).rank(x)
    ).apply(sketch, x)

  // ---- SQL registration

  /** Register every aggregate + scalar under `cm_sketch`-style SQL names
    * with library-default parameters. */
  def register(spark: SparkSession): Unit = {
    val r = spark.udf
    r.register("cm_sketch",
      functions.udaf(new CmAggregator(1e-4, 0.01, CountMinSketch.DefaultSeed), tupleStrLong))
    r.register("cm_merge", functions.udaf(new CmMergeAggregator, Encoders.BINARY))
    r.register("cm_topk",
      functions.udaf(new TopKAggregator(1024, 1e-4, 0.01, CountMinSketch.DefaultSeed), tupleStrLong))
    r.register("hll_sketch",
      functions.udaf(new HllAggregator(14, HyperLogLog.DefaultSeed), Encoders.STRING))
    r.register("bloom_sketch",
      functions.udaf(new BloomAggregator(1 << 20, 0.01, BloomFilter.DefaultSeed), Encoders.STRING))
    r.register("kll_sketch",
      functions.udaf(new KllAggregator(200, KllSketch.DefaultSeed),
        Encoders.DOUBLE))
    r.register("tdigest_sketch",
      functions.udaf(new TDigestAggregator(100.0),
        Encoders.DOUBLE))
    r.register("cs_sketch",
      functions.udaf(new CsAggregator(5, 4096, CountSketch.DefaultSeed), tupleStrLong))
    r.register("mg_sketch", functions.udaf(new MgAggregator(1024), tupleStrLong))
    r.register("fss_sketch",
      functions.udaf(new FssAggregator(1024, 4096, FilteredSpaceSaving.DefaultSeed), tupleStrLong))
    r.register("cs_query", csQueryUdf)
    r.register("mg_query", mgQueryUdf)
    r.register("fss_query", fssQueryUdf)
    r.register("cm_query", cmQueryUdf)
    r.register("cm_total", cmTotalUdf)
    r.register("hll_count", hllCountUdf)
    r.register("bloom_contains", bloomContainsUdf)
    r.register("kll_quantile", kllQuantileUdf)
    r.register("tdigest_quantile", tdigestQuantileUdf)
    r.register("topk_entries", topkEntriesUdf)
  }
}
