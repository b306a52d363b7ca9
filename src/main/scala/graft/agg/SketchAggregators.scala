package graft.agg

import java.util.Locale

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.sketch._

/**
 * The sketch kernels behind every build and merge aggregate, each run by
 * the one native aggregate, [[NativeSketchAgg]].
 *
 * Execution model: Catalyst runs them as ObjectHashAggregate with automatic
 * partial aggregation — `update` consumes rows partition-locally (the
 * reference's single-threaded update loop,
 * /root/reference/Simulator/Program.cs:439-474), then only the O(sketch)
 * buffers cross the shuffle and `merge` folds them. That partial→final split
 * is the piece the reference never had (SURVEY.md §2.6) and is why these
 * scale: shuffle bytes are bounded by sketch size × partitions, independent
 * of row count or key cardinality.
 *
 * A buffer is the kernel's sketch object, mutated in place per partition.
 * It crosses the exchange (and a streaming state store) in the sketch's own
 * binary layout, the same bytes a finished build returns; a buffer in any
 * other form, such as a Kryo-encoded one, fails to decode with the sketch's
 * typed `IllegalArgumentException`. A string key is hashed from its
 * `UTF8String` bytes in place, with the same hash stream as the kernel's
 * `String` update, so every blob is byte-identical to a kernel-only build
 * (GoldenBytesSpec).
 *
 * Input rules: the analyzer casts the arguments to [[SketchKernel.inputTypes]]
 * (an int key becomes a string, a string x a double). A null key or x is
 * skipped; a null weight adds 0, and its key still reaches the kernel, so
 * it can become a TopK, Misra-Gries or FSS candidate. A merge skips a null
 * sketch and gives null when it saw none.
 *
 * In a plan, a Column-API call prints as the kernel's class name,
 * lower-cased (`cmaggregator(`), and a SQL call as the name it was called
 * by (`cm_sketch(`, `cm_sketch_fast(`).
 */
object SketchAggregators {

  /** What [[NativeSketchAgg]] needs from a sketch besides its own merge
    * and binary layout: a fresh buffer, the per-row update off the input
    * row, and the decoder. An abstract class, not a trait: the per-row
    * `update` call sees every kernel in one JVM, and a megamorphic virtual
    * call is cheaper than an interface call. */
  sealed abstract class SketchKernel[S <: Mergeable[S]](decode: Decoder[S])
      extends Serializable {
    /** The argument types the analyzer casts the arguments to. */
    def inputTypes: Seq[DataType]
    def create(): S
    /** Folds one row into `s` and returns the buffer. */
    def update(s: S, row: InternalRow, in: Args): S
    final def deserialize(bytes: Array[Byte]): S = decode(bytes)
    /** The name a Column-API call prints by, as Spark names a udaf. */
    final def name: String = getClass.getSimpleName.toLowerCase(Locale.ROOT)
  }

  /** A build over a string key. */
  sealed abstract class KeyKernel[S <: Mergeable[S]](decode: Decoder[S])
      extends SketchKernel[S](decode) {
    final def inputTypes: Seq[DataType] = Seq(StringType)
    def add(s: S, key: UTF8String): Unit
    final def update(s: S, row: InternalRow, in: Args): S = {
      val key = in.utf8(row, 0)
      if (key != null) add(s, key)
      s
    }
  }

  /** A build over a string key and a long weight. */
  sealed abstract class KeyWeightKernel[S <: Mergeable[S]](decode: Decoder[S])
      extends SketchKernel[S](decode) {
    final def inputTypes: Seq[DataType] = Seq(StringType, LongType)
    def add(s: S, key: UTF8String, weight: Long): Unit
    final def update(s: S, row: InternalRow, in: Args): S = {
      val weight = if (in.isNull(row, 1)) 0L else in.long(row, 1)
      val key = in.utf8(row, 0)
      if (key != null) add(s, key, weight)
      s
    }
  }

  /** A build over doubles. */
  sealed abstract class DoubleKernel[S <: Mergeable[S]](decode: Decoder[S])
      extends SketchKernel[S](decode) {
    final def inputTypes: Seq[DataType] = Seq(DoubleType)
    def add(s: S, x: Double): Unit
    final def update(s: S, row: InternalRow, in: Args): S = {
      if (!in.isNull(row, 0)) add(s, in.double(row, 0))
      s
    }
  }

  /** A re-merge of finished sketches (checkpoint shards, two-level
    * aggregation); its buffer is null until the first sketch. */
  sealed abstract class MergeKernel[S <: Mergeable[S]](decode: Decoder[S])
      extends SketchKernel[S](decode) {
    final def inputTypes: Seq[DataType] = Seq(BinaryType)
    final def create(): S = null.asInstanceOf[S]
    final def update(s: S, row: InternalRow, in: Args): S = {
      val bytes = in.binary(row, 0)
      if (bytes == null) s
      else if (s == null) deserialize(bytes)
      else s.merge(deserialize(bytes))
    }
  }

  // ---- Count-Min over (key, weight)

  final case class CmAggregator(eps: Double, delta: Double, seed: Long)
      extends KeyWeightKernel[CountMinSketch](Decoder.Cm) {
    def create(): CountMinSketch = CountMinSketch.fromErrorBounds(eps, delta, seed)
    def add(cm: CountMinSketch, key: UTF8String, weight: Long): Unit =
      cm.updateRaw(Utf8Hash.h1(key, seed), Utf8Hash.h2(key, seed), weight)
  }

  final case class CmMergeAggregator()
      extends MergeKernel[CountMinSketch](Decoder.Cm)

  // ---- Heavy hitters: CM + candidate heap

  /** A key becomes a `java.lang.String` only on the cold path, when it
    * enters or displaces a heap candidate; the thunk runs inside
    * `updateRaw`, before Spark can reuse the row buffer. */
  final case class TopKAggregator(capacity: Int, eps: Double, delta: Double, seed: Long)
      extends KeyWeightKernel[TopKSketch](Decoder.TopK) {
    def create(): TopKSketch = TopKSketch(capacity, eps, delta, seed)
    def add(t: TopKSketch, key: UTF8String, weight: Long): Unit =
      t.updateRaw(Utf8Hash.h1(key, seed), Utf8Hash.h2(key, seed), weight, () => key.toString)
  }

  // ---- HyperLogLog distinct count: XXH64 over the UTF-8 bytes, as `add(String)`

  final case class HllAggregator(p: Int, seed: Long)
      extends KeyKernel[HyperLogLog](Decoder.Hll) {
    def create(): HyperLogLog = HyperLogLog(p, seed)
    def add(h: HyperLogLog, key: UTF8String): Unit =
      h.addHash(XXH64.hashUnsafeBytes(key.getBaseObject, key.getBaseOffset, key.numBytes, seed))
  }

  /** Register-max is idempotent, so overlapping shard sets (sliding
    * windows, rollups) merge without double-counting. */
  final case class HllMergeAggregator()
      extends MergeKernel[HyperLogLog](Decoder.Hll)

  // ---- Bloom filter build

  final case class BloomAggregator(expectedItems: Long, fpp: Double, seed: Long)
      extends KeyKernel[BloomFilter](Decoder.Bloom) {
    def create(): BloomFilter = BloomFilter.fromExpected(expectedItems, fpp, seed)
    def add(b: BloomFilter, key: UTF8String): Unit =
      b.addRaw(Utf8Hash.h1(key, seed), Utf8Hash.h2(key, seed))
  }

  // ---- Count-Sketch over (key, weight)

  final case class CsAggregator(depth: Int, width: Int, seed: Long)
      extends KeyWeightKernel[CountSketch](Decoder.Cs) {
    def create(): CountSketch = CountSketch(depth, width, seed)
    def add(cs: CountSketch, key: UTF8String, weight: Long): Unit =
      cs.update(Utf8Hash.of(key, seed), weight)
  }

  // ---- Misra-Gries frequent items

  final case class MgAggregator(capacity: Int)
      extends KeyWeightKernel[MisraGries](Decoder.Mg) {
    def create(): MisraGries = MisraGries(capacity)
    def add(m: MisraGries, key: UTF8String, weight: Long): Unit = m.update(key.toString, weight)
  }

  // ---- Filtered Space-Saving

  final case class FssAggregator(numEntries: Int, numBuckets: Int, seed: Long)
      extends KeyWeightKernel[FilteredSpaceSaving](Decoder.Fss) {
    def create(): FilteredSpaceSaving = FilteredSpaceSaving(numEntries, numBuckets, seed)
    def add(f: FilteredSpaceSaving, key: UTF8String, weight: Long): Unit =
      f.update(key.toString, weight)
  }

  // ---- KLL quantiles over doubles

  final case class KllAggregator(k: Int, seed: Long)
      extends DoubleKernel[KllSketch](Decoder.Kll) {
    def create(): KllSketch = KllSketch(k, seed)
    def add(s: KllSketch, x: Double): Unit = s.update(x)
  }

  /** Per-tenant or per-partition KLL shards built once, any rollup served
    * by merging finished state with no rescan. */
  final case class KllMergeAggregator() extends MergeKernel[KllSketch](Decoder.Kll)

  // ---- t-digest quantiles over doubles

  final case class TDigestAggregator(compression: Double)
      extends DoubleKernel[TDigest](Decoder.Td) {
    def create(): TDigest = TDigest(compression)
    def add(t: TDigest, x: Double): Unit = t.update(x)
  }

  // ---- exact top-k rows by priority (mergeable — the streaming q86 face)

  /** EXACT bounded top-k over 4-long rows (p, id, a, b), ordered by
    * (p DESC, id ASC): a merge MONOID (union-then-truncate is associative,
    * commutative, idempotent on the kept set), so it is streaming-complete-
    * mode-safe with O(k) state — the aggregate-side twin of TakeOrdered,
    * for plans where the funnel must live INSIDE an aggregation (q97). Not
    * a sketch, so it stays a typed `functions.udaf` with a Kryo buffer. */
  final class TopRowsAggregator(k: Int) extends Aggregator[
      (Long, Long, Long, Long),
      scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)],
      Array[Byte]] {
    // amortized trim: let the buffer grow to 2k before sorting down to k,
    // so the per-row cost is O(log k) amortized instead of a sort per row
    // past k; every trim keeps a superset of the true top-k, and finish
    // sorts the final buffer, so laziness never changes the result
    private def trim(b: scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]) = {
      if (b.length >= 2 * k) {
        val kept = b.sortBy(r => (-r._1, r._2)).take(k)
        b.clear(); b ++= kept
      }
      b
    }
    override def zero = scala.collection.mutable.ArrayBuffer.empty
    override def reduce(b: scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)],
        a: (Long, Long, Long, Long)) = trim(b += a)
    override def merge(x: scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)],
        y: scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]) = trim(x ++= y)
    override def finish(b: scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)])
        : Array[Byte] =
      TopRowsCodec.serialize(b.sortBy(r => (-r._1, r._2)).take(k).toSeq)
    override def bufferEncoder:
        Encoder[scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]] =
      Encoders.kryo[scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Wire form of the top-rows result: k × 4 big-endian longs. */
  object TopRowsCodec {
    def serialize(rows: Seq[(Long, Long, Long, Long)]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(rows.length * 32)
      rows.foreach { r => bb.putLong(r._1); bb.putLong(r._2)
        bb.putLong(r._3); bb.putLong(r._4) }
      bb.array()
    }
    def deserialize(bytes: Array[Byte]): Seq[(Long, Long, Long, Long)] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      Seq.fill(bytes.length / 32)(
        (bb.getLong(), bb.getLong(), bb.getLong(), bb.getLong()))
    }
  }
}
