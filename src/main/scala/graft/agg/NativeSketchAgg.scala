package graft.agg

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, ByteType, DataType, IntegerType, LongType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.GraftExtensions
import graft.sketch.{CountMinSketch, HyperLogLog, TopKSketch}

/**
 * What a native sketch build needs from its kernel: a fresh sketch, the
 * per-row update from the key's `UTF8String` bytes and a weight, the merge,
 * and the kernel's fixed binary layout. [[NativeSketchAgg]] drives any of
 * them. An abstract class, not a trait: the per-row `update` call sees all
 * three kernels in one JVM, and a megamorphic virtual call is cheaper than
 * an interface call (hll_sketch_fast, the thinnest kernel, built about 15%
 * slower behind a trait on the build_ungrouped workload).
 */
sealed abstract class BuildKernel[S] extends Serializable {
  /** SQL name of the build, also its name in query plans. */
  def name: String
  /** Whether the build reads an integral weight after the key. */
  def weighted: Boolean
  def create(): S
  def update(sketch: S, key: UTF8String, weight: Long): Unit
  def merge(a: S, b: S): S
  def serialize(sketch: S): Array[Byte]
  def deserialize(bytes: Array[Byte]): S
}

/** Count-Min build (`cm_sketch_fast`). */
final case class CmKernel(eps: Double, delta: Double, seed: Long)
    extends BuildKernel[CountMinSketch] {
  def name: String = "cm_sketch_fast"
  def weighted: Boolean = true
  def create(): CountMinSketch = CountMinSketch.fromErrorBounds(eps, delta, seed)
  def update(cm: CountMinSketch, key: UTF8String, weight: Long): Unit =
    cm.updateRaw(Utf8Hash.h1(key, seed), Utf8Hash.h2(key, seed), weight)
  def merge(a: CountMinSketch, b: CountMinSketch): CountMinSketch = a.merge(b)
  def serialize(cm: CountMinSketch): Array[Byte] = cm.serialize()
  def deserialize(bytes: Array[Byte]): CountMinSketch = CountMinSketch.deserialize(bytes)
}

/** CM + candidate-heap heavy-hitter build (`topk_sketch_fast`). A key
  * becomes a `java.lang.String` only on the cold path, when it enters or
  * displaces a heap candidate; the thunk runs inside `updateRaw`, before
  * Spark can reuse the row buffer. */
final case class TopKKernel(capacity: Int, eps: Double, delta: Double, seed: Long)
    extends BuildKernel[TopKSketch] {
  def name: String = "topk_sketch_fast"
  def weighted: Boolean = true
  def create(): TopKSketch = TopKSketch(capacity, eps, delta, seed)
  def update(t: TopKSketch, key: UTF8String, weight: Long): Unit =
    t.updateRaw(Utf8Hash.h1(key, seed), Utf8Hash.h2(key, seed), weight, () => key.toString)
  def merge(a: TopKSketch, b: TopKSketch): TopKSketch = a.merge(b)
  def serialize(t: TopKSketch): Array[Byte] = t.serialize()
  def deserialize(bytes: Array[Byte]): TopKSketch = TopKSketch.deserialize(bytes)
}

/** HyperLogLog build (`hll_sketch_fast`): the same hash stream as
  * `HyperLogLog.add(String)`, XXH64 over the UTF-8 bytes with the sketch
  * seed. */
final case class HllKernel(p: Int, seed: Long) extends BuildKernel[HyperLogLog] {
  def name: String = "hll_sketch_fast"
  def weighted: Boolean = false
  def create(): HyperLogLog = HyperLogLog(p, seed)
  def update(h: HyperLogLog, key: UTF8String, weight: Long): Unit =
    h.addHash(XXH64.hashUnsafeBytes(key.getBaseObject, key.getBaseOffset, key.numBytes, seed))
  def merge(a: HyperLogLog, b: HyperLogLog): HyperLogLog = a.merge(b)
  def serialize(h: HyperLogLog): Array[Byte] = h.serialize()
  def deserialize(bytes: Array[Byte]): HyperLogLog = HyperLogLog.deserialize(bytes)
}

/**
 * The native Catalyst aggregate behind every `*_fast` build. Versus the
 * `functions.udaf` wrappers it skips the encoder round trip: `update` reads
 * the `UTF8String` key straight off the InternalRow and hashes its bytes in
 * place (Spark's XXH64, bit-identical to `graft.sketch.XxHash64`, pinned in
 * HashingSpec), with no Tuple2, no String decode and no boxing, and partial
 * buffers cross the exchange in the kernel's own binary layout instead of
 * Kryo. Same kernels and seeds as the udaf builds, so CM and HLL blobs are
 * bit-identical to theirs (NativeAggSpec, GoldenBytesSpec). Null keys are
 * skipped and a null weight counts 1.
 */
case class NativeSketchAgg[S](
    kernel: BuildKernel[S],
    children: Seq[Expression],
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[S] {

  private val key = children.head
  private val weight = if (kernel.weighted) children(1) else null

  /** Mistyped SQL (e.g. a non-string key) fails at analysis, not as a
    * ClassCastException in `update`. */
  override def checkInputDataTypes(): TypeCheckResult = {
    val okKey = key.dataType == StringType
    val okW = weight == null || (weight.dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    })
    if (okKey && okW) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${kernel.name} expects " +
        (if (kernel.weighted) "(STRING key, integral weight)" else "a STRING key") +
        s", got (${children.map(_.dataType.catalogString).mkString(", ")})")
  }

  override def createAggregationBuffer(): S = kernel.create()

  override def update(buffer: S, input: InternalRow): S = {
    val k = key.eval(input)
    if (k != null) {
      val w = if (weight == null) null else weight.eval(input)
      kernel.update(buffer, k.asInstanceOf[UTF8String],
        if (w == null) 1L else w.asInstanceOf[Number].longValue)
    }
    buffer
  }

  override def merge(buffer: S, other: S): S = kernel.merge(buffer, other)
  override def eval(buffer: S): Any = kernel.serialize(buffer)
  override def serialize(buffer: S): Array[Byte] = kernel.serialize(buffer)
  override def deserialize(bytes: Array[Byte]): S = kernel.deserialize(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = kernel.name

  override def withNewMutableAggBufferOffset(newOffset: Int): NativeSketchAgg[S] =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): NativeSketchAgg[S] =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NativeSketchAgg[S] =
    copy(children = newChildren)
}

// Each `register` re-registers its build's literal-argument builder from
// the GraftExtensions table, with these values for the omitted arguments.

object NativeCountMinAgg {
  def register(spark: SparkSession, eps: Double = 1e-4, delta: Double = 0.01,
      seed: Long = CountMinSketch.DefaultSeed): Unit =
    GraftExtensions.register(spark, "cm_sketch_fast", GraftExtensions.cmSketchFast(eps, delta, seed))
}

object NativeTopKAgg {
  def register(spark: SparkSession, capacity: Int = 4096, eps: Double = 1e-4,
      delta: Double = 0.01, seed: Long = CountMinSketch.DefaultSeed): Unit =
    GraftExtensions.register(spark, "topk_sketch_fast",
      GraftExtensions.topkSketchFast(capacity, eps, delta, seed))
}

object NativeHllAgg {
  def register(spark: SparkSession, p: Int = 14, seed: Long = HyperLogLog.DefaultSeed): Unit =
    GraftExtensions.register(spark, "hll_sketch_fast", GraftExtensions.hllSketchFast(p, seed))
}
