package graft.agg

import org.apache.spark.sql.{Column, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, ByteType, DataType, DoubleType, IntegerType, LongType, ShortType}
import org.apache.spark.unsafe.types.UTF8String
import graft.GraftExtensions
import graft.sketch.{CountMinSketch, HyperLogLog, Mergeable}
import SketchAggregators.SketchKernel

/**
 * The one Catalyst aggregate behind every sketch build and merge, over a
 * kernel of [[SketchAggregators]]. It reads its arguments straight off the
 * `InternalRow` (see [[Args]]): a string key is hashed from its `UTF8String`
 * bytes in place, a double or long column is read without boxing, and a
 * merge reads binary. Partial buffers cross the exchange in the kernel's
 * own binary layout. There is no encoder round trip, no tuple and no Kryo.
 *
 * `name` is what the call prints as in a plan and in type errors. With
 * `coerce` (the Column API and the library-default SQL names) the analyzer
 * casts the arguments to the kernel's input types; without it (the
 * `*_fast` names) the key must be a string and the weight integral, and
 * anything else fails at analysis.
 */
case class NativeSketchAgg[S <: Mergeable[S]](
    kernel: SketchKernel[S],
    children: Seq[Expression],
    name: String,
    coerce: Boolean = true,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[S] with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = if (coerce) kernel.inputTypes else Nil

  override def checkInputDataTypes(): TypeCheckResult =
    if (coerce) super.checkInputDataTypes()
    else if (children.length == kernel.inputTypes.length &&
        children.zip(kernel.inputTypes).forall {
          case (c, LongType) => Seq(LongType, IntegerType, ShortType, ByteType).contains(c.dataType)
          case (c, t) => c.dataType == t
        }) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects (${kernel.inputTypes.map(_.catalogString).mkString(", ")}), " +
        s"got (${children.map(_.dataType.catalogString).mkString(", ")})")

  @transient private lazy val in = new Args(children)

  override def createAggregationBuffer(): S = kernel.create()
  override def update(buffer: S, input: InternalRow): S = kernel.update(buffer, input, in)

  // a merge's buffer is null until its first sketch, and an empty array on the wire
  override def merge(buffer: S, other: S): S =
    if (buffer == null) other else if (other == null) buffer else buffer.merge(other)
  override def eval(buffer: S): Any = if (buffer == null) null else buffer.serialize()
  override def serialize(buffer: S): Array[Byte] =
    if (buffer == null) Array.emptyByteArray else buffer.serialize()
  override def deserialize(bytes: Array[Byte]): S =
    if (bytes.isEmpty) null.asInstanceOf[S] else kernel.deserialize(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = name
  // print as `name(arg, ...)`, as Spark prints a udaf
  override protected def stringArgs: Iterator[Any] = children.iterator

  override def withNewMutableAggBufferOffset(newOffset: Int): NativeSketchAgg[S] =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): NativeSketchAgg[S] =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NativeSketchAgg[S] =
    copy(children = newChildren)
}

object NativeSketchAgg {
  /** The Column-API call of `kernel` over `args`, named after the kernel. */
  def column[S <: Mergeable[S]](kernel: SketchKernel[S], args: Column*): Column =
    GraftBridge.column(NativeSketchAgg(kernel, args.map(GraftBridge.expression), kernel.name)
      .toAggregateExpression())
}

/**
 * Reads an aggregate's arguments off its input row. A long or double
 * argument bound straight to a column of that type is read in place,
 * unboxed; any other argument is evaluated. [[isNull]] comes first for a
 * numeric argument and keeps the evaluated value for [[long]] or
 * [[double]], so each argument is evaluated once per row.
 */
final class Args(children: Seq[Expression]) {
  private val exprs = children.toArray
  private val ords = exprs.map {
    case b: BoundReference if b.dataType == LongType || b.dataType == DoubleType => b.ordinal
    case _ => -1
  }
  private var value: Any = _

  def utf8(row: InternalRow, i: Int): UTF8String = exprs(i).eval(row).asInstanceOf[UTF8String]
  def binary(row: InternalRow, i: Int): Array[Byte] = exprs(i).eval(row).asInstanceOf[Array[Byte]]

  def isNull(row: InternalRow, i: Int): Boolean = {
    val o = ords(i)
    if (o >= 0) row.isNullAt(o)
    else { value = exprs(i).eval(row); value == null }
  }
  def long(row: InternalRow, i: Int): Long = {
    val o = ords(i)
    if (o >= 0) row.getLong(o) else value.asInstanceOf[Number].longValue
  }
  def double(row: InternalRow, i: Int): Double = {
    val o = ords(i)
    if (o >= 0) row.getDouble(o) else value.asInstanceOf[java.lang.Double].doubleValue
  }
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
