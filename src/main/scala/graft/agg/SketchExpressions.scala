package graft.agg

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, TypeCheckResult}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.sketch.Hash128

/**
 * Native scalar Catalyst expressions over serialized sketches: the one
 * implementation of `cm_query`, `cm_total`, `hll_count`, `kll_quantile` and
 * `topk_entries`, behind both the Column API ([[SketchFunctions]]) and the
 * SQL names, each of which also answers to a `*_sketch` twin name.
 *
 * No encoder round trip: the key is hashed straight from its `UTF8String`
 * bytes (zero-copy, the same double-hash halves as the native builds,
 * parity pinned in HashingSpec), and mistyped SQL fails at analysis rather
 * than execution. Decoding goes through the kernel's thread-local memo in
 * [[SketchFunctions]], so repeated probes of one sketch decode once per
 * thread, not once per row. A null sketch answers −1 (a count), NaN (a
 * quantile) or an empty listing; a null key answers −1; a null q or k
 * answers null.
 *
 * CodegenFallback is deliberate: the eval is one memo lookup + two XXH64
 * calls + a d-step min-loop; fallback costs one virtual call per row and
 * keeps the expression version-portable (no generated-source maintenance).
 */
/** The ONE definition of the zero-copy UTF8String double-hash (seed
  * derivation `seed ^ Seed1/Seed2` must stay bit-identical to
  * `Hash128.ofString` — parity pinned in HashingSpec). Shared by the
  * native build aggregates and the scalar probe expressions so the
  * arithmetic can never drift between copies. */
private[agg] object Utf8Hash {
  @inline def h1(utf8: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(utf8.getBaseObject, utf8.getBaseOffset,
      utf8.numBytes, seed ^ Hash128.Seed1)
  @inline def h2(utf8: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(utf8.getBaseObject, utf8.getBaseOffset,
      utf8.numBytes, seed ^ Hash128.Seed2)
}

/** A probe names itself by the SQL name it was called by (the registry
  * tags it), else by its Column-API name; type errors use that name. */
sealed trait SketchProbe extends Expression with CodegenFallback {
  protected def defaultName: String
  /** Catalog strings of the accepted argument types, for the error. */
  protected def signature: String
  protected def accepts(types: Seq[DataType]): Boolean

  override def prettyName: String =
    getTagValue(FunctionRegistry.FUNC_ALIAS).getOrElse(defaultName)

  override def checkInputDataTypes(): TypeCheckResult =
    if (accepts(children.map(_.dataType))) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects $signature, got " +
      children.map(_.dataType.catalogString).mkString("(", ", ", ")"))
}

/** Point-frequency estimate of `key`: `cm_query(sketch, key)` → BIGINT. */
case class CmQuerySketch(left: Expression, right: Expression)
    extends BinaryExpression with SketchProbe {
  protected def defaultName = "cm_query"
  protected def signature = "(BINARY sketch, STRING key)"
  protected def accepts(t: Seq[DataType]): Boolean = t == Seq(BinaryType, StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val sk = left.eval(input)
    val key = right.eval(input)
    if (sk == null || key == null) -1L
    else {
      val cm = SketchFunctions.decodeCmMemoized(sk.asInstanceOf[Array[Byte]])
      val utf8 = key.asInstanceOf[UTF8String]
      cm.queryRaw(Utf8Hash.h1(utf8, cm.seed), Utf8Hash.h2(utf8, cm.seed))
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmQuerySketch =
    copy(left = newLeft, right = newRight)
}

/** Total stream weight N of a CM sketch, for ε·N bounds:
  * `cm_total(sketch)` → BIGINT. */
case class CmTotalSketch(child: Expression) extends UnaryExpression with SketchProbe {
  protected def defaultName = "cm_total"
  protected def signature = "BINARY"
  protected def accepts(t: Seq[DataType]): Boolean = t == Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = child.eval(input) match {
    case null => -1L
    case sk => SketchFunctions.decodeCmMemoized(sk.asInstanceOf[Array[Byte]]).totalWeight
  }

  override protected def withNewChildInternal(newChild: Expression): CmTotalSketch =
    copy(child = newChild)
}

/** HLL cardinality estimate: `hll_count(sketch)` → BIGINT. */
case class HllCountSketch(child: Expression) extends UnaryExpression with SketchProbe {
  protected def defaultName = "hll_count"
  protected def signature = "BINARY"
  protected def accepts(t: Seq[DataType]): Boolean = t == Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = child.eval(input) match {
    case null => -1L
    case sk => SketchFunctions.decodeHllMemoized(sk.asInstanceOf[Array[Byte]]).estimateLong()
  }

  override protected def withNewChildInternal(newChild: Expression): HllCountSketch =
    copy(child = newChild)
}

/** KLL quantile: `kll_quantile(sketch, q)` → DOUBLE. Any numeric q: the
  * natural SQL literal 0.5 parses as DECIMAL(1,1), and rejecting it would
  * force users to spell cast(0.5 AS double). */
case class KllQuantileSketch(left: Expression, right: Expression)
    extends BinaryExpression with SketchProbe {
  protected def defaultName = "kll_quantile"
  protected def signature = "(BINARY sketch, numeric q)"
  protected def accepts(t: Seq[DataType]): Boolean =
    t.head == BinaryType && t(1).isInstanceOf[NumericType]
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = right.nullable

  override def eval(input: InternalRow): Any = right.eval(input) match {
    case null => null
    case q =>
      val qd = q match {
        case d: Decimal => d.toDouble
        case n: java.lang.Number => n.doubleValue()
      }
      left.eval(input) match {
        case null => Double.NaN
        case sk => SketchFunctions.decodeKllMemoized(sk.asInstanceOf[Array[Byte]]).quantile(qd)
      }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KllQuantileSketch =
    copy(left = newLeft, right = newRight)
}

/** Heavy-hitter listing: `topk_entries(sketch, k)` →
  * array<struct<key string, est bigint>> in deterministic (est desc,
  * key asc) order; the type is the one the `TopKEntry` encoder gives. */
case class TopKEntriesSketch(left: Expression, right: Expression)
    extends BinaryExpression with SketchProbe {
  protected def defaultName = "topk_entries"
  protected def signature = "(BINARY sketch, integral k)"
  protected def accepts(t: Seq[DataType]): Boolean = t.head == BinaryType && (t(1) match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  })
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("key", StringType), StructField("est", LongType, nullable = false))))
  override def nullable: Boolean = right.nullable

  override def eval(input: InternalRow): Any = right.eval(input) match {
    case null => null
    case k => left.eval(input) match {
      case null => new GenericArrayData(Array.empty[Any])
      case sk =>
        val entries = SketchFunctions.decodeTopKMemoized(sk.asInstanceOf[Array[Byte]])
          .topK(k.asInstanceOf[Number].intValue)
        new GenericArrayData(entries.map { case (key, est) =>
          InternalRow(UTF8String.fromString(key), est)
        })
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKEntriesSketch =
    copy(left = newLeft, right = newRight)
}
