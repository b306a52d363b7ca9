package graft.agg

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.sketch._

/** The ONE definition of the zero-copy UTF8String double-hash (seed
  * derivation `seed ^ Seed1/Seed2` must stay bit-identical to
  * `Hash128.ofString` — parity pinned in HashingSpec). Shared by the
  * native build aggregates and the probes so the arithmetic can never
  * drift between copies. */
private[agg] object Utf8Hash {
  @inline def h1(utf8: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(utf8.getBaseObject, utf8.getBaseOffset,
      utf8.numBytes, seed ^ Hash128.Seed1)
  @inline def h2(utf8: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(utf8.getBaseObject, utf8.getBaseOffset,
      utf8.numBytes, seed ^ Hash128.Seed2)
  @inline def of(utf8: UTF8String, seed: Long): Hash128 = Hash128(h1(utf8, seed), h2(utf8, seed))
}

/**
 * The one decoder of a sketch kind, shared by the build kernels
 * ([[SketchAggregators.SketchKernel]]) and the probes ([[ProbeKernel]]).
 * `apply` decodes a fresh, mutable sketch; `cached` answers from a
 * thread-local memo, for probes, which never mutate what they read.
 *
 * A probe is handed the same serialized sketch once per row; a d×w CM is
 * ~1.3MB and q07's Bloom ~540KB, so decoding per row would dominate the
 * probe. Each of a thread's 4 memo slots keeps the caller's own array (no
 * clone) beside its decoded value and matches in two exact steps:
 *  - reference identity, O(1): a sketch passed as a scalar subquery
 *    (`bloom_contains(sk.scalar(), key)`) reaches every row of a task as
 *    the same array;
 *  - `java.util.Arrays.equals`: a cross-joined sketch arrives as a fresh
 *    copy per row, and a byte compare costs a fraction of a decode. The
 *    slot then adopts the caller's array, so that caller's later rows hit
 *    by identity.
 * No hash or sample stands in for the bytes, so two same-shape sketches
 * that differ in one late word never share a decode. A kept array must not
 * be mutated afterwards; Spark never mutates a value it hands to an
 * expression. Four slots let a row probe several sketches (q42 combines
 * three replicas with `least`) without thrashing; eviction is round-robin.
 *
 * Each decoder is a singleton, so a kernel that holds one serializes as a
 * reference to it and every task of an executor thread shares its memo.
 */
sealed abstract class Decoder[S <: AnyRef](parse: Array[Byte] => S) extends Serializable {
  private final class Slots {
    val keys = new Array[Array[Byte]](4)
    val vs = new Array[AnyRef](4)
    var next = 0
  }
  private val memo = new ThreadLocal[Slots] {
    override def initialValue(): Slots = new Slots
  }

  def apply(bytes: Array[Byte]): S = parse(bytes)

  def cached(bytes: Array[Byte]): S = {
    val s = memo.get()
    var i = 0
    while (i < 4) {
      if (s.keys(i) eq bytes) return s.vs(i).asInstanceOf[S]
      i += 1
    }
    i = 0
    while (i < 4) {
      if (s.keys(i) != null && java.util.Arrays.equals(s.keys(i), bytes)) {
        s.keys(i) = bytes
        return s.vs(i).asInstanceOf[S]
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

object Decoder {
  case object Cm extends Decoder[CountMinSketch](CountMinSketch.deserialize)
  case object TopK extends Decoder[TopKSketch](TopKSketch.deserialize)
  case object Cs extends Decoder[CountSketch](CountSketch.deserialize)
  case object Mg extends Decoder[MisraGries](MisraGries.deserialize)
  case object Fss extends Decoder[FilteredSpaceSaving](FilteredSpaceSaving.deserialize)
  case object Hll extends Decoder[HyperLogLog](HyperLogLog.deserialize)
  case object Bloom extends Decoder[BloomFilter](BloomFilter.deserialize)
  case object Kll extends Decoder[KllSketch](KllSketch.deserialize)
  case object Td extends Decoder[TDigest](TDigest.deserialize)
}

/**
 * The one Catalyst expression behind every query of a finished sketch,
 * over a [[ProbeKernel]]: the point service that answers keys against
 * sketch state, as the build side is the one [[NativeSketchAgg]] over a
 * [[SketchAggregators.SketchKernel]]. Both the Column API
 * ([[SketchFunctions]]) and the SQL names (`graft.GraftExtensions`) build it.
 *
 * Input rules are the builds': the analyzer casts each argument to the
 * kernel's input types, so an int key becomes a string and a string q a
 * double (a q that is not a number fails at run time), and an argument that
 * cannot be cast fails at analysis. The sketch decodes through its
 * [[Decoder]]'s memo, so repeated probes of one sketch decode once per
 * thread; a string key is hashed from its `UTF8String` bytes in place.
 *
 * A probe prints as the SQL name it was called by (the registry tags it),
 * else as its Column-API name; type errors use that name.
 *
 * CodegenFallback is deliberate: the eval is one memo lookup and the
 * kernel's query; fallback costs one virtual call per row and keeps the
 * expression version-portable (no generated-source maintenance).
 */
case class SketchProbe(kernel: ProbeKernel, children: Seq[Expression])
    extends Expression with ImplicitCastInputTypes with CodegenFallback {

  private val sketch = children.head
  private val arg = if (children.length > 1) children(1) else null

  override def inputTypes: Seq[DataType] = kernel.inputTypes
  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = kernel.nullable ||
    children.zip(kernel.nulls).exists { case (c, answer) => answer == null && c.nullable }
  override def prettyName: String =
    getTagValue(FunctionRegistry.FUNC_ALIAS).getOrElse(kernel.name)
  override protected def stringArgs: Iterator[Any] = children.iterator

  override def eval(input: InternalRow): Any = {
    val a = if (arg == null) null else arg.eval(input)
    if (arg != null && a == null) kernel.nulls(1)
    else sketch.eval(input) match {
      case null => kernel.nulls.head
      case sk => kernel.answer(sk.asInstanceOf[Array[Byte]], a)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SketchProbe = copy(children = newChildren)
}

/**
 * One query of a finished sketch, run by [[SketchProbe]]. A kernel declares
 * its input types (the sketch first), its result type, its null answers and
 * its per-row answer. `nulls(i)` is the answer when argument `i` is null;
 * the second argument decides first, so a null q answers null even for a
 * null sketch. The result is nullable where a null answer meets a nullable
 * argument, or always with `nullable`: the MG and FSS listings and
 * `hll_set_union` keep the nullable result types they were published with.
 * An abstract class, not a trait: the per-row `answer` call is a virtual
 * call, cheaper than an interface call.
 */
sealed abstract class ProbeKernel(
    val name: String,
    val inputTypes: Seq[DataType],
    val dataType: DataType,
    val nulls: Seq[Any],
    val nullable: Boolean = false) extends Serializable {
  /** The answer for a non-null sketch and argument (null when there is no
    * second argument). */
  def answer(sketch: Array[Byte], arg: Any): Any
}

object ProbeKernel {
  private val Key = Seq(BinaryType, StringType)
  private val Q = Seq(BinaryType, DoubleType)
  private val One = Seq(BinaryType)
  private val NoCount: Seq[Any] = Seq(-1L, -1L)

  /** array<struct<key string, est bigint>>, the type of every heavy-hitter
    * listing, in (est desc, key asc) order. */
  private val EntryList = ArrayType(StructType(Seq(
    StructField("key", StringType), StructField("est", LongType, nullable = false))))
  private val FssEntryList = ArrayType(StructType(Seq(StructField("key", StringType),
    StructField("f", LongType, nullable = false), StructField("e", LongType, nullable = false))))
  private def listing(rows: Array[InternalRow]) =
    new GenericArrayData(rows.asInstanceOf[Array[Any]])
  private val NoEntries: Seq[Any] = Seq(listing(Array.empty))

  private def utf8(key: Any) = key.asInstanceOf[UTF8String]

  /** Point-frequency estimate of a key from a CM sketch. */
  case object CmQuery extends ProbeKernel("cm_query", Key, LongType, NoCount) {
    def answer(sk: Array[Byte], key: Any): Any = {
      val cm = Decoder.Cm.cached(sk)
      cm.queryRaw(Utf8Hash.h1(utf8(key), cm.seed), Utf8Hash.h2(utf8(key), cm.seed))
    }
  }

  /** Total stream weight N of a CM sketch, for ε·N bounds. */
  case object CmTotal extends ProbeKernel("cm_total", One, LongType, Seq(-1L)) {
    def answer(sk: Array[Byte], none: Any): Any = Decoder.Cm.cached(sk).totalWeight
  }

  case object CsQuery extends ProbeKernel("cs_query", Key, LongType, NoCount) {
    def answer(sk: Array[Byte], key: Any): Any = {
      val cs = Decoder.Cs.cached(sk)
      cs.query(Utf8Hash.of(utf8(key), cs.seed))
    }
  }

  // the Misra-Gries and FSS summaries key their maps by String
  case object MgQuery extends ProbeKernel("mg_query", Key, LongType, NoCount) {
    def answer(sk: Array[Byte], key: Any): Any = Decoder.Mg.cached(sk).query(key.toString)
  }

  case object FssQuery extends ProbeKernel("fss_query", Key, LongType, NoCount) {
    def answer(sk: Array[Byte], key: Any): Any = Decoder.Fss.cached(sk).query(key.toString)
  }

  case object BloomContains extends ProbeKernel("bloom_contains", Key, BooleanType,
      Seq(false, false)) {
    def answer(sk: Array[Byte], key: Any): Any = {
      val bloom = Decoder.Bloom.cached(sk)
      bloom.mightContainHash(Utf8Hash.of(utf8(key), bloom.seed))
    }
  }

  case object HllCount extends ProbeKernel("hll_count", One, LongType, Seq(-1L)) {
    def answer(sk: Array[Byte], none: Any): Any = Decoder.Hll.cached(sk).estimateLong()
  }

  case object HllStderr extends ProbeKernel("hll_stderr", One, DoubleType, Seq(Double.NaN)) {
    def answer(sk: Array[Byte], none: Any): Any = Decoder.Hll.cached(sk).standardError
  }

  /** Register-wise max of two HLL sketches, serialized. The merge runs on a
    * copy: it is in place, and the decodes are the memo's. */
  case object HllSetUnion extends ProbeKernel("hll_set_union", Seq(BinaryType, BinaryType),
      BinaryType, Seq(null, null), nullable = true) {
    def answer(a: Array[Byte], b: Any): Any = Decoder.Hll.cached(a).copySketch()
      .merge(Decoder.Hll.cached(b.asInstanceOf[Array[Byte]])).serialize()
  }

  case object KllQuantile extends ProbeKernel("kll_quantile", Q, DoubleType,
      Seq(Double.NaN, null)) {
    def answer(sk: Array[Byte], q: Any): Any =
      Decoder.Kll.cached(sk).quantile(q.asInstanceOf[Double])
  }

  case object KllN extends ProbeKernel("kll_n", One, LongType, Seq(-1L)) {
    def answer(sk: Array[Byte], none: Any): Any = Decoder.Kll.cached(sk).n
  }

  case object TDigestQuantile extends ProbeKernel("tdigest_quantile", Q, DoubleType,
      Seq(Double.NaN, null)) {
    def answer(sk: Array[Byte], q: Any): Any =
      Decoder.Td.cached(sk).quantile(q.asInstanceOf[Double])
  }

  case object TDigestRank extends ProbeKernel("tdigest_rank", Q, DoubleType,
      Seq(Double.NaN, null)) {
    def answer(sk: Array[Byte], x: Any): Any =
      Decoder.Td.cached(sk).rank(x.asInstanceOf[Double])
  }

  /** The `k` heaviest entries of a TopK sketch. */
  case object TopKEntries extends ProbeKernel("topk_entries", Seq(BinaryType, LongType),
      EntryList, NoEntries :+ null) {
    def answer(sk: Array[Byte], k: Any): Any = listing(Decoder.TopK.cached(sk)
      .topK(k.asInstanceOf[Long].toInt)
      .map { case (key, est) => InternalRow(UTF8String.fromString(key), est) })
  }

  case object MgEntries extends ProbeKernel("mg_entries", One, EntryList, NoEntries,
      nullable = true) {
    def answer(sk: Array[Byte], none: Any): Any = listing(Decoder.Mg.cached(sk).entries.toArray
      .sortBy { case (k, v) => (-v, k) }
      .map { case (k, v) => InternalRow(UTF8String.fromString(k), v) })
  }

  /** All (key, f, e) entries of an FSS summary: monitored count f and its
    * error bound e, f desc. */
  case object FssEntries extends ProbeKernel("fss_entries", One, FssEntryList, NoEntries,
      nullable = true) {
    def answer(sk: Array[Byte], none: Any): Any = listing(Decoder.Fss.cached(sk).entries.toArray
      .sortBy { case (k, f, _) => (-f, k) }
      .map { case (k, f, e) => InternalRow(UTF8String.fromString(k), f, e) })
  }
}
