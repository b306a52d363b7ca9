package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.Decimal
import graft.agg._
import graft.agg.ProbeKernel._
import graft.agg.SketchAggregators._
import graft.sketch._

/**
 * The sketch library's SQL function registry: [[GraftExtensions.functionDescriptions]]
 * is the one table of SQL names, and both ways into a session read it.
 * The idiomatic spark-submit wiring injects it at session build:
 *
 * {{{
 * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
 * }}}
 *
 * and [[GraftExtensions.install]] registers the same names into an
 * already-running session. The table holds
 *  - the builds and merges under their Column-API names with library
 *    defaults (`cm_sketch(key, weight)`, `hll_sketch(key)`,
 *    `kll_merge(sketch)`, …), whose arguments are cast as the Column API
 *    casts them,
 *  - the builds `cm_sketch_fast(key, weight[, eps[, delta[, seed]]])`,
 *    `topk_sketch_fast(key, weight[, capacity[, eps[, delta[, seed]]]])` and
 *    `hll_sketch_fast(key[, p[, seed]])`, whose trailing arguments are
 *    foldable numeric literals and whose key must be a string and weight
 *    integral,
 *  - the probes (`cm_query`, `bloom_contains`, `topk_entries`, …), each a
 *    [[graft.agg.SketchProbe]] whose arguments are cast as the builds'
 *    are; `cm_query`, `cm_total`, `hll_count`, `kll_quantile` and
 *    `topk_entries` also answer to a `*_sketch` twin name
 *    (`cm_query_sketch`, …),
 *  - the fused array and string kernels `cosine_micro`, `dot_range`,
 *    `intersect_count_sorted` and `cdc_cuts`,
 * so pure-SQL users (thriftserver, SQL files) get the library with no
 * Scala imports.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functionDescriptions.foreach(ext.injectFunction)
}

object GraftExtensions {

  type Builder = Seq[Expression] => Expression

  /** The value of literal argument `name` of SQL function `fn`. */
  private def literal(fn: String, e: Expression, name: String): java.lang.Number = {
    require(e.foldable, s"$fn: $name must be a literal")
    e.eval() match {
      case d: Decimal => d.toJavaBigDecimal
      case n: java.lang.Number => n
      case other => throw new IllegalArgumentException(s"$fn: $name must be numeric, got $other")
    }
  }

  /** Literal argument `i` of `fn`, if the call passed one. */
  private def arg(fn: String, args: Seq[Expression], i: Int, name: String): Option[java.lang.Number] =
    args.lift(i).map(literal(fn, _, name))

  /** `cm_sketch_fast`; literal arguments override these defaults. */
  def cmSketchFast(eps: Double = 1e-4, delta: Double = 0.01,
      seed: Long = CountMinSketch.DefaultSeed): Builder = args => {
    val fn = "cm_sketch_fast"
    NativeSketchAgg(CmAggregator(arg(fn, args, 2, "eps").fold(eps)(_.doubleValue),
      arg(fn, args, 3, "delta").fold(delta)(_.doubleValue),
      arg(fn, args, 4, "seed").fold(seed)(_.longValue)), args.take(2), fn, coerce = false)
  }

  /** `topk_sketch_fast`; literal arguments override these defaults. */
  def topkSketchFast(capacity: Int = 4096, eps: Double = 1e-4, delta: Double = 0.01,
      seed: Long = CountMinSketch.DefaultSeed): Builder = args => {
    val fn = "topk_sketch_fast"
    NativeSketchAgg(TopKAggregator(arg(fn, args, 2, "capacity").fold(capacity)(_.intValue),
      arg(fn, args, 3, "eps").fold(eps)(_.doubleValue),
      arg(fn, args, 4, "delta").fold(delta)(_.doubleValue),
      arg(fn, args, 5, "seed").fold(seed)(_.longValue)), args.take(2), fn, coerce = false)
  }

  /** `hll_sketch_fast`; literal arguments override these defaults. */
  def hllSketchFast(p: Int = 14, seed: Long = HyperLogLog.DefaultSeed): Builder = args => {
    val fn = "hll_sketch_fast"
    NativeSketchAgg(HllAggregator(arg(fn, args, 1, "p").fold(p)(_.intValue),
      arg(fn, args, 2, "seed").fold(seed)(_.longValue)), args.take(1), fn, coerce = false)
  }

  private type Description = (FunctionIdentifier, ExpressionInfo, Builder)

  /** One table row: `build` behind an arity check that prints `usage`. */
  private def fn(name: String, cls: Class[_], usage: String, arity: Range)(build: Builder)
      : Description =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), args => {
      require(arity.contains(args.length), s"usage: $name$usage")
      build(args)
    })

  /** A probe under `name`, tagged with the name it was called by. */
  private def probe(kernel: ProbeKernel, usage: String, name: String): Description = {
    val arity = kernel.inputTypes.length
    fn(name, classOf[SketchProbe], usage, arity to arity) { args =>
      val e = SketchProbe(kernel, args)
      e.setTagValue(FunctionRegistry.FUNC_ALIAS, name)
      e
    }
  }

  /** A build or merge with library defaults, named by its SQL name. */
  private def agg[S <: Mergeable[S]](name: String, kernel: SketchKernel[S], usage: String)
      : Description = {
    val arity = kernel.inputTypes.length
    fn(name, kernel.getClass, usage, arity to arity)(NativeSketchAgg(kernel, _, name))
  }

  /** Every SQL name of the library, with its builder. */
  val functionDescriptions: Seq[Description] = Seq(
    agg("cm_sketch", CmAggregator(1e-4, 0.01, CountMinSketch.DefaultSeed), "(key, weight)"),
    agg("cm_merge", CmMergeAggregator(), "(sketch)"),
    agg("cm_topk", TopKAggregator(1024, 1e-4, 0.01, CountMinSketch.DefaultSeed), "(key, weight)"),
    agg("hll_sketch", HllAggregator(14, HyperLogLog.DefaultSeed), "(key)"),
    agg("hll_merge", HllMergeAggregator(), "(sketch)"),
    agg("bloom_sketch", BloomAggregator(1 << 20, 0.01, BloomFilter.DefaultSeed), "(key)"),
    agg("kll_sketch", KllAggregator(200, KllSketch.DefaultSeed), "(x)"),
    agg("kll_merge", KllMergeAggregator(), "(sketch)"),
    agg("tdigest_sketch", TDigestAggregator(100.0), "(x)"),
    agg("cs_sketch", CsAggregator(5, 4096, CountSketch.DefaultSeed), "(key, weight)"),
    agg("mg_sketch", MgAggregator(1024), "(key, weight)"),
    agg("fss_sketch", FssAggregator(1024, 4096, FilteredSpaceSaving.DefaultSeed), "(key, weight)"),
    fn("cm_sketch_fast", classOf[NativeSketchAgg[_]],
      "(key, weight[, eps[, delta[, seed]]])", 2 to 5)(cmSketchFast()),
    fn("topk_sketch_fast", classOf[NativeSketchAgg[_]],
      "(key, weight[, capacity[, eps[, delta[, seed]]]])", 2 to 6)(topkSketchFast()),
    fn("hll_sketch_fast", classOf[NativeSketchAgg[_]], "(key[, p[, seed]])", 1 to 3)(
      hllSketchFast()),
    probe(CsQuery, "(sketch, key)", "cs_query"),
    probe(MgQuery, "(sketch, key)", "mg_query"),
    probe(FssQuery, "(sketch, key)", "fss_query"),
    probe(BloomContains, "(sketch, key)", "bloom_contains"),
    probe(TDigestQuantile, "(sketch, q)", "tdigest_quantile"),
    fn("cosine_micro", classOf[CosineMicro], "(vec_a, vec_b)", 2 to 2)(
      a => CosineMicro(a(0), a(1))),
    fn("dot_range", classOf[DotRange], "(vec_a, vec_b, start, len) with literal start/len",
      4 to 4)(a => DotRange(a(0), a(1), literal("dot_range", a(2), "start").intValue,
        literal("dot_range", a(3), "len").intValue)),
    fn("intersect_count_sorted", classOf[IntersectCountSorted], "(arr_a, arr_b)", 2 to 2)(
      a => IntersectCountSorted(a(0), a(1))),
    fn("cdc_cuts", classOf[CdcCuts], "(text, window, div) with literal window/div", 3 to 3)(
      a => CdcCuts(a(0), literal("cdc_cuts", a(1), "window").intValue,
        literal("cdc_cuts", a(2), "div").intValue))
  ) ++ Seq(CmQuery -> "(sketch, key)", CmTotal -> "(sketch)", HllCount -> "(sketch)",
      KllQuantile -> "(sketch, q)", TopKEntries -> "(sketch, k)").flatMap { case (k, usage) =>
    Seq(probe(k, usage, k.name), probe(k, usage, s"${k.name}_sketch"))
  }

  /** Registers one builder under `name` in a live session. */
  def register(spark: SparkSession, name: String, builder: Builder): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")

  /** Registers every name of [[functionDescriptions]] into a live session. */
  def install(spark: SparkSession): Unit =
    functionDescriptions.foreach { case (id, _, builder) => register(spark, id.funcName, builder) }
}
