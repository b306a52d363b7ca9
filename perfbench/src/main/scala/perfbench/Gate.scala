package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The gate: `graft.SparkEntry.queries` plus the `q00_scan`
  * anchor, each result fully materialized through the `noop` sink. */
object Gate {

  type Query = (SparkSession, String) => DataFrame

  /** Pure codegen scan + hash over lineitem: the box-load anchor. */
  val scanAnchor: Query = (s, dir) =>
    graft.queries.Tables.lineitem(s, dir).agg(
      expr("bit_xor(xxhash64(l_orderkey, l_partkey, l_suppkey, l_quantity))")
        .as("scan_fingerprint"))

  def id(name: String): String = name.takeWhile(_ != '_')

  /** The names by which the library's own sketch operators show in an
    * executed plan: each typed `Aggregator` of `SketchAggregators` appears
    * as its class name, lower-cased, and each native aggregate as its
    * `prettyName`. */
  val LibraryOperators: Seq[String] = {
    import graft.agg.SketchAggregators._
    Seq(classOf[CmAggregator], classOf[CmMergeAggregator], classOf[TopKAggregator],
      classOf[HllAggregator], classOf[HllMergeAggregator], classOf[KllAggregator],
      classOf[KllMergeAggregator], classOf[TDigestAggregator], classOf[BloomAggregator],
      classOf[CsAggregator], classOf[MgAggregator], classOf[FssAggregator],
      classOf[TopRowsAggregator]).map(_.getSimpleName.toLowerCase) ++
      Seq("cm_sketch_fast", "topk_sketch_fast", "hll_sketch_fast")
  }

  /** The library operators that some executed plan holds, each once. A
    * name counts only where it is called, `name(`, so an attribute or a
    * column that carries the name does not match. */
  def operators(plans: Seq[String]): Seq[String] =
    LibraryOperators.filter(op => plans.exists(_.contains(op + "(")))

  def all: Seq[(String, Query)] =
    ("q00_scan" -> scanAnchor) +: graft.SparkEntry.queries.toSeq.sortBy(_._1)

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Columns a query reports as its own bound verdicts. */
  private def isFlag(f: StructField): Boolean = {
    val n = f.name.toLowerCase
    (n.endsWith("_within_bound") || n.endsWith("_ok")) &&
      (f.dataType == BooleanType || Set[DataType](IntegerType, LongType, ShortType, ByteType)(f.dataType))
  }

  final case class Result(rows: Long, hash: String, flagsOk: Option[Boolean])

  /** Materializes the query through the `noop` sink and observes a result
    * fingerprint on the way, so the result is never computed twice. */
  def materialize(df: DataFrame): Result = {
    val fields = df.schema.fields.toSeq
    val cols: Seq[Column] = fields.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val flags = fields.filter(isFlag).map { f =>
      min(col("`" + f.name + "`").cast("int")).as("flag_" + f.name)
    }
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"),
      sum(h.bitwiseAND(lit(0xffffffffL))).as("lo") +:
        sum(shiftrightunsigned(h, 32)).as("hi") +: flags: _*)
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    val n = m("n").asInstanceOf[Long]
    val lo = Option(m("lo")).map(_.toString).getOrElse("0")
    val hi = Option(m("hi")).map(_.toString).getOrElse("0")
    val flagVals = fields.filter(isFlag).map(f => Option(m("flag_" + f.name)))
    Result(n, s"$n:$lo:$hi",
      if (flagVals.isEmpty) None
      else Some(flagVals.forall(v => v.isEmpty || v.get.toString.toInt == 1)))
  }
}
