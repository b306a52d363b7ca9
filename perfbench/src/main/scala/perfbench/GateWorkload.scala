package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** `gate`: the `q00_scan` anchor plus the gate queries that carry the
  * sketch kernels end to end, one at a time, each result materialized
  * through the `noop` sink. The seed only permutes the query order. */
final class GateWorkload(spark: SparkSession, seed: Long, dataDir: String,
    expected: Map[String, GateWorkload.Expected]) extends Workload {
  import GateWorkload._

  def name: String = "gate"

  private val byId = Gate.all.map { case (n, f) => Gate.id(n) -> (n, f) }.toMap
  private val chosen: Seq[(Entry, String, Gate.Query)] =
    new scala.util.Random(seed).shuffle(Queries.map { e =>
      val (n, f) = byId(e.id)
      (e, n, f)
    })
  private val results = mutable.Map.empty[String, Gate.Result]
  /** Rows of lineitem, the table the anchor scans. */
  private var anchorRows = 0L

  /** Reads every row of every gate table, through the `noop` sink: the
    * cold read a user's first query pays. */
  def setup(): Unit = {
    val rows = Tables.map(t =>
      t -> Gate.materialize(spark.read.parquet(s"$dataDir/$t.parquet")).rows).toMap
    anchorRows = rows("lineitem")
  }

  def ops: Seq[Op] = chosen.map { case (e, name, fn) =>
    val layer = if (e.group == "stream") "graft.streaming" else "graft.queries"
    Op(name, e.kernel, e.group, layer, anchorRows, anchor = e.group == "anchor")(() =>
      results(name) = Gate.materialize(fn(spark, dataDir)))
  }

  override def teardown(): Unit = spark.catalog.clearCache()

  /** Result checks of the last execution of every query, and the plan
    * guard on its first. */
  def checks(rec: Recorder, plans: Map[String, Seq[String]]): Unit =
    for ((q, name, _) <- chosen) {
      val r = results.get(name)
      val exp = expected.get(q.id)
      rec.check(s"$name has a recorded result") { r.isDefined && exp.isDefined }
      for (res <- r; e <- exp) {
        res.flagsOk match {
          case Some(ok) => rec.check(s"$name reports its bounds held") { ok && res.rows == e.rows }
          case None => rec.check(s"$name result fingerprint matches") { res.hash == e.hash }
        }
        if (q.group != "anchor")
          rec.check(s"$name executed plan still holds ${e.operators.mkString(", ")}") {
            e.operators.nonEmpty &&
              e.operators.forall(Gate.operators(plans.getOrElse(name, Nil)).contains)
          }
      }
    }
}

object GateWorkload {
  /** A gate query: its id, the kernel it exercises and its module group
    * (`sketch`: `SketchQueries`; `stream`: `graft.streaming`). */
  final case class Entry(id: String, kernel: Option[String], group: String)

  /** The anchor plus one query per kernel, with that kernel. q07 probes a
    * Bloom filter row by row (the query-side decode); q78 builds its
    * heavy-hitter sketch through Structured Streaming micro-batches. */
  val Queries: Seq[Entry] = Seq(
    Entry("q00", None, "anchor"),
    Entry("q01", Some("cm"), "sketch"),
    Entry("q05", Some("hll"), "sketch"),
    Entry("q07", Some("bloom"), "sketch"),
    Entry("q08", Some("kll"), "sketch"),
    Entry("q10", Some("tdigest"), "sketch"),
    Entry("q78", Some("topk"), "stream"))

  /** The tables these queries read. */
  val Tables: Seq[String] = Seq("customer", "events", "lineitem", "orders")

  /** The result a query gave on the commit that defined the benchmark: row
    * count, fingerprint, and the library operators its executed plans held
    * (the plan guard; none for the anchor). */
  final case class Expected(rows: Long, hash: String, operators: Seq[String])

  def load(path: String): Map[String, Expected] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().filterNot(l => l.startsWith("#") || l.trim.isEmpty).map { l =>
      val Array(id, rows, hash, ops) = l.split('\t')
      id -> Expected(rows.toLong, hash, if (ops == "-") Nil else ops.split(',').toSeq)
    }.toMap
    finally src.close()
  }
}
