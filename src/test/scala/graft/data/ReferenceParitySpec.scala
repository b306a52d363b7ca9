package graft.data

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.agg.SketchFunctions._
import graft.sketch.{CountMax, CountMinSketch}

/**
 * FIXTURES.md F5: reference-format parity. A coflow JSON shaped exactly like
 * the reference's serialized stream (/root/reference/Simulation/FlowJson.cs:9-25)
 * is ingested through the Spark path and replayed through both CM and the
 * CountMax parity kernel; results are checked against the reference's own
 * semantics (single-threaded update loop, hand-traced rules).
 */
class ReferenceParitySpec extends SparkTestBase {

  private def fixtureJson(): String = {
    // 8 flows over 4 paths with zipf-ish traffic — small enough to hand-check
    val flows = Seq(
      (Seq(1, 2, 3), 500.0), (Seq(1, 2, 3), 300.0), (Seq(2, 3, 4), 200.0),
      (Seq(1, 2, 3), 100.0), (Seq(3, 4, 5), 50.0), (Seq(2, 3, 4), 25.0),
      (Seq(9, 9, 9), 10.0), (Seq(3, 4, 5), 5.0))
    val doc = flows.map { case (p, t) =>
      s"""{"path":[${p.mkString(",")}],"traffic":$t}"""
    }.mkString("""{"flows":[""", ",", "]}")
    val f = Files.createTempFile("coflow", ".json")
    Files.writeString(f, doc)
    f.toString
  }

  test("coflow JSON ingests with the reference schema and per-flow traffic") {
    val df = ReferenceIO.readCoflowJson(spark, fixtureJson())
    assert(df.count() === 8L)
    assert(df.columns.toSet === Set("flow_id", "path", "key", "traffic"))
    val byKey = df.groupBy(col("key")).agg(sum(col("traffic")).as("t"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(byKey("1-2-3") === 900.0)
    assert(byKey("2-3-4") === 225.0)
    assert(byKey("3-4-5") === 55.0)
    assert(byKey("9-9-9") === 10.0)
  }

  test("CM over the ingested coflow answers exactly (collision-free) — the reference's accuracy experiment shape") {
    val df = ReferenceIO.readCoflowJson(spark, fixtureJson())
    val sk = df.agg(
      cm_sketch(col("key"), col("traffic").cast("long"), eps = 1e-3).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val cm = CountMinSketch.deserialize(sk)
    assert(cm.query("1-2-3") === 900L)
    assert(cm.query("2-3-4") === 225L)
    assert(cm.query("3-4-5") === 55L)
    assert(cm.query("9-9-9") === 10L)
    assert(cm.totalWeight === 1190L)
  }

  test("CountMax replay over the ingested coflow recovers the heavy path (single partition, in order)") {
    import spark.implicits._
    val rows = ReferenceIO.readCoflowJson(spark, fixtureJson())
      .orderBy(col("flow_id")) // the reference replays flows in file order
      .select(col("key"), col("traffic").cast("long"))
      .as[(String, Long)].collect()
    val cmx = CountMax(2, 64)
    rows.foreach { case (k, w) => cmx.update(k, w) }
    assert(cmx.getAllKeys.contains("1-2-3"))
    // heaviest key's majority-vote estimate is within [true-others, true]
    val est = cmx.query("1-2-3")
    assert(est > 0L && est <= 900L, s"est=$est")
  }

  test("reroute JSON sink round-trips through the reference schema (IO4)") {
    import spark.implicits._
    val out = Files.createTempDirectory("sink").resolve("REROUTE_test.json")
    val df = Seq((Seq(1, 2), 10.5, 12.0), (Seq(2, 3), 3.25, 3.25))
      .toDF("path", "traffic", "origtraffic")
    ReferenceIO.writeRerouteJson(df, out.toString)
    val back = spark.read.option("multiLine", "true").json(out.toString)
      .select(explode(col("flows")).as("f"))
      .select(col("f.path"), col("f.traffic"), col("f.origtraffic"))
      .as[(Seq[Long], Double, Double)].collect().toSet
    assert(back === Set((Seq(1L, 2L), 10.5, 12.0), (Seq(2L, 3L), 3.25, 3.25)))
  }

  /** Reroute output (path, traffic, origtraffic) of a reference-schema file. */
  private def readReroute(path: String) =
    spark.read.option("multiLine", "true").json(path)
      .select(explode(col("flows")).as("f"))
      .select(col("f.path").as("path"), col("f.traffic").as("traffic"),
        col("f.origtraffic").as("origtraffic"))

  /** Our Q6 link-load aggregation: explode consecutive path pairs into
    * links, sum traffic per link. */
  private def linkLoads(rer: org.apache.spark.sql.DataFrame) =
    rer.select(col("traffic"), posexplode(expr(
        "transform(slice(path, 1, size(path) - 1), (x, i) -> struct(x AS a, path[i + 1] AS b))"))
        .as(Seq("i", "link")))
      .groupBy(col("link")).agg(sum(col("traffic")).as("load"))

  test("coflow and reroute fixtures in the reference schema: ingest, reroute invariant, link loads") {
    val topo = ReferenceIO.readCoflowJson(spark, TraceShapeSpec.SpineCoflow)
    assert(topo.count() === 200L)
    assert(topo.agg(max(col("traffic"))).head().getDouble(0) === 42710.0)
    val rer = readReroute(TraceShapeSpec.FattreeReroute)
    assert(rer.count() === 24L)
    assert(rer.agg(sum(col("traffic")), sum(col("origtraffic"))).head() === Row(588.0, 595.0))
    // rerouted traffic never exceeds the original demand
    assert(rer.filter(col("traffic") > col("origtraffic") + 1e-6).count() === 0L)
    // 24 five-hop paths cross 40 distinct directed links; hand-summed max load
    val links = linkLoads(rer)
    assert(links.count() === 40L)
    assert(links.agg(max(col("load"))).head().getDouble(0) === 134.0)
  }

  test("ingests the reference's COMMITTED artifacts, not just shaped fixtures") {
    // the real files the reference repo ships (read-only study of its
    // behavior): a topology coflow input and a CountMax reroute OUTPUT.
    // Their sizes and shapes belong to the reference's generator, so this
    // test needs the reference checkout's data directory, named by
    // REFERENCE_DATA_DIR; the fixture test above covers the same schema and
    // invariants on committed files.
    val dir = sys.env.get("REFERENCE_DATA_DIR")
    val topoPath = dir.fold("")(d => s"$d/Fattree_50000.json")
    val rerPath = dir.fold("")(d => s"$d/REROUTE_CountMax_k1000_Fattree_50000.json")
    assume(dir.isDefined && Files.exists(java.nio.file.Paths.get(topoPath)) &&
      Files.exists(java.nio.file.Paths.get(rerPath)),
      "REFERENCE_DATA_DIR does not hold the reference data files")
    val topo = ReferenceIO.readCoflowJson(spark, topoPath)
    assert(topo.count() === 50000L)
    assert(topo.agg(sum(col("traffic"))).head().getDouble(0) > 0.0)
    // reroute output invariant: rerouted traffic never exceeds the original
    // demand (the reference only ever sheds load off heavy links)
    val rer = readReroute(rerPath)
    assert(rer.filter(col("traffic") > col("origtraffic") + 1e-6).count() === 0L)
    val links = linkLoads(rer)
    val maxLoad = links.agg(max(col("load"))).head().getDouble(0)
    assert(links.count() > 100L && maxLoad > 0.0)
  }

  test("TSV metrics sink writes the PrintToTxt shape (IO5)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tsv").toString + "/metrics"
    val df = Seq(("CountMin", 0.982, 0.05), ("FSS", 0.954, 0.09))
      .toDF("sketch", "hit_rate", "rel_err")
    ReferenceIO.writeMetricsTsv(df, dir)
    val lines = spark.read.option("sep", "\t").option("header", "true").csv(dir)
    assert(lines.count() === 2L)
    assert(lines.columns.toSeq === Seq("sketch", "hit_rate", "rel_err"))
  }
}
