package perfbench

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The gate's result fingerprint must depend on the result's values and on
  * nothing else: not on row order, not on partitioning, not on the run. */
class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Main.session(2)

  override def afterAll(): Unit = spark.stop()

  private def frame(n: Int, parts: Int) = spark.range(0, n, 1, parts).select(
    col("id"), (col("id") * 0.5).as("x"), concat(lit("k"), col("id")).as("key"),
    map(lit("a"), col("id")).as("m"), array(col("id"), col("id") + 1).as("arr"))

  test("fingerprint ignores row order and partitioning") {
    val a = Gate.materialize(frame(1000, 1))
    val b = Gate.materialize(frame(1000, 7).orderBy(desc("id")))
    val c = Gate.materialize(frame(1000, 3).repartition(5))
    assert(a == b && b == c)
    assert(a.rows == 1000)
  }

  test("fingerprint is stable across runs") {
    assert(Gate.materialize(frame(500, 4)) == Gate.materialize(frame(500, 4)))
  }

  test("fingerprint changes when one value changes") {
    val a = Gate.materialize(frame(1000, 2))
    val b = Gate.materialize(frame(1000, 2)
      .withColumn("x", when(col("id") === 500, lit(-1.0)).otherwise(col("x"))))
    assert(a.rows == b.rows && a.hash != b.hash)
  }

  test("bound flags are read, not fingerprinted") {
    val ok = frame(10, 1).withColumn("est_within_bound", lit(true))
      .withColumn("rank_ok", lit(1L))
    assert(Gate.materialize(ok).flagsOk.contains(true))
    val bad = ok.withColumn("rank_ok", when(col("id") === 3, lit(0L)).otherwise(lit(1L)))
    assert(Gate.materialize(bad).flagsOk.contains(false))
    assert(Gate.materialize(frame(10, 1)).flagsOk.isEmpty)
  }

  test("plan guard names the sketch aggregate and misses it once pruned") {
    import graft.agg.SketchFunctions._
    val rec = new Recorder(spark)
    val ls = new Listeners(rec)
    ls.register()
    val sketched = frame(1000, 2).agg(hll_sketch(col("key")).as("sk"))
    val (_, plans) = ls.capturePlans(Gate.materialize(sketched))
    assert(Gate.operators(plans) == Seq("hllaggregator"))
    // what count() makes of it: Catalyst drops the unused sketch
    val (_, pruned) = ls.capturePlans(sketched.count())
    assert(Gate.operators(pruned).isEmpty)
  }

  test("an unrelated UDF or a column named after an operator is no sketch") {
    val rec = new Recorder(spark)
    val ls = new Listeners(rec)
    ls.register()
    val plus1 = udf((x: Long) => x + 1)
    val other = frame(100, 2).select(plus1(col("id")).as("hllaggregator"), col("key").as("sketch"))
      .agg(max("hllaggregator"), max("sketch"))
    val (_, plans) = ls.capturePlans(Gate.materialize(other))
    assert(plans.nonEmpty && Gate.operators(plans).isEmpty)
  }
}
