package graft.queries

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.SparkTestBase

/** `Tables` opens a single-file table with the schema of its parquet
  * footer: the schema must be the one `spark.read.parquet` infers, and
  * building the frame must start no Spark job. */
class TablesSpec extends SparkTestBase {

  private val dirs = Seq(sf("sf0.001"), sf("sf0.01"), sf("sf0.1"),
    new File("perfbench/data/sf0.001").getAbsolutePath)

  /** The Spark jobs `f` starts. */
  private def jobs(f: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    val sc = spark.sparkContext
    TestListenerBus.drain(sc)
    sc.addSparkListener(l)
    try { f; TestListenerBus.drain(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  test("every test table's footer schema equals the inferred schema") {
    var tables = 0
    for (dir <- dirs; f <- new File(dir).listFiles().sortBy(_.getName)
        if f.isFile && f.getName.endsWith(".parquet")) {
      val name = f.getName.stripSuffix(".parquet")
      assert(Tables(spark, dir, name).schema === spark.read.parquet(f.getPath).schema,
        s"$dir/$name")
      tables += 1
    }
    assert(tables >= 34, s"only $tables tables found")
  }

  test("building a table frame starts no Spark job") {
    val dir = sf("sf0.001")
    assert(jobs(Tables.events(spark, dir)) === 0)
    // the inference it replaces does start one, so the counter counts
    assert(jobs(spark.read.parquet(s"$dir/events.parquet")) >= 1)
  }

  test("a Spark-written directory still reads through inference; a missing table fails as before") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    val df = spark.range(5).selectExpr("id", "cast(id AS string) AS s")
    df.write.parquet(s"$dir/t.parquet")
    val t = Tables(spark, dir, "t")
    assert(t.schema === spark.read.parquet(s"$dir/t.parquet").schema)
    assert(t.orderBy("id").collect().toSeq === df.collect().toSeq)
    val e = intercept[org.apache.spark.sql.AnalysisException](Tables(spark, dir, "absent"))
    assert(e.getCondition === "PATH_NOT_FOUND", e.getMessage)
  }
}
