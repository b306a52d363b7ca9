package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Runs one workload and writes everything it measured to a JSON record;
  * `run.py` turns the record into the benchmark's metrics.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --data <gate sf dir> --expected <gate results tsv>
  *             --out <record.json>
  *        Main --record-expected <tsv> --data <gate sf dir>
  *
  * Every workload is a closed loop: one driver thread, one operation in
  * flight. The measurement repeats whole passes over the workload's
  * operations, in a seeded order per pass, until `--seconds` have passed
  * (at least `MinPasses`). With `--trace 1`, plain and traced passes
  * alternate, so the traced run also yields the tracing overhead. */
object Main {

  /** Three samples per operation at least, so that one slow pass, as a
    * burst of host contention makes, is not half of a median. */
  val MinPasses = 3
  val SetupReps = 3

  def session(cores: Int): SparkSession = {
    val work = sys.props.getOrElse("perfbench.work", "target/perfbench")
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Progress line on standard error, for the run log. */
  def log(msg: String): Unit = System.err.println(s"perfbench ${java.time.LocalTime.now()} $msg")

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    if (a.contains("record-expected")) { recordExpected(a("data"), a("record-expected")); return }
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = sys.props.getOrElse("perfbench.work", "target/perfbench")
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = session(cores)
    // the JVM's first Spark job pays one-off class loading and codegen
    // set-up; it belongs to the session start, not to the workload set-up
    spark.range(1000).selectExpr("sum(id)").head()
    val jvmStartToSession =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val rec = new Recorder(spark)
    val ls = new Listeners(rec)
    ls.register()
    rec.info("spark") = spark.version
    rec.info("jdk") = System.getProperty("java.version")
    rec.values("run.session_start_s") = jvmStartToSession

    val wl: Workload = workload match {
      case "build_ungrouped" => new Ungrouped(spark, seed, cores)
      case "gate" =>
        new GateWorkload(spark, seed, a("data"), GateWorkload.load(a("expected")))
      case other => sys.error(s"unknown workload $other")
    }

    log(s"session ready, $workload set-up")
    // set-up, several times; the last one's inputs stay for the passes
    val setupKinds = Seq.fill(SetupReps)(false) ++ (if (trace) Seq(true, true) else Nil)
    for (traced <- setupKinds) {
      rec.tracing = traced
      val (_, s) = Recorder.time(rec.span("graft.data", "setup")(wl.setup()))
      rec.sample((if (traced) "traced" else "plain") + "/setup", s)
      rec.tracing = false
    }

    val ops = wl.ops
    def runOp(op: Op): Option[Double] = {
      rec.attempted += 1
      val r = try Some(Recorder.time(rec.span(op.layer, op.name)(op.run()))._2)
      catch {
        case e: Throwable =>
          rec.failed += 1
          rec.failures += s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
      wl.teardown()
      r
    }

    log("warm pass")
    // one untimed warm pass; its physical plans feed the plan guard
    val (plans, warmS) = Recorder.time(
      ops.map(op => op.name -> ls.capturePlans(runOp(op))._2).toMap)
    rec.values("run.warm_s") = warmS

    log("measured passes")
    // the measured passes
    System.gc()
    ls.drain()
    ls.counters.reset()
    val heap = ManagementFactory.getMemoryMXBean
    var heapPeak = 0L
    val rng = new scala.util.Random(seed)
    val passes = mutable.Map("plain" -> 0, "traced" -> 0)
    var tracedWallMs = 0.0
    var tracedGcMs = 0L
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    // a traced run only needs one pass of each kind for its layer metrics
    val minPasses = if (trace) 1 else MinPasses
    while (elapsed < seconds || passes("plain") < minPasses ||
        trace && passes("traced") < minPasses) {
      val traced = trace && i % 2 == 1
      val kind = if (traced) "traced" else "plain"
      rec.tracing = traced
      val gc0 = ls.gcMs()
      val (_, wall) = Recorder.time(rec.span("run", s"pass $i") {
        for (op <- rng.shuffle(ops)) runOp(op).foreach(s => rec.sample(s"$kind/${op.name}", s))
      })
      if (traced) { tracedWallMs += wall * 1e3; tracedGcMs += ls.gcMs() - gc0 }
      rec.tracing = false
      passes(kind) += 1
      i += 1
      // heap still in use after a full collection at the end of the pass;
      // collecting here also gives every pass the same clean heap
      System.gc()
      heapPeak = math.max(heapPeak, heap.getHeapMemoryUsage.getUsed)
    }
    ls.drain()
    rec.values("jvm.heap_peak_mb") = heapPeak / 1e6
    rec.values("run.passes") = passes("plain")
    if (trace) {
      val c = ls.counters
      val n = passes("traced").toDouble
      c.synchronized {
        rec.values ++= Seq(
          "spark.jobs" -> c.jobs / n, "spark.stages" -> c.stages / n,
          "spark.tasks" -> c.tasks / n, "spark.task_wait_ms" -> c.taskWaitMs / n,
          "spark.busy_ratio" -> c.taskRunMs / (tracedWallMs * cores),
          "spark.shuffle_write_mb" -> c.shuffleWriteBytes / 1e6 / n,
          "spark.shuffle_read_mb" -> c.shuffleReadBytes / 1e6 / n,
          "spark.spill_mb" -> c.spillBytes / 1e6 / n,
          "spark.gc_ms" -> tracedGcMs / n,
          "stream.batches" -> c.batches / n, "stream.trigger_ms" -> c.triggerMs / n,
          "stream.addbatch_ms" -> c.addBatchMs / n, "stream.commit_ms" -> c.commitMs / n,
          "run.traced_passes" -> n)
      }
    }

    rec.values("run.measure_s") = elapsed
    log("checks")
    rec.values("run.checks_s") = Recorder.time(wl.checks(rec, plans))._2

    if (trace) {
      val probe = new LayerProbe(spark, rec, ls, seed, cores, work)
      rec.values("run.probe_s") = Recorder.time {
        log("layer probe: sketch")
        probe.sketchLayer()
        log("layer probe: agg")
        probe.aggLayer()
      }._2
    }

    log("writing record")
    writeRecord(a("out"), wl, ops, rec)
    spark.stop()
  }

  private def writeRecord(path: String, wl: Workload, ops: Seq[Op], rec: Recorder): Unit = {
    val record = Map(
      "workload" -> wl.name,
      "ops" -> ops.map(o => Map("name" -> o.name, "kernel" -> o.kernel, "group" -> o.group,
        "layer" -> o.layer, "rows" -> o.rows, "anchor" -> o.anchor)),
      "samples" -> rec.samples,
      "values" -> rec.values,
      "info" -> rec.info,
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "failures" -> rec.failures,
      "spans" -> rec.spans.map(s => Seq(s.id, s.parent, s.layer, s.name, s.start, s.end)))
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(path), record)
  }

  /** Runs every gate query of the workload twice and writes its row count,
    * fingerprint and the library operators its executed plans hold: the
    * reference the `gate` checks compare against. A fingerprint that
    * differs between the two runs is an error, not something to record,
    * and so is a sketch or streaming query whose plan holds no library
    * operator. */
  def recordExpected(dataDir: String, path: String): Unit = {
    val spark = session(Runtime.getRuntime.availableProcessors())
    val rec = new Recorder(spark)
    val ls = new Listeners(rec)
    ls.register()
    val byId = Gate.all.map { case (n, f) => Gate.id(n) -> (n, f) }.toMap
    val lines = GateWorkload.Queries.map { q =>
      val (name, fn) = byId(q.id)
      val runs = (1 to 2).map { _ =>
        val r = ls.capturePlans(Gate.materialize(fn(spark, dataDir)))
        spark.catalog.clearCache()
        r
      }
      require(runs(0)._1 == runs(1)._1, s"$name: result fingerprint is not stable")
      val ops = if (q.group == "anchor") Nil else Gate.operators(runs(0)._2)
      require(q.group == "anchor" || ops.nonEmpty,
        s"$name: no library operator in its plans:\n${runs(0)._2.mkString("\n")}")
      s"${q.id}\t${runs(0)._1.rows}\t${runs(0)._1.hash}\t${if (ops.isEmpty) "-" else ops.mkString(",")}"
    }
    val pw = new PrintWriter(new File(path), "UTF-8")
    try {
      pw.println("# query\trows\tfingerprint\tlibrary operators its executed plans hold")
      lines.foreach(pw.println)
    } finally pw.close()
    spark.stop()
  }
}
