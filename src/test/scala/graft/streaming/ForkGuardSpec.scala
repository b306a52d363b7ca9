package graft.streaming

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.{RecordedEvent, RecordingStream}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import graft.SparkTestBase
import graft.agg.Decoder
import graft.agg.SketchFunctions._

object ForkGuardSpec {
  /** Committed after the guarded block: once the stream delivers it, every
    * process start before it has been delivered too. */
  final class EndMark extends jdk.jfr.Event
}

/**
 * No streaming gate starts a Hadoop shell command. Without libhadoop,
 * Hadoop's local file system forks `chmod` for each permission it sets and
 * `readlink` for each link-status lookup; the gates' staging and checkpoint
 * I/O goes through [[ForkFreeLocalFileSystem]] instead. Process starts
 * are taken from JFR's `jdk.ProcessStart` events with their stacks; a
 * start with no Hadoop `Shell` or `RawLocalFileSystem` frame (Spark's own
 * `rm` cleanup, say) is not the file system's.
 */
class ForkGuardSpec extends SparkTestBase {
  import ForkGuardSpec.EndMark

  private val StreamingGates = Seq("q75_stream_sessions", "q78_stream_topk",
    "q79_stream_dedup", "q82_stream_incr_dedup", "q90_stream_kll",
    "q93_stream_join", "q97_stream_sample", "q105_stream_hll", "q112_stream_bloom")

  /** (command line, stack frames) of every process started while `f` runs. */
  private def processStarts(f: => Unit): Seq[(String, Seq[String])] = {
    val starts = new ConcurrentLinkedQueue[(String, Seq[String])]
    val ended = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.enable(classOf[EndMark])
      rs.onEvent("jdk.ProcessStart", (e: RecordedEvent) => starts.add(
        e.getString("command") -> Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(fr => s"${fr.getMethod.getType.getName}.${fr.getMethod.getName}")))
      rs.onEvent(classOf[EndMark].getName, (_: RecordedEvent) => ended.countDown())
      rs.startAsync()
      f
      new EndMark().commit()
      assert(ended.await(60, TimeUnit.SECONDS), "JFR never delivered the end mark")
    } finally rs.close()
    starts.asScala.toSeq
  }

  private def isHadoopShell(frames: Seq[String]): Boolean =
    frames.exists(fr => fr.startsWith("org.apache.hadoop.util.Shell") ||
      fr.contains("RawLocalFileSystem"))

  private def fsKeys: Map[String, String] =
    spark.conf.getAll.filter(_._1.startsWith("fs."))

  test("no streaming gate forks a Hadoop shell command, and the fs keys are restored") {
    spark.range(1).count() // session and Hadoop start-up forks happen before
    val before = fsKeys
    val starts = processStarts {
      for (q <- StreamingGates) {
        graft.SparkEntry.queries(q)(spark, sf("sf0.001")).collect()
        spark.catalog.clearCache()
      }
    }
    val hadoop = starts.filter { case (_, frames) => isHadoopShell(frames) }
    assert(hadoop.size === 0, "Hadoop shell commands started, e.g.:\n" +
      hadoop.take(3).map { case (cmd, frames) => (cmd +: frames.take(12)).mkString("\n  ") }
        .mkString("\n"))
    assert(fsKeys === before)
  }

  test("a streaming run that throws restores the session's fs keys") {
    val before = fsKeys
    import spark.implicits._
    val staged = SliceReplay.stage(spark, "forkguard",
      Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "tus"), 3)
    // the build fails inside the first micro-batch
    intercept[StreamingQueryException] {
      StreamSketch.foldStream(staged, Decoder.Hll,
        hll_sketch(raise_error(lit("boom")).cast("string")))
    }
    assert(fsKeys === before)
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    intercept[IllegalStateException] {
      SliceReplay.scoped(spark, stateful = true)(throw new IllegalStateException("boom"))
    }
    assert(fsKeys === before)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === partitions)
  }
}
