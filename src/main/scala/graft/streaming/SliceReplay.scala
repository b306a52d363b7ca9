package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.StructType

/**
 * The one runner of the nine streaming gate queries (q75 q78 q79 q82 q90
 * q93 q97 q105 q112): it stages a gate's arrivals, is the only source that
 * reads them, writes their parquet logs, drains their streams and records
 * each run.
 *
 * Arrival: a static gate table has no arrival order, so [[stage]] slices
 * it into time-RANGE-disjoint single-file parquet slices with strictly
 * increasing modification times — the file source then replays them
 * oldest-first, one micro-batch per file. Disjoint ordered slices mean no
 * event is ever late w.r.t. any non-negative watermark (every new file's
 * events exceed the prior maximum event time).
 *
 * Staging is ONE aggregate (tus bounds, skipped when the caller already
 * has them) plus ONE pass over the input: rows shuffle to one task per
 * slice id and `partitionBy` writes one file per slice — not a
 * filter-and-rewrite per slice. Hash partitioning on the slice id keeps
 * every slice inside a single task even if AQE coalesces, so each
 * partition directory holds exactly one part file to promote.
 *
 * Every gate's staging write and streaming run go through [[scoped]],
 * which routes `file:` paths to [[ForkFreeLocalFileSystem]] for that
 * span: without libhadoop, Hadoop's local file system forks `chmod` and
 * `readlink` for each file, directory and checkpoint-log commit.
 *
 * This staging exists only to synthesize arrival from a static table —
 * production points the identical readStream plans at the real landing
 * zone (files/Kafka), where arrival order is physical.
 */
private[graft] object SliceReplay {

  /** Micro-batches a gate replays its table in. */
  val Slices = 3

  /** Synthetic arrival epoch (2020-09-13) of the gates that derive event
    * times from ids (q79, q82): a doc_id-0 arrival at the REAL epoch sits
    * exactly on the state store's zero-initialized watermark and is
    * discarded as late before the dedup state ever sees it (observed:
    * 499/500 survivors at sf0.001) — every synthetic time sits far above
    * any initial-watermark artifact instead. */
  val BaseTus = 1600000000000000L

  /** Dedup horizon of q79 and q82, past their staged synthetic range (1 ms
    * per doc id ⇒ even a 10⁷-doc staged corpus spans under 3 h): the
    * survivor set is globally exact at gate scale. */
  val Horizon = "24 hours"

  /** State-store layout width of every stateful gate, sized to its
    * resident state (hundreds of rows), not to the batch engine's shuffle
    * width: every micro-batch pays one state-store commit per partition
    * per stateful operator, so an oversized layout is pure fixed cost
    * (interleaved A/B at sf0.1: 8 → 2 partitions cut the gate 12–29 % with
    * identical results). q97's one-row global aggregate keeps one store at
    * any width. Spark reads the width when a checkpoint is new. */
  private val StateWidth = "2"

  /** Per-gate staging root, REUSED across invocations (deleted and
    * recreated at entry): repeated gate/bench/decade cycles hold at most
    * one staged copy per query on disk instead of leaking a table copy
    * per sample. Callers consume the returned plan before the next
    * invocation (the gate's run-then-clearCache discipline). Test forking
    * is single-JVM/sequential, so the fixed path cannot race. */
  private def freshRoot(tag: String): String = {
    val base = sys.env.getOrElse("SPARK_GRAFT_STREAM_SCRATCH",
      System.getProperty("java.io.tmpdir"))
    val root = new File(base, s"graft-stream-gate/$tag")
    org.apache.commons.io.FileUtils.deleteQuietly(root)
    new File(root, "in").mkdirs()
    root.toString
  }

  /** Move the single parquet part file of `stageDir` to `dest` and stamp
    * `modMs` so the file source replays slices oldest-first; a stamp that
    * does not take fails, as it would replay slices out of order. No part
    * file (empty slice) is fine — the slice is just skipped. */
  private def promotePartFile(stageDir: String, dest: String, modMs: Long): Unit = {
    val parts = Option(new File(stageDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    require(parts.length <= 1, s"expected one part file in $stageDir")
    parts.foreach { p =>
      Files.move(p.toPath, Paths.get(dest), StandardCopyOption.REPLACE_EXISTING)
      if (!new File(dest).setLastModified(modMs))
        throw new java.io.IOException(s"could not set the modification time of $dest")
    }
  }

  /** A gate's staged arrivals: the files under `root/in`, their schema,
    * and the gate's `tag`, which names its root and its run record. */
  final case class Staged(spark: SparkSession, tag: String, root: String,
      schema: StructType) {
    private def in = s"$root/in"
    /** Checkpoint of the gate's first query. */
    def checkpoint: String = s"$root/ckpt"
    /** The arrivals as a stream: one slice per micro-batch, oldest first. */
    def source: DataFrame = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    /** The same files read as one batch table. */
    def table: DataFrame = spark.read.schema(schema).parquet(in)
  }

  /** Stage `df` (must carry a long `tus` event-time column) as `slices`
    * disjoint time-range files under a fresh root for `tag`; `last`, if
    * given, becomes the final slice (q75's watermark sentinel). Pass
    * `bounds` when the caller already aggregated (min tus, max tus) —
    * saves the extra scan. */
  def stage(spark: SparkSession, tag: String, df: DataFrame, slices: Int,
      last: Option[DataFrame] = None,
      bounds: Option[(Long, Long)] = None): Staged = {
    val root = freshRoot(tag)
    scoped(spark) {
      val (minTus, maxTus) = bounds.getOrElse {
        val r = df.agg(min(col("tus")), max(col("tus"))).head()
        (r.getLong(0), r.getLong(1))
      }
      val width = math.max(1L, (maxTus - minTus) / slices + 1)
      val baseMs = System.currentTimeMillis() - (slices + 2) * 4000L
      df.withColumn("__slice",
          floor((col("tus") - lit(minTus)) / lit(width)).cast("int"))
        .repartition(slices + 1, col("__slice"))
        .write.mode("overwrite").partitionBy("__slice").parquet(s"$root/stage")
      (0 until slices).foreach { i =>
        promotePartFile(s"$root/stage/__slice=$i", s"$root/in/slice_$i.parquet",
          baseMs + i * 4000L)
      }
      last.foreach { extra =>
        extra.coalesce(1).write.mode("overwrite").parquet(s"$root/stage_last")
        promotePartFile(s"$root/stage_last", s"$root/in/slice_last.parquet",
          baseMs + (slices + 1) * 4000L)
      }
    }
    Staged(spark, tag, root, df.schema)
  }

  /** A parquet table at `dir` that each micro-batch of `stream` is written
    * to through `foreachBatch`: appended (an append-mode log), or, when
    * `complete`, replaced by complete mode's re-emission (q79's census).
    * It reads back with the stream's own schema, so no inference job runs. */
  final case class ParquetLog(stream: DataFrame, dir: String,
      complete: Boolean = false) {
    def sink: DataStreamWriter[Row] = stream.writeStream
      .outputMode(if (complete) "complete" else "append")
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.write.mode(if (complete) "overwrite" else "append").parquet(dir)
      }
    def read: DataFrame = stream.sparkSession.read.schema(stream.schema).parquet(dir)
  }

  /** Hadoop keys that route `file:` paths to the fork-free local file
    * system, for the `FileSystem` API and the `FileContext` API. The
    * `FileSystem` cache ignores `fs.file.impl` once "file" is cached, so
    * the cache is bypassed for the scope. */
  private val ForkFreeLocalIo = Seq(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true",
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  /** Runs `body` with [[ForkFreeLocalIo]] set in the session conf and, when
    * `stateful`, `spark.sql.shuffle.partitions` set to [[StateWidth]];
    * every key is restored on every exit path. The scope must span start,
    * drain and stop: Spark builds a file source's log on the stream thread
    * after `start()` returns, from the session conf of that moment. */
  def scoped[T](spark: SparkSession, stateful: Boolean = false)(body: => T): T = {
    val keys = ForkFreeLocalIo ++
      (if (stateful) Seq("spark.sql.shuffle.partitions" -> StateWidth) else Nil)
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** (data micro-batches, state rows updated, peak resident state rows,
    * state-store instances per stateful operator) — spec-visible evidence
    * a gate run was genuinely incremental and stateful; `stateRowsMax` is
    * the watermark-eviction witness (peak `numRowsTotal` across
    * micro-batches — bounded by the horizon, not the stream, when eviction
    * works) and `stateStores` the state layout. */
  final case class RunStats(batches: Int, stateRows: Long, stateRowsMax: Long,
      stateStores: Seq[Long])

  private def runStats(progress: Array[StreamingQueryProgress]): RunStats =
    RunStats(progress.count(_.numInputRows > 0),
      progress.flatMap(_.stateOperators.map(_.numRowsUpdated)).sum,
      progress.map(_.stateOperators.map(_.numRowsTotal).sum).foldLeft(0L)(math.max),
      progress.find(_.stateOperators.nonEmpty).toSeq
        .flatMap(_.stateOperators.map(_.numStateStoreInstances)))

  /** The run record: each gate tag's last run, one [[RunStats]] per query. */
  private val runs = new ConcurrentHashMap[String, Seq[RunStats]]

  /** Query `query` of the last run of the gate staged as `tag`. */
  private[graft] def lastRun(tag: String, query: Int = 0): RunStats =
    Option(runs.get(tag)).getOrElse(sys.error(s"no run of $tag recorded"))(query)

  /** Runs a gate's streams inside [[scoped]] (at [[StateWidth]] when
    * `stateful`): starts one query per sink, the first checkpointed at
    * `staged.checkpoint` and the i-th at `checkpoint<i>`, drains them all
    * to completion, stops them on every exit path, and records their
    * [[RunStats]] under `staged.tag`. Every query starts before the first
    * is drained, so several sinks (q79's two faces) run concurrently and
    * their micro-batch fixed costs overlap. */
  def drain(staged: Staged, stateful: Boolean)(
      sinks: DataStreamWriter[Row]*): Unit =
    scoped(staged.spark, stateful) {
      val queries = mutable.ArrayBuffer.empty[StreamingQuery]
      try {
        for ((sink, i) <- sinks.zipWithIndex) queries += sink
          .option("checkpointLocation", staged.checkpoint + (if (i == 0) "" else i))
          .start()
        queries.foreach(_.processAllAvailable())
        runs.put(staged.tag, queries.map(q => runStats(q.recentProgress)).toSeq)
      } finally queries.foreach(_.stop())
    }
}
