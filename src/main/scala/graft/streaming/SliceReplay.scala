package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/**
 * Deterministic arrival synthesis for the streaming gate queries (q75/q78):
 * a static gate table has no arrival order, so the gate slices it into
 * time-RANGE-disjoint single-file parquet slices with strictly increasing
 * modification times — the file source then replays them oldest-first, one
 * micro-batch per file. Disjoint ordered slices mean no event is ever late
 * w.r.t. any non-negative watermark (every new file's events exceed the
 * prior maximum event time).
 *
 * Staging is ONE aggregate (tus bounds, skipped when the caller already
 * has them) plus ONE pass over the input: rows shuffle to one task per
 * slice id and `partitionBy` writes one file per slice — not a
 * filter-and-rewrite per slice. Hash partitioning on the slice id keeps
 * every slice inside a single task even if AQE coalesces, so each
 * partition directory holds exactly one part file to promote.
 *
 * This staging exists only to synthesize arrival from a static table —
 * production points the identical readStream plans at the real landing
 * zone (files/Kafka), where arrival order is physical.
 */
private[graft] object SliceReplay {

  /** Per-gate staging root, REUSED across invocations (deleted and
    * recreated at entry): repeated gate/bench/decade cycles hold at most
    * one staged copy per query on disk instead of leaking a table copy
    * per sample. Callers consume the returned plan before the next
    * invocation (the gate's run-then-clearCache discipline). Test forking
    * is single-JVM/sequential, so the fixed path cannot race. */
  def freshRoot(tag: String): String = {
    val base = sys.props.getOrElse("graft.stream.scratch",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_SCRATCH",
        System.getProperty("java.io.tmpdir")))
    val root = new File(base, s"graft-stream-gate/$tag")
    org.apache.commons.io.FileUtils.deleteQuietly(root)
    new File(root, "in").mkdirs()
    root.toString
  }

  /** Move the single parquet part file of `stageDir` to `dest` and stamp
    * `modMs` so the file source replays slices oldest-first. No part file
    * (empty slice) is fine — the slice is just skipped. */
  private def promotePartFile(stageDir: String, dest: String, modMs: Long): Unit = {
    val parts = Option(new File(stageDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    require(parts.length <= 1, s"expected one part file in $stageDir")
    parts.foreach { p =>
      Files.move(p.toPath, Paths.get(dest), StandardCopyOption.REPLACE_EXISTING)
      new File(dest).setLastModified(modMs)
    }
  }

  /** Stage `df` (must carry a long `tus` event-time column) as `slices`
    * disjoint time-range files under `root/in`; `last`, if given, becomes
    * the final slice (q75's watermark sentinel). Pass `bounds` when the
    * caller already aggregated (min tus, max tus) — saves the extra scan.
    * Returns the staged schema for the readStream contract. */
  def stage(spark: SparkSession, df: DataFrame, slices: Int, root: String,
      last: Option[DataFrame] = None,
      bounds: Option[(Long, Long)] = None): StructType = {
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
    df.schema
  }

  /** Start streaming queries with `spark.sql.shuffle.partitions` set to
    * `statePartitions` for the duration of the plan's materialization:
    * stateful operators inherit the setting at query start and every
    * micro-batch pays a per-partition state commit, so the gates size the
    * state layout to their key cardinality instead of the batch engine's
    * 32 — the same independent-sizing knob a 100 TB run turns UP (state
    * partitions ≈ executor cores, not batch shuffle width). Generic in the
    * block's result so a gate can start SEVERAL queries under one sizing
    * scope (q79 starts both its faces here and drains them concurrently). */
  def startSized[T](spark: SparkSession, statePartitions: String)(
      start: => T): T = {
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", statePartitions)
    try start finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  /** Sink for COMPLETE-mode aggregates whose re-emission is bounded by
    * construction (one sketch-sized row, or the k-row top set): each
    * micro-batch's emission is captured via a bounded driver collect, and
    * the LAST emission
    * (complete mode's final merged state) is handed back as a local
    * one-partition frame. Replaces the per-micro-batch parquet OVERWRITE +
    * read-back sink, whose commit jobs were pure fixed cost: one write job
    * per batch plus a read job, ~0.4–0.6 s of every complete-mode gate
    * query's wall time at any scale (the emission is state-sized, never
    * data-sized, so the capture stays bounded on a 100 TB stream too).
    * Append-mode logs (q75/q93) keep their distributed parquet sinks —
    * those are row-scaled. */
  final class CompleteCapture {
    @volatile private var last: (Array[org.apache.spark.sql.Row], StructType) =
      (Array.empty, null)
    /** foreachBatch body: bounded collect of the re-emitted aggregate. */
    def sink(df: DataFrame, batchId: Long): Unit =
      last = (df.collect(), df.schema)
    /** The captured final emission as a one-partition local frame. */
    def result(spark: SparkSession): DataFrame = {
      val (rows, schema) = last
      require(schema != null, "complete-mode stream emitted no batch")
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
    }
    /** The captured final emission's single row (one-row aggregates). */
    def headRow: org.apache.spark.sql.Row = {
      val (rows, schema) = last
      require(schema != null && rows.nonEmpty,
        "complete-mode stream emitted no batch")
      rows(0)
    }
  }

  /** (data micro-batches, state rows updated, peak resident state rows) —
    * spec-visible evidence a gate run was genuinely incremental and
    * stateful; `stateRowsMax` is the watermark-eviction witness (peak
    * `numRowsTotal` across micro-batches — bounded by the horizon, not
    * the stream, when eviction works). */
  final case class RunStats(batches: Int, stateRows: Long, stateRowsMax: Long)

  /** Drain the stream, capture progress evidence, stop. */
  def runToCompletion(q: StreamingQuery): RunStats =
    try {
      q.processAllAvailable()
      val progress = q.recentProgress
      RunStats(progress.count(_.numInputRows > 0),
        progress.flatMap(_.stateOperators.map(_.numRowsUpdated)).sum,
        progress.map(_.stateOperators.map(_.numRowsTotal).sum)
          .foldLeft(0L)(math.max))
    } finally { q.stop() }
}
