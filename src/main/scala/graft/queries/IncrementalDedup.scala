package graft.queries

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.agg.SketchFunctions._

/**
 * q80: INCREMENTAL corpus-delta deduplication — the real production
 * pipeline shape (every curation run is incremental): a new snapshot
 * (delta) arrives and must be deduplicated against the EXISTING corpus
 * (base) without rescanning the base's text.
 *
 * Two-phase design (the q59 bloom-prefilter/exact-verify shape in its
 * incremental role):
 *   - [[prepareBase]] (one-time, amortized across every future delta):
 *     build the base's content-hash Bloom filter (a broadcastable KB–MB
 *     object; the checkpointed-sketch discipline of
 *     [[graft.data.SketchCheckpoint]] — at 100 TB the bloom is maintained
 *     incrementally by OR-merging each admitted delta's shard, never
 *     rebuilt) plus a hash-only parquet index directory-partitioned by the
 *     leading hex nibble of the hash (16 buckets).
 *   - [[dedupDelta]] (per delta, cost ∝ |delta|): probe every delta hash
 *     against the Bloom, read as a scalar subquery — negatives are DEFINITELY new (no
 *     false negatives) and short-circuit out; the fpp-bounded positive
 *     residue is exact-verified against ONLY the index buckets that
 *     contain a candidate (partition pruning over the directory layout —
 *     the bounded driver collect is the ≤16 touched bucket ids, metadata
 *     not data). The base's TEXT is never read; the base's hash index is
 *     read only in touched buckets.
 *
 * The gate plants cross-snapshot duplicates (every 50th base doc re-ids
 * into the delta — the q41/q59/q67 in-gate fixture discipline; the
 * synthetic corpus carries almost no organic cross-snapshot exact dups,
 * 0 at sf≤0.01 and 2 at sf0.1, and the oracle counts whatever exists) and
 * emits a FULL value oracle over base ∪ delta plus the
 * audit-twin verdict: the pruned-index path's confirmed set must equal the
 * unpruned full-join's set (parity_ok — Bloom has no false negatives and
 * pruning by the candidates' own buckets cannot lose a candidate, so the
 * incremental path is EXACT, not approximate).
 */
object IncrementalDedup {

  /** The snapshot split: the newest source block plays the arriving delta. */
  private[graft] val DeltaSource = "src19"

  /** Every 50th base doc is re-planted into the delta as a cross-snapshot
    * duplicate (new doc identity, same content). The offset sits far above
    * any plausible corpus id (10¹² — a 5×10⁶ offset would collide planted
    * ids with raw ids on a ≥5M-doc corpus and corrupt the census). */
  private[graft] val PlantEvery = 50
  private[graft] val PlantIdOffset = 1000000000000L

  /** Hash-index directory partitions: leading hex nibble → 16 buckets.
    * Production sizes this up (e.g. 2 hex chars → 256) so bucket files stay
    * within a scan task; the pruning mechanism is identical. */
  private def bucketOf(h: Column): Column =
    conv(substring(h, 1, 1), 16, 10).cast("int")

  private def freshWorkDir(tag: String): String = {
    val root = new File(System.getProperty("java.io.tmpdir"),
      s"graft-incr-dedup/$tag")
    org.apache.commons.io.FileUtils.deleteQuietly(root)
    root.mkdirs()
    root.toString
  }

  /** One-time base preparation: content-hash Bloom + bucketed hash index
    * (+ the Bloom's sizing as a meta row so [[commitDelta]] can build
    * merge-compatible delta filters). fpp 1e-3 keeps the exact-verify
    * residue at ~0.1% of non-duplicate delta rows. `headroom` oversizes
    * the filter for future commits (the filter's fpp contract holds until
    * itemsAdded reaches expected). */
  def prepareBase(spark: SparkSession, base: DataFrame, dir: String,
      headroom: Double = 4.0): Unit = {
    val spark2 = spark
    import spark2.implicits._
    // persisted: three consumers (count, bloom agg, index write) — uncached
    // each would re-scan the base TEXT and re-hash; the cached frame is the
    // 32-byte hash column only, never the text
    val hashes = base.select(sha2(col("text"), 256).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val expected =
        math.max(1024L, (hashes.count() * math.max(1.0, headroom)).toLong)
      val fpp = 1e-3
      Seq((expected, fpp)).toDF("expected", "fpp")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
      hashes.agg(bloom_sketch(col("h"), expected, fpp).as("sk"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/bloom")
      hashes.withColumn("b", bucketOf(col("h")))
        .write.mode("overwrite").partitionBy("b").parquet(s"$dir/index")
    } finally hashes.unpersist()
  }

  /** Admit an accepted delta into the base artifacts WITHOUT rebuilding —
    * the write half of the incremental cycle (dedupDelta → filter →
    * commitDelta → next snapshot sees this one's content): the delta's
    * hashes build their own Bloom at the STORED sizing (same
    * (expected, fpp) ⇒ same m/k/seed ⇒ the bitwise-OR merge is exact for
    * membership), the two filters OR together on the driver (KB–MB), and
    * the delta's hashes APPEND to the bucketed index (existing bucket
    * directories gain part files; nothing rewrites). Cost: one |delta|
    * map pass — never a base rescan.
    *
    * Returns the merged filter's expected FPP at its new fill: the Bloom's
    * contract degrades as commits consume the prepareBase headroom, and
    * the caller re-shards past its budget (the production discipline is
    * one filter shard per committed snapshot with probe-all-shards —
    * [[graft.data.SketchCheckpoint.mergeShards]]'s role; at gate scale
    * one headroom-sized filter suffices and the returned fpp proves it). */
  def commitDelta(spark: SparkSession, accepted: DataFrame, dir: String)
      : Double = {
    val spark2 = spark
    import spark2.implicits._
    val meta = spark.read.parquet(s"$dir/meta").head()
    val expected = meta.getAs[Long]("expected")
    val fpp = meta.getAs[Double]("fpp")
    val hashes = accepted.select(sha2(col("text"), 256).as("h"))
    val deltaBytes = hashes
      .agg(bloom_sketch(col("h"), expected, fpp).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val stored = graft.sketch.BloomFilter.deserialize(
      spark.read.parquet(s"$dir/bloom").head().getAs[Array[Byte]](0))
    val merged = stored.merge(graft.sketch.BloomFilter.deserialize(deltaBytes))
    Seq(merged.serialize()).toDF("sk")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/bloom")
    hashes.withColumn("b", bucketOf(col("h")))
      .write.mode("append").partitionBy("b").parquet(s"$dir/index")
    merged.expectedFpp
  }

  /** The per-delta pass: (delta with doc_id/text) → (doc_id, h, is_dup).
    * Reads the Bloom (one row) and ONLY the index buckets containing a
    * bloom-positive candidate. */
  def dedupDelta(spark: SparkSession, delta: DataFrame, dir: String)
      : DataFrame = {
    val bloom = spark.read.parquet(s"$dir/bloom").scalar()
    val hashed = delta.select(col("doc_id"), sha2(col("text"), 256).as("h"))
    // fpp-bounded residue: |true dups| + fpp·|new docs|
    val candidates = hashed.filter(bloom_contains(bloom, col("h")))
    // touched buckets: bounded METADATA collect (≤16 ids), the partition-
    // pruning predicate for the index read
    val buckets = candidates.select(bucketOf(col("h")).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val confirmed =
      if (buckets.isEmpty) candidates.select(col("doc_id")).limit(0)
      else {
        val idx = spark.read.parquet(s"$dir/index")
          .filter(col("b").isin(buckets: _*)) // directory pruning
          .select(col("h")).distinct()
        // candidate side is the small one (fpp-bounded) — AQE broadcasts it
        candidates.join(idx, Seq("h"), "left_semi").select(col("doc_id"))
      }
    hashed.join(confirmed.withColumn("is_dup", lit(true)),
      Seq("doc_id"), "left")
      .select(col("doc_id"), col("h"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
  }

  /** The delta snapshot the gate dedups: the newest source block plus the
    * planted cross-snapshot duplicates. */
  private[graft] def gateDelta(docs: DataFrame): DataFrame = {
    val base = docs.filter(col("source") =!= DeltaSource)
    docs.filter(col("source") === DeltaSource)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .unionAll(base.filter(col("doc_id") % PlantEvery === 0)
        .select((col("doc_id").cast("long") + PlantIdOffset).as("doc_id"),
          col("text")))
  }

  /** q80: the incremental-dedup census — n_delta / confirmed_dups /
    * new_docs (full value oracle re-derives all three from base ∪ delta)
    * plus the pruned-vs-full parity verdict. */
  def incrementalDedupGate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val base = docs.filter(col("source") =!= DeltaSource)
    val delta = gateDelta(docs)
    val dir = freshWorkDir("gate")
    prepareBase(spark, base, dir)
    val flagged = dedupDelta(spark, delta, dir)
    val confirmedIds = flagged.filter(col("is_dup")).select(col("doc_id"))
    // audit twin: the unpruned full join (delta hashes × ALL base hashes) —
    // gate-scale only; the production path is the pruned one above
    val fullIds = delta.select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .join(base.select(sha2(col("text"), 256).as("h")).distinct(),
        Seq("h"), "left_semi")
      .select(col("doc_id"))
    val mismatches = confirmedIds.exceptAll(fullIds)
      .unionAll(fullIds.exceptAll(confirmedIds))
      .agg(count(lit(1)).as("mismatches"))
    delta.agg(count(lit(1)).as("n_delta"))
      .crossJoin(confirmedIds.agg(count(lit(1)).as("confirmed_dups")))
      .crossJoin(fullIds.agg(count(lit(1)).as("full_confirmed")))
      .crossJoin(mismatches)
      .select(col("n_delta"), col("confirmed_dups"),
        (col("n_delta") - col("confirmed_dups")).as("new_docs"),
        (col("full_confirmed") === col("confirmed_dups") &&
          col("mismatches") === 0L).cast("long").as("parity_ok"))
  }
}
