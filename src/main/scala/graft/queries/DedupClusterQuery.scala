package graft.queries

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * q37: duplicate-cluster assignment — the step after near-dup pair detection
 * in a training-data pipeline ("keep one doc per duplicate cluster").
 * Connected components over the near-dup pair graph via iterative min-label
 * propagation: each round, every node takes the min label among itself and
 * its neighbors; converges in O(component diameter) rounds (components here
 * are tiny; at corpus scale this is the standard large-graph CC loop, one
 * shuffle per round, label state O(nodes-in-pairs) ≪ corpus).
 *
 * RESUMABLE (VERDICT r2 item 8): at 10⁹-edge scale the loop runs long
 * enough to die mid-flight, and round-1's `localCheckpoint` state dies with
 * the driver. [[connectedComponents]] optionally persists each round's
 * label frame as parquet plus an ATOMIC commit marker carrying the round's
 * `changed` count (the [[graft.data.SketchCheckpoint]] manifest
 * discipline: data lands before the marker rename, readers only open
 * committed rounds, a crash between the two leaves an overwritable
 * orphan). A restarted run resumes from the latest committed round; label
 * propagation is a deterministic function of (edges, labels), so the
 * resumed fixpoint is row-identical to an uninterrupted run
 * (ResumableCcSpec).
 */
object DedupClusterQuery {

  /** Committed (round, changed) markers under `dir`, ascending. */
  private def committedRounds(dir: String): Seq[(Int, Long)] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val stream = Files.list(p)
      try {
        stream.iterator().asScala
          .filter(_.getFileName.toString.startsWith("commit-"))
          .map { f =>
            val round = f.getFileName.toString.stripPrefix("commit-").toInt
            (round, Files.readAllLines(f).get(0).trim.toLong)
          }
          .toSeq.sortBy(_._1)
      } finally stream.close()
    }
  }

  private def commit(dir: String, round: Int, changed: Long): Unit = {
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, s".tmp-$round")
    Files.write(tmp, changed.toString.getBytes)
    Files.move(tmp, Paths.get(dir, s"commit-$round"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Min-label-propagation connected components over `edges(src, dst)`
    * (must contain both orientations of each edge). Returns (node, label)
    * at the fixpoint. `ckptDir` enables round-level checkpoint/resume;
    * `failAfterRounds` stops after that many NEW rounds without finishing
    * (crash-simulation test hook, like SketchCheckpoint's). */
  def connectedComponents(edges: DataFrame, ckptDir: Option[String] = None,
      maxRounds: Int = 20, failAfterRounds: Int = Int.MaxValue): DataFrame = {
    val spark = edges.sparkSession
    val committed = ckptDir.map(committedRounds).getOrElse(Seq.empty)
    var round = 0
    var changed = 1L
    var labels =
      if (committed.nonEmpty) {
        round = committed.last._1
        changed = committed.last._2
        // resume from the latest COMMITTED label frame
        spark.read.parquet(s"${ckptDir.get}/round-$round").localCheckpoint()
      } else {
        edges.select(col("src").as("node")).distinct()
          .withColumn("label", col("node"))
          .localCheckpoint(false) // lazy: round 1's action materializes it
      }
    var steps = 0
    while (changed > 0 && round < maxRounds && steps < failAfterRounds) {
      val viaNeighbors = edges
        .join(labels, edges("dst") === labels("node"))
        .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
      // localCheckpoint (not just cache) TRUNCATES the lineage: without it
      // the plan doubles every round and round ~15's DAG alone stalls the
      // driver at corpus scale. Round 7: the OLD label rides the frame, so
      // the fixpoint test is a filter over the checkpointed rows instead of
      // a join back onto the previous round (one fewer join per round), and
      // the checkpoint is LAZY so the changed-count action below both
      // materializes the round's blocks and counts in ONE job (two jobs +
      // three joins per round → one job + two joins).
      val nextWithOld = labels
        .join(viaNeighbors, labels("node") === viaNeighbors("src"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"),
          labels("label").as("old"))
        .localCheckpoint(false)
      changed = nextWithOld.filter(col("label") =!= col("old")).count()
      val next = nextWithOld.select(col("node"), col("label"))
      // release the superseded round's storage eagerly (cache entries and
      // localCheckpoint blocks otherwise wait for ContextCleaner GC — at
      // 10⁹ nodes that is up to maxRounds full label frames pinned)
      labels.unpersist()
      labels = next
      round += 1
      steps += 1
      ckptDir.foreach { dir =>
        // parquet BEFORE marker: an interrupted round is an orphan the
        // retry overwrites, never a half-read state
        next.write.mode("overwrite").parquet(s"$dir/round-$round")
        commit(dir, round, changed)
      }
    }
    labels
  }

  /** Alternating large-star/small-star contraction — the O(log² n)-round
    * alternative to min-label propagation for DEEP components (Kiveris,
    * Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
    * MapReduce and Beyond", SoCC'14, Algorithm 2). Min-label propagation
    * converges in O(component diameter) rounds — fine for blob-shaped
    * near-dup clusters, the slowest loop in the suite for pathological
    * CHAIN-shaped ones (a 10⁶-doc transitive near-dup chain = 10⁶ rounds);
    * star contraction halves chain depth roughly every phase pair.
    *
    * Per round (both phases are one groupBy + one equi-join — no pair
    * enumeration, hub neighborhoods never collect into one row):
    *  - LARGE-STAR: over symmetric neighborhoods, every neighbor v > u
    *    re-links to m = min(Γ(u) ∪ {u});
    *  - SMALL-STAR: over (u > v)-oriented edges, u and every smaller
    *    neighbor except the min re-link to m = min(Γ(u)).
    * The edge set converges to per-component stars rooted at the component
    * minimum; labels read directly off the star edges. Same resumable
    * manifest as [[connectedComponents]] (per-round parquet of the EDGE
    * set + atomic commit marker carrying the round's diff count); both
    * functions return the same (node, label-of-component-min) contract —
    * parity-tested in ResumableCcSpec on chains and rings. */
  def connectedComponentsStar(edgesIn: DataFrame, ckptDir: Option[String] = None,
      maxRounds: Int = 60, failAfterRounds: Int = Int.MaxValue): DataFrame = {
    val spark = edgesIn.sparkSession
    val base = edgesIn
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val committed = ckptDir.map(committedRounds).getOrElse(Seq.empty)
    var round = 0
    var changed = 1L
    var edges =
      if (committed.nonEmpty) {
        round = committed.last._1
        changed = committed.last._2
        spark.read.parquet(s"${ckptDir.get}/round-$round").localCheckpoint()
      } else base.localCheckpoint(false) // lazy: round 1 materializes it
    var steps = 0
    while (changed > 0 && round < maxRounds && steps < failAfterRounds) {
      // large-star over symmetric neighborhoods; min computed by groupBy +
      // join-back (never collect_list — a hub's neighborhood stays spread)
      val nbrs = edges.select(col("u"), col("v"))
        .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      val largeMins = nbrs.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val large = nbrs.join(largeMins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")) // v > u ≥ m: stays oriented
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star on the (u > v)-oriented output
      val smallMins = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val next = large.join(smallMins, Seq("u"))
        .select(col("v").as("u"), col("m").as("v")) // v ≥ m: oriented
        .filter(col("u") =!= col("v"))
        .unionAll(smallMins.select(col("u"), col("m").as("v"))) // u > min(Γ(u))
        .distinct()
        .localCheckpoint(false) // lazy: the diff count below materializes it
      // fixpoint test: signed multiset diff of the edge sets (the same
      // in-plan discipline as PairTiling.pairParity), one count per round
      // — which doubles as the checkpoint-materializing action (round 7)
      changed = next.withColumn("__s", lit(1L))
        .unionAll(edges.withColumn("__s", lit(-1L)))
        .groupBy(col("u"), col("v")).agg(sum(col("__s")).as("__d"))
        .filter(col("__d") =!= 0L).count()
      edges.unpersist()
      edges = next
      round += 1
      steps += 1
      ckptDir.foreach { dir =>
        next.write.mode("overwrite").parquet(s"$dir/round-$round")
        commit(dir, round, changed)
      }
    }
    // Labels are only readable off a FIXPOINT edge set (stars): a node of a
    // non-converged forest still carries several (u, v) edges and would emit
    // several conflicting label rows. Propagation's best-effort-at-maxRounds
    // semantics don't transfer here — fail loudly instead of silently
    // returning a corrupt multi-label frame (round-4 review finding). The
    // interrupted-run path (failAfterRounds, checkpointed) resumes instead.
    if (changed > 0 && steps < failAfterRounds) throw new IllegalStateException(
      s"connectedComponentsStar did not converge in $maxRounds rounds " +
        s"($changed edges still changing) — raise maxRounds; the edge set " +
        "is not a star forest, labels would be ambiguous")
    // at the fixpoint every component is a star (child, root); labels read
    // off directly, roots label themselves
    val children = edges.select(col("u").as("node"), col("v").as("label"))
    val roots = edges.select(col("v").as("node")).distinct()
      .join(children.select(col("node")), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("label"))
    children.unionAll(roots)
  }

  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame =
    dedupClustersVia(spark, sfDir, connectedComponents(_))

  /** q61: the same cluster assignment through [[connectedComponentsStar]] —
    * row-identical to q37 by the CC contract, so it shares q37's DuckDB
    * oracle verbatim (the q57/q58 salted-twin discipline): the gate pins
    * the star-contraction plan end-to-end every round. */
  def dedupClustersStar(spark: SparkSession, sfDir: String): DataFrame =
    dedupClustersVia(spark, sfDir, connectedComponentsStar(_))

  // ---- q84: canonical survivor selection over near-dup clusters ----

  /** The 8 distinct all-alpha tokens appended to a planted twin: they bump
    * the q21 quality score (diversity + length-saturation + alpha-ratio all
    * move up, or hold) while adding only ~10 trigram shingles, so the
    * twin↔base Jaccard stays ≈0.9 — far above τ=0.5 AND far above the LSH
    * recall knee (miss probability < 10⁻¹⁴ at b=32, r=4). */
  private[graft] val QualityPlantSuffix: String =
    "qkalpha qkbravo qkcharlie qkdelta qkecho qkfoxtrot qkgolf qkhotel"

  /** Keep-best-copy selection over an arbitrary (doc_id, text) frame:
    * near-dup clusters (the q16 LSH pipeline → q37 connected components),
    * then ONE survivor per cluster by argmax of the q21 quality score in
    * integer milli (tie → lowest doc_id). q37 answers "which docs are
    * duplicates"; this answers the pipeline's next question — "which copy
    * do you KEEP" — by quality, not by arbitrary id.
    *
    * Scale shape: everything up to labels is the audited q16/q37 machinery
    * (band-bucket join, narrow-id distinct, CC rounds). The quality score
    * is one codegen map pass over the member docs; the survivor argmax is a
    * groupBy(cluster) `max(struct(quality, −id))` partial agg — never a
    * per-cluster window sort. Output is one row per cluster. */
  private[queries] def qualityKeepersOver(docs: DataFrame): DataFrame = {
    val (labels, release) =
      clusterLabels(TextQueries.minhashPairsOver(docs), connectedComponents(_))
    // q21's quality formula, floored to integer MILLI so the keeper argmax
    // and every emitted value are exact bigint comparisons in both engines
    val toks = split(col("text"), " ")
    val nTok = size(toks).cast("double")
    val score = (least(lit(1.0), nTok / 100.0)
      + size(array_distinct(toks)).cast("double") / nTok
      // all-ASCII-alpha token test as a codegen translate instead of a
      // per-token java.util.regex match: non-empty AND stripping the 52
      // letters empties the string. Equal to rlike("^[A-Za-z]+$") except on
      // a token ending in a line terminator ("abc\n"): Java's `$` also
      // matches before a trailing terminator, so the regex accepted it and
      // the translate test rejects it, the end-of-string anchoring the
      // oracle (RE2) uses
      + size(filter(toks, t =>
        (length(t) > 0) && (translate(t, "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz", "") === lit("")))).cast("double") / nTok
      ) / 3.0
    val qual = docs.select(col("doc_id"),
      floor(score * 1000.0).cast("long").as("q"))
    val mem = labels
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      .join(qual, Seq("doc_id"))
    val out = mem.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("q"), (-col("doc_id")).as("nid"),
          col("doc_id").as("kid"))).as("m"),
        min(col("doc_id")).as("min_id"))
      .select(col("cluster_id"), col("n_members"),
        col("m.kid").as("keeper_doc_id"),
        col("m.q").as("keeper_quality_milli"),
        (col("n_members") - 1L).as("dropped"),
        (col("m.kid") === col("min_id")).as("keeper_is_min_id"))
      .orderBy(col("cluster_id"))
    release()
    out
  }

  /** The shared pair-graph → CC scaffold (q37/q61/q84): symmetrize the
    * (id_a, id_b) pairs, cache both frames for the CC loop's repeated
    * passes, run the given CC variant, and hand back the labels plus a
    * release hook for the caches. ONE implementation, so a scaffold fix
    * (cache lifecycle, checkpointing, CC variant) can never diverge
    * between the cluster gates. */
  private def clusterLabels(pairsIn: DataFrame,
      cc: DataFrame => DataFrame): (DataFrame, () => Unit) = {
    val pairs = pairsIn.select(col("id_a"), col("id_b")).cache()
    val edges = pairs
      .union(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .toDF("src", "dst")
      .cache()
    (cc(edges), () => { edges.unpersist(); pairs.unpersist() })
  }

  /** q84 gate: [[qualityKeepersOver]] on the driver corpus ∪ two planted
    * HIGHER-QUALITY twins of the two longest documents (deterministic and
    * oracle-expressible selection; long bases keep the planted pair's
    * Jaccard ≈ 0.9, so LSH recall is certain). The twins prove the quality
    * rule actually fires: their clusters must select the twin — a larger
    * doc_id than the base — so `keeper_is_min_id` is provably false there,
    * while equal-quality organic clusters fall back to the lowest id. The
    * q41/q59/q67/q80 in-gate planting discipline; ids offset by the q80
    * PlantIdOffset (above any plausible corpus id). */
  def qualityKeepersGate(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val lengths = base.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n"))
    // bounded driver materialization: exactly 2 ids
    val plantIds = SketchSelect.topK(lengths, "n", "doc_id", 2L)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    val planted = base.filter(col("doc_id").isin(plantIds: _*))
      .select((col("doc_id") + IncrementalDedup.PlantIdOffset).as("doc_id"),
        concat(col("text"), lit(" " + QualityPlantSuffix)).as("text"))
    qualityKeepersOver(base.unionByName(planted))
  }

  private def dedupClustersVia(spark: SparkSession, sfDir: String,
      cc: DataFrame => DataFrame): DataFrame = {
    val (labels, release) =
      clusterLabels(TextQueries.dedupMinhash(spark, sfDir), cc)
    val out = labels
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      .withColumn("is_keeper", col("doc_id") === col("cluster_id"))
      .orderBy(col("cluster_id"), col("doc_id"))
    release()
    out
  }
}
