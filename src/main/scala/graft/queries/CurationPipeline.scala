package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * q38: the composed training-data curation pipeline — the end-to-end shape a
 * 100TB pretraining-data job runs: near-dup removal (keep the min-id doc of
 * every duplicate cluster) → quality filter → per-language document/token
 * budget report. Every stage is one of the already-verified operators
 * (q37 clusters, q21 quality formula, q19 token stats) composed in a single
 * plan; the DuckDB oracle mirrors it 1:1 (recursive-CTE clusters + the same
 * quality expression).
 */
object CurationPipeline {

  def curation(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // non-keeper members of duplicate clusters get dropped
    val dropIds = DedupClusterQuery.dedupClusters(spark, sfDir)
      .filter(!col("is_keeper"))
      .select(col("doc_id"))
    val toks = split(col("text"), " ")
    val nTok = size(toks).cast("double")
    val score = (least(lit(1.0), nTok / 100.0)
      + size(array_distinct(toks)).cast("double") / nTok
      // translate-based alpha test; differs from the regex only on a
      // trailing line terminator (see DedupClusterQuery)
      + size(filter(toks, t =>
        (length(t) > 0) && (translate(t, "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz", "") === lit("")))).cast("double") / nTok) / 3.0
    docs
      .join(broadcast(dropIds), Seq("doc_id"), "left_anti")
      .withColumn("score_decile", floor(score * 10.0))
      .filter(col("score_decile") >= 5)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs_kept"),
        sum(size(toks).cast("long")).as("tokens_kept"))
      .orderBy(col("lang"))
  }
}
