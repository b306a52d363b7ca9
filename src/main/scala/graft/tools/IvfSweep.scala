package graft.tools

import org.apache.spark.sql.functions._
import graft.Bench
import graft.queries.{AnnQueries, Tables}

/**
 * IVF accuracy/cost curve (ACCURACY_REPRO evidence): recall@5 vs nprobe
 * against the exact brute-force top-5, over the gate's 5 query vectors,
 * at a given sf dir (args: sfDir). The scan-fraction column is nprobe/K —
 * the fraction of inverted lists a query touches (lists are near-balanced
 * on this corpus; the wall column is the measured end-to-end query time).
 */
object IvfSweep {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))
    spark.sparkContext.setLogLevel("ERROR")
    val emb = Tables.embeddings(spark, dir).cache()
    val n = emb.count()
    val every = 50
    val k = math.max(1L, n / every)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(desc("sim_micro"), asc("neighbor_id"))
    val brute = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        graft.agg.VectorExpressions.cosine_micro(col("qvec"), col("embedding"))
          .as("sim_micro"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"[ivf] n=$n K=$k queries=5 exact_pairs=${brute.size}")
    for (nprobe <- Seq(1, 2, 4, 8, 12, 16, 24, k.toInt)) {
      val (ivf, sec) = Bench.time {
        AnnQueries.ivfTopKOn(emb, every = every, nprobe = nprobe)
          .select(col("query_id"), col("neighbor_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val recall = ivf.intersect(brute).size.toDouble / brute.size
      println(f"[ivf] nprobe=$nprobe%3d scan_frac=${nprobe.toDouble / k}%.3f " +
        f"recall@5=$recall%.3f wall=$sec%.2f s")
    }
    spark.stop()
  }
}
