package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed operation of a workload.
  *  - `kernel`: the sketch kernel whose end-to-end metric the operation
  *    adds to, if any;
  *  - `group`: the module group the operation belongs to;
  *  - `layer`: the library layer its span is attributed to;
  *  - `anchor`: a box-load anchor, left out of the pass totals. */
final case class Op(name: String, kernel: Option[String], group: String,
    layer: String, rows: Long, anchor: Boolean = false)(val run: () => Unit)

trait Workload {
  def name: String
  /** One repetition of the set-up: generate, cache and materialize the
    * inputs. Called several times; each call replaces the previous inputs. */
  def setup(): Unit
  def ops: Seq[Op]
  /** Output checks, run outside every timed region. `plans` holds the
    * executed plans of each operation's first run. */
  def checks(rec: Recorder, plans: Map[String, Seq[String]]): Unit
  /** Runs after every timed operation, outside the timed region. */
  def teardown(): Unit = ()
}

object Workload {

  /** Uniform [0,1) as a pure function of the row id and the run seed. */
  def u(seed: Long, salt: Int, id: Column): Column =
    (xxhash64(id, lit(seed), lit(salt)).cast("double") / lit(1.8446744073709552E19)) + lit(0.5)

  /** Log-uniform (zipf-like) rank in [1, maxRank]. */
  def zipfRank(seed: Long, salt: Int, id: Column, maxRank: Int): Column =
    pow(lit(maxRank.toDouble), u(seed, salt, id)).cast("long")

  /** The `CorpusGenerator.keyed` key stream, reseeded: a zipf token over
    * 10^5 ranks and a weight in 1..100, as a pure function of (id, seed). */
  def keyed(spark: SparkSession, seed: Long, rows: Long, parts: Int): DataFrame =
    spark.range(0L, rows, 1L, parts).select(col("id"),
      concat(lit("tok_"), zipfRank(seed, 4, col("id"), 100000)).as("token"),
      (pmod(xxhash64(col("id"), lit(seed), lit(5)), lit(100)) + 1).as("weight"))

  /** Materializes a frame's full result through the `noop` sink. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
