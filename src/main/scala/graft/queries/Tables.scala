package graft.queries

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the driver-generated test data (TESTDATA.md).
  *
  * A table that is one parquet file opens with the schema read from that
  * file's footer on the driver. `spark.read.parquet` alone infers the schema
  * in a one-task Spark job, which at the gate scale costs more than the
  * query it feeds; the footer read takes a few milliseconds. The footer is
  * converted by Spark's own conversion under the session's SQL conf, so the
  * schema is the one inference gives (TimestampNTZ and binary-as-string
  * rules included; TablesSpec pins it for every test table). A directory,
  * such as a Spark-written table, still reads through inference. */
object Tables {

  /** Widen a small scan to the scheduler's width before an expensive
    * per-row pass (round 7): a gate parquet file is a single input split,
    * so a kernel UDF / HOF tower downstream of it runs in ONE task no
    * matter how many cores the session has (measured: q39's k-means
    * passes 3.6 s -> 1.7 s at sf0.1 once widened). Only widens — when the
    * scan already has at least defaultParallelism splits (any production
    * table) this is a no-op, so no extra exchange appears at scale. */
  def widen(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** The Spark schema of `path` if it is a single parquet file, read from
    * its footer; None for a directory or a missing path, which then take
    * `spark.read.parquet`'s own inference and errors. */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val status =
      try p.getFileSystem(conf).getFileStatus(p)
      catch { case _: FileNotFoundException => return None }
    if (!status.isFile) return None
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(status, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    Some(ParquetFileFormat.readSchemaFromFooter(new Footer(status.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "customer")
  def events(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "events")
  def documents(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "embeddings")
}
