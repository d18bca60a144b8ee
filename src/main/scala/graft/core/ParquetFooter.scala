package graft.core

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/**
 * Parquet metadata read from a file's footer on the driver, the way a
 * lakehouse table answers schema and row-count questions from its
 * metadata: no Spark job. `spark.read.parquet` without a schema runs
 * one job to infer it (`ParquetFileFormat.mergeSchemasInParallel`),
 * even for a single file.
 */
object ParquetFooter {

  final case class Meta(schema: StructType, rows: Long)

  /** Schema (as Spark would infer it, under the session's parquet
    * settings) and row count of one parquet file. */
  def meta(spark: SparkSession, file: String): Meta = {
    val path = new Path(file)
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(path, spark.sessionState.newHadoopConf()))
    try {
      val schema = ParquetFileFormat.readSchemaFromFooter(
        new Footer(path, reader.getFooter),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      Meta(schema, reader.getRecordCount)
    } finally reader.close()
  }

  def schema(spark: SparkSession, file: String): StructType =
    meta(spark, file).schema

  /** `spark.read.parquet(file)` with the footer's schema: the same
    * frame, built without a job. */
  def read(spark: SparkSession, file: String): DataFrame =
    spark.read.schema(schema(spark, file)).parquet(file)
}
