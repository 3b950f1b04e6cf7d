package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType

/** Parquet footers read on the driver, with no Spark job. Without
  * `mergeSchema`, Spark's own schema inference reads one footer too,
  * but ships the read to a Spark job (`mergeSchemasInParallel`);
  * [[schemaOf]] reads the same footer here and converts it with the
  * same session settings (`readSchema`: the stored Spark row schema
  * when the file carries one, else the parquet-to-Spark type
  * conversion). Both helpers are `private[parquet]`, hence this shim
  * inside their package.
  */
object FooterSchemaInterop {
  def schemaOf(spark: SparkSession, file: FileStatus): Option[StructType] = {
    val conf = SessionStateHelper.getSqlConf(spark)
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(
        SessionStateHelper.getHadoopConf(spark), Seq(file), conf.ignoreCorruptFiles),
      spark)
  }

  /** The whole footer of `file`, its row groups' column statistics
    * included (the schema read above skips them).
    */
  def footer(spark: SparkSession, file: FileStatus): ParquetMetadata =
    ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, SessionStateHelper.getHadoopConf(spark)),
      ParquetMetadataConverter.NO_FILTER)
}
