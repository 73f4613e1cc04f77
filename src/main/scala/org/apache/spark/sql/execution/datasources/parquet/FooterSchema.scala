package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType

/** The schema `spark.read.parquet` infers from one file's footer, without
  * the one-task Spark job its inference runs (`mergeSchemasInParallel`).
  * The session's SQL conf is `private[sql]` in Spark 4; this object lives
  * under the parquet package only to reach it, the same way
  * `graftbridge.ColumnBridge` re-exports the Column bridge. The
  * converter takes the same session settings, and the same defaults for
  * the rest, as Spark's own inference path, so the result is the schema
  * `spark.read.parquet` would report for a table whose first data file
  * carries this footer (with `mergeSchema` off). */
object FooterSchema {
  def of(spark: SparkSession, file: Path, footer: ParquetMetadata): StructType = {
    val conf = SessionStateHelper.getSqlConf(spark)
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation =
        conf.parquetReaderRespectUnknownTypeAnnotation)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer), converter)
  }
}
