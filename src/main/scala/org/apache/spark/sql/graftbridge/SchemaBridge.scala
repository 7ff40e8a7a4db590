package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** A parquet file's Catalyst schema exactly as `spark.read.parquet`
  * resolves it, from a footer already in hand: Spark's schema
  * metadata when present, else its parquet-to-Catalyst converter under
  * the session conf (`ParquetFileFormat.readSchemaFromFooter`), made
  * nullable like every file-source relation (`StructType.asNullable`
  * is `private[spark]`). */
object SchemaBridge {
  def footerSchema(spark: SparkSession, file: Path, footer: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)).asNullable
}
