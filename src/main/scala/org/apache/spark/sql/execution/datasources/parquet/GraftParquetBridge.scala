package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's own footer-to-schema conversion, so graft reads a
  * table's schema from a footer it already holds instead of running
  * Spark's footer-merge job. Keep this file free of any logic — it
  * exists only to re-export access (the
  * `org.apache.spark.sql.classic.GraftColumnBridge` pattern). */
object GraftParquetBridge {

  /** The schema `spark.read.parquet` resolves from this one footer: the
    * Spark schema a Spark writer stored, else the parquet schema
    * converted under the session's reader confs; nullable, as the
    * relation exposes it. */
  def sparkSchema(spark: SparkSession, file: Path,
                  footer: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          .sessionState.conf)).asNullable
}
