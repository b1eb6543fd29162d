package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Spark's footer reader and footer → Catalyst schema conversion are
  * private[parquet]; exposing them from inside the package lets a
  * driver-side schema read use exactly the rules schema inference
  * applies (Catalyst schema stored in the footer, session parquet confs).
  */
object GraftParquetBridge {
  def footerSchema(spark: SparkSession,
      files: Seq[FileStatus]): Option[StructType] =
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(
        spark.sessionState.newHadoopConf(), files,
        spark.sessionState.conf.ignoreCorruptFiles),
      spark)
}
