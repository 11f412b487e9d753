package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's parquet schema conversion, so a reader that has
  * already chosen its footer converts it on the driver exactly as Spark's
  * own inference would, without the one-task job `mergeSchemasInParallel`
  * runs for it.
  */
object GraftParquetBridge {

  /** Whether Spark's file index lists an entry of this name (it skips
    * hidden and in-progress names: `_*` without `=`, `.*`, `*._COPYING_`,
    * but keeps parquet's `_metadata` and `_common_metadata`).
    */
  def listedByFileIndex(name: String): Boolean =
    !org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** The Spark schema of one parquet file's footer: its stored Spark schema
    * when it has one, else the converted parquet schema (Spark's
    * `ParquetFileFormat.readSchema`, under the session's conversion
    * settings). Reads the footer only, no row groups.
    */
  def footerSchema(spark: SparkSession, file: FileStatus): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchema(Seq(new Footer(file.getPath, meta)), spark)
  }
}
