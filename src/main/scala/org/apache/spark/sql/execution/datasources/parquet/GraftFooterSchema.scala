package org.apache.spark.sql.execution.datasources.parquet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileFormat,
  PartitionedFile}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Spark's parquet schema inference for one known file, run on the
  * driver. Inference through `spark.read.parquet` reads the same footer
  * inside a one-task Spark job; here the footer is read directly and
  * converted by Spark's own `ParquetFileFormat.readSchema`, which is
  * package-private — hence this object in Spark's package (the pattern
  * of [[org.apache.spark.sql.graftbridge.Bridge]]). Nothing of Spark's
  * conversion is re-implemented. */
object GraftFooterSchema {

  /** Does Spark's file listing skip a file or directory of this name
    * (`_`/`.`-prefixed names other than partition dirs and parquet
    * summary files, `._COPYING_` uploads)? */
  def hidden(name: String): Boolean =
    HadoopFSUtils.shouldFilterOutPathName(name)

  /** The schema Spark's inference derives from `file`'s footer: the
    * Spark schema the writer stored in the footer's key-value metadata,
    * else the converted parquet schema. Only the footer is read (row
    * groups skipped). */
  def read(spark: SparkSession, file: FileStatus): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchema(Seq(new Footer(file.getPath, footer)), spark)
  }

  /** The row count `file`'s footer records: the sum of its row groups'
    * counts, the figure a column-less `count()` of the file reads. Only
    * the footer is read. */
  def rowCount(spark: SparkSession, file: FileStatus): Long =
    ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(file, spark.sparkContext.hadoopConfiguration),
        ParquetMetadataConverter.NO_FILTER)
      .getBlocks.asScala.map(_.getRowCount).sum

  /** Every row of `files` under `schema`, file by file, read on the
    * driver by the reader a scan task builds
    * (`buildReaderWithPartitionValues`, row at a time, built once for
    * all files): the values a `spark.read` of the files returns, without
    * a Spark job. Each file is materialized when reached (rows copied,
    * its reader drained and so closed) — for the stores' small tables
    * (a one-row meta, a tombstone sidecar), never bulk data. */
  def rows(spark: SparkSession, files: Seq[FileStatus],
      schema: StructType): Iterator[InternalRow] = {
    val reader = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, schema, new StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      new Configuration(spark.sparkContext.hadoopConfiguration))
    files.iterator.flatMap { file =>
      reader(PartitionedFile(InternalRow.empty,
          SparkPath.fromPath(file.getPath), 0L, file.getLen,
          fileSize = file.getLen))
        .map(_.copy()).toList
    }
  }
}
