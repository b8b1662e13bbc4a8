package org.apache.spark.sql

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition, FileScanRDD,
  PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Bridge into Spark 4's Column↔Expression conversion (package-private in
  * spark-sql): lets graft define native codegen'd Catalyst expressions and
  * expose them as ordinary `Column`s. Standard extension-library pattern.
  */
package object graftbridge {
  def columnOf(e: Expression): Column = ExpressionUtils.column(e)
  def expressionOf(c: Column): Expression = ExpressionUtils.expression(c)

  /** Bytes `[start, start + length)` of a parquet file `fileSize` bytes
    * long, read with `values` as constant columns. */
  final case class ScanFile(path: Path, start: Long, length: Long, fileSize: Long,
      values: Seq[Any])

  /** A parquet scan whose partitions the caller cuts: partition `i` reads
    * the files of `partitions(i)` in order, and each row carries its
    * file's `values` after the `dataSchema` columns, as the columns of
    * `valueSchema`. The caller supplies every file length, so nothing is
    * listed, inferred or stat'ed, and the reader is built once, so the
    * Hadoop configuration is broadcast once per scan. The data columns
    * are read nullable, as `spark.read.schema(dataSchema)` reads them. */
  def parquetScanOf(spark: SparkSession, dataSchema: StructType, valueSchema: StructType,
      partitions: Seq[Seq[ScanFile]]): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val data = dataSchema.asNullable
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(session, data,
      valueSchema, data, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      session.sessionState.newHadoopConf())
    val filePartitions = partitions.zipWithIndex.map { case (files, i) =>
      FilePartition(i, files.map(f => PartitionedFile(InternalRow.fromSeq(f.values),
        SparkPath.fromPath(f.path), f.start, f.length, fileSize = f.fileSize)).toArray)
    }
    val schema = StructType(data.fields ++ valueSchema.fields)
    session.internalCreateDataFrame(
      new FileScanRDD(session, read, filePartitions, schema), schema)
  }
}
