package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriter, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.types.StructType

/** Access bridge to Spark's OWN parquet plumbing (the exact writer
  * factory `ParquetFileFormat.prepareWrite` configures for every batch
  * parquet write — compression, timestamp rebase, schema converter — and
  * the reader a scan task runs), package-private in this build. Used by the graft-delta V2 STREAMING
  * write: each streaming task writes its epoch's rows through the same
  * codegen'd `ParquetWriteSupport` a batch write uses, so streaming
  * files are byte-compatible with batch files by construction. Also
  * used by TxLog commits to read a file's schema from its footer, and by
  * the Delta reader to read checkpoints on the driver. Nothing else from
  * the internal surface leaks. */
object GraftParquetBridge {

  /** Driver side: a serializable (factory, prepared configuration) pair
    * for `schema`. */
  def writerFactory(spark: SparkSession, schema: StructType)
      : (OutputWriterFactory, Configuration) = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(
      spark.sessionState.conf, job, schema,
      new ParquetOptions(Map.empty[String, String], spark.sessionState.conf))
    (factory, job.getConfiguration)
  }

  /** Executor side: open one parquet `OutputWriter` at `path`. */
  def newWriter(factory: OutputWriterFactory, path: String,
                schema: StructType, conf: Configuration,
                partitionId: Int, taskId: Long): OutputWriter = {
    val attemptId = new TaskAttemptID(
      new TaskID(new JobID("graft-stream", 0), TaskType.MAP, partitionId),
      taskId.toInt)
    factory.newInstance(path, schema,
      new TaskAttemptContextImpl(conf, attemptId))
  }

  /** Driver side: `f` over every row of the parquet file at `path`,
    * under the schema its footer declares ([[schemaOf]]), read by the
    * reader a scan task runs (`buildReaderWithPartitionValues`, in row
    * form) — no job. Delta checkpoints are read this way. */
  def foreachRow(spark: SparkSession, path: String)(f: Row => Unit): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val file = new Path(path)
    val status = file.getFileSystem(conf).getFileStatus(file)
    val schema = schemaOf(spark, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(status, conf), ParquetMetadataConverter.NO_FILTER))
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark,
      schema, StructType(Nil), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    val rows = read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(file), 0,
      status.getLen, Array.empty, status.getModificationTime, status.getLen))
    try rows.foreach(r => f(toRow(r).asInstanceOf[Row]))
    finally rows match {
      case c: java.io.Closeable => c.close()
      case _ => ()
    }
  }

  /** The schema Spark's own inference reads from one parquet footer —
    * the Spark schema a Spark writer stored, else the converted parquet
    * schema — made nullable as every file-source relation makes it, but
    * with no schema-inference job. */
  def schemaOf(spark: SparkSession, footer: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(null, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)).asNullable
}
