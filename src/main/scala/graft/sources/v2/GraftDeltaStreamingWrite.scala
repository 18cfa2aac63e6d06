package graft.sources.v2

import java.util.UUID

import scala.collection.mutable

import graft.sources.TxLog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, LongType, ShortType, StringType, StructType}
import org.apache.spark.util.SerializableConfiguration

/** `df.writeStream.toTable("graft.`/path`")` — the exactly-once streaming
  * sink through the SQL catalog (the V1 `format("graft-delta")` sink's
  * semantics on the V2 `StreamingWrite` contract Spark requires of
  * catalog tables):
  *
  *  - executors write each epoch's rows straight to parquet through
  *    Spark's OWN prepared writer factory ([[GraftParquetBridge]] — the
  *    same `ParquetWriteSupport` a batch write codegens, so streaming
  *    files are byte-compatible with batch files), into an immutable
  *    per-epoch stage dir under the table;
  *  - PARTITIONED targets (the reference's gold shape) split each task's
  *    rows across per-partition writers under Hive `col=value` paths —
  *    partition values ride the PATH (escaped exactly like Spark's own
  *    partitioned writer: [[ExternalCatalogUtils.escapePathName]]), and
  *    the data files exclude the partition columns, so the layout is
  *    byte-identical to [[TxLog.appendPartitioned]]'s and the commit's
  *    `partitionValues` parse applies unchanged;
  *  - the driver's `commit(epoch)` lands the file list as ONE TxLog
  *    commit via [[TxLog.appendBatchStaged]] — the epoch id rides the
  *    commit's `txn` action, so a restart's replayed epoch is recognized
  *    and creates no second version (its re-staged files are vacuum-
  *    collectable orphans) — one mountable Delta version per
  *    micro-batch. Zero-row epochs commit NOTHING (no version churn on
  *    idle triggers).
  *
  * Scale shape: the data path is executor-parallel parquet encoding; the
  * driver handles only file NAMES per epoch. Writers open lazily per
  * partition value seen by the task — bound the per-task partition
  * fan-out by partitioning the stream on the table's partition columns
  * upstream, the same discipline as any Hive-layout writer. Append-only
  * like the V1 sink. */
private[v2] case class GraftDeltaStreamingWrite(table: String,
                                                schema: StructType,
                                                queryId: String,
                                                partitionCols: Seq[String])
  extends StreamingWrite {

  // Hive layout: partition values live in paths, never in the data files
  private val dataSchema = StructType(
    schema.filterNot(f => partitionCols.contains(f.name)))

  partitionCols.foreach { c =>
    val dt = schema(c).dataType
    require(GraftDeltaStreamingWrite.renderable(dt),
      s"writeStream into $table: partition column $c of type $dt has no " +
        "round-trip-stable path rendering (string/integer/date only)")
  }

  private val (factory, conf) =
    GraftParquetBridge.writerFactory(SparkSession.active, dataSchema)
  private val serConf = new SerializableConfiguration(conf)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    GraftDeltaStreamingWriterFactory(table, schema, partitionCols,
      dataSchema, factory, serConf)

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages
      .collect { case m: GraftDeltaFileCommit => m.relPaths }
      .flatten.sorted
    // a ZERO-ROW epoch commits nothing: an idle trigger must not mint a
    // Delta version with an empty commit file per tick (version
    // churn; some foreign Delta readers reject empty commits — ADVICE
    // r13). Replay-safe either way: a replayed empty epoch is a no-op
    // whether or not its id was ever recorded.
    if (staged.nonEmpty) {
      // idempotence is keyed on (queryId, epochId) — delta-spark's txn
      // (appId, version) rule: two INDEPENDENT queries streaming into the
      // same table both start at epoch 0 and must not swallow each other's
      // batches (review finding r13); queryId is the STABLE streaming id
      // (checkpoint-persisted), so a restart's replayed epoch still dedups
      TxLog.appendBatchStaged(table, epochId, staged.toIndexedSeq,
        appId = Some(queryId)): Unit
    }
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: GraftDeltaFileCommit => m.relPaths }
      .flatten.foreach { rel =>
        try java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(table, rel))
        catch { case _: java.io.IOException => () } // orphan → vacuum
      }

  override def toString: String = s"GraftDeltaStreamingWrite[$table]"
}

private[v2] object GraftDeltaStreamingWrite {
  private[v2] def renderable(dt: DataType): Boolean = dt match {
    case StringType | IntegerType | LongType | ShortType | ByteType |
         DateType => true
    case _ => false
  }

  /** Render one INTERNAL partition value as its Hive path string — the
    * identity round trip [[TxLog]]'s re-typing relies on (LongType-stable
    * integers, ISO dates, raw strings). */
  private[v2] def renderValue(v: Any, dt: DataType): String = dt match {
    case StringType => v.toString // UTF8String renders its content
    case DateType   =>
      java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString
    case _          => v.toString // integer family
  }
}

/** The staged file list of one task (empty partitions open no writer). */
private[v2] case class GraftDeltaFileCommit(relPaths: Seq[String])
  extends WriterCommitMessage

private[v2] case class GraftDeltaStreamingWriterFactory(
    table: String, schema: StructType, partitionCols: Seq[String],
    dataSchema: StructType, factory: OutputWriterFactory,
    conf: SerializableConfiguration)
  extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] = {
    val partOrdinals = partitionCols.map(schema.fieldIndex)
    val dataOrdinals = schema.fieldNames.zipWithIndex
      .collect { case (n, i) if !partitionCols.contains(n) => i }
    val fieldTypes = schema.fields.map(_.dataType)

    new DataWriter[InternalRow] {
      // dir suffix ("" for flat tables) → open writer + its rel path
      private val writers = mutable.LinkedHashMap[String,
        (org.apache.spark.sql.execution.datasources.OutputWriter,
          org.apache.hadoop.fs.Path, String)]()

      private def dirOf(record: InternalRow): String =
        if (partitionCols.isEmpty) ""
        else partitionCols.zip(partOrdinals).map { case (c, i) =>
          // getPartitionValueString is Spark's OWN writer rendering:
          // null AND empty string both map to __HIVE_DEFAULT_PARTITION__,
          // everything else percent-escapes — byte parity with the batch
          // partitioned writer's layout
          val raw = ExternalCatalogUtils.getPartitionValueString(
            if (record.isNullAt(i)) null
            else GraftDeltaStreamingWrite.renderValue(
              record.get(i, fieldTypes(i)), fieldTypes(i)))
          s"${ExternalCatalogUtils.escapePathName(c)}=$raw"
        }.mkString("/", "/", "")

      private def open(dir: String) = {
        val rel = s"stage-stream-e$epochId$dir/" +
          f"part-$partitionId%05d-${UUID.randomUUID().toString.take(8)}.parquet"
        val abs = new org.apache.hadoop.fs.Path(s"$table/$rel")
        val fs = abs.getFileSystem(conf.value)
        fs.mkdirs(abs.getParent)
        (GraftParquetBridge.newWriter(
          factory, abs.toString, dataSchema, conf.value, partitionId, taskId),
          abs, rel)
      }

      override def write(record: InternalRow): Unit = {
        val dir = dirOf(record)
        val (w, _, _) = writers.getOrElseUpdate(dir, open(dir))
        // Hive layout: project the partition columns OUT of the data row
        val data =
          if (partitionCols.isEmpty) record
          else new GenericInternalRow(dataOrdinals.map(i =>
            record.get(i, fieldTypes(i))).toArray[Any])
        w.write(data)
      }

      override def commit(): WriterCommitMessage = {
        writers.values.foreach(_._1.close())
        GraftDeltaFileCommit(writers.values.map(_._3).toSeq)
      }

      override def abort(): Unit =
        writers.values.foreach { case (w, abs, _) =>
          try {
            w.close()
            abs.getFileSystem(conf.value).delete(abs, false)
          } catch { case scala.util.control.NonFatal(_) => () }
        }

      override def close(): Unit = ()
    }
  }
}
