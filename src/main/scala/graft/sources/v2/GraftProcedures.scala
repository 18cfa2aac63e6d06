package graft.sources.v2

import java.util.Collections

import graft.sources.{DeltaBridge, TxLog}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._

/** SQL stored procedures for the table lifecycle — Spark 4's
  * `ProcedureCatalog` contract (the `CALL catalog.proc(...)` idiom
  * Iceberg users run maintenance with), so every lifecycle verb the
  * TxLog/DeltaBridge API exposes is reachable from pure SQL:
  *
  * {{{
  *   CALL graft.history('/data/events')
  *   CALL graft.vacuum('/data/events', retain_versions => 2)
  *   CALL graft.optimize('/data/events')
  *   CALL graft.restore('/data/events', version => 3)
  *   CALL graft.checkpoint('/data/events')
  *   CALL graft.delete_dv('/data/events', 'doc_id = 42')
  * }}}
  *
  * Each procedure executes the SAME engine verb the programmatic API
  * runs (one implementation, two mounts — the catalog discipline the
  * read/write paths already follow) and returns its result as driver-
  * local rows ([[LocalScan]] — lifecycle output is metadata-sized by
  * construction: history is O(versions), vacuum returns counts).
  * Mutating procedures commit straight into the `_delta_log`, so the
  * SQL surface and foreign readers always see the post-verb state. */
private[v2] object GraftProcedures {

  val names: Seq[String] =
    Seq("history", "vacuum", "optimize", "restore", "checkpoint",
      "delete_dv")

  def load(catalogName: String, name: String): Option[UnboundProcedure] =
    name.toLowerCase match {
      case "history"    => Some(HistoryProc)
      case "vacuum"     => Some(VacuumProc)
      case "optimize"   => Some(OptimizeProc)
      case "restore"    => Some(RestoreProc)
      case "checkpoint" => Some(CheckpointProc)
      case "delete_dv"  => Some(DeleteDvProc)
      case _            => None
    }

  private def spark: SparkSession = SparkSession.active

  private def param(name: String, dt: DataType) =
    ProcedureParameter.in(name, dt).build()
  private def paramDefault(name: String, dt: DataType, default: String) =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  private def result(schema: StructType,
                     out: Seq[InternalRow]): java.util.Iterator[Scan] = {
    val materialized = out.toArray
    val scan: Scan = new LocalScan {
      override def rows(): Array[InternalRow] = materialized
      override def readSchema(): StructType = schema
      override def description(): String = "graft procedure result"
    }
    Collections.singletonList(scan).iterator()
  }

  private def requireTx(table: String, proc: String): Unit =
    require(TxLog.owns(table),
      s"CALL $proc('$table'): not a TxLog-backed table (a foreign " +
        "_delta_log mounts read-only; its writer owns its lifecycle)")

  private abstract class SimpleProc(procName: String)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false // reads/advances state
  }

  /** DESCRIBE HISTORY as rows: per version, its monotonized commit time,
    * add/remove/schema-change counts, and whether a published checkpoint
    * covers it (`_last_checkpoint` state) — [[DeltaBridge.history]],
    * metadata-only (never reads a data file). */
  private object HistoryProc extends SimpleProc("history") {
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType))
    private val schema = StructType(Seq(
      StructField("version", LongType),
      StructField("timestamp_ms", LongType),
      StructField("n_adds", LongType),
      StructField("n_removes", LongType),
      StructField("schema_changed", BooleanType),
      StructField("checkpointed", BooleanType)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val rows = DeltaBridge.history(spark, table).collect().map { r =>
        InternalRow(r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getBoolean(4), r.getBoolean(5))
      }.toSeq
      result(schema, rows)
    }
  }

  /** CHECKPOINT: pin a log checkpoint at the head
    * ([[DeltaBridge.checkpoint]]) — readers then bootstrap in O(live
    * files) and `CALL vacuum` may retire the covered JSON prefix.
    * Works on TxLog-backed tables AND foreign
    * `_delta_log`s (a checkpoint is a READER-side compaction: it adds
    * derived metadata without touching the writer's commits). */
  private object CheckpointProc extends SimpleProc("checkpoint") {
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType))
    private val schema =
      StructType(Seq(StructField("version", LongType)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      result(schema,
        Seq(InternalRow(DeltaBridge.checkpoint(spark, table))))
    }
  }

  /** VACUUM: log retention first ([[DeltaBridge.vacuumLog]] — only
    * checkpoint-covered JSON goes), then the data-file sweep
    * ([[TxLog.vacuum]]) — log before data, so no surviving JSON
    * references a deleted file. Returns the two counts. */
  private object VacuumProc extends SimpleProc("vacuum") {
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType),
        paramDefault("retain_versions", IntegerType, "2"),
        paramDefault("min_age_ms", LongType, "0"))
    private val schema = StructType(Seq(
      StructField("data_files_deleted", LongType),
      StructField("log_versions_deleted", LongType)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      requireTx(table, "vacuum")
      val logGone = DeltaBridge.vacuumLog(table).length.toLong
      val dataGone =
        TxLog.vacuum(table, input.getInt(1), input.getLong(2)).length.toLong
      result(schema, Seq(InternalRow(dataGone, logGone)))
    }
  }

  /** OPTIMIZE: compaction via [[TxLog.optimize]] — per-partition on
    * Hive-layout tables, `part_files` caps files (per partition). */
  private object OptimizeProc extends SimpleProc("optimize") {
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType),
        paramDefault("part_files", IntegerType, "1"))
    private val schema =
      StructType(Seq(StructField("version", LongType)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      requireTx(table, "optimize")
      val v = TxLog.optimize(spark, table, input.getInt(1))
      result(schema, Seq(InternalRow(v.toLong)))
    }
  }

  /** DELETE_DV: merge-on-read delete ([[TxLog.deleteWhereDv]]) — files
    * whose matching-row fraction is at most `max_dv_fraction` take a
    * deletion vector (no rewrite; O(deleted rows)); files above it
    * rewrite copy-on-write. The predicate STRING is evaluated by this
    * session's own parser (an explicit maintenance argument, not a
    * translated statement — the DML statement surface keeps its
    * closed-world rendering). Returns the committed version. */
  private object DeleteDvProc extends SimpleProc("delete_dv") {
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType),
        param("predicate", StringType),
        paramDefault("max_dv_fraction", DoubleType, "0.05"))
    private val schema =
      StructType(Seq(StructField("version", LongType)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      requireTx(table, "delete_dv")
      val v = TxLog.deleteWhereDv(spark, table,
        input.getUTF8String(1).toString, input.getDouble(2))
      result(schema, Seq(InternalRow(v.toLong)))
    }
  }

  /** RESTORE: pure log arithmetic back to `version` ([[TxLog.restore]]
    * — no data file read or copied; history preserved). */
  private object RestoreProc extends SimpleProc("restore") {
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType), param("version", IntegerType))
    private val schema =
      StructType(Seq(StructField("version", LongType)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      requireTx(table, "restore")
      val v = TxLog.restore(spark, table, input.getInt(1))
      result(schema, Seq(InternalRow(v.toLong)))
    }
  }
}
