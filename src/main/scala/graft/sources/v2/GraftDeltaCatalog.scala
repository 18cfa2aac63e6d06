package graft.sources.v2

import java.util

import graft.sources.{DeltaBridge, TxLog}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsDeleteV2, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{Expression => VExpression, Literal => VLiteral, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, PartitioningAwareFileIndex, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL-catalog mount of graft-delta tables — the API surface a lakehouse
  * user reaches for after `spark.read.format(...)`:
  *
  * {{{
  *   spark.sql.catalog.graft = graft.sources.v2.GraftDeltaCatalog
  *
  *   SELECT * FROM graft.`/data/events`
  *   SELECT * FROM graft.`/data/events` VERSION AS OF 3
  *   SELECT * FROM graft.`/data/events` TIMESTAMP AS OF '2026-01-01'
  *   INSERT INTO graft.`/data/events` SELECT ...
  *   INSERT OVERWRITE graft.`/data/events` SELECT ...
  *   DELETE FROM graft.`/data/events` WHERE doc_id = 42
  *   UPDATE graft.`/data/events` SET label = 'spam' WHERE doc_id = 42
  *   MERGE INTO graft.`/data/events` t USING updates s ON t.id = s.id
  *     WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
  *   CALL graft.history('/data/events')   -- vacuum/optimize/restore too
  *   df.writeStream.toTable("graft.`/data/events`")
  * }}}
  *
  * A PATH catalog (the `delta.`/path`` idiom): the identifier is one
  * back-quoted absolute path; there is no namespace to enumerate, create
  * into, or drop from — DDL lifecycle stays with the transaction log's
  * own verbs ([[graft.sources.TxLog]]). Reads plan through the SAME
  * log-driven index as `format("graft-delta")` (metadata partition
  * pruning + stats skipping — [[DeltaLogV2Index]] delegates listing to
  * [[graft.sources.DeltaLogFileIndex]]) feeding Spark's own V2 parquet
  * scan. Writes are the V1-fallback bridge (`V1Write`) onto the
  * transactional TxLog append/overwrite, which commits the `_delta_log`
  * directly — one write path, not two drifting ones. SQL DELETE routes the pushed V2
  * predicates through a CLOSED-WORLD translator ([[V2PredicateSql]]) to
  * [[graft.sources.TxLog.deleteWhere]]'s file-granular copy-on-write:
  * anything the translator cannot prove it renders exactly makes
  * `canDeleteWhere` answer false (Spark then fails the statement loud —
  * never a wrong delete).
  */
class GraftDeltaCatalog extends TableCatalog
  with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = "graft"

  /** `CALL graft.history/vacuum/optimize/restore(...)` — Spark 4 stored
    * procedures over the lifecycle verbs ([[GraftProcedures]]). */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().isEmpty ||
      ident.namespace().sameElements(Array("system")),
      s"$catalogName procedures live at the catalog root (or `system.`): " +
        s"CALL $catalogName.${GraftProcedures.names.mkString("|")}(...)")
    GraftProcedures.load(catalogName, ident.name()).getOrElse(
      throw new RuntimeException(
        s"$catalogName has no procedure '${ident.name()}'; available: " +
          GraftProcedures.names.mkString(", ")))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      GraftProcedures.names.map(Identifier.of(Array.empty, _)).toArray
    else Array.empty

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    // UPDATE / MERGE INTO plan through [[GraftDmlStrategy]]; catalogs
    // initialize lazily on first reference, so the active session is the
    // one about to plan the statement. Sessions configured with only this
    // catalog (no extensions class) get the engine surface here;
    // extensions-built sessions already carry it and install is a no-op.
    graft.catalyst.GraftExtensions.install(SparkSession.active)
  }

  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String = {
    require(ident.namespace().isEmpty,
      s"$catalogName is a path catalog: use one back-quoted absolute " +
        s"path, e.g. $catalogName.`/data/events` " +
        s"(got namespace ${ident.namespace().mkString(".")})")
    new HPath(ident.name()).toUri.getPath
  }

  /** Existence check shared by every load form: a path without a
    * `_delta_log` fails with NoSuchTable semantics, not a confusing
    * 'no JSON commits' require. */
  private def resolve(ident: Identifier): String = {
    val path = pathOf(ident)
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(path, "_delta_log")))
      throw new NoSuchTableException(Seq(catalogName, ident.name()))
    path
  }

  private def load(ident: Identifier, versionAsOf: Option[Long]): Table =
    new GraftDeltaTable(resolve(ident), versionAsOf)

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** SQL `VERSION AS OF n`. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(version.toLong))

  /** SQL `TIMESTAMP AS OF ts` — Spark hands epoch MICROseconds; commit
    * time is the `_delta_log` file mtime ([[DeltaBridge.versionAtTimestamp]]). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val path = resolve(ident)
    new GraftDeltaTable(path,
      Some(DeltaBridge.versionAtTimestamp(path, timestamp / 1000L)))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty // paths are not enumerable

  override def invalidateTable(ident: Identifier): Unit = ()

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      s"$catalogName: create tables by writing — " +
        "df.write.format(\"graft-delta\").save(path) or " +
        "CREATE TABLE ... USING graft-delta LOCATION path")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      s"$catalogName: schema evolves through writes (the log's metaData " +
        "actions), not ALTER TABLE")

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(
      s"$catalogName: a path table's lifecycle belongs to the filesystem " +
        "and TxLog.vacuum, not DROP TABLE")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName: paths do not rename through the catalog")
}

/** One graft-delta table as a DSv2 `Table`: reads via the log-driven
  * index into Spark's V2 parquet scan; writes via the V1 bridge onto
  * TxLog; SQL DELETE via [[TxLog.deleteWhere]]. Time-travel loads
  * (`versionAsOf` defined) are read-only — mutating a pinned past is a
  * contradiction the catalog refuses loudly. */
private[v2] class GraftDeltaTable(path: String, versionAsOf: Option[Long])
  extends Table with SupportsRead with SupportsWrite with SupportsDeleteV2 {

  private def spark: SparkSession = SparkSession.active
  /** The version this mount RESOLVED to, pinned before the replay: the
    * extended scan re-reads the log at execution time, and with
    * versionAsOf=None a commit landing between planning and execution
    * would make the executed rows come from a newer snapshot than the
    * planned schema/mount decision (ADVICE r14). Pinning the head here
    * makes planning and execution read the same snapshot; an explicit
    * time-travel version passes through untouched. */
  private lazy val resolvedVersion: Option[Long] =
    versionAsOf.orElse(
      Some(DeltaBridge.headVersion(path)).filter(_ >= 0))
  /** ONE log replay decides the mount: Left(schema, partCols) routes
    * scans through [[graft.sources.ExtendedDeltaRelation]]'s path via a
    * V1Scan adapter (column mapping / deletion vectors); Right(snapshot)
    * is the fast parquet-index path. */
  private lazy val mounted = DeltaBridge.mount(spark, path, resolvedVersion)
  private lazy val fullSchema = mounted.fold(_._1, s =>
    DataType.fromJson(s.schemaJson).asInstanceOf[StructType])
  private def partitionColsOf: Seq[String] =
    mounted.fold(_._2, _.partitionCols)

  override def name(): String =
    s"graft-delta.`$path`" + versionAsOf.fold("")(v => s"@v$v")

  override def schema(): StructType = fullSchema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    mounted match {
      case Left((logical, _)) =>
        // mapped / DV'd snapshot: a V1Scan adapter onto the proven
        // extended-read path, with column pruning pushed through — the
        // SQL surface is identical, only the physical mount differs.
        // resolvedVersion (not versionAsOf): the adapter replays the log
        // at EXECUTION time, and it must read the snapshot this mount
        // decision was planned against
        new ExtendedV1ScanBuilder(path, resolvedVersion, logical)
      case Right(s) =>
        val partitionSchema = StructType(s.partitionCols.map(fullSchema(_)))
        val dataSchema = StructType(
          fullSchema.filterNot(f => s.partitionCols.contains(f.name)))
        ParquetScanBuilder(spark,
          new DeltaLogV2Index(spark, path, s, fullSchema, partitionSchema),
          fullSchema, dataSchema, options)
    }

  /** Accessors for [[GraftDmlStrategy]] (UPDATE / MERGE INTO planning). */
  private[v2] def dmlPath: String = path
  private[v2] def assertMutable(op: String): Unit = mutable(op)

  /** Guard shared by every mutating entry point. */
  private def mutable(op: String): Unit = {
    require(versionAsOf.isEmpty,
      s"$op on ${name()}: a VERSION/TIMESTAMP AS OF load is read-only")
    require(TxLog.owns(path),
      s"$op on ${name()}: not a TxLog-backed table (a foreign _delta_log " +
        "mounts read-only; its writer owns its commits)")
  }

  /** INSERT INTO / INSERT OVERWRITE — the V1 write bridge: Spark has
    * already validated the input schema against [[schema]]; the insert
    * lands as one transactional TxLog commit (one Delta version), the
    * same path as `df.write.format("graft-delta")`. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                                ovr: Boolean): Unit = {
              mutable(if (overwrite || ovr) "INSERT OVERWRITE" else "INSERT")
              val s = data.sparkSession
              if (overwrite || ovr) TxLog.overwrite(s, data, path)
              else TxLog.append(s, data, path)
            }
          }
        /** `writeStream.toTable` — the exactly-once V2 streaming sink
          * ([[GraftDeltaStreamingWrite]]: one Delta version per epoch).
          * Append-only; Hive-partitioned targets route each epoch's rows
          * through per-partition writers under the table's own layout
          * (the reference's gold shape streams through the catalog,
          * VERDICT r13 directive 7). */
        override def toStreaming: org.apache.spark.sql.connector.write
            .streaming.StreamingWrite = {
          mutable("writeStream")
          require(!overwrite,
            s"writeStream into ${name()}: Append output mode only (the " +
              "epoch-id idempotence contract does not cover truncation)")
          GraftDeltaStreamingWrite(path, info.schema(), info.queryId(),
            partitionColsOf)
        }
      }
    }

  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    versionAsOf.isEmpty && TxLog.owns(path) &&
      predicates.forall(V2PredicateSql.toSql(_).isDefined)

  /** SQL `DELETE FROM ... WHERE` — the pushed predicates conjoin into
    * one SQL string for [[TxLog.deleteWhere]]'s file-granular
    * copy-on-write; an empty array is Spark's TRUNCATE. The translation
    * re-checks per predicate: arriving here with an untranslatable one
    * (engine skipped [[canDeleteWhere]]) fails loud, never drops rows a
    * different predicate would have kept. */
  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    mutable("DELETE")
    val parts = predicates.map { p =>
      V2PredicateSql.toSql(p).getOrElse(throw new IllegalArgumentException(
        s"DELETE on ${name()}: cannot translate predicate $p exactly"))
    }
    val sql = if (parts.isEmpty) "true" else parts.mkString("(", ") AND (", ")")
    TxLog.deleteWhere(spark, path, sql)
  }

  override def toString: String = name()
}

/** V1Scan adapter for EXTENDED (column-mapped / DV'd) snapshots in the
  * SQL catalog: Spark plans the V2 scan, prunes columns through
  * `SupportsPushDownRequiredColumns`, and the execution drops to
  * [[graft.sources.ExtendedDeltaRelation]]'s DataFrame (physical-name
  * cast-back + `_metadata.row_index` DV filtering) via the V1 TableScan
  * bridge — the JDBC-connector pattern for scans a native batch cannot
  * express. Filters are re-applied by Spark above the scan (none are
  * claimed pushed), so correctness never depends on the adapter. */
private[v2] class ExtendedV1ScanBuilder(path: String,
                                        versionAsOf: Option[Long],
                                        logical: StructType)
  extends ScanBuilder
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  private var required: StructType = logical

  override def pruneColumns(requiredSchema: StructType): Unit =
    // TOP-LEVEL pruning only: the optimizer may hand a NESTED-pruned
    // schema (struct subsets), but this scan materializes full logical
    // columns — reporting the pruned struct back while returning full
    // rows would misalign the row converter. Reconstructing each field
    // from the table schema keeps readSchema() honest; Spark prunes
    // nested fields above the scan.
    required = StructType(requiredSchema.fieldNames.map(n =>
      logical(logical.fieldIndex(n))))

  override def build(): org.apache.spark.sql.connector.read.Scan =
    new org.apache.spark.sql.connector.read.V1Scan {
      override def readSchema(): StructType = required
      override def description(): String =
        s"graft-delta extended scan (columnMapping/deletionVectors) $path"
      override def toV1TableScan[
          T <: org.apache.spark.sql.sources.BaseRelation
            with org.apache.spark.sql.sources.TableScan](
          context: org.apache.spark.sql.SQLContext): T =
        new org.apache.spark.sql.sources.BaseRelation
          with org.apache.spark.sql.sources.TableScan {
          override def sqlContext: org.apache.spark.sql.SQLContext = context
          override val schema: StructType = required
          override def buildScan()
              : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
            graft.sources.ExtendedDeltaRelation.scan(context.sparkSession,
              path, versionAsOf, required.fieldNames.toIndexedSeq,
              Seq.empty).rdd
        }.asInstanceOf[T]
    }
}

/** The log-driven file index in the shape Spark's V2 parquet scan
  * requires (`PartitioningAwareFileIndex`): listing DELEGATES to
  * [[graft.sources.DeltaLogFileIndex]], so catalog reads get the same
  * metadata partition pruning and proof-backed stats skipping as
  * `format("graft-delta")` — one pruning implementation, two mounts.
  * The partition-spec / leaf-file views are derived from the same log
  * snapshot (they feed `sizeInBytes`, `inputFiles` and the scan's
  * partition arithmetic, never a directory walk). */
private[v2] class DeltaLogV2Index(
    spark: SparkSession, table: String, snap: DeltaBridge.Snapshot,
    fullSchema: StructType, partSchema: StructType)
  extends PartitioningAwareFileIndex(spark, Map.empty, Some(fullSchema),
    FileStatusCache.getOrCreate(spark)) {

  private val inner = new graft.sources.DeltaLogFileIndex(
    spark, table, snap, fullSchema, partSchema)

  override def partitionSpec(): PartitionSpec =
    if (partSchema.isEmpty) PartitionSpec(StructType(Nil), Seq.empty)
    else {
      val dirs = inner.entriesWithValues
        .groupBy(_._2) // by partitionValues map
        .toSeq
        .map { case (pv, files) =>
          PartitionPath(
            InternalRow.fromSeq(partSchema.map(f =>
              inner.typedPartValue(pv, f.name, f.dataType))),
            files.head._1.getPath.getParent)
        }
      PartitionSpec(partSchema, dirs)
    }

  override def leafFiles: scala.collection.mutable.LinkedHashMap[
      org.apache.hadoop.fs.Path, org.apache.hadoop.fs.FileStatus] = {
    val m = scala.collection.mutable.LinkedHashMap
      .empty[org.apache.hadoop.fs.Path, org.apache.hadoop.fs.FileStatus]
    inner.entriesWithValues.foreach { case (fs, _) => m(fs.getPath) = fs }
    m
  }

  override def leafDirToChildrenFiles: Map[
      org.apache.hadoop.fs.Path, Array[org.apache.hadoop.fs.FileStatus]] =
    inner.entriesWithValues.map(_._1).groupBy(_.getPath.getParent)
      .map { case (d, fs) => d -> fs.toArray }

  /** The pruning entry point the scan calls — the log-driven listing
    * (partition predicates on typed partitionValues + stats-proof file
    * drops), NOT the superclass's directory-derived one. */
  override def listFiles(
      partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.execution.datasources.PartitionDirectory] =
    inner.listFiles(partitionFilters, dataFilters)

  override def rootPaths: Seq[org.apache.hadoop.fs.Path] = inner.rootPaths

  override def refresh(): Unit = ()
}

/** CLOSED-WORLD V2-predicate → Spark-SQL translation for the DELETE
  * path: renders exactly the forms it can prove (comparisons, boolean
  * combinators, null tests, IN over literals, the ALWAYS_* constants;
  * single-part column references; string/numeric/boolean/date
  * literals), returns None for everything else — [[GraftDeltaTable
  * .canDeleteWhere]] turns None into a loud statement failure instead
  * of a wrong delete. Timestamp literals are deliberately out: their
  * SQL rendering is session-zone-dependent, exactly the ambiguity a
  * delete predicate must not carry. */
private[v2] object V2PredicateSql {

  def toSql(e: VExpression): Option[String] = e match {
    case p: Predicate => p.name() match {
      case "ALWAYS_TRUE"  => Some("true")
      case "ALWAYS_FALSE" => Some("false")
      case "AND" | "OR" =>
        binary(p.children(), s => s"(${s(0)} ${p.name()} ${s(1)})")
      case "NOT" =>
        toSql(p.children()(0)).map(c => s"(NOT $c)")
      case "IS_NULL" =>
        toSql(p.children()(0)).map(c => s"($c IS NULL)")
      case "IS_NOT_NULL" =>
        toSql(p.children()(0)).map(c => s"($c IS NOT NULL)")
      case op @ ("=" | "<>" | "<" | "<=" | ">" | ">=") =>
        binary(p.children(), s => s"(${s(0)} $op ${s(1)})")
      case "IN" =>
        val cs = p.children().toSeq.map(toSql)
        if (cs.exists(_.isEmpty) || cs.length < 2) None
        else Some(s"(${cs.head.get} IN (${cs.tail.map(_.get).mkString(", ")}))")
      case _ => None
    }
    case f: NamedReference =>
      f.fieldNames() match {
        case Array(one) => Some(s"`${one.replace("`", "``")}`")
        case _          => None // nested fields: out of the proven set
      }
    case l: VLiteral[_] => literal(l)
    // A PROVEN scalar subset (the forms predicates over derived values
    // arrive in — `k % 10 = 3`, `abs(delta) < 5`): each renders to the
    // SQL spelling Spark parses back to the identical Catalyst node, so
    // the round trip is exact. Everything else stays None.
    case g: org.apache.spark.sql.connector.expressions.GeneralScalarExpression =>
      g.name() match {
        case op @ ("+" | "-" | "*" | "/" | "%") if g.children().length == 2 =>
          binary(g.children(), s => s"(${s(0)} $op ${s(1)})")
        case "-" if g.children().length == 1 =>
          toSql(g.children()(0)).map(c => s"(- $c)")
        case fn @ ("ABS" | "UPPER" | "LOWER") if g.children().length == 1 =>
          toSql(g.children()(0)).map(c => s"${fn.toLowerCase}($c)")
        case fn @ ("COALESCE" | "CONCAT") if g.children().nonEmpty =>
          val cs = g.children().toSeq.map(toSql)
          if (cs.exists(_.isEmpty)) None
          else Some(s"${fn.toLowerCase}(${cs.map(_.get).mkString(", ")})")
        case _ => None
      }
    case c: org.apache.spark.sql.connector.expressions.Cast =>
      c.dataType() match {
        case StringType | IntegerType | LongType | ShortType | ByteType |
             BooleanType | DoubleType | FloatType | DateType | _: DecimalType =>
          toSql(c.expression()).map(e => s"CAST($e AS ${c.dataType().sql})")
        case _ => None // timestamp/binary/nested casts: out
      }
    case _ => None
  }

  private def binary(cs: Array[VExpression],
                     render: IndexedSeq[String] => String): Option[String] = {
    val rendered = cs.toIndexedSeq.map(toSql)
    if (rendered.length == 2 && rendered.forall(_.isDefined))
      Some(render(rendered.map(_.get)))
    else None
  }

  private def literal(l: VLiteral[_]): Option[String] =
    literalSql(l.value(), l.dataType())

  /** Render one typed literal value (internal representation — the one
    * both V2 `LiteralValue` and Catalyst `Literal` carry) as a Spark-SQL
    * literal, or None outside the proven set. Shared by the DELETE
    * predicate translator and the UPDATE/MERGE SET renderer
    * ([[CatalystSetSql]]). */
  private[v2] def literalSql(value: Any, dt: DataType): Option[String] =
    if (value == null) None // null literals only via IS [NOT] NULL
    else dt match {
      case StringType =>
        // Backslash FIRST: Spark's default parser (escapedStringLiterals
        // =false) treats \ as an escape inside string literals, so an
        // unescaped backslash would silently shift the value — on a
        // DELETE predicate that means deleting the wrong rows. Doubling
        // round-trips on this runtime (V2PredicateSqlSpec evaluates it).
        // Under the LEGACY conf (escapedStringLiterals=true) backslashes
        // are LITERAL — doubling would match the wrong rows — and there
        // is NO proven in-literal escape for a single quote ('' parses
        // as adjacent-literal concatenation there, probed empirically in
        // V2PredicateSqlSpec): quote-free strings render plainly,
        // quote-bearing ones REFUSE loudly (ADVICE r13 — closed world,
        // never a wrong delete).
        val raw = value.toString
        val legacy = org.apache.spark.sql.internal.SQLConf.get
          .getConfString("spark.sql.parser.escapedStringLiterals", "false")
          .toBoolean
        if (legacy) {
          if (raw.contains("'")) None
          else Some(s"'$raw'")
        } else Some(s"'${raw.replace("\\", "\\\\").replace("'", "''")}'")
      case IntegerType | LongType | ShortType | ByteType | BooleanType =>
        Some(value.toString)
      case DoubleType | FloatType =>
        val d = value.toString
        // NaN/Infinity have no plain SQL literal — refuse, don't guess
        if (d == "NaN" || d.endsWith("Infinity")) None
        else Some(s"CAST('$d' AS ${dt.sql})")
      case _: DecimalType =>
        Some(s"CAST('$value' AS ${dt.sql})")
      case DateType => // internal form: epoch days
        Some(s"DATE '${java.time.LocalDate.ofEpochDay(
          value.asInstanceOf[Int].toLong)}'")
      case _ => None // timestamps (zone-ambiguous), binary, intervals...
    }
}
