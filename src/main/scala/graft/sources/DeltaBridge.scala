package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.Tables.{Stamp, stamps}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{GraftParquetBridge, ParquetFileFormat}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Delta-protocol READER without the Delta jar: the reference's gold
  * layer writes Delta tables (BuildGoldLayer.py:219-234); this classpath
  * ships no delta-spark, but the Delta transaction-log format itself is an
  * open specification — JSON action files under `_delta_log/` plus
  * parquet checkpoints — so the engine speaks it at the protocol level.
  * [[TxLog]] is the writer: each of its commits publishes one Delta
  * version (protocol + metaData at version 0, one `add`/`remove` action
  * per file, per-add data-skipping `stats` from the parquet footers), so
  * ANY Delta reader — delta-spark, delta-rs, DuckDB's delta extension,
  * Trino — can mount the table, prune on its statistics, and time-travel
  * its history. This object is the one replayer ([[readState]]) behind
  * every snapshot, TxLog's own included:
  *
  *  - [[read]] reconstructs a snapshot from any protocol-v1 `_delta_log`,
  *    TxLog's or a real Delta writer's: `_last_checkpoint` bootstrap (the
  *    checkpoint is itself parquet — Spark's own reader reads it on the
  *    driver, with no job), JSON action
  *    replay above the checkpoint, `versionAsOf` time travel, and the
  *    metaData `schemaString` applied as the read schema (it IS a Spark
  *    schema JSON — the one part of the format that is Spark-native);
  *    a repeated read is PREPARED: while its validity token holds it
  *    returns the DataFrame an earlier identical call planned (the cache
  *    contract — key, token, 64-entry LRU bound, what a hit skips — is
  *    on [[read]]);
  *  - [[buildDataFrame]] is the one builder that turns a replayed set of
  *    adds into rows — [[read]], every [[TxLog]] read and rewrite scan
  *    ([[scanLive]]) and the streaming source's batches go through it, so
  *    the two APIs never disagree on a table's schema or rows; its clean
  *    files, `format("graft-delta")` and the SQL catalog all plan as one
  *    scan over [[logRelation]], the one log-indexed relation;
  *  - [[writeCheckpoint]] compacts the log (TxLog calls it every 10
  *    versions, `CALL graft.checkpoint` on demand) and [[vacuumLog]]
  *    retires the JSON a checkpoint covers.
  *
  * PARTITIONED tables (the reference's actual gold shape —
  * `partitionBy(institution_type, state)` / `(year, quarter, state)`,
  * BuildGoldLayer.py:217-226) are first-class: [[TxLog.appendPartitioned]]
  * stages Hive-layout files and commits per-add `partitionValues` with
  * `partitionColumns` in metaData (the delta-rs/delta-spark wire shape),
  * and [[read]] prunes add actions against a `partitionFilter` at the
  * METADATA level — the same log-level pruning a real Delta reader
  * performs before planning any scan — then types partition columns
  * from each add's logged `partitionValues` under the logged schema,
  * whatever the directory layout. TxLog fixes those
  * types at commit over every value of the post-commit snapshot (INT,
  * BIGINT, DATE, else STRING — the narrowest type that renders each
  * value back identically), so `code=0123` reads as the string "0123"
  * and a mixed `7`/`abc` column as STRING, never as a failed cast.
  *
  * Scale: the log is metadata — actions are O(files), the checkpoint
  * bootstrap reads one parquet, and data files are never touched until
  * the returned DataFrame's own scan. A snapshot plans as ONE scan over
  * a file index built from the log ([[DeltaLogFileIndex]]) at any commit
  * count: no directory listing, no listing job, no scan per commit.
  * Partition pruning is metadata-priced at both levels: the
  * `partitionFilter` drops add actions before the index is built, and a
  * later Catalyst filter prunes the index's typed partition rows (and
  * stats) at planning. This is how production Delta readers plan a
  * snapshot; nothing here is a toy shortcut.
  */
object DeltaBridge {

  private[sources] val mapper = new ObjectMapper()

  private[sources] def deltaLogDir(table: String): Path =
    Paths.get(table, "_delta_log")

  private[sources] def deltaVersionFile(table: String, v: Long): Path =
    deltaLogDir(table).resolve(f"$v%020d.json")

  // -------------------------------------------------- Hive path parsing

  private val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Unescape Spark/Hive partition-dir percent-encoding (the inverse of
    * ExternalCatalogUtils.escapePathName — '%XX' hex sequences). */
  private[sources] def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** The partition values a staged relative path encodes: the TRAILING
    * consecutive `col=value` directories immediately above the file,
    * which is exactly the run Spark's own bottom-up partition-discovery
    * walk collects (a `k=v`-shaped segment higher up, below a non-`k=v`
    * one, is part of the opaque prefix). Values unescape Hive
    * percent-encoding; `__HIVE_DEFAULT_PARTITION__` maps to null. */
  private[sources] def hivePartitionValues(path: String): Seq[(String, String)] =
    path.split('/').dropRight(1).reverseIterator
      .takeWhile(_.indexOf('=') > 0).toSeq.reverse.map { seg =>
        val eq = seg.indexOf('=')
        val v = unescapePathName(seg.substring(eq + 1))
        (unescapePathName(seg.substring(0, eq)),
          if (v == HiveDefaultPartition) null else v)
      }

  /** The number of Delta versions in `table`'s `_delta_log`. [[TxLog]]
    * commits write the Delta log directly, so there is nothing left to
    * export; the benchmark's traced gold publish still calls this. */
  def exportLog(spark: SparkSession, table: String): Int = versions(table).size

  /** `delta.deletedFileRetentionDuration` parsed per the spec's
    * CalendarInterval subset real writers emit (`interval N unit`);
    * absent or unparseable → delta's 1-week default. */
  private[sources] def tombstoneRetentionMs(
      configuration: Map[String, String]): Long = {
    val Default = 7L * 24 * 3600 * 1000
    configuration.get("delta.deletedFileRetentionDuration") match {
      case None => Default
      case Some(raw) =>
        val Pat = """(?i)\s*interval\s+(\d+)\s+(\w+?)s?\s*""".r
        raw match {
          case Pat(n, unit) =>
            val ms = unit.toLowerCase match {
              case "millisecond"        => 1L
              case "second"             => 1000L
              case "minute"             => 60L * 1000
              case "hour"               => 3600L * 1000
              case "day"                => 24L * 3600 * 1000
              case "week"               => 7L * 24 * 3600 * 1000
              case _                    => -1L
            }
            if (ms < 0) Default else n.toLong * ms
          case _ => Default
        }
    }
  }

  /** Action rows per checkpoint part — one part up to here (the classic
    * single-file form); above it the spec's multi-part layout. */
  private val CheckpointPartRows = 100000

  private[sources] def writeCheckpoint(spark: SparkSession, table: String,
                                       cv: Long,
                                       partRows: Int = CheckpointPartRows): Unit = {
    require(partRows > 0, s"writeCheckpoint: partRows $partRows must be > 0")
    val path = deltaLogDir(table).resolve(f"$cv%020d.checkpoint.parquet")
    if (Files.exists(path)) return
    // an already-DECLARED multi-part checkpoint at cv is complete by
    // the publish order below (parts before _last_checkpoint) — done;
    // an undeclared partial part-set re-publishes idempotently (sound
    // because the rows — and so the chunk boundaries — are a pure
    // function of cv: the tombstone horizon below is pinned to the
    // commit's own timestamp, never the retry's wall clock)
    if (lastCheckpointMeta(table).exists { case (v, parts) =>
        v == cv && parts > 1 }) return
    // reconstruct the state AT cv through the READER path — bootstrapping
    // from the PREVIOUS published checkpoint when the JSON prefix has been
    // vacuumed (readState enforces version contiguity above the bootstrap,
    // so a vacuumed-past-recovery log fails loud instead of silently
    // omitting live files from the new checkpoint). Previously-published
    // checkpoints are immutable; only the one being written here is new.
    val st = readState(spark, table, Some(cv))
    // an unreconstructible cv (its JSON vacuumed and no usable
    // bootstrap) replays to an EMPTY state — publishing that would
    // brick every later reader (review r15); refuse instead
    require(st.schemaJson != null,
      s"checkpoint: version $cv of $table cannot be reconstructed from " +
        "the surviving log (vacuumed past it?); checkpoint the head")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val ckptSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType))))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("stats", StringType),
        StructField("deletionVector", StructType(Seq(
          StructField("storageType", StringType),
          StructField("pathOrInlineDv", StringType),
          StructField("offset", IntegerType),
          StructField("sizeInBytes", IntegerType),
          StructField("cardinality", LongType))))))),
      // the spec's two non-file state carriers a checkpoint must keep
      // (ADVICE r14): SetTransaction idempotence state and in-retention
      // remove tombstones (vacuum's worklist)
      StructField("txn", StructType(Seq(
        StructField("appId", StringType),
        StructField("version", LongType),
        StructField("lastUpdated", LongType)))),
      StructField("remove", StructType(Seq(
        StructField("path", StringType),
        StructField("deletionTimestamp", LongType),
        StructField("dataChange", BooleanType))))))
    // protocol / configuration republish VERBATIM: a checkpoint that
    // silently downgraded a feature-bearing table (DVs, column mapping)
    // would let a later reader mis-read it
    // tombstone retention: keep removes younger than the table's
    // deletedFileRetentionDuration (default 1 week — delta's own), plus
    // undated ones (conservative: a foreign writer that logs no
    // deletionTimestamp must not have its vacuum worklist truncated).
    // The horizon anchors to the CHECKPOINTED COMMIT's own timestamp
    // (its JSON mtime — the same clock timestampAsOf resolves against),
    // not the writer's wall clock: a crash-interrupted multi-part set
    // retried hours later must recompute IDENTICAL rows, or the shifted
    // chunk boundaries would mix old and new parts under the
    // keep-on-collision publish and silently drop tombstones
    // (review r15). Fallback to wall clock only when the JSON is
    // already gone (then the single idempotence risk is gone with it).
    val retainMs = tombstoneRetentionMs(st.configuration)
    val anchor =
      if (Files.exists(deltaVersionFile(table, cv)))
        Files.getLastModifiedTime(deltaVersionFile(table, cv)).toMillis
      else System.currentTimeMillis()
    val horizon = anchor - retainMs
    val keptTombstones = st.tombstones.toSeq.filter { case (_, (ts, _)) =>
      ts.forall(_ >= horizon) }
    val rows =
      Row(Row(st.minReader, st.minWriter,
        if (st.readerFeatures.isEmpty) null else st.readerFeatures,
        if (st.writerFeatures.isEmpty) null else st.writerFeatures),
        null, null, null, null) +:
      Row(null, Row(st.metaId, st.schemaJson, st.partitionCols,
        st.configuration), null, null, null) +:
      (st.live.toSeq.map { case (p, e) =>
        Row(null, null, Row(p, e.pv, e.size, e.modificationTime, true,
          e.stats.orNull,
          e.dv.map(d => Row(d.storageType, d.pathOrInlineDv,
            d.offset.map(Int.box).orNull, d.sizeInBytes,
            d.cardinality)).orNull), null, null)
      } ++
      st.txns.toSeq.map { case (appId, (v, lu)) =>
        Row(null, null, null, Row(appId, v, lu.map(Long.box).orNull), null)
      } ++
      keptTombstones.map { case (p, (ts, dc)) =>
        Row(null, null, null, null, Row(p, ts.map(Long.box).orNull, dc))
      })
    // each part is written on the driver through Spark's own parquet
    // writer (no job: a commit at the cadence pays file I/O, not a
    // scheduling round), then linked into place
    val (factory, conf) = GraftParquetBridge.writerFactory(spark, ckptSchema)
    val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(ckptSchema)
    def writeOne(dest: Path, chunk: Seq[Row]): Unit = {
      val tmp = deltaLogDir(table).resolve(
        s".ckpt-${java.util.UUID.randomUUID()}.parquet")
      try {
        val w = GraftParquetBridge.newWriter(factory, tmp.toString,
          ckptSchema, conf, 0, 0L)
        try chunk.foreach(r => w.write(
          toCatalyst(r).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]))
        finally w.close()
        Files.createLink(dest, tmp)
      } catch { case _: java.nio.file.FileAlreadyExistsException => () }
      finally {
        Files.deleteIfExists(tmp)
        Files.deleteIfExists(tmp.resolveSibling(s".${tmp.getFileName}.crc"))
      }
    }
    // MULTI-PART above the row threshold — the spec's layout for
    // checkpoints too large to be one parquet write
    // (`N.checkpoint.<part>.<parts>.parquet`, 1-based, every part
    // required): at 10⁶ live files one single-file checkpoint is a
    // single-task bottleneck and a single atomic publish of a very
    // large object; parts keep each write bounded. Readers
    // ([[checkpointFiles]] + the bootstrap) already consume this
    // layout. Part files publish BEFORE `_last_checkpoint` names them,
    // so a crash mid-set leaves dangling part files, never a declared
    // checkpoint with missing parts.
    val nParts = math.max(1,
      math.ceil(rows.length.toDouble / partRows).toInt)
    if (nParts == 1) writeOne(path, rows)
    else rows.grouped(partRows).zipWithIndex.foreach { case (chunk, i) =>
      writeOne(deltaLogDir(table).resolve(
        f"$cv%020d.checkpoint.${i + 1}%010d.$nParts%010d.parquet"), chunk)
    }
    // _last_checkpoint points readers at the newest checkpoint; it is
    // replaced by an atomic rename, so a reader racing a committing
    // writer's cadence checkpoint never parses a half-written file
    val meta = Map[String, AnyRef](
      "version" -> java.lang.Long.valueOf(cv),
      "size" -> java.lang.Long.valueOf(rows.length.toLong)) ++
      (if (nParts > 1) Map[String, AnyRef](
        "parts" -> Integer.valueOf(nParts)) else Map.empty)
    val tmp = Files.createTempFile(deltaLogDir(table), ".tmp-", ".last")
    Files.writeString(tmp, mapper.writeValueAsString(meta.asJava))
    Files.move(tmp, deltaLogDir(table).resolve("_last_checkpoint"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  // --------------------------------------------------------------- read

  /** Replayed per-file state: partition values, the add action's raw
    * `stats` JSON (None for stats-less adds and for files bootstrapped
    * from pre-round-14 checkpoints of this bridge, which did not carry
    * stats — such files are simply never skipped, the conservative
    * direction; checkpoints written now preserve them), its deletion
    * vector, and its logged size and modification time (republished
    * verbatim by [[writeCheckpoint]]). `stats` is the one statistics
    * format: [[filesInRange]], [[read]]'s `statsFilter` and the native
    * relation's pushed filters all prune on it. */
  private[sources] case class AddEntry(pv: Map[String, String],
                                       stats: Option[String],
                                       dv: Option[DeletionVectors.Descriptor] = None,
                                       size: Long = 0L,
                                       modificationTime: Long = 0L)

  private[sources] case class LogState(
      var schemaJson: String = null,
      var metaId: String = null,
      var partitionCols: Seq[String] = Seq.empty,
      var configuration: Map[String, String] = Map.empty,
      // the replayed protocol (last wins) — republished verbatim by
      // [[writeCheckpoint]] so a checkpoint never silently downgrades a
      // feature-bearing table
      var minReader: Int = 1,
      var minWriter: Int = 2,
      var readerFeatures: Seq[String] = Seq.empty,
      var writerFeatures: Seq[String] = Seq.empty,
      live: scala.collection.mutable.LinkedHashMap[String, AddEntry] =
        scala.collection.mutable.LinkedHashMap.empty,
      // SetTransaction state (appId → latest version, lastUpdated) and
      // remove TOMBSTONES (path → deletionTimestamp, dataChange): read-
      // irrelevant for a snapshot, but the Delta spec requires a
      // checkpoint to preserve both — dropping txn loses a foreign
      // streaming writer's idempotence state (duplicate batch on
      // restart), dropping in-retention removes breaks its VACUUM
      // (ADVICE r14). Replayed here, republished by [[writeCheckpoint]].
      txns: scala.collection.mutable.LinkedHashMap[String, (Long, Option[Long])] =
        scala.collection.mutable.LinkedHashMap.empty,
      tombstones: scala.collection.mutable.LinkedHashMap[String, (Option[Long], Boolean)] =
        scala.collection.mutable.LinkedHashMap.empty)

  /** The reader features this bridge actually implements; a protocol
    * asking for anything else still refuses loudly. `timestampNtz` needs
    * only the TIMESTAMP_NTZ type (native to this Spark — the schemaString
    * parses and parquet reads it); `vacuumProtocolCheck` imposes reader
    * obligations of exactly nothing (it gates WRITER vacuum discipline —
    * per the spec, readers pass through). */
  private val SupportedReaderFeatures =
    Set("deletionVectors", "columnMapping", "timestampNtz",
      "vacuumProtocolCheck")

  private def requireReadable(mr: Int, features: Seq[String]): Unit =
    if (mr == 2) () // column mapping (legacy reader-version form)
    else if (mr == 3) {
      val unsupported = features.toSet -- SupportedReaderFeatures
      require(unsupported.isEmpty,
        s"Delta table needs reader features ${unsupported.mkString(",")}; " +
          s"this bridge speaks ${SupportedReaderFeatures.mkString(",")}")
    } else require(mr <= 1,
      s"Delta table needs reader version $mr; this bridge speaks 1-3 " +
        s"(features: ${SupportedReaderFeatures.mkString(",")})")

  /** Apply one non-remove action; removes need the whole version
    * ([[applyVersion]]'s order-free reconciliation). */
  private def applyAction(st: LogState, m: java.util.Map[String, AnyRef]): Unit = {
    Option(m.get("protocol")).foreach { p =>
      val pm = p.asInstanceOf[java.util.Map[String, AnyRef]]
      val mr = pm.get("minReaderVersion").asInstanceOf[Number].intValue()
      val features = Option(pm.get("readerFeatures"))
        .map(_.asInstanceOf[java.util.List[String]].asScala.toSeq)
        .getOrElse(Seq.empty)
      requireReadable(mr, features)
      st.minReader = mr
      st.minWriter = Option(pm.get("minWriterVersion"))
        .map(_.asInstanceOf[Number].intValue()).getOrElse(st.minWriter)
      st.readerFeatures = features
      st.writerFeatures = Option(pm.get("writerFeatures"))
        .map(_.asInstanceOf[java.util.List[String]].asScala.toSeq)
        .getOrElse(Seq.empty)
    }
    Option(m.get("metaData")).foreach { md =>
      val mm = md.asInstanceOf[java.util.Map[String, AnyRef]]
      st.schemaJson = mm.get("schemaString").asInstanceOf[String]
      st.metaId = mm.get("id").asInstanceOf[String]
      st.partitionCols = Option(mm.get("partitionColumns"))
        .map(_.asInstanceOf[java.util.List[String]].asScala.toSeq)
        .getOrElse(Seq.empty)
      st.configuration = Option(mm.get("configuration"))
        .map(_.asInstanceOf[java.util.Map[String, String]].asScala.toMap)
        .getOrElse(Map.empty)
    }
    Option(m.get("add")).foreach { a =>
      val am = a.asInstanceOf[java.util.Map[String, AnyRef]]
      val pv = Option(am.get("partitionValues"))
        .map(_.asInstanceOf[java.util.Map[String, String]].asScala.toMap)
        .getOrElse(Map.empty[String, String])
      val stats = Option(am.get("stats")).map(_.asInstanceOf[String])
      val dv = Option(am.get("deletionVector")).map { d =>
        val dm = d.asInstanceOf[java.util.Map[String, AnyRef]]
        DeletionVectors.Descriptor(
          dm.get("storageType").asInstanceOf[String],
          dm.get("pathOrInlineDv").asInstanceOf[String],
          Option(dm.get("offset")).map(_.asInstanceOf[Number].intValue()),
          dm.get("sizeInBytes").asInstanceOf[Number].intValue(),
          Option(dm.get("cardinality")).map(_.asInstanceOf[Number].longValue())
            .getOrElse(-1L))
      }
      def long(k: String): Long =
        Option(am.get(k)).map(_.asInstanceOf[Number].longValue()).getOrElse(0L)
      val path = am.get("path").asInstanceOf[String]
      st.live += (path -> AddEntry(pv, stats, dv, long("size"),
        long("modificationTime")))
      st.tombstones -= path // a re-added path is live, not a tombstone
    }
    Option(m.get("txn")).foreach { tx =>
      val tm = tx.asInstanceOf[java.util.Map[String, AnyRef]]
      st.txns += (tm.get("appId").asInstanceOf[String] -> (
        tm.get("version").asInstanceOf[Number].longValue(),
        Option(tm.get("lastUpdated"))
          .map(_.asInstanceOf[Number].longValue())))
    }
    // commitInfo / cdc: read-irrelevant, skipped
  }

  private val DeltaVersionName = "(\\d{20})\\.json".r

  /** Delta versions present as JSON action files, ascending. */
  def versions(table: String): Seq[Long] = {
    val ld = deltaLogDir(table)
    if (!Files.isDirectory(ld)) Seq.empty
    else TxLog.listDir(ld).map(_.getFileName.toString)
      .collect { case DeltaVersionName(d) => d.toLong }
      .sorted
  }

  /** Latest version the log can SERVE, −1 for an empty log: the max of
    * the JSON action versions and the `_last_checkpoint` version — a log
    * whose expired JSON commits were cleaned up past a checkpoint has
    * `versions` empty but still snapshots fine (checkpoint bootstrap), so
    * version arithmetic must not treat it as empty (r12 review finding:
    * the streaming source silently served nothing on such a log). */
  private[sources] def headVersion(table: String): Long =
    (versions(table) ++ lastCheckpointVersion(table)).foldLeft(-1L)(_ max _)

  /** DESCRIBE HISTORY — one row per surviving log version: (version,
    * commit timestamp = the action file's mtime, the same clock
    * [[versionAtTimestamp]] resolves against, add/remove action counts,
    * whether the version re-declared a schema). METADATA-ONLY: reads the
    * JSON action files, never a data file, so auditing a 100 TB table's
    * history costs its log. Versions vacuumed past the retention horizon
    * (JSON deleted under a checkpoint by [[vacuumLog]]) are absent —
    * delta's own DESCRIBE HISTORY retention behavior. */
  def history(spark: SparkSession, table: String)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    // `checkpointed` surfaces the `_last_checkpoint` state per row: a
    // version at or below it is served by the checkpoint and its JSON is
    // log-retention-eligible (the lifecycle fact a maintenance operator
    // reads history for)
    val ckpt = lastCheckpointVersion(table)
    commitTimes(table).map { case (v, ts) =>
      var adds = 0L; var removes = 0L; var meta = false
      actionsOf(table, v).foreach { m =>
        if (m.containsKey("add")) adds += 1
        else if (m.containsKey("remove")) removes += 1
        else if (m.containsKey("metaData")) meta = true
      }
      (v, ts, adds, removes, meta, ckpt.exists(v <= _))
    }.toDF("version", "timestamp_ms", "n_adds", "n_removes",
      "schema_changed", "checkpointed").orderBy("version")
  }

  /** (version, commit time) per JSON version, shared by [[history]] and
    * [[versionAtTimestamp]] so the two always agree: the file mtimes,
    * monotonized over version order (running max) — clock skew or a
    * copied/restored `_delta_log` can make raw mtimes non-monotone, and
    * timestamp resolution assumes sortedness (delta-spark's
    * DeltaHistoryManager monotonizes commit timestamps for this reason). */
  private def commitTimes(table: String): Seq[(Long, Long)] =
    versions(table).scanLeft((-1L, Long.MinValue)) { case ((_, m), v) =>
      (v, math.max(m, Files.getLastModifiedTime(deltaVersionFile(table, v)).toMillis))
    }.tail

  /** Resolve a `timestampAsOf` instant to a version — delta-spark's
    * rule: a commit's timestamp IS its `_delta_log` JSON file's
    * modification time, and the resolved version is the LATEST commit
    * at-or-before the instant. Delta-parity errors: an instant before
    * the earliest available commit (or one older than the log-retention
    * horizon left behind) and an instant after the latest commit both
    * fail loud — time travel never silently rounds outside the log. */
  def versionAtTimestamp(table: String, tsMillis: Long): Long = {
    val stamped = commitTimes(table)
    require(stamped.nonEmpty,
      s"$table: no JSON commits to resolve a timestamp against (log " +
        "vacuumed past the retention horizon?); use versionAsOf")
    require(tsMillis >= stamped.head._2,
      s"$table: timestamp $tsMillis predates the earliest available " +
        s"commit (${stamped.head._2}, version ${stamped.head._1})")
    require(tsMillis <= stamped.last._2,
      s"$table: timestamp $tsMillis is after the latest commit " +
        s"(${stamped.last._2}, version ${stamped.last._1}); " +
        "read the head without timestampAsOf instead")
    stamped.filter(_._2 <= tsMillis).map(_._1).max
  }

  /** LOG RETENTION — the log-cleanup half of VACUUM: delete the JSON
    * versions a published checkpoint covers (≤ `_last_checkpoint`).
    * Readers bootstrap from the checkpoint, so the head and any
    * `versionAsOf ≥ checkpoint` stay readable; time travel below it is
    * forfeited — delta's own log-retention trade. [[TxLog]] commits
    * continue above the checkpoint. Returns the deleted versions. Pair
    * with [[TxLog.vacuum]] for the data-file half: log first, then data,
    * so no surviving JSON references deleted files. */
  def vacuumLog(table: String): Seq[Long] =
    lastCheckpointVersion(table) match {
      case None => Seq.empty
      case Some(cv) =>
        versions(table).filter(_ <= cv).map { v =>
          Files.deleteIfExists(deltaVersionFile(table, v)); v
        }
    }

  /** State reconstruction at `versionAsOf` (None = head) — ONE replay
    * path shared by [[read]], [[writeCheckpoint]] and every [[TxLog]]
    * snapshot and commit: bootstrap from `_last_checkpoint` when present AND
    * usable (checkpoint version ≤ asOf), then JSON replay above it, with
    * the protocol's CONTIGUITY rule enforced — replayed versions must
    * start exactly at bootstrap+1 (or 0 with no bootstrap) and run gap-
    * free, because a vacuumed or torn log replayed across a gap yields a
    * silently wrong snapshot (live files dropped). */
  private[sources] def readState(spark: => SparkSession, table: String,
                                 versionAsOf: Option[Long]): LogState = {
    val vs = versions(table)
    val last = lastCheckpointVersion(table)
    require(vs.nonEmpty || last.isDefined, s"$table has no _delta_log")
    val ckpt = last.filter(cv => versionAsOf.forall(cv <= _))
    val st = ckpt.fold(LogState())(checkpointState(spark, table, _))

    val replay = vs
      .filter(v => ckpt.forall(v > _))
      .filter(v => versionAsOf.forall(v <= _))
    // the protocol's replay rule: versions are contiguous; a gap means the
    // log was vacuumed past our bootstrap and the snapshot would be wrong
    val expectedStart = ckpt.map(_ + 1).getOrElse(0L)
    require(replay.isEmpty || replay.head == expectedStart,
      s"$table: _delta_log starts at ${replay.headOption.getOrElse(-1L)}, " +
        s"needs $expectedStart (vacuumed log without a usable checkpoint)")
    require(replay.isEmpty ||
        replay == (replay.head to replay.last),
      s"$table: _delta_log has internal gaps in ${replay.mkString(",")}")
    replay.foreach(v => applyVersion(st, actionsOf(table, v)))
    st
  }

  /** The replayed state of a READABLE snapshot at `versionAsOf` (None =
    * head): [[readState]] of a log that has declared its schema — what
    * [[read]], `format("graft-delta")`, the SQL catalog and the streaming
    * source mount. */
  private[sources] def snapshot(spark: => SparkSession, table: String,
                                versionAsOf: Option[Long]): LogState = {
    val st = readState(spark, table, versionAsOf)
    require(st.schemaJson != null, s"$table: no metaData action in log")
    st
  }

  /** The actions of JSON version `v`, one per non-empty line. */
  private def actionsOf(table: String, v: Long): Seq[java.util.Map[String, AnyRef]] =
    Files.readAllLines(deltaVersionFile(table, v)).asScala.toSeq
      .filter(_.nonEmpty).map(mapper.readValue(_, classOf[java.util.Map[String, AnyRef]]))

  /** Apply ONE version's actions with the protocol's order-free file
    * reconciliation: within a commit, a path that is both removed and
    * (re-)added stays live under the add — the exact shape a foreign
    * DV-rewriting DELETE emits (`remove(f, oldDv)` + `add(f, newDv)`,
    * line order unspecified by the spec). Applying lines in file order
    * would silently drop the file whenever the add serialized first
    * (review finding r13). Non-file actions (protocol, metaData) carry
    * no such ambiguity and apply directly. */
  private def applyVersion(st: LogState,
                           actions: Seq[java.util.Map[String, AnyRef]]): Unit = {
    val addPaths: Set[String] = actions.flatMap(a =>
      Option(a.get("add")).map(_.asInstanceOf[java.util.Map[String, AnyRef]]
        .get("path").asInstanceOf[String])).toSet
    // removes first (skipping paths the same version re-adds — those
    // stay live, so no tombstone either), adds last
    actions.foreach { m =>
      Option(m.get("remove")).foreach { r =>
        val rm = r.asInstanceOf[java.util.Map[String, AnyRef]]
        val p = rm.get("path").asInstanceOf[String]
        if (!addPaths.contains(p)) {
          st.live -= p
          st.tombstones += (p -> (
            Option(rm.get("deletionTimestamp"))
              .map(_.asInstanceOf[Number].longValue()),
            Option(rm.get("dataChange"))
              .forall(_.asInstanceOf[Boolean])))
        }
      }
    }
    actions.foreach { m =>
      if (m.get("remove") == null) applyAction(st, m)
    }
  }

  /** Read a Delta table's snapshot at `versionAsOf` (None = head), optionally
    * pruned by exact-match partition values. Bootstraps from
    * `_last_checkpoint` when present AND usable; JSON actions above the
    * bootstrap replay in order.
    *
    * `partitionFilter` prunes ADD ACTIONS before any scan is planned —
    * the metadata-level pruning a real Delta reader performs (and the
    * reason partitionValues live in the log at all): a filtered read of a
    * 10⁵-partition table plans a scan over only the matching partitions'
    * files. The selected adds are the whole file set of the returned
    * DataFrame ([[buildDataFrame]]): clean files of an unmapped table plan
    * as ONE scan over a log-backed index ([[logRelation]]) whatever the
    * commit count or directory layout, partition columns typed from the
    * log's `partitionValues` (Delta data files do not store them), and a
    * later `.filter` on a partition or stats-bearing column prunes that
    * index again at planning.
    *
    * PREPARED READS: a call whose (session, table, versionAsOf,
    * partitionFilter, statsFilter) key and validity token match an earlier
    * call's returns that call's DataFrame itself, so its next action
    * reuses the plan already analyzed, optimized and code-generated: no
    * log replay, relation resolution or planning, while the scan itself
    * runs as before. The token is taken on every call: each `_delta_log`
    * entry's name, size, modification time and file key, the session's
    * SQL conf, and the same stamp of every data file and deletion-vector
    * sidecar the scan reads. Any difference (a new commit, a
    * checkpoint or vacuum, a conf change, a vacuumed or rewritten file)
    * resolves the read as an uncached call does, failing where it fails,
    * and replaces the entry. The cache is an LRU of 64 entries holding
    * plans, never rows. */
  def read(spark: SparkSession, table: String,
           versionAsOf: Option[Long] = None,
           partitionFilter: Map[String, String] = Map.empty,
           statsFilter: Option[(String, Any, Any)] = None): DataFrame = {
    val key = ReadKey(spark, table, versionAsOf, partitionFilter,
      statsFilter.map { case (c, lo, hi) => (c, typed(lo), typed(hi)) })
    // taken BEFORE the replay: a commit landing mid-resolve leaves an
    // entry whose token is already stale, never a stale hit
    val token = readToken(spark, table)
    val hit = token.flatMap { t =>
      Option(readCache.synchronized(readCache.get(key)))
        .filter(e => e.token == t && stamps(e.files).contains(e.stamps))
    }
    hit.map(_.df).getOrElse {
      val (df, files) = resolveRead(spark, table, versionAsOf, partitionFilter, statsFilter)
      for (t <- token; st <- stamps(files))
        readCache.synchronized(readCache.put(key, Prepared(t, files, st, df)))
      df
    }
  }

  /** A stats bound with its class: `==` on boxed numbers is cooperative
    * (a long above 2^53 equals a nearby double), while the stats
    * comparator is exact, so such bounds must not share an entry. */
  private def typed(v: Any): (Any, String) = (v, Option(v).map(_.getClass.getName).orNull)

  private final case class ReadKey(spark: SparkSession, table: String,
      versionAsOf: Option[Long], partitionFilter: Map[String, String],
      statsFilter: Option[(String, (Any, String), (Any, String))])

  private final case class ReadToken(log: Seq[Stamp], conf: Map[String, String])

  private final case class Prepared(token: ReadToken, files: Seq[Path],
      stamps: Seq[Stamp], df: DataFrame)

  private val ReadCacheEntries = 64

  private val readCache =
    new java.util.LinkedHashMap[ReadKey, Prepared](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[ReadKey, Prepared]): Boolean =
        size() > ReadCacheEntries
    }

  private[sources] def clearReadCache(): Unit = readCache.synchronized(readCache.clear())

  private def readToken(spark: SparkSession, table: String): Option[ReadToken] = {
    val ld = deltaLogDir(table)
    if (!Files.isDirectory(ld)) None
    else (try Some(TxLog.listDir(ld)) catch { case _: java.io.IOException => None })
      .flatMap(entries => stamps(entries.sortBy(_.getFileName.toString)))
      .map(ReadToken(_, spark.conf.getAll))
  }

  /** The uncached [[read]]: replay, prune, plan. Returns the DataFrame
    * and every file its scan reads (data files, then DV sidecars). */
  private def resolveRead(spark: SparkSession, table: String,
                          versionAsOf: Option[Long],
                          partitionFilter: Map[String, String],
                          statsFilter: Option[(String, Any, Any)])
      : (DataFrame, Seq[Path]) = {
    val st = snapshot(spark, table, versionAsOf)
    val schema = schemaOf(st)
    val badKeys = partitionFilter.keySet -- st.partitionCols.toSet
    require(badKeys.isEmpty,
      s"$table: partitionFilter on non-partition columns " +
        s"${badKeys.mkString(",")} (partitioned by " +
        s"${st.partitionCols.mkString(",")})")
    val mapping = columnMappingMode(st)
    val physOf = physicalNames(st)
    // metadata-level pruning: drop non-matching add actions before the
    // scan — partition values exactly, then stats bounds (files are kept
    // unless their stats PROVE disjointness — sound for stats-less adds)
    val inRange = statsFilter.map { case (c, lo, hi) =>
      filesInRange(st, c, lo, hi).toSet }
    val live = st.live.toSeq.filter { case (p, e) =>
      partitionFilter.forall { case (k, v) =>
        e.pv.get(physOf(k)).contains(v) } && inRange.forall(_(p))
    }
    val df = buildDataFrame(spark, table, schema, st.partitionCols, mapping, live)
    (df, live.map { case (p, _) => Paths.get(table, p) } ++
      live.flatMap(_._2.dv).flatMap(DeletionVectors.sidecarPath(table, _)))
  }

  private[sources] def columnMappingMode(st: LogState): String =
    st.configuration.getOrElse("delta.columnMapping.mode", "none")

  /** True iff a snapshot needs [[buildDataFrame]]'s mapped or DV
    * branches, so `format("graft-delta")` and the SQL catalog mount it
    * through [[ExtendedDeltaRelation]] instead of [[logRelation]]. */
  private[sources] def needsExtendedRead(st: LogState): Boolean =
    columnMappingMode(st) != "none" || st.live.values.exists(_.dv.isDefined)

  /** Logical → physical column names of a replayed state: under column
    * mapping the log's partitionValues and stats keys are PHYSICAL
    * names; otherwise the identity. */
  private def physicalNames(st: LogState): String => String =
    if (columnMappingMode(st) == "none") identity
    else {
      val m = schemaOf(st).fields.map(f => f.name -> physicalName(f)).toMap
      n => m.getOrElse(n, n)
    }

  private def physicalName(f: StructField): String =
    if (f.metadata.contains("delta.columnMapping.physicalName"))
      f.metadata.getString("delta.columnMapping.physicalName")
    else f.name

  /** The schema the DATA FILES store under a column-mapped table:
    * every field (recursively) renamed to its logged physical name; in
    * `id` mode each field additionally carries its `parquet.field.id`
    * so Spark's reader matches by field id (the mode's contract — names
    * in id-mode files are not required to match at all). */
  private def physicalField(f: StructField, idMode: Boolean): StructField = {
    def physType(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(physicalField(_, idMode)))
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = physType(a.elementType))
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(keyType = physType(m.keyType),
          valueType = physType(m.valueType))
      case other => other
    }
    val meta =
      if (idMode && f.metadata.contains("delta.columnMapping.id"))
        new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id",
            f.metadata.getLong("delta.columnMapping.id"))
          .build()
      else org.apache.spark.sql.types.Metadata.empty
    StructField(physicalName(f), physType(f.dataType), f.nullable, meta)
  }

  /** THE log-indexed relation: Spark's own `HadoopFsRelation` +
    * `ParquetFileFormat` scan over a [[DeltaLogFileIndex]] of exactly
    * `adds` (clean files of an unmapped table) under the logged
    * `schema`. The file list comes from the log, never a directory walk
    * or a listing job, and partition values are typed from each add's
    * `partitionValues`, so the directory layout does not matter. Every
    * log-indexed scan is built here: [[buildDataFrame]]'s clean files,
    * `format("graft-delta")` ([[DeltaBridgeSource]]) and the SQL catalog
    * (whose V2 index wraps this relation's `location`). Columns are
    * nullable, as in every Spark file-source relation. */
  private[sources] def logRelation(spark: SparkSession, table: String,
                                   schema: StructType, partitionCols: Seq[String],
                                   adds: Seq[(String, AddEntry)]): HadoopFsRelation = {
    val partitionSchema = GraftSqlBridge.asNullable(StructType(partitionCols.map(schema(_))))
    val dataSchema = GraftSqlBridge.asNullable(
      StructType(schema.filterNot(f => partitionCols.contains(f.name))))
    HadoopFsRelation(new DeltaLogFileIndex(spark, table, partitionSchema, adds),
      partitionSchema, dataSchema, None, new ParquetFileFormat, Map.empty)(spark)
  }

  /** THE builder: the DataFrame over a set of live adds under the logged
    * `schema` — the one place a replayed add set becomes rows, shared by
    * [[read]], every [[TxLog]] read and rewrite scan ([[scanLive]]) and
    * the streaming source's batches. Its branches:
    *
    *  - clean files of an unmapped table: ONE scan over [[logRelation]],
    *    its columns selected in logged-schema order — one scan at any
    *    commit count, file count or layout;
    *  - clean files of a column-mapped table (directory names and data
    *    columns are physical): one scan branch per live partition tuple,
    *    the log's values attached as typed literals;
    *  - each file with a deletion vector: one [[dvFilteredScan]] branch,
    *    its partition values attached as literals (DV'd files are the
    *    copy-on-write minority by construction, so the plan stays
    *    metadata-sized);
    *  - under column mapping, data files read under the PHYSICAL schema
    *    (name mode: physical names match the parquet columns; id mode:
    *    `parquet.field.id` metadata + Spark's field-id matching), then
    *    each top-level column casts back to its logical field — struct
    *    casts rename nested fields positionally, so nested mapping comes
    *    free. */
  private[sources] def buildDataFrame(
      spark: SparkSession, table: String, schema: StructType,
      partitionCols: Seq[String], mapping: String,
      files: Seq[(String, AddEntry)]): DataFrame = {
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val (clean, dvd) = files.partition(_._2.dv.isEmpty)
    val indexed: Option[DataFrame] = Option.when(mapping == "none" && clean.nonEmpty) {
      val rel = LogicalRelation(logRelation(spark, table, schema, partitionCols, clean))
      val byName = rel.output.map(a => a.name -> a).toMap
      GraftSqlBridge.ofRows(spark, Project(schema.fieldNames.toSeq.map(byName), rel))
    }
    if (dvd.isEmpty && indexed.isDefined) return indexed.get
    val idMode = mapping == "id"
    // field-id matching is conf-gated in the parquet reader and consulted
    // lazily at scan time FROM THE RELATION'S OWN SESSION — so id-mode
    // data files read through a cloned session carrying the flag, and
    // the caller's session conf is never mutated (a save-and-restore here
    // would revert before the lazy scan runs; a permanent set would
    // silently flip any later read whose explicit schema carries
    // parquet.field.id metadata — ADVICE r13)
    val rspark =
      if (idMode) org.apache.spark.sql.GraftSqlBridge.sessionWithConf(
        spark, "spark.sql.parquet.fieldId.read.enabled", "true")
      else spark
    def phys(f: StructField): String =
      if (mapping == "none") f.name else physicalName(f)
    val dataFields = schema.fields.filterNot(f => partitionCols.contains(f.name))
    val dataSchema = StructType(dataFields.map(f =>
      if (mapping == "none") f else physicalField(f, idMode)))
    // a branch over files sharing one partition tuple: partition values
    // attach as literals cast to their logged types, data columns cast
    // back from their physical names
    def finish(raw: DataFrame, pv: Map[String, String]): DataFrame =
      partitionCols.foldLeft(raw)((d, c) => d.withColumn(c,
          lit(pv.getOrElse(phys(schema(c)), null)).cast(schema(c).dataType)))
        .select(schema.fields.toIndexedSeq.map { f =>
          if (mapping == "none" || partitionCols.contains(f.name)) col(f.name)
          else col(s"`${phys(f)}`").cast(f.dataType).as(f.name)
        }: _*)
    val cleanBranches = indexed.map(Seq(_)).getOrElse(
      clean.groupBy(_._2.pv).toSeq.map { case (pv, fs) =>
        finish(rspark.read.schema(dataSchema).parquet(fs.map(f => s"$table/${f._1}"): _*), pv)
      })
    val dvBranches = dvd.map { case (p, e) =>
      finish(dvFilteredScan(rspark, table, dataSchema, p, e.dv.get), e.pv)
    }
    (cleanBranches ++ dvBranches).reduce(_ unionByName _)
  }

  /** The per-file vector filter: scan the file under `dataSchema` and
    * drop rows whose PHYSICAL `_metadata.row_index` the loaded deletion
    * vector marks (sorted-array binary search — DV cardinality is
    * bounded by the file's row count, metadata-sized next to the data). */
  private def dvFilteredScan(s: SparkSession, table: String,
                             dataSchema: StructType, path: String,
                             d: DeletionVectors.Descriptor): DataFrame = {
    import org.apache.spark.sql.functions.udf
    val deleted = DeletionVectors.load(table, d)
    val dropped = udf((i: Long) =>
      java.util.Arrays.binarySearch(deleted, i) >= 0)
    s.read.schema(dataSchema).parquet(s"$table/$path")
      .filter(!dropped(col("_metadata.row_index")))
  }

  /** The logical schema of a replayed state. */
  private[sources] def schemaOf(st: LogState): StructType =
    DataType.fromJson(st.schemaJson).asInstanceOf[StructType]

  /** The rows of the live adds at `paths` in a replayed state, through
    * [[buildDataFrame]] under the state's schema, partition columns and
    * column-mapping mode — [[TxLog]]'s one read. */
  private[sources] def scanLive(spark: SparkSession, table: String,
                                st: LogState, paths: Seq[String]): DataFrame =
    buildDataFrame(spark, table, schemaOf(st), st.partitionCols,
      columnMappingMode(st), paths.map(p => p -> st.live(p)))

  /** One version's actions, parsed for the streaming source: its add
    * files (path and replayed entry, deletion vector included — a DV
    * delete's re-published add is a LOGICAL remove+add, and the stream
    * must emit its post-DV row set, never the raw physical rows),
    * whether it carried removes (a non-append change the stream must
    * refuse without `ignoreChanges` — delta-spark's contract), its
    * metaData schemaString if the version re-declared one, and its `txn`
    * (appId → batch version) actions ([[TxLog]]'s exactly-once probe). */
  private[sources] case class VersionDelta(
      adds: Seq[(String, AddEntry)],
      hasRemoves: Boolean,
      schemaJson: Option[String],
      txns: Map[String, Long] = Map.empty)

  private[sources] def versionDelta(table: String, v: Long): VersionDelta = {
    // vacuumLog makes missing low versions a REACHABLE state (a stream
    // with startingVersion below the retention horizon, or a paced
    // backfill racing a log vacuum) — fail with the contract, not a raw
    // NoSuchFileException
    if (!Files.exists(deltaVersionFile(table, v)))
      throw new IllegalStateException(
        s"$table version $v is not in the log (vacuumed past the " +
          "retention horizon, or never committed); stream from the head " +
          "snapshot (default start) or startingVersion=latest instead")
    val st = LogState()
    val actions = actionsOf(table, v)
    applyVersion(st, actions)
    VersionDelta(st.live.toSeq,
      actions.exists(_.containsKey("remove")), Option(st.schemaJson),
      st.txns.iterator.map { case (a, (v, _)) => a -> v }.toMap)
  }

  /** THE stats-bound comparator — EXACT for every JSON number: Long vs
    * Long boundaries above 2⁵³ must not collapse under a double cast (a
    * wrongly-"proven" bound is an UNSOUND file drop, the one failure mode
    * data skipping can never have), so mixed numbers compare as
    * BigDecimal of their decimal rendering (driver-side, metadata-sized
    * — cost is irrelevant). Strings compare in UTF-8 byte order (what
    * parquet ranked the rows by). A `java.sql.Date` or `LocalDate`
    * bound meets a logged `yyyy-MM-dd` string as a date. NaN, an
    * unparseable date or a type mismatch is incomparable: None, the
    * caller keeps the file. */
  private def numCmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: java.lang.Double, _) if x.isNaN => None
    case (_, y: java.lang.Double) if y.isNaN => None
    case (x: java.lang.Float, _) if x.isNaN  => None
    case (_, y: java.lang.Float) if y.isNaN  => None
    // Float literals WIDEN before rendering: stats for float columns are
    // logged through doubleValue() (the exact value Spark compares rows
    // at after its own float→double promotion), so a float literal must
    // meet them in the same domain — BigDecimal("1.1") vs the logged
    // "1.100000023841858" would wrongly "prove" a file of exact matches
    // disjoint and unsoundly drop it (r12 review finding).
    case (x: java.lang.Float, y) => numCmp(java.lang.Double.valueOf(x.doubleValue()), y)
    case (x, y: java.lang.Float) => numCmp(x, java.lang.Double.valueOf(y.doubleValue()))
    case (x: Number, y: Number) =>
      Some(new java.math.BigDecimal(x.toString)
        .compareTo(new java.math.BigDecimal(y.toString)))
    case (x: String, y: String) =>
      Some(java.util.Arrays.compareUnsigned(
        x.getBytes("UTF-8"), y.getBytes("UTF-8")))
    case (x: java.sql.Date, y) => numCmp(x.toLocalDate, y)
    case (x, y: java.sql.Date) => numCmp(x, y.toLocalDate)
    case (x: String, y: java.time.LocalDate) => dateOf(x).map(_.compareTo(y))
    case (x: java.time.LocalDate, y: String) => dateOf(y).map(x.compareTo(_))
    case _ => None
  }

  private def dateOf(s: String): Option[java.time.LocalDate] =
    try Some(java.time.LocalDate.parse(s))
    catch { case _: java.time.format.DateTimeParseException => None }

  /** True iff `statsJson` PROVES some `(column, op, v)` check
    * unsatisfiable — no value of `column` satisfies `column <op> v` —
    * so a file that must pass every check can be skipped. The JSON is
    * parsed once for all checks. [[filesInRange]]'s `[lo, hi)` bound is
    * the checks `>= lo` and `< hi`; [[DeltaBridgeSource]]'s file
    * skipping passes its pushed comparisons. Comparisons follow
    * [[numCmp]]; anything unprovable keeps the file. */
  private[sources] def statsExclude(statsJson: String,
                                    checks: Seq[(String, String, Any)]): Boolean =
    checks.nonEmpty && (try {
      val stats = mapper.readValue(statsJson,
        classOf[java.util.Map[String, AnyRef]])
      def bound(key: String, column: String): Option[AnyRef] =
        Option(stats.get(key))
          .map(_.asInstanceOf[java.util.Map[String, AnyRef]])
          .flatMap(m => Option(m.get(column)))
      checks.exists { case (column, op, v) =>
        (bound("minValues", column), bound("maxValues", column)) match {
          case (Some(mn), Some(mx)) => op match {
            case "="  => numCmp(mx, v).exists(_ < 0) || numCmp(mn, v).exists(_ > 0)
            case ">"  => numCmp(mx, v).exists(_ <= 0)
            case ">=" => numCmp(mx, v).exists(_ < 0)
            case "<"  => numCmp(mn, v).exists(_ >= 0)
            case "<=" => numCmp(mn, v).exists(_ > 0)
            case _    => false
          }
          case _ => false
        }
      }
    } catch { case scala.util.control.NonFatal(_) => false })

  /** The live paths of `st` whose logged `stats` do not prove `column`
    * (a logical name) outside `[lo, hi)` — THE stats range check every
    * stats-pruned read goes through. */
  private def filesInRange(st: LogState, column: String, lo: Any,
                           hi: Any): Seq[String] = {
    val c = physicalNames(st)(column)
    val checks = Seq((c, ">=", lo), (c, "<", hi))
    st.live.iterator.collect {
      case (p, e) if !e.stats.exists(statsExclude(_, checks)) => p
    }.toSeq
  }

  /** The live paths at `versionAsOf` (None = head) that a
    * [[readPruned]] of the same bound scans: every add whose logged
    * `stats` do not prove `max < lo ∨ min >= hi` for `column`. */
  def filesInRange(spark: SparkSession, table: String, column: String,
                   lo: Any, hi: Any,
                   versionAsOf: Option[Long] = None): Seq[String] =
    filesInRange(readState(spark, table, versionAsOf), column, lo, hi)

  /** Stats-pruned snapshot read over `[lo, hi)` of `column` — the READER
    * half of Delta data skipping, consuming the same per-add `stats`
    * payload [[TxLog]] commits (or any foreign writer's): an add whose
    * logged bounds PROVE `max < lo ∨ min >= hi` is dropped before the
    * scan is planned; adds without usable stats for the column (foreign
    * stats-less writers, non-comparable types, files that round-tripped
    * through this bridge's stats-less checkpoint rows) are kept
    * conservatively — every drop is proof-backed, so pruning is sound
    * for any log. Bounds compare numerically when the logged values and
    * the given bounds are both numbers, and in UTF-8 byte order when
    * both are strings (the order parquet ranked the rows by), and as
    * dates when a date bound meets a DATE column's logged `yyyy-MM-dd`.
    * The caller still applies the row-level filter — pruning is
    * file-granular, the contract of every production Delta reader. The
    * files it scans are [[filesInRange]]'s. */
  def readPruned(spark: SparkSession, table: String, column: String,
                 lo: Any, hi: Any,
                 versionAsOf: Option[Long] = None): DataFrame =
    read(spark, table, versionAsOf, Map.empty, Some((column, lo, hi)))

  private[sources] def lastCheckpointVersion(table: String): Option[Long] =
    lastCheckpointMeta(table).map(_._1)

  /** `_last_checkpoint` content: (version, parts) — `parts` absent means
    * a single-file checkpoint (the spec's default). */
  private def lastCheckpointMeta(table: String): Option[(Long, Int)] = {
    val lc = deltaLogDir(table).resolve("_last_checkpoint")
    if (!Files.exists(lc)) None
    else {
      val m = mapper.readValue(Files.readString(lc),
        classOf[java.util.Map[String, AnyRef]])
      Some((m.get("version").asInstanceOf[Number].longValue(),
        Option(m.get("parts")).map(_.asInstanceOf[Number].intValue())
          .getOrElse(1)))
    }
  }

  /** The parquet file(s) of checkpoint `cv` — one `N.checkpoint.parquet`
    * for the classic form, or the spec's multi-part layout
    * `N.checkpoint.<part>.<parts>.parquet` (part indices 1-based, every
    * part REQUIRED: a missing part would silently drop live files, so the
    * resolution fails loud instead). */
  private def checkpointFiles(table: String, cv: Long): Seq[Path] = {
    val single = deltaLogDir(table).resolve(f"$cv%020d.checkpoint.parquet")
    if (Files.exists(single)) Seq(single)
    else lastCheckpointMeta(table) match {
      case Some((v, parts)) if v == cv && parts > 1 =>
        val files = (1 to parts).map(i =>
          deltaLogDir(table).resolve(
            f"$cv%020d.checkpoint.$i%010d.$parts%010d.parquet"))
        val missing = files.filterNot(Files.exists(_))
        require(missing.isEmpty,
          s"$table: _last_checkpoint names a $parts-part checkpoint at " +
            s"version $cv but ${missing.map(_.getFileName).mkString(",")} " +
            "is missing — a partial multi-part checkpoint cannot replay")
        files
      case _ => throw new IllegalArgumentException(
        s"$table: _last_checkpoint names version $cv but " +
          s"${single.getFileName} is missing and no multi-part layout is " +
          "declared")
    }
  }

  /** EXPLICIT checkpoint of the log's HEAD — the maintenance
    * verb behind `CALL graft.checkpoint(path)`: snapshots the live state
    * into one checkpoint parquet + `_last_checkpoint` (idempotent — an
    * existing checkpoint file at the head is kept), so readers bootstrap
    * in O(live files) and [[vacuumLog]] may retire the covered JSON
    * prefix. [[TxLog]] commits still checkpoint automatically every 10
    * versions; this pins one at the current head on demand. Above
    * `partRows` action rows the checkpoint lands in the spec's
    * MULTI-PART layout (each part a bounded parquet write; parts
    * publish before `_last_checkpoint` declares them). Returns the
    * checkpointed version. */
  def checkpoint(spark: SparkSession, table: String,
                 partRows: Int = CheckpointPartRows): Long = {
    val head = headVersion(table)
    require(head >= 0, s"checkpoint: $table has no _delta_log")
    writeCheckpoint(spark, table, head, partRows)
    head
  }

  /** Bootstrapped checkpoint states, an LRU of 16 keyed by (table,
    * checkpoint version) and valid while the checkpoint files' stamps
    * are unchanged. A published checkpoint is immutable, so every replay
    * above it (each TxLog commit and snapshot) copies the state instead
    * of re-reading the parquet in a Spark job. */
  private val checkpointStates =
    new java.util.LinkedHashMap[(String, Long), (Seq[Stamp], LogState)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), (Seq[Stamp], LogState)]): Boolean =
        size() > 16
    }

  /** A fresh copy of the state checkpoint `cv` holds. */
  private def checkpointState(spark: => SparkSession, table: String,
                              cv: Long): LogState = {
    val files = checkpointFiles(table, cv)
    val token = stamps(files)
    val st = token.flatMap { t =>
      Option(checkpointStates.synchronized(checkpointStates.get((table, cv))))
        .collect { case (s, cached) if s == t => cached }
    }.getOrElse {
      val fresh = LogState()
      bootstrapFromCheckpoint(spark, files, fresh)
      // stamped BEFORE the read: a file replaced mid-read leaves a stale token
      token.foreach(t =>
        checkpointStates.synchronized(checkpointStates.put((table, cv), (t, fresh))))
      fresh
    }
    st.copy(live = st.live.clone(), txns = st.txns.clone(),
      tombstones = st.tombstones.clone())
  }

  /** A Delta checkpoint is parquet whose rows each carry at most one
    * action as a nested struct column. Each part is read on the driver
    * by Spark's own parquet reader under its footer's schema
    * ([[GraftParquetBridge.foreachRow]] — no job), one row at a time,
    * never the whole manifest as a second driver-side array (the
    * replayed `st.live` + tombstone maps are the only O(files) driver
    * state, and they are the reader's product). Bootstraps into a FRESH
    * state only; remove tombstones are no-ops for the LIVE set by
    * construction (a fresh replay holds exactly the checkpoint's own
    * adds, and the protocol's order-free rule says an add beats a
    * tombstone for the same path within one checkpoint) but are carried
    * as state — with txn actions — so a later checkpoint republishes
    * them (ADVICE r14: dropping either broke foreign writers' vacuum /
    * streaming idempotence across this bridge's log cleanup). */
  private def bootstrapFromCheckpoint(spark: SparkSession, files: Seq[Path],
                                      st: LogState): Unit = {
    require(st.live.isEmpty && st.schemaJson == null,
      "bootstrapFromCheckpoint expects a fresh LogState")
    files.foreach(f => GraftParquetBridge.foreachRow(spark, f.toString) { r =>
      def struct(name: String): Option[org.apache.spark.sql.Row] =
        if (r.schema.fieldNames.contains(name) && !r.isNullAt(r.fieldIndex(name)))
          Some(r.getStruct(r.fieldIndex(name)))
        else None
      // a foreign checkpoint may omit optional struct fields entirely
      // (its parquet schema simply lacks them) — absent ≠ null
      def field[T](row: org.apache.spark.sql.Row, name: String): Option[T] =
        if (row.schema != null && row.schema.fieldNames.contains(name) &&
            !row.isNullAt(row.fieldIndex(name)))
          Some(row.getAs[T](name))
        else None
      struct("protocol").foreach { p =>
        val features = field[scala.collection.Seq[String]](p, "readerFeatures")
          .map(_.toSeq).getOrElse(Seq.empty)
        requireReadable(p.getAs[Int]("minReaderVersion"), features)
        st.minReader = p.getAs[Int]("minReaderVersion")
        st.minWriter = field[Int](p, "minWriterVersion").getOrElse(st.minWriter)
        st.readerFeatures = features
        st.writerFeatures =
          field[scala.collection.Seq[String]](p, "writerFeatures")
            .map(_.toSeq).getOrElse(Seq.empty)
      }
      struct("metaData").foreach { md =>
        st.schemaJson = md.getAs[String]("schemaString")
        // Row.getAs surfaces arrays as a MUTABLE Seq — convert, don't cast
        st.partitionCols =
          field[scala.collection.Seq[String]](md, "partitionColumns")
            .map(_.toSeq).getOrElse(Seq.empty)
        field[String](md, "id").foreach(st.metaId = _)
        st.configuration =
          field[scala.collection.Map[String, String]](md, "configuration")
            .map(_.toMap).getOrElse(Map.empty)
      }
      struct("add").foreach { a =>
        val pv =
          field[scala.collection.Map[String, String]](a, "partitionValues")
            .map(_.toMap).getOrElse(Map.empty[String, String])
        val dv = field[org.apache.spark.sql.Row](a, "deletionVector")
          .map { d =>
            DeletionVectors.Descriptor(
              d.getAs[String]("storageType"),
              d.getAs[String]("pathOrInlineDv"),
              field[Int](d, "offset"),
              d.getAs[Int]("sizeInBytes"),
              field[Long](d, "cardinality").getOrElse(-1L))
          }
        st.live += (a.getAs[String]("path") ->
          AddEntry(pv, field[String](a, "stats"), dv,
            field[Long](a, "size").getOrElse(0L),
            field[Long](a, "modificationTime").getOrElse(0L)))
      }
      // remove tombstones: no-ops for the LIVE set in a fresh bootstrap
      // (see Scaladoc) but carried as state so a LATER checkpoint built
      // on this bootstrap republishes them (the spec's retention chain;
      // a path also added in this checkpoint stays live — defensive, a
      // conformant checkpoint never carries both)
      struct("remove").foreach { r =>
        val p = r.getAs[String]("path")
        if (!st.live.contains(p))
          st.tombstones += (p -> (
            field[Long](r, "deletionTimestamp"),
            field[Boolean](r, "dataChange").getOrElse(true)))
      }
      struct("txn").foreach { tx =>
        st.txns += (tx.getAs[String]("appId") -> (
          tx.getAs[Long]("version"), field[Long](tx, "lastUpdated")))
      }
    })
    // the add-beats-tombstone rule, order-free: a foreign checkpoint
    // may serialize a path's remove row before its add row
    st.live.keysIterator.foreach(st.tombstones -= _)
  }
}
