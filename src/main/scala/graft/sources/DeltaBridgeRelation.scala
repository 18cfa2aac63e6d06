package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, RelationProvider}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The Delta bridge mounted as a NATIVE Spark relation — the delta-spark
  * architecture (its TahoeFileIndex) reproduced on the jar-free log
  * reader: [[DeltaBridge.logRelation]], Spark's own `HadoopFsRelation` +
  * `ParquetFileFormat` scan path over a [[DeltaLogFileIndex]] whose file
  * listing comes from the `_delta_log` replay instead of directory
  * walking — the same relation [[DeltaBridge.read]] and the SQL catalog
  * plan through. What every mount of it gets:
  *
  *  - `spark.read.format(<this class>).load(table)` — the table is an
  *    ordinary Spark source; `option("versionAsOf", n)` time-travels;
  *  - '''Catalyst-driven partition pruning''': FileSourceStrategy hands
  *    `listFiles` the resolved partition-column predicates, which
  *    evaluate here against the LOG's partitionValues (metadata, never a
  *    directory walk) — a plain `df.filter($"state" === "CA")` prunes
  *    with no bridge-specific API, and the pruning shows in the scan
  *    node's `PartitionFilters`;
  *  - '''planner-time stats skipping''': data-column comparisons arrive
  *    as `dataFilters`, and any add action whose logged min/max PROVES
  *    the predicate unsatisfiable drops before the scan — the delta-rs /
  *    DuckDB-delta behavior, inside Spark's planner. Drops are
  *    proof-backed only; stats-less adds always scan (sound for any
  *    writer), and Spark re-applies every filter row-level regardless
  *    (the listing is file-granular, so over-listing is never wrong);
  *  - the scan itself is Spark's vectorized parquet reader with column
  *    pruning, codegen, the works — nothing is re-implemented.
  *
  * Read-only by design: writes go through [[TxLog]]'s transactional
  * commits into the same `_delta_log`, the split delta-spark makes
  * between its transaction log and its scan path.
  */
class DeltaBridgeSource extends RelationProvider
  with org.apache.spark.sql.sources.CreatableRelationProvider
  with org.apache.spark.sql.sources.StreamSourceProvider
  with org.apache.spark.sql.sources.StreamSinkProvider
  with DataSourceRegister {

  override def shortName(): String = "graft-delta"

  /** The catalog hands LOCATION paths over as `file:` URIs; the bridge's
    * log machinery speaks local filesystem paths. */
  private def tableOf(parameters: Map[String, String]): String = {
    val raw = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-delta needs a path"))
    new HPath(raw).toUri.getPath
  }

  /** `timestampAsOf` accepts epoch millis, an ISO-8601 instant
    * (`2026-01-01T00:00:00Z`) or a local `yyyy-MM-dd HH:mm:ss[.f]`
    * timestamp (JVM zone — the delta-spark convention for the unzoned
    * form). */
  private def parseTs(s: String): Long =
    scala.util.Try(s.toLong)
      .orElse(scala.util.Try(java.time.Instant.parse(s).toEpochMilli))
      .getOrElse(java.sql.Timestamp.valueOf(s).getTime)

  override def createRelation(ctx: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val table = tableOf(parameters)
    val versionAsOf = parameters.get("versionAsOf").map(_.toLong)
    val tsAsOf = parameters.get("timestampAsOf")
    require(versionAsOf.isEmpty || tsAsOf.isEmpty,
      "graft-delta: specify either versionAsOf or timestampAsOf, not both")
    val resolved = versionAsOf.orElse(
      tsAsOf.map(ts => DeltaBridge.versionAtTimestamp(table, parseTs(ts))))
    // ONE log replay decides the mount: column-mapped / DV'd snapshots
    // cannot plan through the log index (physical names, row-index
    // filtering) — they mount through the extended-read relation
    // instead, same user surface
    val st = DeltaBridge.snapshot(ctx.sparkSession, table, resolved)
    if (DeltaBridge.needsExtendedRead(st))
      new ExtendedDeltaRelation(ctx, table, resolved, DeltaBridge.schemaOf(st))
    else DeltaBridge.logRelation(ctx.sparkSession, table, DeltaBridge.schemaOf(st),
      st.partitionCols, st.live.toSeq)
  }

  /** Write side: `df.write.format("graft-delta").mode(...).save(path)` —
    * a TRANSACTIONAL TxLog commit (append or snapshot-isolated
    * overwrite), so every Spark-API write lands as a new mountable Delta
    * version. Partition columns ride the
    * `partitionBy` OPTION (`option("partitionBy", "a,b")`): the V1
    * writer path does not forward `DataFrameWriter.partitionBy` to
    * CreatableRelationProvider — documented quirk, fail-loud on the
    * unsupported modes (Ignore/ErrorIfExists semantics need a catalog's
    * existence notion, which a bare path does not carry). */
  override def createRelation(ctx: SQLContext, mode: org.apache.spark.sql.SaveMode,
                              parameters: Map[String, String],
                              data: org.apache.spark.sql.DataFrame): BaseRelation = {
    val table = tableOf(parameters)
    val spark = ctx.sparkSession
    val partCols = parameters.get("partitionBy").toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    import org.apache.spark.sql.SaveMode
    mode match {
      case SaveMode.Append =>
        if (partCols.isEmpty) TxLog.append(spark, data, table)
        else TxLog.appendPartitioned(spark, data, table, partCols)
      case SaveMode.Overwrite =>
        if (partCols.isEmpty) TxLog.overwrite(spark, data, table)
        else TxLog.overwritePartitioned(spark, data, table, partCols)
      case other => throw new IllegalArgumentException(
        s"graft-delta supports Append/Overwrite, not $other")
    }
    createRelation(ctx, parameters)
  }

  // ------------------------------------------------------- streaming read

  override def sourceSchema(ctx: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    // the schema the source itself pins, refusals included
    (shortName(), new DeltaBridgeStreamSource(ctx.sparkSession,
      tableOf(parameters), parameters).schema)
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    new DeltaBridgeStreamSource(ctx.sparkSession, tableOf(parameters),
      parameters)

  // ------------------------------------------------------ streaming write

  /** `df.writeStream.format("graft-delta")` — each micro-batch lands as
    * one mountable Delta version through [[TxLog.appendBatch]]'s
    * exactly-once commit (the batch id rides the commit's `txn` action,
    * so a restart's replayed batch is recognized and creates no
    * version). Unlike the batch write path,
    * `writeStream.partitionBy(...)` DOES reach a V1 StreamSinkProvider,
    * so Hive-layout partitioned streaming tables need no option. Append
    * only: Complete/Update would need per-batch overwrite semantics the
    * log's batch-id idempotence contract does not cover — fail loud. */
  override def createSink(ctx: SQLContext, parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft-delta streaming sink supports Append output mode, not $outputMode")
    new DeltaBridgeStreamSink(ctx.sparkSession, tableOf(parameters),
      partitionColumns)
  }
}

/** The graft-delta streaming SINK: exactly-once micro-batch appends into
  * the TxLog's Delta log. Scale shape: the staged write is the batch's
  * own parquet job; the commit is a driver-side metadata append
  * (O(batch files), never O(table)). */
private[sources] class DeltaBridgeStreamSink(
    spark: SparkSession, table: String, partitionCols: Seq[String])
  extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long,
                        data: org.apache.spark.sql.DataFrame): Unit = {
    val batch = org.apache.spark.sql.GraftSqlBridge.asBatch(data)
    // replay-safe: a re-delivered batch commits nothing
    TxLog.appendBatch(spark, batch, table, batchId,
      partitionCols = partitionCols): Unit
  }

  override def toString: String = s"DeltaBridgeStreamSink[$table]"
}

/** `spark.readStream.format("graft-delta")` — the Delta streaming-source
  * contract on the jar-free log: the OFFSET is the committed version
  * number (monotone by the protocol, so exactly-once replay is free —
  * a batch is the pure function "snapshot-if-first + adds of versions
  * (start, end]"). The default first batch is the HEAD SNAPSHOT's live
  * files under the pinned head schema — delta-spark's initial-batch
  * semantics — NOT a replay of every historical version: replaying
  * history would resurrect rows from files a later overwrite removed
  * and would trip the mid-stream schema check on tables whose schema
  * ever evolved (exactly what Medallion's quarterly overwriteSchema
  * gold tables produce). `startingVersion=latest` tails new commits
  * only; an explicit `startingVersion=n` asks for version history and
  * replays adds from n (delta-spark's contract for that option);
  * `maxVersionsPerTrigger=k` paces any backfill into micro-batches of at
  * most k versions (the `maxFilesPerTrigger` idea at version
  * granularity), exactly-once across restarts via the V1 commit
  * callback. Only
  * versions committed AFTER the served snapshot (or after n) get the
  * per-version checks: a version that REMOVES files — an
  * overwrite/merge/DV delete, not an append — fails the stream loud
  * unless `ignoreChanges=true` (then its adds still stream; re-written
  * rows re-deliver, delta's own documented ignoreChanges trade, and a
  * DV'd add delivers its POST-DELETE row set through the vector-aware
  * builder, never raw physical rows), and a metaData with a DIFFERENT
  * schemaString fails loud rather than silently misreading. Batch-zero
  * and recovery snapshots over a DV'd table likewise serve post-DV
  * rows instead of refusing; a column-mapped table is refused at
  * creation (its physical-name scans need [[DeltaBridge.read]]'s mapped
  * branch, which the stream does not plan).
  *
  * Scale: getOffset is one directory listing; a batch reads exactly the
  * snapshot (once) plus the new versions' files through
  * [[DeltaBridge.buildDataFrame]] (partition columns reconstructed like
  * the snapshot path) — work is proportional to the delta after batch
  * zero, never the table. */
private[sources] class DeltaBridgeStreamSource(
    spark: SparkSession, table: String, parameters: Map[String, String])
  extends org.apache.spark.sql.execution.streaming.Source {

  import org.apache.spark.sql.execution.streaming.{Offset => V1Offset}
  import org.apache.spark.sql.execution.streaming.runtime.LongOffset

  /** Head version pinned BEFORE the snapshot replay so a commit racing
    * stream start lands in the delta range, never inside-and-after the
    * snapshot (double delivery). [[DeltaBridge.headVersion]] also counts
    * a checkpoint-only log (JSON commits cleaned up past the
    * checkpoint), which snapshots fine and must still serve batch zero. */
  private val headVersion: Long = DeltaBridge.headVersion(table)
  private val snap0 = DeltaBridge.snapshot(spark, table,
    Some(headVersion).filter(_ >= 0))
  require(DeltaBridge.columnMappingMode(snap0) == "none",
    s"$table: streaming over a column-mapped table is unsupported; " +
      "batch reads serve it through DeltaBridge.read")
  override val schema: StructType = DeltaBridge.schemaOf(snap0)

  private val ignoreChanges =
    parameters.get("ignoreChanges").exists(_.toBoolean)

  /** Rate limit: at most this many VERSIONS per micro-batch (the
    * delta-spark `maxFilesPerTrigger` idea at the bridge's version
    * granularity) — a backfill over a long history proceeds in bounded
    * batches instead of one giant first batch, keeping per-batch task
    * counts and sink commits sized to the cluster. The head snapshot
    * (batch zero of a default start) is not versions-counted: it is one
    * bounded live-file set by construction. */
  private val maxVersionsPerTrigger: Option[Long] =
    parameters.get("maxVersionsPerTrigger").map { s =>
      val n = s.toLong
      require(n >= 1, s"maxVersionsPerTrigger must be >= 1, got $n")
      n
    }


  /** Exclusive lower bound of the per-version delta range, and whether
    * batch zero serves the head snapshot: the default serves the
    * snapshot then tails versions > head; `latest` tails only;
    * `startingVersion=n` replays adds from n with no snapshot. */
  private val (startExclusive: Long, serveSnapshot: Boolean) =
    parameters.get("startingVersion") match {
      case Some("latest") => (headVersion, false)
      case Some(v)        => (v.toLong - 1, false)
      case None           => (headVersion, true)
    }

  /** Exclusive low end of the NEXT batch, advanced by getBatch — the
    * internal pacing cursor every rate-limited V1 source keeps (offsets
    * below it are already served or checkpoint-recovered). */
  @volatile private var pacedLo: Long = startExclusive

  override def getOffset: Option[V1Offset] = {
    val head = DeltaBridge.headVersion(table)
    // the rate limit caps how far past the pacing cursor one batch
    // reaches. The cursor, NOT startExclusive, is the floor: after a
    // checkpoint recovery the committed frontier (delivered via the
    // commit callback / recovery getBatch) sits BELOW this instance's
    // re-pinned startExclusive, and flooring at startExclusive would let
    // the catch-up batch bypass the cap (r12 review finding).
    val latest = maxVersionsPerTrigger
      .fold(head)(n => math.min(head, pacedLo + n))
    // with a snapshot pending, the head itself is an offset worth a
    // batch even before any new commit lands (latest >= headVersion on a
    // fresh start, so batch zero always fires)
    if (serveSnapshot && head >= 0) Some(LongOffset(latest))
    // "new data" floors on the CURSOR, not startExclusive: after a
    // checkpoint recovery the committed frontier sits BELOW this
    // instance's re-pinned startExclusive (`latest` mode re-pins it at
    // the new head), and flooring there would never report the backlog
    // versions as available — with pacing on, `latest` could never
    // exceed the re-pinned head and the stream stalled PERMANENTLY
    // (r12 second-pass finding; on a fresh start pacedLo ==
    // startExclusive, so the fresh-start semantics are unchanged)
    else Some(latest).filter(_ > pacedLo).map(LongOffset(_))
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset)
      : org.apache.spark.sql.DataFrame = {
    val hi = end.json().toLong
    pacedLo = hi // the engine's frontier, verbatim (recovery may move it DOWN)
    // start == None exactly when this is batch zero (or its replay after
    // a restart that never committed it) — the only point the snapshot
    // is served, so exactly-once holds across restarts. The snapshot is
    // taken AT THE BATCH'S OWN END OFFSET, not at this instance's pinned
    // head: on recovery of an uncommitted batch zero the recovered end
    // predates the re-pinned head, and serving the newer snapshot while
    // committing the old offset would double-deliver every version
    // committed while the stream was down (r12 review finding).
    val files: Seq[(String, DeltaBridge.AddEntry)] =
      if (serveSnapshot && start.isEmpty) {
        val snap =
          if (hi == headVersion) snap0
          else DeltaBridge.snapshot(spark, table, Some(hi))
        // recovery batch zero reads at ITS offset but is served under
        // this instance's declared schema (the engine requires it) —
        // if the schema moved between the recovered offset and the
        // re-pinned head, reading the old files under the new schema
        // would be a silent misread; fail with the recovery contract
        if (snap.schemaJson != snap0.schemaJson)
          throw new IllegalStateException(
            s"$table: the schema changed between the checkpointed batch " +
              s"(version $hi) and the current head; delete the checkpoint " +
              "to restart the stream under the current schema")
        snap.live.toSeq
      } else {
        val lo = start.map(_.json().toLong).getOrElse(startExclusive)
        // a metaData action whose schema EQUALS the pinned head schema
        // marks a change INTO the current schema — every add EARLIER in
        // this range was then written under a different one (a change
        // while the stream was down, or below a backfill's starting
        // point). The != check alone misses that shape (r12 second-pass
        // finding), so its presence triggers a range-start schema check.
        var metaIntoCurrent = false
        val adds = ((lo + 1) to hi).flatMap { v =>
          val d = DeltaBridge.versionDelta(table, v)
          require(!d.hasRemoves || ignoreChanges,
            s"$table version $v removes files (overwrite/merge/DV delete " +
              "in the stream); set ignoreChanges=true to stream its adds " +
              "anyway (re-written rows re-deliver; a DV'd add delivers " +
              "its post-delete rows)")
          d.schemaJson.foreach { sj =>
            if (sj != snap0.schemaJson)
              throw new IllegalStateException(
                s"$table version $v changes the schema mid-stream; restart " +
                  "the stream to pick up the new schema")
            // version 0 is table creation — no adds can precede it
            else if (v > 0) metaIntoCurrent = true
          }
          d.adds
        }
        if (metaIntoCurrent) {
          // one log replay, only on a range that contains a metaData —
          // the schema the range STARTED under must already be the
          // pinned one, else the earlier adds misread
          // only the schema is needed here, and the snapshot at lo may
          // legitimately carry DVs (a DV-refusing snapshot here bricked a
          // DV'd stream crossing a metaData that re-declares the current
          // schema)
          val atLo = DeltaBridge.snapshot(spark, table,
            Some(math.max(lo, 0L))).schemaJson
          if (atLo != snap0.schemaJson)
            throw new IllegalStateException(
              s"$table: versions (${lo + 1}..$hi] cross a schema change " +
                "into the current schema; the files added before the " +
                "change cannot be read under it — delete the checkpoint " +
                "(or start the backfill at the change version) to stream " +
                "under the current schema")
        }
        adds
      }
    // the engine asserts isStreaming on what a Source returns — flip the
    // batch relation's flag exactly like FileStreamSource does
    if (files.isEmpty)
      org.apache.spark.sql.GraftSqlBridge.emptyStreaming(spark, schema)
    else org.apache.spark.sql.GraftSqlBridge.asStreaming(
      DeltaBridge.buildDataFrame(spark, table, schema,
        snap0.partitionCols, "none", files))
  }

  /** V1 commit callback — the engine signals `end` durable, here and
    * during restart recovery of a committed batch. The cursor takes the
    * engine's value VERBATIM (not a max): on recovery the committed
    * offset sits BELOW this instance's re-pinned head, and keeping the
    * head would let the catch-up batch bypass maxVersionsPerTrigger
    * entirely (r12 review finding — a 1000-version backlog arriving as
    * one flood batch is exactly what the option exists to prevent).
    * pacedLo only caps getOffset's advance, so a downward move can
    * never re-deliver anything — Spark's own offsets govern delivery. */
  override def commit(end: V1Offset): Unit =
    pacedLo = end.json().toLong

  override def stop(): Unit = ()
}

/** The EXTENDED-read mount as a native relation: column-mapped and/or
  * DV'd snapshots served through [[DeltaBridge.read]]'s mapped and DV
  * branches (physical-schema scans cast back to logical names; per-file
  * `_metadata.row_index` DV filtering), wrapped as a `PrunedFilteredScan`
  * so `spark.read.format("graft-delta")` works identically on them:
  *
  *  - column pruning flows into the inner read's projection (pruned
  *    logical columns are never cast back, and Catalyst prunes the
  *    physical scan below them);
  *  - pushed filters apply BEST-EFFORT on the inner DataFrame (the
  *    comparison/null/in/and/or vocabulary) where Catalyst pushes them
  *    into the per-file parquet scans; Spark re-applies every filter
  *    above regardless (`unhandledFilters` stays the default), so the
  *    translation is an optimization, never a correctness dependency.
  *
  * The one cost vs the index path is the Row conversion at the V1
  * boundary — paid only by tables that NEED per-file row filtering or
  * physical-name mapping, the copy-on-write minority by construction.
  * Read-only like every foreign mount. */
private[sources] class ExtendedDeltaRelation(
    ctx: SQLContext, table: String, versionAsOf: Option[Long],
    logical: StructType)
  extends BaseRelation
  with org.apache.spark.sql.sources.PrunedFilteredScan {

  override def sqlContext: SQLContext = ctx
  override val schema: StructType = logical

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[org.apache.spark.sql.sources.Filter])
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
    ExtendedDeltaRelation.scan(ctx.sparkSession, table, versionAsOf,
      requiredColumns.toIndexedSeq, filters.toIndexedSeq).rdd
}

private[sources] object ExtendedDeltaRelation {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.{sources => sf}

  private def c(name: String): Column =
    col(s"`${name.replace("`", "``")}`")

  /** Best-effort source-filter → Column translation; None falls back to
    * Spark's own re-applied filter (always present above this scan). */
  private def filterToColumn(f: sf.Filter): Option[Column] = f match {
    case sf.EqualTo(a, v)            => Some(c(a) === lit(v))
    case sf.GreaterThan(a, v)        => Some(c(a) > lit(v))
    case sf.GreaterThanOrEqual(a, v) => Some(c(a) >= lit(v))
    case sf.LessThan(a, v)           => Some(c(a) < lit(v))
    case sf.LessThanOrEqual(a, v)    => Some(c(a) <= lit(v))
    case sf.IsNull(a)                => Some(c(a).isNull)
    case sf.IsNotNull(a)             => Some(c(a).isNotNull)
    case sf.In(a, vs)                => Some(c(a).isin(vs.toIndexedSeq: _*))
    case sf.And(l, r) =>
      for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
    case sf.Or(l, r) =>
      for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
    case sf.Not(x)                   => filterToColumn(x).map(!_)
    case _                           => None
  }

  /** Shared by the V1 relation and the catalog's V1Scan adapter. */
  private[sources] def scan(spark: org.apache.spark.sql.SparkSession,
                            table: String, versionAsOf: Option[Long],
                            requiredColumns: Seq[String],
                            filters: Seq[sf.Filter]): DataFrame = {
    val base = DeltaBridge.read(spark, table, versionAsOf)
    val filtered = filters.flatMap(filterToColumn)
      .foldLeft(base)(_ filter _)
    filtered.select(requiredColumns.map(c): _*)
  }
}

/** File listing driven by the replayed `_delta_log` — never a directory
  * walk, never a listing job: the index of [[DeltaBridge.logRelation]],
  * built over exactly the adds it is given. `listFiles` filters them by
  * the pushed partition predicates (evaluated on typed partition rows)
  * and by stats-provable exclusions, then groups survivors into one
  * [[PartitionDirectory]] per partition tuple. Partition values are the
  * log's strings cast to their logged types under the session time zone
  * (the conversion a literal `cast` applies), so every partition type a
  * Delta log can declare types here, and paths need not encode them. At a
  * 10⁵-file table this is metadata arithmetic on the driver, exactly like
  * delta-spark's index — and unlike InMemoryFileIndex there is no
  * filesystem listing to scale with. */
private[sources] class DeltaLogFileIndex(
    spark: SparkSession, private val table: String,
    override val partitionSchema: StructType,
    private val adds: Seq[(String, DeltaBridge.AddEntry)])
  extends FileIndex {

  /** Two indexes over the same adds are one relation to the planner (as
    * two InMemoryFileIndexes over the same paths are), so a snapshot read
    * twice in one query shares its exchanges. */
  override def equals(o: Any): Boolean = o match {
    case i: DeltaLogFileIndex =>
      table == i.table && partitionSchema == i.partitionSchema && adds == i.adds
    case _ => false
  }
  override lazy val hashCode: Int = (table, partitionSchema, adds).hashCode

  private val entries: Seq[(FileStatus, Map[String, String], Option[String])] =
    adds.map { case (p, e) =>
      val f = java.nio.file.Paths.get(table, p)
      val attrs = java.nio.file.Files.readAttributes(f,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      (new FileStatus(attrs.size, false, 0, 128L * 1024 * 1024,
        attrs.lastModifiedTime.toMillis, new HPath(f.toUri)), e.pv, e.stats)
    }

  /** The typed partition row of each distinct partitionValues map. */
  private val rowOf: Map[Map[String, String], InternalRow] = {
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    entries.map(_._2).distinct.map(pv => pv -> InternalRow.fromSeq(
      partitionSchema.fields.toSeq.map(f => Cast(
        Literal.create(pv.getOrElse(f.name, null), StringType), f.dataType, tz).eval())))
      .toMap
  }

  override def rootPaths: Seq[HPath] =
    Seq(new HPath(java.nio.file.Paths.get(table).toUri))

  /** Bind a pushed predicate's attributes to partition-row ordinals BY
    * NAME (the filters carry the relation's AttributeReferences, whose
    * exprIds this index never sees). */
  private def bindToPartitionRow(e: Expression): Expression = e.transform {
    case a: AttributeReference =>
      val i = partitionSchema.fieldIndex(a.name)
      BoundReference(i, partitionSchema(i).dataType,
        partitionSchema(i).nullable)
  }

  /** (column, op, comparable-literal) triples a stats payload can rule
    * on — conjuncts in any other shape are simply not used for skipping
    * (Spark re-applies them row-level anyway). */
  private def statsChecks(dataFilters: Seq[Expression])
      : Seq[(String, String, Any)] = {
    def litOf(l: Literal): Option[Any] = (l.value, l.dataType) match {
      case (d: Integer, DateType) => Some(java.time.LocalDate.ofEpochDay(d.toLong))
      case (u: UTF8String, _)     => Some(u.toString)
      case (n: Number, _)         => Some(n)
      case _                      => None
    }
    def flip(op: String): String = op match {
      case ">" => "<" case ">=" => "<=" case "<" => ">" case "<=" => ">="
      case x => x
    }
    dataFilters.flatMap {
      case EqualTo(a: AttributeReference, l: Literal) =>
        litOf(l).map((a.name, "=", _))
      case EqualTo(l: Literal, a: AttributeReference) =>
        litOf(l).map((a.name, "=", _))
      case GreaterThan(a: AttributeReference, l: Literal) =>
        litOf(l).map((a.name, ">", _))
      case GreaterThan(l: Literal, a: AttributeReference) =>
        litOf(l).map((a.name, flip(">"), _))
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        litOf(l).map((a.name, ">=", _))
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        litOf(l).map((a.name, flip(">="), _))
      case LessThan(a: AttributeReference, l: Literal) =>
        litOf(l).map((a.name, "<", _))
      case LessThan(l: Literal, a: AttributeReference) =>
        litOf(l).map((a.name, flip("<"), _))
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        litOf(l).map((a.name, "<=", _))
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        litOf(l).map((a.name, flip("<="), _))
      case _ => None
    }
  }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val partPred = partitionFilters.reduceOption(And)
      .map(f => Predicate.createInterpreted(bindToPartitionRow(f)))
    partPred.foreach(_.initialize(0))
    val checks = statsChecks(dataFilters)
    val kept = entries.filter { case (_, pv, stats) =>
      partPred.forall(_.eval(rowOf(pv))) &&
        !stats.exists(DeltaBridge.statsExclude(_, checks))
    }
    kept.groupBy(_._2).toSeq.map { case (pv, files) =>
      PartitionDirectory(rowOf(pv), files.map(_._1).toArray)
    }
  }

  override def inputFiles: Array[String] =
    entries.map(_._1.getPath.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = entries.map(_._1.getLen).sum
}
