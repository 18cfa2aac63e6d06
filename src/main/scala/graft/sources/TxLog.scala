package graft.sources

import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, StringType, StructField, StructType}
import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import DeltaBridge.LogState

/** A parquet TRANSACTION LOG writer that speaks the Delta protocol
  * (https://github.com/delta-io/delta/blob/master/PROTOCOL.md) without the
  * Delta jar — the gold layer's transactional writes (the reference
  * writes Delta, BuildGoldLayer.py:219-235):
  *
  *  - A table is a directory; each write lands its parquet part-files in a
  *    fresh `stage-*` subdirectory (data files are IMMUTABLE — never
  *    appended to, never deleted by writers).
  *  - Each commit publishes one Delta version `_delta_log/%020d.json`:
  *    `protocol` + `metaData` at version 0 (the metaData configuration
  *    carries [[Marker]]), a fresh `metaData` whenever the schema changes,
  *    `txn` for a streaming batch, `remove` and `add` actions (with
  *    `partitionValues`, footer `stats`, deletion vectors, and the entry's
  *    typed stats in `tags`). TxLog version k is Delta version k−1; every
  *    [[CheckpointInterval]]th version also writes a checkpoint. State is
  *    read back only through [[DeltaBridge]]'s replayer, so TxLog and any
  *    Delta reader see the same snapshot the moment a commit lands.
  *  - A commit is published by HARD-LINKING a temp file onto its version
  *    name — link(2) fails with EEXIST if the target exists, so the
  *    filesystem is the arbiter: two writers racing for version k cannot
  *    both win, the loser re-reads the log and retries at k+1 (optimistic
  *    concurrency; the protocol's put-if-absent log-store rule). NOT
  *    rename: POSIX rename(2) silently REPLACES an existing target, so an
  *    ATOMIC_MOVE "arbiter" would let both racers succeed and destroy the
  *    winner's commit (verified empirically on this filesystem).
  *  - Readers never lock: a snapshot is a pure function of the immutable
  *    log prefix, so TIME TRAVEL (`read(asOf = k)`) and concurrent-writer
  *    isolation come for free. Half-written commits are invisible (temps
  *    live under a name the replay ignores).
  *  - One reader: [[read]], [[readPruned]] and every rewrite scan turn
  *    live adds into rows through [[DeltaBridge]]'s one builder
  *    ([[DeltaBridge.scanLive]]) under the replayed schema and partition
  *    columns, so `read(asOf = k)` is `DeltaBridge.read` of version k−1.
  *  - Partition types are fixed at commit: each partition column is
  *    logged with the narrowest type that renders every value of the
  *    post-commit snapshot back identically ([[partitionType]]: INT,
  *    BIGINT, DATE, else STRING), so `code=0123` stays the string
  *    "0123" on every read and every rewrite.
  *
  * At 100 TB the same design holds because commits are metadata-sized (file
  * LISTS, not data) and data files are immutable: the only serialization
  * point is the version-name link.
  */
object TxLog {

  /** The `metaData.configuration` key TxLog writes at version 0. A Delta
    * table without it is foreign: the DML, catalog and streaming write
    * paths mount it read-only ([[owns]]). */
  val Marker = "graft.txlog"

  /** The on-disk log format. Persisted layouts holding TxLog tables fold
    * it into their artifact key ([[layoutArtifact]]), so a copy built
    * under an older format is rebuilt instead of served. */
  val LogFormat = "delta3"

  /** The add `tags` key holding an entry's typed stats (`lo#hi`). */
  private val StatsTag = "graft.stats"

  /** The `txn` appId of an appId-less (V1 foreachBatch sink) batch. */
  private val V1AppId = "graft-stream-v1"

  /** Checkpoint cadence — the delta-spark default. */
  private val CheckpointInterval = 10

  /** An empty struct: the schema of a zero-add version 0. */
  private val EmptySchema = new StructType().json

  /** List a directory with the stream CLOSED (Files.list leaks a directory
    * fd until GC otherwise — and versions() runs on every commit attempt
    * and every replay). Shared with the DSv2 connector (one definition of
    * the leak-proof listing, not two drifting copies). */
  private[sources] def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Committed versions whose JSON is present, ascending (TxLog version k
    * is Delta version k−1). Versions a [[DeltaBridge.vacuumLog]] retired
    * under a checkpoint are absent. */
  def versions(table: String): Seq[Int] =
    DeltaBridge.versions(table).map(_.toInt + 1)

  /** The head version, 0 for an empty log. The checkpoint counts, so a
    * log whose covered JSON was retired is not empty and keeps committing
    * above it. */
  def head(table: String): Int =
    DeltaBridge.headVersion(table).toInt + 1

  /** The replayed log state at `asOf` (None = head; 0 = the empty log).
    * Only a checkpoint bootstrap needs the session. */
  private def state(table: String, asOf: Option[Int]): LogState =
    if (asOf.contains(0) || head(table) == 0) LogState()
    else DeltaBridge.readState(SparkSession.active, table, asOf.map(_ - 1L))

  /** The live entries of a replayed state: path, then the `tags` stats,
    * then the deletion vector — the same string the commit was given. */
  private def entries(st: LogState): Seq[String] =
    st.live.toSeq.map { case (p, e) =>
      val dv = e.dv.map { d =>
        require(d.storageType == "u" && d.pathOrInlineDv.length == 20 &&
            d.offset.isDefined,
          s"$p carries a deletion vector TxLog did not write (${d.storageType})")
        "#" + DvRef(DeletionVectors.uuidOfZ85(d.pathOrInlineDv).toString,
          d.offset.get, d.sizeInBytes, d.cardinality).enc
      }
      p + e.tags.get(StatsTag).fold("")("#" + _) + dv.getOrElse("")
    }

  /** True iff `table` is a TxLog table: its log carries [[Marker]]. */
  def owns(table: String): Boolean =
    head(table) > 0 && state(table, None).configuration.contains(Marker)

  /** A persisted layout artifact holding TxLog tables, keyed by
    * [[LogFormat]] as well as kind and corpus (see
    * [[graft.SparkSupport.layoutArtifact]]). */
  def layoutArtifact(layout: graft.SparkSupport.Layout, dir: String)(
      build: String => Unit): String = graft.SparkSupport.layoutArtifact(
    layout.copy(kind = s"${layout.kind}_$LogFormat"), dir)(build)

  /** Live data-file ENTRIES (relative path, optionally suffixed
    * `#min#max` file statistics) at `asOf` (None = HEAD). Remove lists
    * match entries verbatim, so entries — not bare paths — are the unit
    * of log bookkeeping; use [[entryPath]] to resolve a path. */
  def liveFiles(table: String, asOf: Option[Int] = None): Seq[String] =
    entries(state(table, asOf))

  /** The data-file path of an add/live entry (strips the stats suffix). */
  def entryPath(entry: String): String = entry.takeWhile(_ != '#')

  /** A TYPED per-file min/max statistic — the Iceberg-manifest value
    * shape, self-describing in the entry suffix so a reader prunes
    * without consulting the data schema. Wire form `<tag>:<enc>`:
    * `l:` 64-bit integer (also covers int/short/byte), `d:` double
    * (`java.lang.Double.toString`, exact round-trip), `s:` string
    * (percent-encoded — '#', ':', quotes and non-ASCII can't corrupt
    * the entry or the commit JSON), `a:` date as epoch days, `t:`
    * timestamp as epoch micros. A bare untagged number (the original
    * long-only format) still parses as `l` — old logs stay readable.
    *
    * Comparability is WITHIN a tag only: a bound of one type never
    * prunes a file whose stats carry another (the reader keeps the file
    * conservatively — pruning is an optimization, never a filter).
    * String order is UTF-8 byte order (what parquet/Spark min/max use),
    * NOT UTF-16 `compareTo` — they disagree above the BMP, and pruning
    * must rank bounds exactly like the writer ranked rows. */
  sealed trait StatValue {
    def tag: Char
    private[TxLog] def encBody: String
    final def enc: String = s"$tag:$encBody"
  }
  object StatValue {
    import java.nio.charset.StandardCharsets.UTF_8
    final case class L(v: Long) extends StatValue {
      val tag = 'l'; def encBody = v.toString
    }
    final case class D(v: Double) extends StatValue {
      val tag = 'd'; def encBody = v.toString
    }
    final case class S(v: String) extends StatValue {
      val tag = 's'
      def encBody = java.net.URLEncoder.encode(v, UTF_8)
    }
    final case class Dt(epochDay: Long) extends StatValue {
      val tag = 'a'; def encBody = epochDay.toString
    }
    final case class Ts(micros: Long) extends StatValue {
      val tag = 't'; def encBody = micros.toString
    }

    /** A collected Spark value as a StatValue; None = type unsupported
      * (decimal, binary, nested) → the file commits without stats and
      * every read keeps it. Float widens to double exactly (binary32 ⊂
      * binary64). */
    def of(x: Any): Option[StatValue] = x match {
      case null                     => None
      case v: Long                  => Some(L(v))
      case v: Int                   => Some(L(v.toLong))
      case v: Short                 => Some(L(v.toLong))
      case v: Byte                  => Some(L(v.toLong))
      case v: Double                => Some(D(v))
      case v: Float                 => Some(D(v.toDouble))
      case v: String                => Some(S(v))
      case v: java.sql.Date         => Some(Dt(v.toLocalDate.toEpochDay))
      case v: java.time.LocalDate   => Some(Dt(v.toEpochDay))
      case v: java.sql.Timestamp =>
        val i = v.toInstant
        Some(Ts(i.getEpochSecond * 1000000L + i.getNano / 1000L))
      case v: java.time.Instant =>
        Some(Ts(v.getEpochSecond * 1000000L + v.getNano / 1000L))
      case _                        => None
    }

    /** Parse one entry field; bare numbers are legacy long stats. */
    def decode(field: String): Option[StatValue] = {
      def num(s: String): Option[Long] =
        try Some(s.toLong) catch { case _: NumberFormatException => None }
      if (field.length >= 2 && field(1) == ':') {
        val body = field.substring(2)
        field(0) match {
          case 'l' => num(body).map(L(_))
          case 'a' => num(body).map(Dt(_))
          case 't' => num(body).map(Ts(_))
          case 'd' =>
            try Some(D(body.toDouble))
            catch { case _: NumberFormatException => None }
          case 's' =>
            // a corrupt percent sequence ('%', '%zz') must degrade to None
            // like every other malformed suffix — one bad log entry must
            // never fail a whole liveFilesWithTypedStats/read
            try Some(S(java.net.URLDecoder.decode(body, UTF_8)))
            catch { case _: IllegalArgumentException => None }
          case _ => None
        }
      } else num(field).map(L(_))
    }

    /** a <= b within a tag; None when incomparable (different tags, or a
      * NaN bound/stat — the caller keeps the file in both cases). */
    def lteq(a: StatValue, b: StatValue): Option[Boolean] = (a, b) match {
      case (L(x), L(y))   => Some(x <= y)
      case (Dt(x), Dt(y)) => Some(x <= y)
      case (Ts(x), Ts(y)) => Some(x <= y)
      case (D(x), D(y)) =>
        if (x.isNaN || y.isNaN) None else Some(x <= y)
      case (S(x), S(y)) =>
        val (bx, by) = (x.getBytes(UTF_8), y.getBytes(UTF_8))
        Some(java.util.Arrays.compareUnsigned(bx, by) <= 0)
      case _ => None
    }
  }

  /** A WRITER-SIDE deletion vector riding a log entry — merge-on-read
    * DELETE ([[deleteWhereDv]]): the entry's data file stays in place and
    * the DV names the deleted row indices in a spec-format sidecar
    * ([[DeletionVectors.writeDvFile]]'s layout, committed as the add's
    * Delta `deletionVector` descriptor). Wire form, one `#`-separated
    * entry field:
    * `dv:<uuid-hex>:<offset>:<size>:<cardinality>` — the uuid in HEX, not
    * z85 (the z85 alphabet contains both '#' and ':'). Unlike stats, a
    * malformed DV field FAILS LOUD: dropping it silently would resurrect
    * deleted rows. */
  private[sources] final case class DvRef(uuid: String, offset: Int,
                                          size: Int, cardinality: Long) {
    def enc: String = s"dv:$uuid:$offset:$size:$cardinality"
    def descriptor: DeletionVectors.Descriptor =
      DeletionVectors.Descriptor("u",
        DeletionVectors.z85OfUuid(java.util.UUID.fromString(uuid)),
        Some(offset), size, cardinality)
  }

  /** The DV field of an entry, if any. */
  private[sources] def entryDv(entry: String): Option[DvRef] =
    entry.split('#').find(_.startsWith("dv:")).map { f =>
      f.split(':') match {
        case Array("dv", u, off, sz, card) =>
          try DvRef(u, off.toInt, sz.toInt, card.toLong)
          catch { case _: NumberFormatException =>
            throw new IllegalStateException(
              s"corrupt deletion-vector entry field '$f' in $entry")
          }
        case _ => throw new IllegalStateException(
          s"corrupt deletion-vector entry field '$f' in $entry")
      }
    }

  /** The non-DV fields of an entry (path + stats) — what a DV update
    * preserves when it re-publishes the entry under a new vector. */
  private def entryWithoutDv(entry: String): Seq[String] =
    entry.split('#').toSeq.filterNot(_.startsWith("dv:"))

  /** Live (path, Option(min, max)) pairs with TYPED statistics — what an
    * [[appendWithStats]] writer recorded in its commit, any supported
    * column type. Malformed or legacy-unparseable suffixes degrade to
    * None (file kept on every read), never to an error. DV fields are
    * transparent here (stats stay sound under deletion — bounds only
    * ever over-approximate). */
  def liveFilesWithTypedStats(table: String, asOf: Option[Int] = None)
      : Seq[(String, Option[(StatValue, StatValue)])] =
    typedStats(liveFiles(table, asOf))

  private def typedStats(entries: Seq[String])
      : Seq[(String, Option[(StatValue, StatValue)])] =
    entries.map { e =>
      e.split('#').filterNot(_.startsWith("dv:")) match {
        case Array(p, lo, hi) =>
          (StatValue.decode(lo), StatValue.decode(hi)) match {
            case (Some(a), Some(b)) => (p, Some((a, b)))
            case _                  => (p, None)
          }
        case _ => (entryPath(e), None)
      }
    }

  /** Live (path, Option(min, max)) pairs of LONG statistics — the original
    * stats API, kept for integer-keyed tables. Non-long typed stats parse
    * to None here (the caller keeps those files conservatively). */
  def liveFilesWithStats(table: String, asOf: Option[Int] = None)
      : Seq[(String, Option[(Long, Long)])] =
    liveFilesWithTypedStats(table, asOf).map {
      case (p, Some((StatValue.L(lo), StatValue.L(hi)))) =>
        (p, Some((lo, hi)))
      case (p, _) => (p, None)
    }

  /** Snapshot read; empty-schema-safe only when the table has data.
    * The same DataFrame [[DeltaBridge.read]] builds for Delta version
    * `asOf` − 1: the logged schema, partition columns re-attached under
    * their logged types, and DV-bearing entries ([[deleteWhereDv]])
    * dropping exactly their deleted row indices. */
  def read(spark: SparkSession, table: String,
           asOf: Option[Int] = None): DataFrame = {
    val st = state(table, asOf)
    require(st.live.nonEmpty, s"no live files in $table at $asOf")
    scan(spark, table, st, entries(st))
  }

  /** The rows of `entries`, live in `st`, through [[DeltaBridge]]'s one
    * builder ([[DeltaBridge.scanLive]]) — every read and rewrite scan
    * here. */
  private def scan(spark: SparkSession, table: String, st: LogState,
                   entries: Seq[String]): DataFrame =
    DeltaBridge.scanLive(spark, table, st, entries.map(entryPath))

  /** Paths of live files whose [min, max] stats intersect [lo, hi) — the
    * lakehouse DATA-SKIPPING read: predicate bounds prune at the manifest
    * (metadata) level before any scan. Files committed without stats are
    * conservatively kept. */
  def pruneFiles(table: String, lo: Long, hi: Long,
                 asOf: Option[Int] = None): Seq[String] =
    pruneFilesTyped(table, StatValue.L(lo), StatValue.L(hi), asOf)

  /** Typed-bound pruning: keep a file unless its stats PROVE
    * max < lo ∨ min >= hi (the [lo, hi) half-open complement). Proof
    * requires same-tag comparability — stats of another type, absent
    * stats, or NaN anywhere keep the file. Sound by construction: every
    * drop is backed by a definite comparison. */
  def pruneFilesTyped(table: String, lo: StatValue, hi: StatValue,
                      asOf: Option[Int] = None): Seq[String] =
    prune(liveFiles(table, asOf), lo, hi).map(entryPath)

  /** The entries whose typed stats do not prove them outside [lo, hi). */
  private def prune(entries: Seq[String], lo: StatValue,
                    hi: StatValue): Seq[String] =
    entries.zip(typedStats(entries)).collect {
      case (e, (_, Some((mn, mx))))
          if StatValue.lteq(lo, mx).contains(true) &&
             StatValue.lteq(hi, mn).contains(false) => e
      case (e, (_, None)) => e
      case (e, (_, Some((mn, mx))))
          if StatValue.lteq(lo, mx).isEmpty ||
             StatValue.lteq(hi, mn).isEmpty => e
    }

  /** Stats-pruned snapshot read over [lo, hi) of the stats column. The
    * caller still applies the row-level filter — pruning is file-granular
    * and sound (never drops a file that could match), not exact. DV'd
    * entries among the survivors filter their deleted rows. */
  def readPruned(spark: SparkSession, table: String, lo: Long, hi: Long,
                 asOf: Option[Int] = None): DataFrame = {
    val st = state(table, asOf)
    val kept = prune(entries(st), StatValue.L(lo), StatValue.L(hi))
    require(kept.nonEmpty, s"no candidate files in $table for [$lo, $hi)")
    scan(spark, table, st, kept)
  }

  /** Append `df` as a new commit; returns the committed version. */
  def append(spark: SparkSession, df: DataFrame, table: String,
             partFiles: Int = 2): Int =
    commit(table, add = stage(df, table, partFiles), remove = Seq.empty)

  /** Append with per-file (min, max) statistics of `statsCol` recorded in
    * the commit — the Iceberg-manifest shape: stats are collected in ONE
    * distributed pass over the just-staged files (group by
    * input_file_name) at WRITE time, so every later [[readPruned]] /
    * [[pruneFilesTyped]] prunes from metadata alone. Any [[StatValue]]-
    * supported column type (integer, double, string, date, timestamp)
    * records typed stats; unsupported types (decimal, binary, nested)
    * commit without stats and stay un-prunable — never an error.
    * Range-partition `df` by the stats column first and the per-file
    * ranges come out tight (disjoint), which is what makes the pruning
    * selective. */
  def appendWithStats(spark: SparkSession, df: DataFrame, table: String,
                      statsCol: String, partFiles: Int = 8): Int = {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    val rels = stage(df, table, partFiles)
    val stats = graft.Tables.parquet(spark, rels.map(f => s"$table/$f"): _*)
      .groupBy(input_file_name().as("f"))
      .agg(min(col(statsCol)).as("lo"), max(col(statsCol)).as("hi"))
      .collect()
      .flatMap { r =>
        (StatValue.of(r.get(1)), StatValue.of(r.get(2))) match {
          case (Some(lo), Some(hi)) => Some((r.getString(0), lo, hi))
          case _                    => None // all-null or unsupported type
        }
      }
    val entries = rels.map { rel =>
      stats.find(_._1.endsWith(rel)) match {
        case Some((_, lo, hi)) => s"$rel#${lo.enc}#${hi.enc}"
        case None              => rel // zero-row file: no stats, kept conservatively
      }
    }
    commit(table, add = entries, remove = Seq.empty)
  }

  /** Append `df` as a new commit with HIVE-LAYOUT partitioning: part files
    * land under `stage-&#42;` + `col1=v1/col2=v2` + `part-&#42;.parquet`,
    * so each entry's relative path itself carries the partition values — the layout
    * the commit parses into per-add `partitionValues` and any Hive-aware
    * reader prunes on. The commit protocol is unchanged (entries are
    * opaque relative paths); only staging differs. */
  def appendPartitioned(spark: SparkSession, df: DataFrame, table: String,
                        partitionCols: Seq[String]): Int =
    commit(table, add = stagePartitioned(df, table, partitionCols),
      remove = Seq.empty)

  /** Atomic full replace with Hive-layout partitioning — [[overwrite]]'s
    * OCC discipline over [[stagePartitioned]] staging. */
  def overwritePartitioned(spark: SparkSession, df: DataFrame, table: String,
                           partitionCols: Seq[String]): Int = {
    val staged = stagePartitioned(df, table, partitionCols)
    commitWith(table)((_, st) => (staged, entries(st)))
  }

  /** Stage df partitioned by `cols` into a fresh immutable stage dir;
    * returns table-relative paths INCLUDING the `col=value` partition
    * segments. Spark's own writer produces the Hive layout (escaped
    * values, `__HIVE_DEFAULT_PARTITION__` for null), so the paths are
    * exactly what external Hive-aware tooling expects. */
  private def stagePartitioned(df: DataFrame, table: String,
                               cols: Seq[String]): Seq[String] = {
    require(cols.nonEmpty, "stagePartitioned: no partition columns")
    val name = s"stage-${java.util.UUID.randomUUID().toString.take(8)}"
    val dir = Paths.get(table, name)
    df.write.mode("errorifexists").partitionBy(cols: _*).parquet(dir.toString)
    // recursive walk (depth = |cols|): collect part files under their
    // partition dirs; _SUCCESS and other markers stay out of the log
    def walk(p: Path): Seq[Path] = listDir(p).flatMap { c =>
      if (Files.isDirectory(c)) walk(c)
      else if (c.getFileName.toString.endsWith(".parquet") &&
               c.getFileName.toString.startsWith("part-")) Seq(c)
      else Seq.empty
    }
    walk(dir).map(f => Paths.get(table).relativize(f).toString).sorted
  }

  /** EXACTLY-ONCE batch append for streaming sinks: the commit carries
    * the micro-batch id as a Delta `txn` action, and a re-delivered batch (foreachBatch
    * replays after restart) is recognized and skipped — the
    * idempotent-sink contract Structured Streaming requires from
    * foreachBatch targets. Returns the version holding the batch (new or
    * pre-existing). The id check re-runs inside the claim loop, so two
    * workers racing the SAME batch id cannot both land it. */
  def appendBatch(spark: SparkSession, df: DataFrame, table: String,
                  batchId: Long, partFiles: Int = 2,
                  partitionCols: Seq[String] = Seq.empty): Int = {
    committedBatch(table, batchId) match {
      case Some(v) => v // replay — already durable, stage nothing
      case None =>
        val staged =
          if (partitionCols.isEmpty) stage(df, table, partFiles)
          else stagePartitioned(df, table, partitionCols)
        claimBatch(table, batchId, staged)
    }
  }

  /** EXACTLY-ONCE commit of ALREADY-STAGED files under a batch id — the
    * V2 streaming-write path, where executors have written the epoch's
    * parquet files themselves and the driver commits the file list. Same
    * idempotence contract as [[appendBatch]]: a replayed epoch whose id
    * is already committed stages new orphans but lands no version. */
  def appendBatchStaged(table: String, batchId: Long,
                        staged: Seq[String],
                        appId: Option[String] = None): Int =
    committedBatch(table, batchId, appId) match {
      case Some(v) => v
      case None    => claimBatch(table, batchId, staged, appId)
    }

  /** The batch-id claim loop. Only commits NEWER than the last scan can
    * newly hold the batch id, so each retry reads just the delta — a
    * contended append stays O(log length), not O(retries × log length).
    * `checked` starts at 0 (NOT at the pre-stage head): a racer landing
    * between the caller's probe and here must not be skipped. */
  private def claimBatch(table: String, batchId: Long,
                         staged: Seq[String],
                         appId: Option[String] = None): Int = {
    var checked = 0
    var attempts = 0
    while (attempts < 100) {
      attempts += 1
      val h = head(table)
      versions(table).filter(_ > checked)
        .find(hasBatchId(table, _, batchId, appId)) match {
        case Some(v) => // racer won
          return recordBatch(table, batchId, v, appId)
        case None =>
          checked = h
          if (tryCommitAt(table, h + 1, staged, Seq.empty,
              Some(batchId), appId))
            return recordBatch(table, batchId, h + 1, appId)
      }
    }
    occExhausted("appendBatch", table, 100)
  }

  /** Whether version `v`'s `txn` action holds `batchId`. The two id
    * spaces are DISJOINT: an appId-less probe (the V1 foreachBatch sink,
    * committed under [[V1AppId]]) must not match a V2 streaming query's
    * commit that happens to share the numeric id, and vice versa — both
    * start at 0, and a cross-match silently swallows a batch. */
  private def hasBatchId(table: String, v: Int, batchId: Long,
                         appId: Option[String]): Boolean =
    DeltaBridge.versionDelta(table, v - 1L).txns
      .get(appId.getOrElse(V1AppId)).contains(batchId)

  /** The batchId → version side index lives beside `_delta_log`, not in
    * it: neither [[DeltaBridge.versions]] nor a foreign Delta reader
    * lists it. */
  private def batchIndexFile(table: String, batchId: Long,
                             appId: Option[String]): Path =
    Paths.get(table, "_batch_index")
      .resolve(appId.fold(s"b$batchId")(a => s"a${a}_b$batchId"))

  /** Cache batchId → version in the side index (a batch id maps to exactly
    * one version — the claim loop guarantees it — so concurrent writers
    * racing this record all write the same value and first-link-wins is
    * fine). Best-effort in FULL: any IOException (read-only mount, a
    * filesystem without hardlink support) is swallowed and v returned —
    * the index is a cache, and a failed write must never turn a pure read
    * (committedBatch backfill) or an already-durable commit (appendBatch
    * return path) into a failure. The cost is one log scan on the next
    * probe. */
  private def recordBatch(table: String, batchId: Long, v: Int,
                          appId: Option[String] = None): Int = {
    val f = batchIndexFile(table, batchId, appId)
    try {
      if (!Files.exists(f)) {
        Files.createDirectories(f.getParent)
        val tmp = Files.createTempFile(f.getParent, ".tmp-", "")
        Files.writeString(tmp, v.toString)
        try Files.createLink(f, tmp)
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
        finally Files.deleteIfExists(tmp)
      }
    } catch { case _: java.io.IOException => () }
    v
  }

  /** The version that committed `batchId`, if any — O(1) via the side
    * batch index, falling back to the O(versions) log scan (and
    * backfilling the index) for commits that predate the index or crashed
    * before recording it. The index is authoritative-if-present: entries
    * are written only after the commit is durable, and commits are never
    * rewritten. */
  def committedBatch(table: String, batchId: Long,
                     appId: Option[String] = None): Option[Int] = {
    val f = batchIndexFile(table, batchId, appId)
    if (Files.exists(f)) Some(Files.readString(f).trim.toInt)
    else versions(table).find(hasBatchId(table, _, batchId, appId))
      .map(recordBatch(table, batchId, _, appId))
  }

  /** Replace the table contents atomically; returns the version. */
  def overwrite(spark: SparkSession, df: DataFrame, table: String,
                partFiles: Int = 2): Int = {
    val staged = stage(df, table, partFiles)
    // remove is computed INSIDE the commit loop FROM THE SAME log read
    // that picks the version: commitWith replays the state pinned to the
    // head it observed, so the remove list and the claimed version
    // describe one snapshot. Re-reading the log separately here would
    // race: an append landing between the two reads would survive the
    // "replace everything" commit (its files missing from remove) — the
    // lost-update the OCC protocol exists to prevent. On a lost race the
    // loop recomputes both from the new head.
    commitWith(table)((_, st) => (staged, entries(st)))
  }

  /** Write df's part-files into a fresh immutable stage dir; returns their
    * table-relative paths. */
  private def stage(df: DataFrame, table: String, partFiles: Int): Seq[String] = {
    val name = s"stage-${java.util.UUID.randomUUID().toString.take(8)}"
    val dir = Paths.get(table, name)
    df.coalesce(partFiles).write.mode("errorifexists").parquet(dir.toString)
    listDir(dir)
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet") && n.startsWith("part-"))
      .sorted
      .map(f => s"$name/$f")
  }

  /** Publish the commit at exactly TxLog version `v` (Delta version
    * v−1) over `st`, the replayed state at v−1 — true iff WE created it.
    * The arbitration primitive is createLink (link(2)): it fails with
    * EEXIST when the version name is taken, atomically. rename(2) would
    * silently REPLACE the winner's commit (verified on this filesystem —
    * both racers would "succeed" and one commit would be destroyed). */
  private def publish(table: String, v: Int, st: LogState,
                      add: Seq[String], remove: Seq[String],
                      txn: Option[(String, Long)]): Boolean = {
    val json = deltaActions(table, v, st, add, remove, txn)
    val dir = DeltaBridge.deltaLogDir(table)
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, ".tmp-", ".json")
    Files.writeString(tmp, json)
    val won =
      try {
        Files.createLink(DeltaBridge.deltaVersionFile(table, v - 1L), tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally Files.deleteIfExists(tmp)
    if (won) checkpointCadence(table, v - 1L)
    won
  }

  /** Every [[CheckpointInterval]] versions, checkpoint the log (what
    * delta-spark writers do): readers then bootstrap in O(live files)
    * and the covered JSON becomes vacuum-able. Never at or below a
    * published checkpoint — an explicit `CALL graft.checkpoint` can pin
    * one above the cadence, and moving `_last_checkpoint` back would,
    * after a vacuumLog, point readers at a version the log can no longer
    * reconstruct. Best effort: the commit is already durable, so a
    * failed checkpoint only leaves the next commit to write it. */
  private def checkpointCadence(table: String, dv: Long): Unit = {
    val cv = dv / CheckpointInterval * CheckpointInterval
    if (cv > 0 && DeltaBridge.lastCheckpointVersion(table).forall(_ < cv))
      try DeltaBridge.writeCheckpoint(SparkSession.active, table, cv)
      catch { case NonFatal(_) => () }
  }

  /** The Delta actions of TxLog version `v` over the head state `st`, one
    * JSON object per line:
    *
    *  - `protocol` at version 0, and the deletion-vector upgrade (reader
    *    3 / writer 7) when the table first gets a vector;
    *  - `metaData` at version 0 (a fresh table id, [[Marker]] in its
    *    configuration) and whenever the commit's schema — the first
    *    add's data schema, partition columns typed by [[partitionType]]
    *    over the post-commit snapshot — differs from the head's: how
    *    Delta encodes `overwriteSchema`; time travel then resolves each
    *    version under the schema it was written with;
    *  - `txn` for a streaming batch;
    *  - `remove` per removed entry, dated for tombstone retention;
    *  - `add` per added entry: `partitionValues` from the Hive path,
    *    footer `stats`, the entry's typed stats in `tags`, and its
    *    `deletionVector`.
    *
    * Partition columns are fixed by the first data-bearing commit; an
    * add whose layout disagrees fails the commit loud (mixed layouts
    * cannot share one Delta log). A file that does not exist commits
    * with size 0 and no stats or schema, and needs no session. */
  private def deltaActions(table: String, v: Int, st: LogState,
                           add: Seq[String], remove: Seq[String],
                           txn: Option[(String, Long)]): String = {
    lazy val spark = SparkSession.active
    lazy val footerConf = spark.sessionState.newHadoopConf()
    val now = java.lang.Long.valueOf(System.currentTimeMillis())
    val addPaths = add.map(entryPath)
    val footers = addPaths.map(p => Some(Paths.get(table, p))
      .filter(Files.exists(_)).flatMap(readFooter(footerConf, _)))
    val partCols =
      if (st.schemaJson != null && st.schemaJson != EmptySchema) st.partitionCols
      else addPaths.headOption.map(DeltaBridge.splitHivePath(_)._2.map(_._1))
        .getOrElse(Seq.empty)
    val addPvs = addPaths.map { p =>
      val pvs = DeltaBridge.splitHivePath(p)._2
      require(pvs.map(_._1) == partCols,
        s"commit to $table: file $p has partition layout " +
          s"[${pvs.map(_._1).mkString(",")}], table is " +
          s"[${partCols.mkString(",")}] — mixed layouts cannot share one " +
          "Delta log")
      pvs.toMap
    }
    // each partition column typed over its values in the post-commit
    // snapshot: the head's live files the commit keeps, plus its adds
    val removed = remove.map(entryPath).toSet
    val snapshotPvs =
      st.live.collect { case (p, e) if !removed(p) => e.pv } ++ addPvs
    val partFields = partCols.map(c =>
      StructField(c, partitionType(snapshotPvs.map(_.getOrElse(c, null)))))
    val schemaJson = addPaths.headOption
      .flatMap(schemaOf(spark, table, _, footers.head, partFields))
      .orElse(if (v == 1) Some(EmptySchema) else None)
    val hasDv = add.exists(e => entryDv(e).isDefined)
    val actions = Seq.newBuilder[(String, AnyRef)]
    if (v == 1 || (hasDv && !st.readerFeatures.contains("deletionVectors")))
      // moving to table features (writer 7) must ENUMERATE the legacy
      // features the replaced minWriterVersion=2 implied (appendOnly,
      // invariants) — the spec's upgrade rule, and what delta-spark lists
      // on the same (1,2)→(3,7) step; reader 1 implies none, so
      // readerFeatures carries only the new feature
      actions += "protocol" -> (
        if (hasDv) Map[String, AnyRef](
          "minReaderVersion" -> Integer.valueOf(3),
          "minWriterVersion" -> Integer.valueOf(7),
          "readerFeatures" -> java.util.List.of("deletionVectors"),
          "writerFeatures" -> java.util.List.of(
            "appendOnly", "invariants", "deletionVectors"))
        else Map[String, AnyRef](
          "minReaderVersion" -> Integer.valueOf(1),
          "minWriterVersion" -> Integer.valueOf(2))).asJava
    schemaJson.filter(s => v == 1 || s != st.schemaJson).foreach { s =>
      actions += "metaData" -> Map[String, AnyRef](
        "id" -> (if (v == 1 || st.metaId == null)
          java.util.UUID.randomUUID().toString else st.metaId),
        "format" -> Map[String, AnyRef]("provider" -> "parquet",
          "options" -> Map.empty[String, String].asJava).asJava,
        "schemaString" -> s,
        "partitionColumns" -> partCols.asJava,
        "configuration" ->
          (if (v == 1) Map(Marker -> "true") else st.configuration).asJava
      ).asJava
    }
    txn.foreach { case (appId, batchId) =>
      actions += "txn" -> Map[String, AnyRef]("appId" -> appId,
        "version" -> java.lang.Long.valueOf(batchId), "lastUpdated" -> now).asJava
    }
    remove.foreach { e =>
      actions += "remove" -> Map[String, AnyRef]("path" -> entryPath(e),
        "deletionTimestamp" -> now, "dataChange" -> java.lang.Boolean.TRUE).asJava
    }
    add.lazyZip(addPvs).lazyZip(footers).foreach { (e, pv, footer) =>
      val f = Paths.get(table, entryPath(e))
      val exists = Files.exists(f)
      val dv = entryDv(e)
      val stats = entryWithoutDv(e).drop(1).mkString("#")
      val fields = ListMap[String, AnyRef](
        "path" -> entryPath(e),
        "partitionValues" -> pv.asJava,
        "size" -> java.lang.Long.valueOf(if (exists) Files.size(f) else 0L),
        "modificationTime" -> java.lang.Long.valueOf(
          if (exists) Files.getLastModifiedTime(f).toMillis else 0L),
        "dataChange" -> java.lang.Boolean.TRUE) ++
        // a DV'd add keeps numRecords as the file's PHYSICAL count, with
        // tightBounds=false: the extreme row may be deleted
        footer.flatMap(fileStatsJson(_, tight = dv.isEmpty)).map("stats" -> _) ++
        Option.when(stats.nonEmpty)(
          "tags" -> java.util.Map.of(StatsTag, stats)) ++
        dv.map { ref =>
          val d = ref.descriptor
          "deletionVector" -> Map[String, AnyRef](
            "storageType" -> d.storageType,
            "pathOrInlineDv" -> d.pathOrInlineDv,
            "offset" -> Integer.valueOf(d.offset.get),
            "sizeInBytes" -> Integer.valueOf(d.sizeInBytes),
            "cardinality" -> java.lang.Long.valueOf(d.cardinality)).asJava
        }
      actions += "add" -> fields.asJava
    }
    actions.result().map { case (k, body) =>
      DeltaBridge.mapper.writeValueAsString(java.util.Map.of(k, body)) + "\n"
    }.mkString
  }

  /** The schema JSON of a commit whose first add is `p`: the data
    * schema from its parquet footer (the Spark schema a Spark writer
    * stores there, else the converted parquet schema — what Spark's own
    * schema inference reads, without its job), fields named like a
    * partition column dropped, then `partFields`. None for a file that
    * does not exist; a file whose footer cannot be read fails the
    * commit. */
  private def schemaOf(spark: => SparkSession, table: String, p: String,
                       footer: Option[ParquetMetadata],
                       partFields: Seq[StructField]): Option[String] =
    Option.when(Files.exists(Paths.get(table, p))) {
      val data = GraftParquetBridge.schemaOf(spark, footer.getOrElse(
        throw new IllegalArgumentException(
          s"commit to $table: $p is not a readable parquet file")))
      val partNames = partFields.map(_.name.toLowerCase).toSet
      StructType(data.fields.filterNot(f => partNames(f.name.toLowerCase)) ++
        partFields).json
    }

  /** The logged type of a partition column over its values in the
    * post-commit snapshot: the narrowest type whose rendering is the
    * IDENTITY on every non-null value — INT, then BIGINT, when each
    * value equals `v.toInt.toString` (`toLong`), DATE for canonical ISO
    * dates, else STRING, which keeps anything (leading zeros, spaces,
    * mixed shapes). Every live value then parses under its column's
    * type, and a rewrite re-stages it under the byte-identical path.
    * Nulls (`__HIVE_DEFAULT_PARTITION__`) render the same under every
    * type. */
  private def partitionType(values: Iterable[String]): DataType = {
    val nn = values.filter(_ != null)
    def stable(parse: String => Any)(v: String): Boolean =
      try parse(v).toString == v catch { case NonFatal(_) => false }
    Seq[(String => Any, DataType)]((_.toInt, IntegerType),
        (_.toLong, LongType), (java.time.LocalDate.parse(_), DateType))
      .collectFirst { case (parse, t) if nn.nonEmpty && nn.forall(stable(parse)) => t }
      .getOrElse(StringType)
  }

  /** Per-add `stats` JSON — the Delta data-skipping payload
    * (`numRecords` + per-column `minValues`/`maxValues`/`nullCount`)
    * external readers (delta-rs, DuckDB delta, delta-spark) prune files
    * on, computed from the parquet FOOTER alone (row-group metadata —
    * never a data scan, so a commit stays metadata-priced). Columns
    * covered: top-level int/long (as JSON numbers), float/double (as
    * numbers, NaN-bearing groups skipped — NaN bounds are unordered and
    * a reader skipping on them would be unsound), and UTF-8 strings
    * (parquet's truncation keeps truncated bounds SOUND: min truncates
    * down, max rounds up). Other types contribute nullCount only.
    * Best-effort: any footer surprise yields an add without stats —
    * stats are an optimization, never a correctness dependency. */
  private def fileStatsJson(footer: ParquetMetadata,
                            tight: Boolean): Option[String] = try {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val msgType = footer.getFileMetaData.getSchema
    val blocks = footer.getBlocks.asScala.toSeq
    val numRecords = blocks.map(_.getRowCount).sum
    val mins = new java.util.LinkedHashMap[String, AnyRef]()
    val maxs = new java.util.LinkedHashMap[String, AnyRef]()
    val nulls = new java.util.LinkedHashMap[String, AnyRef]()
    // top-level primitive columns only (nested stats need the full
    // dotted-path schema walk delta-spark does — scope cut)
    msgType.getFields.asScala.filter(_.isPrimitive).foreach { field =>
      val name = field.getName
      val chunks = blocks.flatMap(_.getColumns.asScala.filter { c =>
        c.getPath.size() == 1 && c.getPath.toDotString == name })
      val stats = chunks.map(_.getStatistics)
      if (stats.nonEmpty && stats.forall(s =>
          s != null && !s.isEmpty && s.isNumNullsSet)) {
        nulls.put(name,
          java.lang.Long.valueOf(stats.map(_.getNumNulls).sum))
        val valued = stats.filter(_.hasNonNullValue)
        if (valued.nonEmpty) {
          val prim = field.asPrimitiveType().getPrimitiveTypeName
          val logical = field.asPrimitiveType().getLogicalTypeAnnotation
          prim match {
            // SIGNED ints only: parquet ranks an UNSIGNED-annotated
            // column unsigned, so genericGetMin/Max reinterpreted as
            // signed longs can invert (max = -1 for a column holding
            // 2^32-1) and a later statsExclude would "prove"
            // disjointness and UNSOUNDLY drop the file. Unreachable
            // via Spark-written stages, but TxLog commits carry opaque
            // paths — foreign parquet can enter — so unsigned falls to
            // nullCount-only coverage (skipping may only under-prune).
            case INT32 | INT64
                if logical == null || (logical match {
                  case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                    i.isSigned
                  case _ => false
                }) =>
              val lo = valued.map(
                _.genericGetMin.asInstanceOf[Number].longValue()).min
              val hi = valued.map(
                _.genericGetMax.asInstanceOf[Number].longValue()).max
              mins.put(name, java.lang.Long.valueOf(lo))
              maxs.put(name, java.lang.Long.valueOf(hi))
            case FLOAT | DOUBLE =>
              val los = valued.map(
                _.genericGetMin.asInstanceOf[Number].doubleValue())
              val his = valued.map(
                _.genericGetMax.asInstanceOf[Number].doubleValue())
              if (!los.exists(_.isNaN) && !his.exists(_.isNaN)) {
                mins.put(name, java.lang.Double.valueOf(los.min))
                maxs.put(name, java.lang.Double.valueOf(his.max))
              }
            case BINARY
                if logical.isInstanceOf[
                  LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
              def byteMin(a: Array[Byte], b: Array[Byte]): Array[Byte] =
                if (java.util.Arrays.compareUnsigned(a, b) <= 0) a else b
              val lo = valued.map(_.genericGetMin
                .asInstanceOf[org.apache.parquet.io.api.Binary]
                .getBytes).reduce(byteMin)
              val hi = valued.map(_.genericGetMax
                .asInstanceOf[org.apache.parquet.io.api.Binary]
                .getBytes).reduce((a, b) =>
                  if (java.util.Arrays.compareUnsigned(a, b) >= 0) a else b)
              mins.put(name, new String(lo, "UTF-8"))
              maxs.put(name, new String(hi, "UTF-8"))
            case _ => () // nullCount-only coverage
          }
        }
      }
    }
    val payload = new java.util.LinkedHashMap[String, AnyRef]()
    payload.put("numRecords", java.lang.Long.valueOf(numRecords))
    payload.put("minValues", mins)
    payload.put("maxValues", maxs)
    payload.put("nullCount", nulls)
    // DV'd adds: numRecords stays the file's PHYSICAL count, but the
    // footer min/max may be loose over the LIVE rows (the extreme row
    // may be deleted) — the spec's tightBounds=false says exactly that
    if (!tight) payload.put("tightBounds", java.lang.Boolean.FALSE)
    Some(DeltaBridge.mapper.writeValueAsString(payload))
  } catch { case scala.util.control.NonFatal(_) => None }

  /** One parquet file's footer; None when it cannot be read (the add
    * then commits without stats). The read options wrap `conf` itself:
    * parquet's default options would build a fresh Hadoop conf,
    * re-parsing its XML resources, per file. */
  private def readFooter(conf: org.apache.hadoop.conf.Configuration,
                         f: Path): Option[ParquetMetadata] = try {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toUri), conf),
      HadoopReadOptions.builder(conf).build())
    try Some(r.getFooter) finally r.close()
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Optimistic-concurrency commit: claim the next version by atomic
    * link; on a collision re-read and retry. */
  def commit(table: String, add: Seq[String], remove: Seq[String]): Int =
    commitWith(table)((_, _) => (add, remove))

  /** Claim EXACTLY version `v` — returns false if another writer got
    * there first (or `v` is not the next version). The primitive
    * snapshot-isolation conflict detection builds on: a writer that
    * staged work against version v−1 must NOT blindly land at a later
    * version (its inputs may be stale). */
  def tryCommitAt(table: String, v: Int, add: Seq[String],
                  remove: Seq[String], batchId: Option[Long] = None,
                  appId: Option[String] = None): Boolean =
    head(table) == v - 1 &&
      publish(table, v, state(table, Some(v - 1)), add, remove,
        batchId.map((appId.getOrElse(V1AppId), _)))

  /** Uniform OCC-exhaustion failure for every write loop: the claim
    * loop re-reads the head and retries, so reaching the attempt budget
    * means a concurrent writer claimed the next version every single
    * time. FAIL-LOUD CONTRACT (spec'd in TxLogSpec under a deliberately
    * racing committer): nothing was committed — every staged file and
    * sidecar of the losing attempts is unreferenced by the log and
    * vacuum-collectable — so the caller retries the whole statement,
    * never repairs partial state. */
  private def occExhausted(op: String, table: String,
                           attempts: Int): Nothing =
    throw new IllegalStateException(
      s"$op on $table: gave up after $attempts OCC attempts — a " +
        "concurrent writer claimed the next version every time. No " +
        "partial state was committed (losing attempts' staged files are " +
        "unreferenced and vacuum-collectable); retry the statement when " +
        "contention subsides")

  /** VACUUM: physically delete data files no retained version references —
    * Delta's VACUUM trade brought to the TxLog. The newest
    * `retainVersions` versions stay fully time-travelable (the keep set
    * is the union of their live sets); reading an OLDER version
    * afterwards fails at scan time on the missing files, exactly like a
    * vacuumed Delta table. Commits are never deleted here (log retention
    * is [[DeltaBridge.vacuumLog]]'s); versions whose JSON it retired are
    * past time travel already, so the retained window starts no lower
    * than the oldest version the log can still reconstruct.
    * Files younger than `minAgeMs` survive unconditionally: a concurrent
    * writer's staged-but-uncommitted files must not be swept, the same
    * modification-time discipline behind Delta VACUUM's retention window
    * (production default: hours; `minAgeMs = 0` only makes sense in tests
    * and maintenance windows with no in-flight writers — a staged-but-
    * uncommitted file has no log reference protecting it). Stage
    * directories left empty (bar write markers) are removed, recursing
    * through partitioned Hive sub-layouts; deletion-vector sidecars no
    * retained version references sweep under the same age guard.
    * Returns the deleted table-relative paths.
    *
    * Scale: one log replay (metadata) per retained version, one
    * filesystem walk of the stage dirs; at 10⁵ files this is driver-side
    * listing arithmetic, and the deletes are per-file — no data is read
    * or moved. */
  def vacuum(table: String, retainVersions: Int = 2,
             minAgeMs: Long = 0): Seq[String] = {
    require(retainVersions >= 1, "vacuum must retain at least the head")
    val h = head(table)
    if (h == 0) return Seq.empty
    val floor =
      if (versions(table).headOption.contains(1)) 1
      else DeltaBridge.lastCheckpointVersion(table).fold(1)(_.toInt + 1)
    val live = (math.max(h - retainVersions + 1, floor) to h)
      .flatMap(v => liveFiles(table, Some(v)))
    val keep = live.map(entryPath).toSet
    // deletion-vector sidecars referenced by any retained version survive;
    // superseded vectors (re-deleted or rewritten files) become sweepable
    // like any unreferenced stage file
    val keepDv = live.flatMap(e => entryDv(e).map(_.uuid)).toSet
    val root = Paths.get(table)
    val deadline = System.currentTimeMillis() - minAgeMs
    def walk(p: Path): Seq[Path] = listDir(p).flatMap { c =>
      if (Files.isDirectory(c)) walk(c) else Seq(c)
    }
    val stageDirs = listDir(root).filter(p => Files.isDirectory(p) &&
      p.getFileName.toString.startsWith("stage-"))
    val DvName = "deletion_vector_(.+)\\.bin".r
    // orphaned DV sidecars sweep under the same age guard: an in-flight
    // deleteWhereDv writes its sidecar BEFORE committing, so a young
    // unreferenced .bin may be about to be referenced
    val deadDvs = listDir(root)
      .filter(p => !Files.isDirectory(p))
      .filter { p =>
        p.getFileName.toString match {
          case DvName(uuid) => !keepDv.contains(uuid) &&
            Files.getLastModifiedTime(p).toMillis <= deadline
          case _ => false
        }
      }
      .map { f => Files.delete(f); root.relativize(f).toString }
    val deleted = stageDirs.flatMap(walk)
      .filter { f =>
        f.getFileName.toString.endsWith(".parquet") &&
          !keep.contains(root.relativize(f).toString) &&
          Files.getLastModifiedTime(f).toMillis <= deadline
      }
      .map { f => Files.delete(f); root.relativize(f).toString } ++ deadDvs
    // sweep stage dirs (and partition subdirs) that now hold only markers
    // — but NEVER young ones: a writer that just created its stage (or a
    // committer's scaffolding of dot-files) has no log reference yet, and
    // deleting its tree would fail the in-flight job the minAgeMs guard
    // exists to protect. The guard applies to the directory's own mtime,
    // which the filesystem bumps on every entry created inside it.
    def sweep(p: Path): Unit = {
      listDir(p).filter(Files.isDirectory(_)).foreach(sweep)
      val rest = listDir(p)
      if (Files.getLastModifiedTime(p).toMillis <= deadline &&
          rest.forall(c => !Files.isDirectory(c) &&
            (c.getFileName.toString == "_SUCCESS" ||
              c.getFileName.toString.startsWith(".")))) {
        rest.foreach(Files.delete)
        Files.delete(p)
      }
    }
    stageDirs.foreach(p => if (Files.exists(p)) sweep(p))
    deleted.sorted
  }

  /** Re-stage a rewrite preserving the table's Hive layout. Rows shuffle
    * onto (partition values[, deterministic row-hash salt]) so each
    * partition directory gets at most `partFiles` files — bounded file
    * counts per partition, while a large partition's rewrite still
    * parallelizes across `partFiles` tasks. */
  private def stagePartitionedSized(df: DataFrame, table: String,
                                    cols: Seq[String],
                                    partFiles: Int): Seq[String] = {
    import org.apache.spark.sql.functions.{abs => cabs, col, hash, lit, pmod}
    val shaped =
      if (partFiles <= 1) df.repartition(cols.map(col): _*)
      else df.repartition(cols.map(col) :+
        pmod(cabs(hash(df.columns.toIndexedSeq.map(col): _*)),
          lit(partFiles)): _*)
    stagePartitioned(shaped, table, cols)
  }

  /** Stage a rewrite in the live set's own layout: flat through [[stage]],
    * Hive-partitioned through [[stagePartitionedSized]]. */
  private def stageLike(df: DataFrame, table: String, partCols: Seq[String],
                        partFiles: Int): Seq[String] =
    if (partCols.isEmpty) stage(df, table, partFiles)
    else stagePartitionedSized(df, table, partCols, partFiles)

  /** `input_file_name()` returns a URI (percent-encoded — a partition
    * value with a space rides as `%20`), while log entries are raw
    * on-disk paths. Decode before comparing, or hit-file discovery on
    * such partitions silently matches nothing (review finding r13).
    * Flat stage names are hex-only, where decoding is the identity. */
  private def decodeFileUri(s: String): String =
    // getPath is null (no exception) for opaque URIs — fall back to the
    // raw string there too, or hitEntries' endsWith would NPE (ADVICE r13)
    try Option(new java.net.URI(s).getPath).getOrElse(s)
    catch { case _: java.net.URISyntaxException => s }

  /** The entry of the file a scan probed at `abs` (decoded). */
  private def entryOf(entries: Seq[String], abs: String, op: String): String =
    entries.find(e => abs.endsWith(entryPath(e))).getOrElse(
      throw new IllegalStateException(s"$op: probed file $abs is not an entry"))

  private def hitEntries(live: Seq[String], hitAbs: Set[String]): Seq[String] = {
    val decoded = hitAbs.map(decodeFileUri)
    live.filter(e => decoded.exists(_.endsWith(entryPath(e))))
  }

  /** OPTIMIZE: rewrite the live set into `partFiles` compacted files and
    * publish as ONE commit — q113's small-file compaction under
    * transactional visibility (readers see the old layout or the new,
    * never a mix). Conflict-safe: the compacted data is staged from a
    * specific snapshot version, and the commit must land at EXACTLY the
    * next version — if any concurrent write intervenes, the staged
    * compaction is discarded and the whole operation re-runs against the
    * new head (rewriting stale data would silently drop the concurrent
    * commit's rows). */
  def optimize(spark: SparkSession, table: String, partFiles: Int = 1): Int = {
    var attempts = 0
    while (attempts < 20) {
      attempts += 1
      val base = head(table)
      val st = state(table, Some(base))
      val live = entries(st)
      require(live.nonEmpty, s"optimize: $table is empty")
      // partitioned: compaction PRESERVES the layout — `partFiles` caps
      // files PER PARTITION (default 1 = the per-partition compaction
      // delta-spark's OPTIMIZE performs), and partition values ride the
      // re-derived paths, never the data files
      val partCols = st.partitionCols
      val snapshot = scan(spark, table, st, live)
      val staged = stageLike(snapshot, table, partCols, partFiles)
      if (publish(table, base + 1, st, add = staged, remove = live, None))
        return base + 1
      // lost the race: staged files become unreferenced garbage for vacuum
    }
    occExhausted("optimize", table, 20)
  }

  /** MERGE (upsert) by `key`: rows of `updates` replace same-key rows in
    * the table; unmatched update rows insert — published as ONE commit.
    * FILE-GRANULAR copy-on-write: only live files that actually CONTAIN a
    * matched key are rewritten (their unmatched rows survive into the
    * rewrite); untouched files carry over by reference — at 100 TB a
    * point-update rewrites a handful of files, not the table. The hit-file
    * discovery is a semi-join collecting FILE NAMES (metadata-sized), not
    * rows. Conflict-safe like [[optimize]]: staged against a snapshot,
    * must land at exactly the next version, else the whole merge re-runs
    * against the new head. */
  def merge(spark: SparkSession, updates: DataFrame, table: String,
            key: String, partFiles: Int = 2): Int = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    var attempts = 0
    while (attempts < 20) {
      attempts += 1
      val base = head(table)
      val st = state(table, Some(base))
      val live = entries(st)
      val partCols = st.partitionCols
      val keys = updates.select(key).distinct()
      val hitAbs: Set[String] =
        if (live.isEmpty) Set.empty
        else scan(spark, table, st, live)
          .withColumn("_graft_file", input_file_name())
          .join(keys, Seq(key), "left_semi")
          .select("_graft_file").distinct()
          .collect().map(_.getString(0)).toSet
      val hitRel = hitEntries(live, hitAbs)
      val survivors =
        if (hitRel.isEmpty) None
        else Some(scan(spark, table, st, hitRel)
          .join(keys, Seq(key), "left_anti"))
      val rewrite = survivors match {
        case Some(sv) =>
          sv.unionByName(updates.select(sv.columns.toIndexedSeq.map(col): _*))
        case None     => updates
      }
      val staged = stageLike(rewrite, table, partCols, partFiles)
      if (publish(table, base + 1, st, add = staged, remove = hitRel, None))
        return base + 1
      // lost the race: staged files become vacuum-collectable garbage
    }
    occExhausted("merge", table, 20)
  }

  /** One WHEN clause's effect in [[mergeClauses]]. UPDATE SET expressions
    * are SQL over the clause's namespace — target columns by their own
    * names, source columns as `__src_<name>` — evaluated on the OLD
    * joined row (SQL UPDATE semantics: all SET expressions see the
    * pre-update values). DELETE drops the row. */
  sealed trait MergeClauseAction
  final case class MergeUpdate(set: Seq[(String, String)])
    extends MergeClauseAction
  case object MergeDelete extends MergeClauseAction

  /** GENERAL SQL MERGE on the file-granular copy-on-write kernel — the
    * full clause vocabulary over one or more equi-join `keys` (composite
    * ON conjunctions; [[graft.sources.v2.GraftDmlStrategy]] renders SQL
    * `MERGE INTO` onto this; [[merge]] remains the simple
    * replace-by-key upsert):
    *
    *  - `matched`: `WHEN MATCHED [AND cond] THEN UPDATE SET .. | DELETE`,
    *    conditions/values over target columns and `__src_<name>` source
    *    columns; first clause whose condition holds (NULL = no) fires,
    *    none firing keeps the row unchanged;
    *  - `notMatchedInsert`: `WHEN NOT MATCHED [AND cond] THEN INSERT`,
    *    conditions/values over `__src_*` only; each INSERT list must
    *    cover every table column (closed world — no silent NULL fill);
    *  - `notMatchedBySource`: `WHEN NOT MATCHED BY SOURCE [AND cond]
    *    THEN UPDATE | DELETE`, conditions/values over target columns.
    *
    * FILE-GRANULAR like [[merge]]: with no BY SOURCE clauses only files
    * CONTAINING a matched key rewrite (metadata-sized semi-join
    * discovery); BY SOURCE clauses can touch every target row, so they
    * rewrite the live set — exactly delta-spark's cost model for the same
    * statement. Inserts anti-join the source against the matched keys
    * (hit rows contain every matched key by construction, so the probe
    * never scans beyond the hit set). SQL MERGE cardinality enforced
    * IN THE JOIN (delta-spark's runtime rule): a target row matched by
    * several source rows has no deterministic verdict, so the rewrite
    * fails loudly the moment such a row is seen — a per-key source
    * count rides the join side (same shuffle the join pays; no separate
    * probe scan over the source) and `raise_error` fires only for keys
    * that actually match a target row. Duplicate source keys that all
    * INSERT are legal and each insert, exactly as delta-spark accepts
    * them. Conflict-safe via the OCC claim loop; `tableCols` pins the
    * output column set/order (needed when the statement only inserts). */
  def mergeClauses(spark: SparkSession, source: DataFrame, table: String,
                   keys: Seq[String], tableCols: Seq[String],
                   matched: Seq[(Option[String], MergeClauseAction)],
                   notMatchedInsert: Seq[(Option[String], Seq[(String, String)])],
                   notMatchedBySource: Seq[(Option[String], MergeClauseAction)],
                   partFiles: Int = 2,
                   maxDvFraction: Double = 0.0): Int = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{coalesce, col, concat, concat_ws, count, expr, input_file_name, lit, raise_error, when}
    require(keys.nonEmpty, "mergeClauses: no join keys")
    require(matched.nonEmpty || notMatchedInsert.nonEmpty ||
      notMatchedBySource.nonEmpty, "mergeClauses: no WHEN clauses")
    val reserved = tableCols.filter(c =>
      c.startsWith("__src_") || c.startsWith("__graft_") ||
        c == "__clause" || c == "__matched")
    require(reserved.isEmpty,
      s"mergeClauses: table columns ${reserved.mkString(",")} collide " +
        "with the clause namespace (__src_*/__graft_*/__clause/__matched)")
    notMatchedInsert.foreach { case (_, setSeq) =>
      require(setSeq.map(_._1.toLowerCase).toSet ==
          tableCols.map(_.toLowerCase).toSet,
        s"mergeClauses: INSERT must cover every table column; got " +
          s"${setSeq.map(_._1).mkString(",")} of ${tableCols.mkString(",")}")
    }
    // a source row with ANY null key column matches nothing (SQL equality)
    def allKeysNonNull(of: Seq[String]): Column =
      of.map(col(_).isNotNull).reduce(_ && _)
    val srcKeys = keys.map(k => s"__src_$k")
    // first clause whose condition holds (NULL = false) wins; -1 = none
    def cascade(conds: Seq[Option[String]]): Column =
      conds.zipWithIndex.foldLeft(when(lit(false), lit(-1))) {
        case (acc, (c, i)) =>
          acc.when(c.map(s => coalesce(expr(s), lit(false)))
            .getOrElse(lit(true)), lit(i))
      }.otherwise(lit(-1))
    var attempts = 0
    while (attempts < 20) {
      attempts += 1
      val base = head(table)
      val st = state(table, Some(base))
      val live = entries(st)
      val partCols = st.partitionCols
      val keyRows = source.select(keys.map(col): _*)
        .where(allKeysNonNull(keys)).distinct()
      val needTargetRewrite = matched.nonEmpty || notMatchedBySource.nonEmpty
      // hit discovery: BY SOURCE clauses can touch every target row → the
      // live set rewrites; else only files CONTAINING a matched key; an
      // insert-only statement rewrites nothing at all
      val hitRel: Seq[String] =
        if (live.isEmpty || !needTargetRewrite) Seq.empty
        else if (notMatchedBySource.nonEmpty) live
        else {
          val hitAbs = scan(spark, table, st, live)
            .withColumn("_graft_file", input_file_name())
            .join(keyRows, keys, "left_semi")
            .select("_graft_file").distinct()
            .collect().map(_.getString(0)).toSet
          hitEntries(live, hitAbs)
        }
      if (hitRel.isEmpty && notMatchedInsert.isEmpty) return base
      val parts = scala.collection.mutable.Buffer.empty[DataFrame]
      // source columns prefixed __src_ so both namespaces coexist in the
      // joined row (the match MARKER sits outside that prefix — a source
      // column named `present` must not collide with it). With no
      // MATCHED clause the join right side is the DISTINCT key set
      // (duplicate source keys must not multiply kept target rows);
      // matched clauses carry the full source row PLUS its per-key
      // count (a window over the join keys — the same hash partitioning
      // the join shuffle needs, never a second source scan) so the
      // cardinality rule can fire in the join itself.
      val joinRight =
        if (matched.nonEmpty) {
          import org.apache.spark.sql.expressions.Window
          source.select(source.columns.toIndexedSeq.map(c =>
              col(c).as(s"__src_$c")): _*)
            .withColumn("__graft_srccnt", count(lit(1))
              .over(Window.partitionBy(srcKeys.map(col): _*)))
            .withColumn("__graft_present", lit(true))
        }
        else keyRows.select(keys.zip(srcKeys).map { case (k, sk) =>
            col(k).as(sk) }: _*)
          .withColumn("__graft_present", lit(true))
      val joinOn = keys.zip(srcKeys).map { case (k, sk) => col(k) === col(sk) }
        .reduce(_ && _)
      // SQL MERGE cardinality, delta-spark's RUNTIME rule: the error
      // fires only when a duplicated source key actually matches a
      // target row (duplicates that all insert are legal). Folded into
      // the __matched resolution so no joined row — updated, deleted
      // or kept — can pass before its key's count is checked, and the
      // whole statement fails before any commit (staged files from the
      // failed job are unreferenced garbage, the table is untouched).
      val matchedCol =
        if (matched.isEmpty) col("__graft_present").isNotNull
        else when(col("__graft_present").isNotNull &&
            col("__graft_srccnt") > 1,
          raise_error(concat(
            lit(s"mergeClauses into $table: multiple source rows match " +
              "one target row — SQL MERGE cardinality violation (key "),
            concat_ws(",", srcKeys.map(k => col(k).cast("string")): _*),
            lit(")"))).cast("boolean"))
          .otherwise(col("__graft_present").isNotNull)
      val clauseCol =
        when(col("__graft_present").isNotNull, cascade(matched.map(_._1)))
          .otherwise(cascade(notMatchedBySource.map(_._1)))
      def side(matchedSide: Boolean): Column =
        if (matchedSide) col("__matched") else !col("__matched")
      def clauseIdx(clauses: Seq[(Option[String], MergeClauseAction)],
                    pf: PartialFunction[MergeClauseAction, Unit]): Seq[Int] =
        clauses.zipWithIndex.collect {
          case ((_, a), i) if pf.isDefinedAt(a) => i }
      def deleteCond(clauses: Seq[(Option[String], MergeClauseAction)],
                     matchedSide: Boolean): Column = {
        val idx = clauseIdx(clauses, { case MergeDelete => () })
        if (idx.isEmpty) lit(false)
        else side(matchedSide) && col("__clause").isin(idx.map(Int.box): _*)
      }
      def applyUpdates(base: Column, c: String,
                       clauses: Seq[(Option[String], MergeClauseAction)],
                       matchedSide: Boolean): Column =
        clauses.zipWithIndex.foldLeft(base) {
          case (acc, ((_, MergeUpdate(set)), i)) =>
            set.toMap.get(c) match {
              case Some(e) =>
                when(side(matchedSide) && col("__clause") === i, expr(e))
                  .otherwise(acc)
              case None => acc
            }
          case (acc, _) => acc
        }
      // ---- MERGE-ON-READ phase (maxDvFraction > 0): a hit file whose
      // matched rows resolve ONLY to DELETE clauses, with a deleted
      // fraction at most maxDvFraction, publishes a deletion vector
      // instead of rewriting (the deleteWhereDv economics applied to
      // MERGE matched-DELETE: a takedown-style merge touching <1% of
      // rows in a 1 GB file costs O(deleted rows)); files where an
      // UPDATE fires, or above the threshold, rewrite copy-on-write as
      // before. A file whose matched rows fire NO clause carries over by
      // reference — nothing changed in it. The probe is one aggregate
      // pass over the hit files sharing the rewrite's own join; its
      // result is metadata-sized (one row per hit file).
      val matchedDelIdx = clauseIdx(matched, { case MergeDelete => () })
      val matchedUpdIdx = clauseIdx(matched,
        { case MergeUpdate(_) => () })
      var dvOldEntries: Seq[String] = Seq.empty
      var dvAdds: Seq[String] = Seq.empty
      var rwRel: Seq[String] = hitRel
      val dvPhase = maxDvFraction > 0 && matchedDelIdx.nonEmpty &&
        notMatchedBySource.isEmpty && hitRel.nonEmpty
      if (dvPhase) {
        import org.apache.spark.sql.functions.sum
        val delFires = side(matchedSide = true) &&
          col("__clause").isin(matchedDelIdx.map(Int.box): _*)
        val updFires =
          if (matchedUpdIdx.isEmpty) lit(false)
          else side(matchedSide = true) &&
            col("__clause").isin(matchedUpdIdx.map(Int.box): _*)
        val probe = scan(spark, table, st, hitRel)
          .withColumn("__graft_file", input_file_name())
          .join(joinRight, joinOn, "left_outer")
          .withColumn("__matched", matchedCol)
          .withColumn("__clause", clauseCol)
        val stats = probe.groupBy("__graft_file")
          .agg(sum(when(delFires, lit(1L)).otherwise(lit(0L))).as("dels"),
            sum(when(updFires, lit(1L)).otherwise(lit(0L))).as("upds"),
            count(lit(1)).as("nrows"))
          .collect()
          .map(r => (decodeFileUri(r.getString(0)),
            r.getLong(1), r.getLong(2), r.getLong(3)))
        val dvBound = stats.filter { case (_, dels, upds, nrows) =>
          upds == 0 && dels > 0 && dels.toDouble <= maxDvFraction * nrows }
        val untouched = stats.filter { case (_, dels, upds, _) =>
          dels == 0 && upds == 0 }
        val dropRel = (dvBound ++ untouched)
          .map { case (abs, _, _, _) => entryOf(hitRel, abs, "mergeClauses") }.toSet
        rwRel = hitRel.filterNot(dropRel.contains)
        dvOldEntries = dvBound.toSeq.map { case (abs, _, _, _) =>
          entryOf(hitRel, abs, "mergeClauses") }
        if (dvOldEntries.nonEmpty) {
          // deleted PHYSICAL row indices, driver-sized by the threshold;
          // vector union + sidecar publish shared with deleteWhereDv
          val byFile = scan(spark, table, st, dvOldEntries)
            .withColumn("__graft_file", input_file_name())
            .withColumn("__graft_ridx", col("_metadata.row_index"))
            .join(joinRight, joinOn, "left_outer")
            .withColumn("__matched", matchedCol)
            .withColumn("__clause", clauseCol)
            .where(delFires)
            .select("__graft_file", "__graft_ridx")
            .collect()
            .groupBy(r => decodeFileUri(r.getString(0)))
            .map { case (abs, rs) => abs -> rs.map(_.getLong(1)) }
          dvAdds = buildDvAdds(table, dvOldEntries, byFile, "mergeClauses")
        }
      }
      val targetOpt =
        if (rwRel.isEmpty) None
        else Some(scan(spark, table, st, rwRel))
      // the insert anti-join needs the matched keys of EVERY hit file —
      // including DV'd and carried-over ones the rewrite no longer reads
      val hitKeysOpt: Option[DataFrame] =
        if (hitRel.isEmpty) None
        else if (rwRel == hitRel) targetOpt.map(_.select(keys.map(col): _*))
        else Some(scan(spark, table, st, hitRel)
          .select(keys.map(col): _*))
      targetOpt.foreach { target =>
        // ONE pass over the rewrite-bound files (delta-spark's
        // single-join rewrite — at 100 TB a BY SOURCE merge rewrites the
        // table, and reading it once instead of once-per-branch halves
        // the rewrite's I/O): each row resolves its side (__matched) and
        // its firing clause (__clause, first-match-wins), deletes filter
        // out, and every column folds its UPDATE expressions under
        // mutually-exclusive (side, clause) guards — all SET expressions
        // see OLD values (one projection, never sequential withColumn).
        val joined = target.join(joinRight, joinOn, "left_outer")
          .withColumn("__matched", matchedCol)
          .withColumn("__clause", clauseCol)
        val kept = joined.filter(!(deleteCond(matched, matchedSide = true) ||
          deleteCond(notMatchedBySource, matchedSide = false)))
        parts += kept.select(tableCols.map { c =>
          applyUpdates(
            applyUpdates(col(c), c, matched, matchedSide = true),
            c, notMatchedBySource, matchedSide = false).as(c)
        }: _*)
      }
      if (notMatchedInsert.nonEmpty) {
        val src0 = source.select(source.columns.toIndexedSeq.map(c =>
          col(c).as(s"__src_$c")): _*)
        // target keys for the anti-join: from the hit rows when they were
        // key-discovered (they contain every matched key by construction);
        // when key discovery RAN and found nothing, every source key is
        // provably absent — no anti-join at all; a column-pruned
        // full-live scan only for insert-only statements (no discovery)
        val tKeys: Option[DataFrame] = hitKeysOpt match {
          case Some(tk) => Some(tk)
          case None if live.nonEmpty && !needTargetRewrite =>
            Some(scan(spark, table, st, live).select(keys.map(col): _*))
          case None => None
        }
        val insBase = tKeys match {
          case Some(tk) => src0.join(
            tk.where(allKeysNonNull(keys)).distinct()
              .select(keys.zip(srcKeys).map { case (k, sk) =>
                col(k).as(sk) }: _*),
            srcKeys, "left_anti")
          case None => src0
        }
        val insRows = insBase.withColumn("__clause",
          cascade(notMatchedInsert.map(_._1)))
        parts ++= notMatchedInsert.zipWithIndex.map { case ((_, setSeq), i) =>
          val byCol = setSeq.map { case (c, e) => c.toLowerCase -> e }.toMap
          insRows.where(col("__clause") === i)
            .select(tableCols.map(c =>
              expr(byCol(c.toLowerCase)).as(c)): _*)
        }
      }
      // parts can be EMPTY under the DV phase (every hit file DV'd or
      // carried over, no inserts) — the commit is then DV adds only
      val staged: Seq[String] =
        if (parts.isEmpty) Seq.empty
        else {
          val rewrite = parts.reduce(_.unionByName(_))
          // ENFORCE type stability like [[updateWhere]]: a widening SET
          // or a mistyped INSERT value must not land rewritten files
          // under a silently different parquet type than the carried-over
          // files — the replayed schema is the reference, so an
          // insert-only statement is checked too
          Option(st.schemaJson).foreach { _ =>
            val tTypes = DeltaBridge.schemaOf(st).fields
              .map(f => f.name -> f.dataType).toMap
            rewrite.schema.fields.foreach { f =>
              require(tTypes.get(f.name).forall(_ == f.dataType),
                s"mergeClauses: clause changes ${f.name}: " +
                  s"${tTypes(f.name)} -> ${f.dataType} — the table schema " +
                  "is fixed by the log; CAST the expression back")
            }
          }
          stageLike(rewrite, table, partCols, partFiles)
        }
      if (dvAdds.isEmpty && staged.isEmpty && rwRel.isEmpty &&
          dvOldEntries.isEmpty)
        return base // DV probe proved the whole statement a no-op
      // remove = rewritten files + DV-superseded entries; hit files the
      // DV probe proved untouched carry over by reference
      if (publish(table, base + 1, st, add = dvAdds ++ staged,
          remove = rwRel ++ dvOldEntries, None))
        return base + 1
      // lost the race: staged files / sidecars become vacuum-collectable
      // garbage
    }
    occExhausted("merge", table, 20)
  }

  /** DELETE WHERE `predicate` (SQL-standard semantics: rows where the
    * predicate is TRUE are removed; FALSE and NULL rows survive) —
    * published as ONE commit. FILE-GRANULAR copy-on-write like [[merge]]:
    * only live files that CONTAIN a matching row are rewritten (their
    * non-matching rows survive into the rewrite); untouched files carry
    * over by reference, so a takedown of a handful of documents out of
    * 100 TB rewrites a handful of files. The hit-file discovery collects
    * FILE NAMES (metadata-sized) through one predicate scan that parquet
    * footer min/max pruning skips non-candidate files of when the
    * predicate is pushable — the same pruning a read pays, not a second
    * mechanism. Conflict-safe like [[optimize]]. */
  def deleteWhere(spark: SparkSession, table: String, predicate: String,
                  partFiles: Int = 2): Int =
    rewriteMatched(spark, table, predicate, partFiles, "delete")(_ => None)

  /** Shared DV publication for the merge-on-read writers
    * ([[deleteWhereDv]], [[mergeClauses]]'s DV phase): union each
    * entry's EXISTING vector with its newly-deleted physical row
    * indices (`newIdxByAbs`, keyed by the scan's absolute file URI),
    * write ONE sidecar holding every new vector (spec layout: one
    * framed bitmap per DV at its offset — the superseded sidecar
    * becomes unreferenced garbage), and return the re-published
    * entries carrying their [[DvRef]]s. */
  private def buildDvAdds(table: String, entries: Seq[String],
                          newIdxByAbs: Map[String, Array[Long]],
                          op: String): Seq[String] = {
    val ordered = entries.map { e =>
      val abs = newIdxByAbs.keys.find(_.endsWith(entryPath(e))).getOrElse(
        throw new IllegalStateException(
          s"$op: counted file ${entryPath(e)} vanished from the index pass"))
      val old = entryDv(e)
        .map(d => DeletionVectors.load(table, d.descriptor))
        .getOrElse(Array.empty[Long])
      (e, (old ++ newIdxByAbs(abs)).distinct.sorted)
    }
    val (uuid, spans) = DeletionVectors.writeDvFileRef(table,
      ordered.map(_._2))
    ordered.zip(spans).map { case ((e, vals), (off, sz)) =>
      (entryWithoutDv(e) :+
        DvRef(uuid.toString, off, sz, vals.length.toLong).enc)
        .mkString("#")
    }
  }

  /** DELETE WHERE with MERGE-ON-READ deletion vectors — the takedown
    * path for point deletes at 100 TB: a file whose matching-row
    * fraction is at most `maxDvFraction` is NOT rewritten; instead its
    * deleted row indices land in a spec-format sidecar DV
    * ([[DeletionVectors.writeDvFile]]'s layout) and the entry
    * re-publishes carrying the vector ([[DvRef]]), so a point-delete in
    * a 1 GB file costs O(deleted rows), not a file rewrite. Files above
    * the threshold rewrite copy-on-write exactly like [[deleteWhere]]
    * (a mostly-deleted file SHOULD compact). An already-DV'd file's new
    * deletions UNION into a fresh vector (the old sidecar becomes
    * unreferenced garbage, like any superseded stage file). Every read
    * path honors the vectors — [[read]]/[[readPruned]]/the rewrite
    * kernels here, and the commit publishes them as Delta
    * `deletionVector` descriptors (with the protocol upgraded to
    * readerVersion 3 + deletionVectors), so foreign readers and the
    * native catalog mounts agree. ONE commit, OCC-safe; stats fields
    * survive (deletion only shrinks the value set — bounds stay sound).
    *
    * Scale shape: one predicate scan computes per-file hit/total counts
    * (metadata-sized result); row INDICES come to the driver only for
    * files under the threshold, bounded by maxDvFraction × file rows.
    * The SQL DELETE surface stays copy-on-write (rewrite threshold
    * policy belongs to the maintenance API, not a silent statement
    * default). */
  def deleteWhereDv(spark: SparkSession, table: String, predicate: String,
                    maxDvFraction: Double = 0.05,
                    partFiles: Int = 2): Int = {
    import org.apache.spark.sql.functions.{col, count, expr, input_file_name, lit, when, sum}
    require(maxDvFraction > 0 && maxDvFraction <= 1,
      s"deleteWhereDv: maxDvFraction $maxDvFraction outside (0, 1]")
    var attempts = 0
    while (attempts < 20) {
      attempts += 1
      val base = head(table)
      val st = state(table, Some(base))
      val live = entries(st)
      val partCols = st.partitionCols
      if (live.isEmpty) return base
      // ONE scan: per-file matching and total LIVE row counts (DV-read,
      // so already-deleted rows never re-match or re-count)
      val counts = scan(spark, table, st, live)
        .withColumn("_graft_file", input_file_name())
        .groupBy("_graft_file")
        .agg(sum(when(expr(s"coalesce(($predicate), false)"), lit(1L))
            .otherwise(lit(0L))).as("hits"),
          count(lit(1)).as("rows"))
        .filter(col("hits") > 0)
        .collect().map(r => (decodeFileUri(r.getString(0)),
          r.getLong(1), r.getLong(2)))
      if (counts.isEmpty) return base // no row matches: the commit is a no-op
      val (dvBound, rwBound) = counts.partition { case (_, hits, rows) =>
        hits.toDouble <= maxDvFraction * rows }
      val dvEntriesOld = dvBound.map { case (abs, _, _) => entryOf(live, abs, "deleteWhereDv") }
      val rwEntriesOld = rwBound.map { case (abs, _, _) => entryOf(live, abs, "deleteWhereDv") }
      // deleted PHYSICAL row indices per DV-bound file — driver-sized by
      // the threshold; unioned with any existing vector's indices
      val newDvAdds: Seq[String] =
        if (dvEntriesOld.isEmpty) Seq.empty
        else {
          val byFile = scan(spark, table, st, dvEntriesOld)
            .withColumn("_graft_file", input_file_name())
            .withColumn("_graft_ridx", col("_metadata.row_index"))
            .where(s"coalesce(($predicate), false)")
            .select("_graft_file", "_graft_ridx")
            .collect()
            .groupBy(r => decodeFileUri(r.getString(0)))
            .map { case (abs, rs) => abs -> rs.map(_.getLong(1)) }
          buildDvAdds(table, dvEntriesOld, byFile, "deleteWhereDv")
        }
      // over-threshold files rewrite copy-on-write (survivors only)
      val staged: Seq[String] =
        if (rwEntriesOld.isEmpty) Seq.empty
        else stageLike(
          scan(spark, table, st, rwEntriesOld)
            .where(s"NOT coalesce(($predicate), false)"),
          table, partCols, partFiles)
      if (publish(table, base + 1, st, add = newDvAdds ++ staged,
          remove = dvEntriesOld ++ rwEntriesOld, None))
        return base + 1
      // lost the race: staged files / sidecars become unreferenced garbage
    }
    occExhausted("delete", table, 20)
  }

  /** UPDATE ... SET WHERE `predicate`: matching rows are replaced by
    * themselves with each `set` column overwritten by its expression
    * (evaluated on the OLD row, SQL UPDATE semantics); non-matching rows
    * and untouched files survive as in [[deleteWhere]]. `set` expressions
    * must not change a column's type (the table schema is fixed by the
    * log, not renegotiated per commit). */
  def updateWhere(spark: SparkSession, table: String, predicate: String,
                  set: Map[String, String], partFiles: Int = 2): Int = {
    import org.apache.spark.sql.functions.expr
    require(set.nonEmpty, "updateWhere: empty SET")
    rewriteMatched(spark, table, predicate, partFiles, "update") { matched =>
      require(set.keySet.subsetOf(matched.columns.toSet),
        s"updateWhere: SET columns ${set.keySet -- matched.columns} " +
          s"not in $table")
      val updated = matched.withColumns(set.map { case (c, e) => c -> expr(e) })
      // ENFORCE type stability, don't just document it: a widening SET
      // (int := long expr) would flow through unionByName's implicit
      // coercion and land rewritten files under a silently different
      // parquet type than the carried-over files — a mixed-schema table
      val newTypes = updated.schema.fields.map(f => f.name -> f.dataType).toMap
      matched.schema.fields.foreach { f =>
        require(newTypes(f.name) == f.dataType,
          s"updateWhere: SET changes ${f.name}: ${f.dataType} -> " +
            s"${newTypes(f.name)} — the table schema is fixed by the log; " +
            "CAST the expression back to the column's type")
      }
      Some(updated)
    }
  }

  /** Shared copy-on-write kernel of [[deleteWhere]]/[[updateWhere]]:
    * rewrite each hit file as (rows where the predicate is NOT true) ++
    * transform(rows where it IS true). Three-valued logic is explicit —
    * `NOT coalesce(p, false)` — so a NULL predicate row always survives
    * unmodified on the survivor side, never dropped by `NOT p`'s NULL. */
  private def rewriteMatched(spark: SparkSession, table: String,
                             predicate: String, partFiles: Int, op: String)
                            (transform: DataFrame => Option[DataFrame]): Int = {
    import org.apache.spark.sql.functions.input_file_name
    var attempts = 0
    while (attempts < 20) {
      attempts += 1
      val base = head(table)
      val st = state(table, Some(base))
      val live = entries(st)
      // partitioned tables flow through the same file-granular kernel:
      // partition columns re-attach on read (so predicates over them
      // evaluate — and a pure partition predicate's hit scan prunes to
      // the matching partitions' files via discovery), and survivors +
      // updates re-stage under re-derived `col=value` paths. A SET on a
      // partition column MOVES rows between partitions, delta-spark's
      // UPDATE semantics, because paths derive from the updated values.
      val partCols = st.partitionCols
      val hitAbs: Set[String] =
        if (live.isEmpty) Set.empty
        else scan(spark, table, st, live)
          .where(predicate)
          .select(input_file_name()).distinct()
          .collect().map(_.getString(0)).toSet
      val hitRel = hitEntries(live, hitAbs)
      if (hitRel.isEmpty) return base // no row matches: the commit is a no-op
      val hitDf = scan(spark, table, st, hitRel)
      val survivors = hitDf.where(s"NOT coalesce(($predicate), false)")
      val rewrite = transform(hitDf.where(s"($predicate)")) match {
        case Some(updated) => survivors.unionByName(updated)
        case None          => survivors
      }
      val staged = stageLike(rewrite, table, partCols, partFiles)
      if (publish(table, base + 1, st, add = staged, remove = hitRel, None))
        return base + 1
      // lost the race: staged files become vacuum-collectable garbage
    }
    occExhausted(op, table, 20)
  }

  /** RESTORE the table to its state at `asOfVersion` — delta-spark's
    * RESTORE: ONE new commit whose add/remove lists move the live set
    * back (history is preserved; a post-restore time travel still shows
    * the rolled-back versions, and the restore itself is just another
    * version). Pure log arithmetic — no data file is read, copied or
    * rewritten, so restoring a 100 TB table is a metadata operation.
    * Fails loud if a file the target version references was vacuumed
    * past the retention horizon. Conflict-safe via the OCC claim loop. */
  def restore(spark: SparkSession, table: String, asOfVersion: Int): Int = {
    val _ = spark // signature symmetry with the other DML verbs
    require(versions(table).contains(asOfVersion),
      s"restore: $table has no committed version $asOfVersion")
    val target = liveFiles(table, Some(asOfVersion))
    target.foreach { e =>
      require(Files.exists(Paths.get(table, entryPath(e))),
        s"restore: ${entryPath(e)} of version $asOfVersion was vacuumed " +
          "past the retention horizon; restore an in-retention version")
      // a DV'd entry needs its sidecar too — failing here (loud, before
      // the commit) beats failing at the first read of the restored state
      entryDv(e).foreach { d =>
        require(Files.exists(
            Paths.get(table, s"deletion_vector_${d.uuid}.bin")),
          s"restore: deletion vector of ${entryPath(e)} at version " +
            s"$asOfVersion was vacuumed past the retention horizon; " +
            "restore an in-retention version")
      }
    }
    // restoring to the state the head already has is a no-op, not an
    // empty commit cluttering the history
    if (liveFiles(table).toSet == target.toSet)
      return head(table)
    commitWith(table) { (_, st) =>
      val current = entries(st)
      val want = target.toSet
      (target.filterNot(current.toSet), // re-add in the target's replay order
        current.filterNot(want))
    }
  }

  /** OCC claim loop. `actions` receives the HEAD version this attempt
    * observed (0 = empty log) and the log state replayed at it, and must
    * derive any state-dependent lists (overwrite's remove set) from that
    * state — one log read per attempt decides both the inputs and the
    * claimed version, so a commit landing in between forces a retry
    * instead of being silently overwritten out of the remove list. */
  private def commitWith(table: String)
                        (actions: (Int, LogState) => (Seq[String], Seq[String])): Int = {
    var attempts = 0
    while (attempts < 100) {
      attempts += 1
      val h = head(table)
      val st = state(table, Some(h))
      val (add, remove) = actions(h, st)
      if (publish(table, h + 1, st, add, remove, None))
        return h + 1
      // lost the race — re-read the log, recompute actions, retry
    }
    occExhausted("commit", table, 100)
  }
}
