package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** A minimal parquet TRANSACTION LOG — the Delta/Iceberg commit protocol
  * re-implemented on plain files, closing SURVEY §2's K4 row (the gold
  * layer's transactional writes) functionally while the environment lacks
  * a lake-format jar. Everything is the real protocol in miniature:
  *
  *  - A table is a directory; each write lands its parquet part-files in a
  *    fresh `stage-*` subdirectory (data files are IMMUTABLE — never
  *    appended to, never deleted by writers).
  *  - State is the replay of `_graft_log/vNNNNN.json` commit records, each
  *    holding `add` / `remove` file lists (relative paths). Version k's
  *    snapshot = replay of v1..vk.
  *  - A commit is published by HARD-LINKING a temp file onto its version
  *    name — link(2) fails with EEXIST if the target exists, so the
  *    filesystem is the arbiter: two writers racing for version k cannot
  *    both win, the loser re-reads the log and retries at k+1 (optimistic
  *    concurrency, the Delta protocol's core). NOT rename: POSIX
  *    rename(2) silently REPLACES an existing target, so an ATOMIC_MOVE
  *    "arbiter" would let both racers succeed and destroy the winner's
  *    commit record (verified empirically on this filesystem).
  *  - Readers never lock: a snapshot is a pure function of the immutable
  *    log prefix, so TIME TRAVEL (`read(asOf = k)`) and concurrent-writer
  *    isolation come for free. Half-written commits are invisible (temps
  *    live under a name the replay ignores).
  *
  * At 100 TB the same design holds because commits are metadata-sized (file
  * LISTS, not data) and data files are immutable: the only serialization
  * point is the version-name rename. Cited shape: the reference gold layer
  * writes Delta (BuildGoldLayer.py:219-235); this supplies the semantics
  * those writes rely on (atomic replace, schema-stable appends, versioned
  * reads) without the jar.
  */
object TxLog {

  private val LogDir = "_graft_log"

  private def logPath(table: String): Path = Paths.get(table, LogDir)

  private def versionFile(table: String, v: Int): Path =
    logPath(table).resolve(f"v$v%05d.json")

  /** List a directory with the stream CLOSED (Files.list leaks a directory
    * fd until GC otherwise — and versions() runs on every commit attempt
    * and every replay). Shared with the DSv2 connector (one definition of
    * the leak-proof listing, not two drifting copies). */
  private[sources] def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private val VersionName = "v(\\d+)\\.json".r

  /** Committed versions, ascending (replay order). Width-agnostic: the
    * writer zero-pads to 5 digits but versions past 99999 grow wider, and
    * a fixed-width match would make them invisible to replay. */
  def versions(table: String): Seq[Int] = {
    val lp = logPath(table)
    if (!Files.isDirectory(lp)) Seq.empty
    else listDir(lp)
      .map(_.getFileName.toString)
      .collect { case VersionName(d) => d.toInt }
      .sorted
  }

  /** Live data-file ENTRIES (relative path, optionally suffixed
    * `#min#max` file statistics) at `asOf` (None = HEAD). Remove lists
    * match entries verbatim, so entries — not bare paths — are the unit
    * of log bookkeeping; use [[entryPath]] to resolve a path. */
  def liveFiles(table: String, asOf: Option[Int] = None): Seq[String] = {
    val vs = versions(table)
    val replay = asOf match {
      case Some(v) => vs.filter(_ <= v)
      case None    => vs
    }
    val live = scala.collection.mutable.LinkedHashSet[String]()
    replay.foreach { v =>
      val (add, remove) = readCommit(table, v)
      remove.foreach(live -= _)
      add.foreach(live += _)
    }
    live.toSeq
  }

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
    * ([[DeletionVectors.writeDvFile]]'s layout, so [[DeltaBridge
    * .exportLog]] republishes it verbatim as a Delta `deletionVector`
    * descriptor). Wire form, one `#`-separated entry field:
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
    liveFiles(table, asOf).map { e =>
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
    * DV-bearing entries ([[deleteWhereDv]]) drop exactly their deleted
    * row indices. */
  def read(spark: SparkSession, table: String,
           asOf: Option[Int] = None): DataFrame = {
    val entries = liveFiles(table, asOf)
    require(entries.nonEmpty, s"no live files in $table at $asOf")
    readFlatEntries(spark, table, entries)
  }

  /** Flat (no partition re-attach) read of entries with DV filtering:
    * clean files as one scan; each DV'd file as its own scan branch with
    * the vector's row indices dropped via `_metadata.row_index` (the
    * same predicate [[DeltaBridge]]'s extended read uses). DV'd files
    * are the merge-on-read minority by construction, so the plan stays
    * metadata-sized. */
  private def readFlatEntries(spark: SparkSession, table: String,
                              entries: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, udf}
    val (dvd, clean) = entries.partition(e => entryDv(e).isDefined)
    val cleanDf =
      if (clean.isEmpty) Seq.empty[DataFrame]
      else Seq(graft.Tables.parquet(spark,
        clean.map(e => s"$table/${entryPath(e)}"): _*))
    val dvDfs = dvd.map { e =>
      val deleted = DeletionVectors.load(table, entryDv(e).get.descriptor)
      val dropped = udf((i: Long) =>
        java.util.Arrays.binarySearch(deleted, i) >= 0)
      graft.Tables.parquet(spark, s"$table/${entryPath(e)}")
        .filter(!dropped(col("_metadata.row_index")))
    }
    (cleanDf ++ dvDfs).reduce(_.unionByName(_))
  }

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
    liveFilesWithTypedStats(table, asOf).collect {
      case (p, Some((mn, mx)))
          if StatValue.lteq(lo, mx).contains(true) &&
             StatValue.lteq(hi, mn).contains(false) => p
      case (p, None) => p
      case (p, Some((mn, mx)))
          if StatValue.lteq(lo, mx).isEmpty ||
             StatValue.lteq(hi, mn).isEmpty => p
    }

  /** Stats-pruned snapshot read over [lo, hi) of the stats column. The
    * caller still applies the row-level filter — pruning is file-granular
    * and sound (never drops a file that could match), not exact. DV'd
    * entries among the survivors filter their deleted rows. */
  def readPruned(spark: SparkSession, table: String, lo: Long, hi: Long,
                 asOf: Option[Int] = None): DataFrame = {
    val kept = pruneFiles(table, lo, hi, asOf).toSet
    require(kept.nonEmpty, s"no candidate files in $table for [$lo, $hi)")
    readFlatEntries(spark, table,
      liveFiles(table, asOf).filter(e => kept.contains(entryPath(e))))
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
    * [[DeltaBridge.exportLog]] parses into per-add `partitionValues` and
    * any Hive-aware reader prunes on. The commit protocol is unchanged
    * (entries are opaque relative paths); only staging differs. */
  def appendPartitioned(spark: SparkSession, df: DataFrame, table: String,
                        partitionCols: Seq[String]): Int =
    commit(table, add = stagePartitioned(df, table, partitionCols),
      remove = Seq.empty)

  /** Atomic full replace with Hive-layout partitioning — [[overwrite]]'s
    * OCC discipline over [[stagePartitioned]] staging. */
  def overwritePartitioned(spark: SparkSession, df: DataFrame, table: String,
                           partitionCols: Seq[String]): Int = {
    val staged = stagePartitioned(df, table, partitionCols)
    commitWith(table) { head => (staged, liveFiles(table, asOf = Some(head))) }
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

  /** EXACTLY-ONCE batch append for streaming sinks: the commit record
    * carries the micro-batch id, and a re-delivered batch (foreachBatch
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
      val vs = versions(table)
      vs.filter(_ > checked)
        .find(hasBatchId(table, _, batchId, appId)) match {
        case Some(v) => // racer won
          return recordBatch(table, batchId, v, appId)
        case None =>
          checked = vs.lastOption.getOrElse(0)
          if (tryCommitAt(table, checked + 1, staged, Seq.empty,
              Some(batchId), appId))
            return recordBatch(table, batchId, checked + 1, appId)
      }
    }
    occExhausted("appendBatch", table, 100)
  }

  private def hasBatchId(table: String, v: Int, batchId: Long,
                         appId: Option[String]): Boolean = {
    val txt = Files.readString(versionFile(table, v))
    s""""batchId":$batchId[,}]""".r.findFirstIn(txt).isDefined &&
      // the two id spaces are DISJOINT: an appId-less probe (the V1
      // foreachBatch sink) must not match a V2 streaming query's commit
      // that happens to share the numeric id, and vice versa — both
      // start at 0, and a cross-match silently swallows a batch
      (appId match {
        case Some(a) => txt.contains(s""""appId":"$a"""")
        case None    => !txt.contains("\"appId\":")
      })
  }

  private def batchIndexFile(table: String, batchId: Long,
                             appId: Option[String]): Path =
    logPath(table).resolve("_batch_index")
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
    * are written only after the commit record is durable, and commit
    * records are never rewritten. */
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
    // that picks the version: commitWith replays liveFiles pinned to the
    // head it observed (asOf), so the remove list and the claimed version
    // describe one snapshot. Re-reading the log separately here would
    // race: an append landing between the two reads would survive the
    // "replace everything" commit (its files missing from remove) — the
    // lost-update the OCC protocol exists to prevent. On a lost race the
    // loop recomputes both from the new head.
    commitWith(table) { head => (staged, liveFiles(table, asOf = Some(head))) }
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

  /** Publish a commit record at exactly `v` — true iff WE created it.
    * The arbitration primitive is createLink (link(2)): it fails with
    * EEXIST when the version name is taken, atomically. rename(2) would
    * silently REPLACE the winner's record (verified on this filesystem —
    * both racers would "succeed" and one commit would be destroyed). */
  private def publish(table: String, v: Int, json: String): Boolean = {
    Files.createDirectories(logPath(table))
    val tmp = Files.createTempFile(logPath(table), ".tmp-", ".json")
    Files.writeString(tmp, json)
    try {
      Files.createLink(versionFile(table, v), tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }

  /** Optimistic-concurrency commit: claim the next version by atomic
    * rename; on a collision re-read and retry. */
  def commit(table: String, add: Seq[String], remove: Seq[String]): Int =
    commitWith(table)(_ => (add, remove))

  /** Claim EXACTLY version `v` — returns false if another writer got
    * there first. The primitive snapshot-isolation conflict detection
    * builds on: a writer that staged work against version v−1 must NOT
    * blindly land at a later version (its inputs may be stale). */
  def tryCommitAt(table: String, v: Int, add: Seq[String],
                  remove: Seq[String], batchId: Option[Long] = None,
                  appId: Option[String] = None): Boolean =
    publish(table, v, commitJson(v, add, remove, batchId, appId))

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
    * vacuumed Delta table. Commit RECORDS are never deleted — they are
    * metadata-sized and replay + OCC arbitration need the full chain.
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
    * Scale: one log replay (metadata), one filesystem walk of the stage
    * dirs; at 10⁵ files this is driver-side listing arithmetic, and the
    * deletes are per-file — no data is read or moved. */
  def vacuum(table: String, retainVersions: Int = 2,
             minAgeMs: Long = 0): Seq[String] = {
    require(retainVersions >= 1, "vacuum must retain at least the head")
    val vs = versions(table)
    if (vs.isEmpty) return Seq.empty
    val cutoff = vs.drop(math.max(0, vs.length - retainVersions)).head
    // ONE replay pass, snapshotting the live set at every retained version
    val live = scala.collection.mutable.LinkedHashSet[String]()
    val keep = scala.collection.mutable.HashSet[String]()
    val keepDv = scala.collection.mutable.HashSet[String]()
    vs.foreach { v =>
      val (add, remove) = readCommit(table, v)
      remove.foreach(live -= _)
      add.foreach(live += _)
      if (v >= cutoff) {
        keep ++= live.iterator.map(entryPath)
        // deletion-vector sidecars referenced by any retained version
        // survive; superseded vectors (re-deleted or rewritten files)
        // become sweepable like any unreferenced stage file
        keepDv ++= live.iterator.flatMap(e => entryDv(e).map(_.uuid))
      }
    }
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

  /** OPTIMIZE: rewrite the live set into `partFiles` compacted files and
    * publish as ONE commit — q113's small-file compaction under
    * transactional visibility (readers see the old layout or the new,
    * never a mix). Conflict-safe: the compacted data is staged from a
    * specific snapshot version, and the commit must land at EXACTLY the
    * next version — if any concurrent write intervenes, the staged
    * compaction is discarded and the whole operation re-runs against the
    * new head (rewriting stale data would silently drop the concurrent
    * commit's rows). */
  /** Partition columns of a live snapshot, parsed from the trailing
    * `col=value` path segments ([[DeltaBridge.splitHivePath]] — the same
    * trailing-run walk Spark's own partition discovery does). Empty for
    * flat tables. Rewrite ops branch on this: a Hive-partitioned table's
    * partition values live in its PATHS, not its data files, so its
    * rewrites must re-attach them on read and re-derive the layout on
    * stage — a flat rewrite would silently drop the partition column.
    * Mixed layouts fail loud (they cannot share one rewritten table; the
    * export enforces the same invariant per commit). */
  private def livePartitionCols(table: String, live: Seq[String],
                                op: String): Seq[String] = {
    val layouts = live
      .map(e => DeltaBridge.splitHivePath(entryPath(e))._2.map(_._1))
      .distinct
    require(layouts.size <= 1,
      s"$op: $table mixes partition layouts " +
        s"${layouts.map(_.mkString("(", ",", ")")).mkString(" vs ")} — " +
        "a rewrite requires one consistent Hive layout")
    layouts.headOption.getOrElse(Seq.empty)
  }

  /** Read live entries AS THE TABLE'S ROWS: flat entries read directly;
    * Hive-layout entries read per stage root with `basePath` and an
    * EXPLICIT schema, so Spark's partition discovery re-attaches the
    * path-borne partition columns under [[roundTripStableType]]s —
    * types the re-staging write renders back to the IDENTICAL path
    * string (free inference would silently rewrite `code=0123` to
    * `code=123` on any rewrite op; review finding r13). Predicates and
    * merge keys over partition columns therefore evaluate on typed
    * values, and untouched rows' partition values survive rewrites
    * byte-for-byte. */
  /** Round-trip-stable partition types derived from a REFERENCE entry
    * set — always the FULL live snapshot, so the hit-discovery scan and
    * the hit-subset rewrite read type (and therefore evaluate predicates
    * over) partition columns identically; typing each read from its own
    * subset could diverge (review finding r13). */
  private def partitionTypesOf(entries: Seq[String], partCols: Seq[String])
      : Map[String, org.apache.spark.sql.types.DataType] = {
    val byCol = entries
      .flatMap(e => DeltaBridge.splitHivePath(entryPath(e))._2)
      .groupBy(_._1)
    partCols.map(c => c -> roundTripStableType(
      byCol.getOrElse(c, Seq.empty).map(_._2))).toMap
  }

  private def readEntries(spark: SparkSession, table: String,
                          entries: Seq[String],
                          partCols: Seq[String],
                          partTypes: Map[String, org.apache.spark.sql.types.DataType])
      : DataFrame = {
    import org.apache.spark.sql.functions.{col, udf}
    val (dvd, clean) = entries.partition(e => entryDv(e).isDefined)
    val parts =
      (if (clean.isEmpty) Seq.empty[DataFrame]
       else Seq(readEntriesRaw(spark, table, clean, partCols, partTypes))) ++
        dvd.map { e =>
          val deleted = DeletionVectors.load(table, entryDv(e).get.descriptor)
          val dropped = udf((i: Long) =>
            java.util.Arrays.binarySearch(deleted, i) >= 0)
          // the DV names PHYSICAL row indices, so the filter sits on the
          // raw per-file scan; every kernel above (hit discovery,
          // survivors, merges) then sees only the live rows — and any
          // REWRITE of a DV'd file materializes the deletion away
          readEntriesRaw(spark, table, Seq(e), partCols, partTypes)
            .filter(!dropped(col("_metadata.row_index")))
        }
    parts.reduce(_.unionByName(_))
  }

  private def readEntriesRaw(spark: SparkSession, table: String,
                             entries: Seq[String],
                             partCols: Seq[String],
                             partTypes: Map[String, org.apache.spark.sql.types.DataType])
      : DataFrame = {
    if (partCols.isEmpty)
      graft.Tables.parquet(spark, entries.map(e => s"$table/${entryPath(e)}"): _*)
    else {
      entries
        .groupBy(e => DeltaBridge.splitHivePath(entryPath(e))._1)
        .toSeq.sortBy(_._1)
        .map { case (stage, es) =>
          val files = es.map(e => s"$table/${entryPath(e)}")
          // per-group data schema from the group's own footer (a stage
          // dir is one write → uniform), partition columns appended in
          // discovery order with the stable types
          val dataSchema = graft.Tables.parquet(spark, files.head).schema
          val full = org.apache.spark.sql.types.StructType(
            dataSchema.fields ++ partCols.map(c =>
              org.apache.spark.sql.types.StructField(c, partTypes(c))))
          spark.read.schema(full).option("basePath", s"$table/$stage")
            .parquet(files: _*)
        }
        .reduce(_.unionByName(_))
    }
  }

  /** The narrowest partition-column type whose Spark path rendering is
    * the IDENTITY on every observed value — BIGINT only when each value
    * round-trips `v == v.toLong.toString`, DATE only for canonical
    * ISO dates, else STRING (which preserves anything: leading zeros,
    * spaces, mixed shapes). Nulls (`__HIVE_DEFAULT_PARTITION__`) are
    * render-stable under every type. */
  private def roundTripStableType(values: Seq[String])
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types.{DateType, LongType, StringType}
    val nn = values.filter(_ != null)
    def stableLong(v: String) =
      try v.toLong.toString == v catch { case _: NumberFormatException => false }
    def stableDate(v: String) =
      try java.time.LocalDate.parse(v).toString == v
      catch { case _: java.time.format.DateTimeParseException => false }
    if (nn.nonEmpty && nn.forall(stableLong)) LongType
    else if (nn.nonEmpty && nn.forall(stableDate)) DateType
    else StringType
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

  private def hitEntries(live: Seq[String], hitAbs: Set[String]): Seq[String] = {
    val decoded = hitAbs.map(decodeFileUri)
    live.filter(e => decoded.exists(_.endsWith(entryPath(e))))
  }

  def optimize(spark: SparkSession, table: String, partFiles: Int = 1): Int = {
    var attempts = 0
    while (attempts < 20) {
      attempts += 1
      val base = versions(table).lastOption.getOrElse(0)
      val live = liveFiles(table, Some(base))
      require(live.nonEmpty, s"optimize: $table is empty")
      // partitioned: compaction PRESERVES the layout — `partFiles` caps
      // files PER PARTITION (default 1 = the per-partition compaction
      // delta-spark's OPTIMIZE performs), and partition values ride the
      // re-derived paths, never the data files
      val partCols = livePartitionCols(table, live, "optimize")
      val partTypes = partitionTypesOf(live, partCols)
      val snapshot = readEntries(spark, table, live, partCols, partTypes)
      val staged = stageLike(snapshot, table, partCols, partFiles)
      if (tryCommitAt(table, base + 1, add = staged, remove = live))
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
      val base = versions(table).lastOption.getOrElse(0)
      val live = liveFiles(table, Some(base))
      val partCols = livePartitionCols(table, live, "merge")
      val partTypes = partitionTypesOf(live, partCols)
      val keys = updates.select(key).distinct()
      val hitAbs: Set[String] =
        if (live.isEmpty) Set.empty
        else readEntries(spark, table, live, partCols, partTypes)
          .withColumn("_graft_file", input_file_name())
          .join(keys, Seq(key), "left_semi")
          .select("_graft_file").distinct()
          .collect().map(_.getString(0)).toSet
      val hitRel = hitEntries(live, hitAbs)
      val survivors =
        if (hitRel.isEmpty) None
        else Some(readEntries(spark, table, hitRel, partCols, partTypes)
          .join(keys, Seq(key), "left_anti"))
      val rewrite = survivors match {
        case Some(sv) =>
          sv.unionByName(updates.select(sv.columns.toIndexedSeq.map(col): _*))
        case None     => updates
      }
      val staged = stageLike(rewrite, table, partCols, partFiles)
      if (tryCommitAt(table, base + 1, add = staged, remove = hitRel))
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
      val base = versions(table).lastOption.getOrElse(0)
      val live = liveFiles(table, Some(base))
      val partCols = livePartitionCols(table, live, "merge")
      val partTypes = partitionTypesOf(live, partCols)
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
          val hitAbs = readEntries(spark, table, live, partCols, partTypes)
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
        val probe = readEntries(spark, table, hitRel, partCols, partTypes)
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
        def entryOf(abs: String): String =
          hitRel.find(e => abs.endsWith(entryPath(e))).getOrElse(
            throw new IllegalStateException(
              s"mergeClauses: probed file $abs not in the hit set"))
        val dvBound = stats.filter { case (_, dels, upds, nrows) =>
          upds == 0 && dels > 0 && dels.toDouble <= maxDvFraction * nrows }
        val untouched = stats.filter { case (_, dels, upds, _) =>
          dels == 0 && upds == 0 }
        val dropRel = (dvBound ++ untouched)
          .map { case (abs, _, _, _) => entryOf(abs) }.toSet
        rwRel = hitRel.filterNot(dropRel.contains)
        dvOldEntries = dvBound.toSeq.map { case (abs, _, _, _) => entryOf(abs) }
        if (dvOldEntries.nonEmpty) {
          // deleted PHYSICAL row indices, driver-sized by the threshold;
          // vector union + sidecar publish shared with deleteWhereDv
          val byFile = readEntries(spark, table, dvOldEntries, partCols,
              partTypes)
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
        else Some(readEntries(spark, table, rwRel, partCols, partTypes))
      // the insert anti-join needs the matched keys of EVERY hit file —
      // including DV'd and carried-over ones the rewrite no longer reads
      val hitKeysOpt: Option[DataFrame] =
        if (hitRel.isEmpty) None
        else if (rwRel == hitRel) targetOpt.map(_.select(keys.map(col): _*))
        else Some(readEntries(spark, table, hitRel, partCols, partTypes)
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
      // reference schema for the type-stability check below: the hit rows
      // when any were read, else the live snapshot (an insert-only merge
      // must not land mistyped files under a silently different schema)
      var schemaRef: Option[org.apache.spark.sql.types.StructType] =
        targetOpt.map(_.schema)
          // all hit files DV'd or carried over: pin from one hit file
          // (footer-priced) so INSERT typing is still enforced
          .orElse(hitRel.headOption.map(h => readEntries(spark, table,
            Seq(h), partCols, partTypes).schema))
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
            val fullLive = readEntries(spark, table, live, partCols, partTypes)
            schemaRef = schemaRef.orElse(Some(fullLive.schema))
            Some(fullLive.select(keys.map(col): _*))
          case None if live.nonEmpty =>
            // keys provably absent; still pin the schema for the type
            // check from ONE live file (footer-priced, no scan job)
            schemaRef = schemaRef.orElse(Some(readEntries(spark, table,
              Seq(live.head), partCols, partTypes).schema))
            None
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
          // files
          schemaRef.foreach { ref =>
            val tTypes = ref.fields.map(f => f.name -> f.dataType).toMap
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
      if (tryCommitAt(table, base + 1, add = dvAdds ++ staged,
          remove = rwRel ++ dvOldEntries))
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
    * kernels here, and [[DeltaBridge.exportLog]] republishes them as
    * Delta `deletionVector` descriptors (with the protocol upgraded to
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
      val base = versions(table).lastOption.getOrElse(0)
      val live = liveFiles(table, Some(base))
      val partCols = livePartitionCols(table, live, "delete")
      val partTypes = partitionTypesOf(live, partCols)
      if (live.isEmpty) return base
      // ONE scan: per-file matching and total LIVE row counts (DV-read,
      // so already-deleted rows never re-match or re-count)
      val counts = readEntries(spark, table, live, partCols, partTypes)
        .withColumn("_graft_file", input_file_name())
        .groupBy("_graft_file")
        .agg(sum(when(expr(s"coalesce(($predicate), false)"), lit(1L))
            .otherwise(lit(0L))).as("hits"),
          count(lit(1)).as("rows"))
        .filter(col("hits") > 0)
        .collect().map(r => (decodeFileUri(r.getString(0)),
          r.getLong(1), r.getLong(2)))
      if (counts.isEmpty) return base // no row matches: the commit is a no-op
      def entryOf(abs: String): String =
        live.find(e => abs.endsWith(entryPath(e))).getOrElse(
          throw new IllegalStateException(
            s"deleteWhereDv: hit file $abs not in the live set"))
      val (dvBound, rwBound) = counts.partition { case (_, hits, rows) =>
        hits.toDouble <= maxDvFraction * rows }
      val dvEntriesOld = dvBound.map { case (abs, _, _) => entryOf(abs) }
      val rwEntriesOld = rwBound.map { case (abs, _, _) => entryOf(abs) }
      // deleted PHYSICAL row indices per DV-bound file — driver-sized by
      // the threshold; unioned with any existing vector's indices
      val newDvAdds: Seq[String] =
        if (dvEntriesOld.isEmpty) Seq.empty
        else {
          val byFile = readEntries(spark, table, dvEntriesOld, partCols,
              partTypes)
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
          readEntries(spark, table, rwEntriesOld, partCols, partTypes)
            .where(s"NOT coalesce(($predicate), false)"),
          table, partCols, partFiles)
      if (tryCommitAt(table, base + 1, add = newDvAdds ++ staged,
          remove = dvEntriesOld ++ rwEntriesOld))
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
      val base = versions(table).lastOption.getOrElse(0)
      val live = liveFiles(table, Some(base))
      // partitioned tables flow through the same file-granular kernel:
      // partition columns re-attach on read (so predicates over them
      // evaluate — and a pure partition predicate's hit scan prunes to
      // the matching partitions' files via discovery), and survivors +
      // updates re-stage under re-derived `col=value` paths. A SET on a
      // partition column MOVES rows between partitions, delta-spark's
      // UPDATE semantics, because paths derive from the updated values.
      val partCols = livePartitionCols(table, live, op)
      val partTypes = partitionTypesOf(live, partCols)
      val hitAbs: Set[String] =
        if (live.isEmpty) Set.empty
        else readEntries(spark, table, live, partCols, partTypes)
          .where(predicate)
          .select(input_file_name()).distinct()
          .collect().map(_.getString(0)).toSet
      val hitRel = hitEntries(live, hitAbs)
      if (hitRel.isEmpty) return base // no row matches: the commit is a no-op
      val hitDf = readEntries(spark, table, hitRel, partCols, partTypes)
      val survivors = hitDf.where(s"NOT coalesce(($predicate), false)")
      val rewrite = transform(hitDf.where(s"($predicate)")) match {
        case Some(updated) => survivors.unionByName(updated)
        case None          => survivors
      }
      val staged = stageLike(rewrite, table, partCols, partFiles)
      if (tryCommitAt(table, base + 1, add = staged, remove = hitRel))
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
      return versions(table).last
    commitWith(table) { head =>
      val current = liveFiles(table, Some(head)).toSet
      val want = target.toSet
      (target.filterNot(current), // re-add in the target's replay order
        liveFiles(table, Some(head)).filterNot(want))
    }
  }

  /** OCC claim loop. `actions` receives the HEAD version this attempt
    * observed (0 = empty log) and must derive any state-dependent lists
    * (overwrite's remove set) pinned to that head via asOf — one log read
    * per attempt decides both the inputs and the claimed version, so a
    * commit landing in between forces a retry instead of being silently
    * overwritten out of the remove list. */
  private def commitWith(table: String)
                        (actions: Int => (Seq[String], Seq[String])): Int = {
    var attempts = 0
    while (attempts < 100) {
      attempts += 1
      val head = versions(table).lastOption.getOrElse(0)
      val (add, remove) = actions(head)
      if (publish(table, head + 1, commitJson(head + 1, add, remove)))
        return head + 1
      // lost the race — re-read the log, recompute actions, retry
    }
    occExhausted("commit", table, 100)
  }

  private def commitJson(v: Int, add: Seq[String], remove: Seq[String],
                         batchId: Option[Long] = None,
                         appId: Option[String] = None): String = {
    def arr(xs: Seq[String]) = xs.map(x => "\"" + x + "\"").mkString("[", ",", "]")
    val bid = batchId.map(b => s""","batchId":$b""").getOrElse("")
    // appId is a streaming query id (UUID alphabet) — JSON-safe verbatim
    val aid = appId.map(a => s""","appId":"$a"""").getOrElse("")
    s"""{"version":$v,"add":${arr(add)},"remove":${arr(remove)}$bid$aid}"""
  }

  /** The (add, remove) entry lists of commit `v` — the unit
    * [[DeltaBridge.exportLog]] maps onto Delta-protocol actions. */
  def commitActions(table: String, v: Int): (Seq[String], Seq[String]) =
    readCommit(table, v)

  /** The (appId, batchId) a STREAMING commit recorded, if any —
    * [[DeltaBridge.exportLog]] republishes it as a Delta `txn`
    * (SetTransaction) action, so a foreign engine resuming the same
    * streaming query against the exported log sees the exactly-once
    * frontier the TxLog enforces (the spec's appId/version contract;
    * checkpoints preserve it through the r15 txn replay). V1-sink
    * commits carry a batchId with NO appId — one shared id space by
    * [[appendBatch]]'s replay rule — so they export under the stable
    * synthetic appId `graft-stream-v1`. */
  def commitTxn(table: String, v: Int): Option[(String, Long)] = {
    val txt = Files.readString(versionFile(table, v))
    """"batchId":(\d+)""".r.findFirstMatchIn(txt).map { m =>
      val aid = """"appId":"([^"]+)"""".r.findFirstMatchIn(txt)
        .map(_.group(1)).getOrElse("graft-stream-v1")
      (aid, m.group(1).toLong)
    }
  }

  private def readCommit(table: String, v: Int): (Seq[String], Seq[String]) = {
    val txt = Files.readString(versionFile(table, v))
    def list(key: String): Seq[String] = {
      val m = s""""$key":\\[([^\\]]*)\\]""".r.findFirstMatchIn(txt)
      m.map(_.group(1)).filter(_.nonEmpty)
        .map(_.split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\"")))
        .getOrElse(Seq.empty)
    }
    (list("add"), list("remove"))
  }
}
