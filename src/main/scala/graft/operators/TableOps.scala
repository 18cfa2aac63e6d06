package graft.operators

import graft.Tables
import graft.functions.{OracleSafe, PortableHash}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table-management operators — the data-ops layer a 100 TB lakehouse needs
  * around the query engine: cross-engine table fingerprinting (anti-entropy
  * validation of replicated datasets), min/max-statistics file skipping (the
  * data-skipping index every table format keeps), and small-file compaction
  * (the maintenance job that keeps scan parallelism healthy after streaming
  * or per-partition ingest writes thousands of tiny files).
  *
  * The reference writes its layers as parquet/Delta directories
  * (/root/reference/pipelineApplication/silverLayer/BuildSilverLayer.py:326,
  * goldLayer/BuildGoldLayer.py:218-223) but has no validation, skipping, or
  * compaction story; these are the operational gaps at scale.
  */
object TableOps {

  /** q111: order-independent table checksum — per-row portable polynomial
    * hash over a canonical row rendering, summed exactly (decimal — addition
    * commutes, so the checksum is identical under ANY partitioning or engine)
    * and folded mod 1e9+7. Emitted per market segment plus a rollup total, so
    * two copies of the table can be diffed segment-by-segment.
    *
    * Scale shape: pure map-side expression work + one partial-aggregated
    * rollup (grouping-key domain = |segments| + 1); bytes shuffled are
    * O(segments), independent of row count. This is how you verify a 100 TB
    * cross-cluster copy without moving the data.
    *
    * Doubles never enter the canonical string (engine-specific formatting):
    * `c_acctbal` is fixed-pointed to cents with portable floor(+0.5). */
  def q111TableChecksum(s: SparkSession, dir: String): DataFrame = {
    val canon = "concat_ws('|', CAST(c_custkey AS STRING), c_name, " +
      "CAST(c_nationkey AS STRING), c_mktsegment, " +
      "CAST(CAST(floor(c_acctbal * 100d + 0.5d) AS BIGINT) AS STRING))"
    Tables.customer(s, dir)
      .selectExpr("c_mktsegment", s"${PortableHash.polyHash(canon)} AS h")
      .rollup("c_mktsegment")
      .agg(count(lit(1)).as("n_rows"),
        expr("CAST(sum(CAST(h AS DECIMAL(38,0))) % 1000000007 AS BIGINT)")
          .as("checksum"))
      .select(coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
        col("n_rows"), col("checksum"))
      .orderBy("segment")
  }

  val q111Sql: String =
    """WITH h AS (
      |  SELECT c_mktsegment,
      |    list_reduce(list_prepend(CAST(7 AS BIGINT),
      |      list_transform(string_split(
      |        concat_ws('|', CAST(c_custkey AS VARCHAR), c_name,
      |                  CAST(c_nationkey AS VARCHAR), c_mktsegment,
      |                  CAST(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS VARCHAR)),
      |        ''), c -> CAST(ascii(c) AS BIGINT))),
      |      (acc, x) -> (acc * 31 + x) % 1000000007) AS h
      |  FROM customer)
      |SELECT coalesce(c_mktsegment, 'ALL') AS segment, count(*) AS n_rows,
      |  CAST(sum(h) % 1000000007 AS BIGINT) AS checksum
      |FROM h GROUP BY ROLLUP(c_mktsegment) ORDER BY segment""".stripMargin

  /** q112: min/max file skipping — the data-skipping index. The table is laid
    * out range-clustered on `l_shipdate` (16 files), a per-file min/max stats
    * table is computed once (|files| rows — the metadata a Delta/Iceberg
    * manifest carries), and a date-window query consults the stats FIRST,
    * reading only files whose [min,max] intersects the predicate. The
    * residual filter stays on the scan, so over-kept files cost I/O, never
    * correctness.
    *
    * Scale shape: the stats collect is |files| rows (metadata-sized, this is
    * the manifest read every lakehouse query planner does); the data read
    * touches ~7% of files for this window instead of all of them. Combined
    * with parquet row-group pruning inside each kept file, the scan cost
    * tracks the predicate's selectivity, not the table size. The gate's
    * `files_skipped` column asserts pruning actually happened. */
  // the range-clustered layout is one-time physical organization (like the
  // silver/bucketed layouts): build it once per corpus via layoutArtifact —
  // NOT an AtomicReference latch, which (a) latches BEFORE the write, so a
  // failed build poisons every later call, (b) lets a concurrent caller
  // plan against a half-written directory, and (c) keys on the dir string,
  // serving stale files after the driver regenerates the corpus in place.
  // layoutArtifact folds in the corpus fingerprint, builds into a temp dir
  // renamed atomically, and distrusts _SUCCESS-less leftovers.
  private[graft] val SkipidxLayout = graft.SparkSupport.Layout("skipidx", 1)
  def q112FileSkipping(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.SparkSupport.layoutArtifact(SkipidxLayout, dir) { p =>
      Tables.lineitem(s, dir)
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag",
          "l_shipdate")
        .repartitionByRange(16, col("l_shipdate"))
        .write.mode("overwrite").parquet(p)
    }
    // min/max rendered as sortable strings — collect-side types then don't
    // depend on the parquet timestamp flavor (NTZ vs LTZ)
    val stats = Tables.parquet(s, tmp)
      .groupBy(input_file_name().as("f"))
      .agg(date_format(min("l_shipdate"), "yyyy-MM-dd HH:mm:ss").as("lo"),
        date_format(max("l_shipdate"), "yyyy-MM-dd HH:mm:ss").as("hi"))
      .collect()
    val lo = "1996-01-01 00:00:00"
    val hi = "1996-07-01 00:00:00"
    val keep = stats
      .filter(r => r.getString(2) >= lo && r.getString(1) < hi)
      .map(_.getString(0))
    require(keep.nonEmpty && keep.length < stats.length,
      s"skipping index kept ${keep.length}/${stats.length} files")
    Tables.parquet(s, keep.toIndexedSeq: _*)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-07-01").cast("timestamp"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        OracleSafe.dsum(col("l_quantity")).as("sum_qty"),
        OracleSafe.dsum(col("l_extendedprice")).as("sum_price"))
      .withColumn("files_skipped", lit(keep.length < stats.length))
      .orderBy("l_returnflag")
  }

  val q112Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
      |  TRUE AS files_skipped
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1996-07-01'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q113: small-file compaction — rewrite a fragmented table (64 shards,
    * the shape a per-key streaming sink leaves behind) into
    * target-sized files. The target file count comes from the ACTUAL listed
    * bytes (filesystem metadata, |files| entries), not a guess; the rewrite
    * is one `repartition(n)` pass. The gate aggregates the COMPACTED copy —
    * hash-matching the oracle on the original table proves the rewrite is
    * content-preserving, and `compacted` asserts the file count shrank.
    *
    * Scale shape: listing is metadata-only; the rewrite streams each row
    * once through a round-robin exchange (no skew — compaction must not
    * re-cluster, that's q91 Z-order's job). On a real lakehouse this runs
    * per-partition-directory, so the unit of work stays bounded. */
  // the FRAGMENTED table is test scaffolding (the mess a streaming sink
  // leaves behind) — synthesized once per corpus via layoutArtifact (see
  // q112's guard note); the operator under measurement is the list + size
  // + compaction rewrite, which stays per-query
  private[graft] val FragLayout = graft.SparkSupport.Layout("frag", 1)
  def q113Compaction(s: SparkSession, dir: String): DataFrame = {
    val comp = graft.SparkSupport.roundtripPath("compact", dir)
    val frag = graft.SparkSupport.layoutArtifact(FragLayout, dir) { p =>
      Tables.orders(s, dir).repartition(64).write.mode("overwrite").parquet(p)
    }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(frag))
      .filter(_.getPath.getName.endsWith(".parquet"))
    val totalBytes = files.map(_.getLen).sum
    val targetFileBytes = math.max(totalBytes / 4, 1L << 20)
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    Tables.parquet(s, frag).repartition(nOut)
      .write.mode("overwrite").parquet(comp)
    val outFiles = fs.listStatus(new org.apache.hadoop.fs.Path(comp))
      .count(_.getPath.getName.endsWith(".parquet"))
    Tables.parquet(s, comp)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        OracleSafe.dsum(col("o_totalprice")).as("total"),
        expr("CAST(sum(CAST(o_orderkey AS DECIMAL(38,0))) AS BIGINT)")
          .as("key_sum"))
      .withColumn("compacted", lit(outFiles < files.length))
      .orderBy("o_orderstatus")
  }

  val q113Sql: String =
    """SELECT o_orderstatus, count(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  TRUE AS compacted
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  private[graft] val EvolvingLayout = graft.SparkSupport.Layout("evolving", 1)
  /** q186: schema evolution on a plain-parquet table — the non-Delta half
    * of the reference's `overwriteSchema=True` story (BuildGoldLayer.py:
    * 230,235; K4 in SURVEY §2). A v1 producer writes (o_orderkey,
    * o_totalprice); a v2 producer APPENDS files that carry a new
    * o_orderpriority column — v1 files are never rewritten (at 100 TB,
    * rewriting history for a column add is the thing you cannot afford).
    * `mergeSchema=true` reconciles the footers at read time: v1 rows
    * surface the new column as NULL, which the query maps to a sentinel
    * bucket. The oracle reproduces the exact same rows from the base
    * table, so the gate value-checks the whole evolution round-trip.
    *
    * Scale notes: mergeSchema pays one footer read per file at planning
    * (table formats move this to a manifest — q112's territory); the data
    * path is unchanged — column pruning and pushdown still work on both
    * file generations. */
  def q186SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    // the two-generation table is a build-once corpus artifact like every
    // other scratch layout (SparkSupport.layoutArtifact): re-running both
    // generation writes per invocation charged two table writes to every
    // q186 timing, and concurrent invocations could interleave the
    // overwrite/append pair (double-appended v2 files)
    val tmp = graft.SparkSupport.layoutArtifact(EvolvingLayout, dir) { p =>
      Tables.orders(s, dir).filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(p)
      Tables.orders(s, dir).filter(col("o_orderkey") % 2 =!= 0)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("append").parquet(p)
    }
    Tables.parquet(s, Map("mergeSchema" -> "true"), tmp)
      .groupBy(coalesce(col("o_orderpriority"), lit("<pre-evolution>"))
        .as("priority"))
      .agg(count(lit(1)).as("n"),
        OracleSafe.dsum(col("o_totalprice")).as("total"))
      .orderBy("priority")
  }

  val q186Sql: String =
    """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<pre-evolution>'
      |            ELSE o_orderpriority END AS priority,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY 1 ORDER BY priority""".stripMargin

  // ---------------------------------------------------------------- q251

  private[graft] val TxlogDemoLayout = graft.SparkSupport.Layout("txlog_demo", 1)
  /** q251: transaction-log time travel — the K4 (transactional gold
    * writes) semantics on plain parquet via [[graft.sources.TxLog]]: a
    * versioned table is built once per corpus with the gold layer's write
    * history in miniature (append, append, atomic OVERWRITE, append), and
    * the query reads every version's snapshot. Version 2's numbers must
    * survive versions 3-4 unchanged (immutable log prefix = stable time
    * travel), and version 3 must show the overwrite REPLACED v1-v2's rows
    * rather than adding to them — the two semantics plain `mode(...)`
    * parquet writes cannot give and the reference's Delta gold layer
    * relies on (BuildGoldLayer.py:219-235).
    *
    * The oracle recomputes each version's expected contents directly from
    * the orders table — the log machinery must land exactly the rows the
    * commit history implies. Concurrency/crash behavior (rename
    * arbitration, lost-race retry, invisible half-commits) is TxLogSpec's
    * territory; this gate pins the snapshot algebra. */
  /** The versioned demo table (append, append, overwrite, append — the
    * gold-layer history in miniature), built once per corpus; shared by
    * q251 (time travel) and q252 (version-diff CDC). */
  private def txlogDemo(s: SparkSession, dir: String): String =
    graft.sources.TxLog.layoutArtifact(TxlogDemoLayout, dir) { p =>
      import graft.sources.TxLog
      val o = Tables.orders(s, dir).select("o_orderkey", "o_totalprice")
      TxLog.append(s, o.filter(col("o_orderkey") % 4 === 0), p)
      TxLog.append(s, o.filter(col("o_orderkey") % 4 === 1), p)
      TxLog.overwrite(s, o.filter(col("o_orderkey") % 4 === 2), p)
      TxLog.append(s, o.filter(col("o_orderkey") % 4 === 3), p)
      java.nio.file.Files.createFile(java.nio.file.Paths.get(p, "_SUCCESS"))
    }

  def q251TxlogTimeTravel(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLog
    val table = txlogDemo(s, dir)
    (1 to 4).map { v =>
      TxLog.read(s, table, Some(v))
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sk"))
        .selectExpr(s"$v AS version", "n AS n_rows", "sk AS sum_orderkey")
    }.reduce(_.unionByName(_)).orderBy("version")
  }

  val q251Sql: String =
    """SELECT 1 AS version, count(*) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_orderkey
      |FROM orders WHERE o_orderkey % 4 = 0
      |UNION ALL
      |SELECT 2, count(*), CAST(sum(o_orderkey) AS BIGINT)
      |FROM orders WHERE o_orderkey % 4 IN (0, 1)
      |UNION ALL
      |SELECT 3, count(*), CAST(sum(o_orderkey) AS BIGINT)
      |FROM orders WHERE o_orderkey % 4 = 2
      |UNION ALL
      |SELECT 4, count(*), CAST(sum(o_orderkey) AS BIGINT)
      |FROM orders WHERE o_orderkey % 4 IN (2, 3)
      |ORDER BY version""".stripMargin

  // ---------------------------------------------------------------- q252

  /** q252: change data feed between TxLog versions — the q95 snapshot
    * diff run against the transaction log's time travel: any two versions
    * of a table can be diffed into insert/delete row sets WITHOUT the
    * table having recorded changes at write time (the log's immutable
    * prefix makes every historical state addressable). The demo diffs the
    * pre-overwrite snapshot against HEAD (everything replaced) and the
    * post-overwrite snapshot against HEAD (one pure append — zero
    * deletes), the two shapes a downstream incremental consumer
    * distinguishes. Keys only — anti-joins per side; at scale each side
    * prunes to its live file lists, never a full-history scan. */
  def q252TxlogCdc(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLog
    val table = txlogDemo(s, dir)
    def snap(v: Int) = TxLog.read(s, table, Some(v)).select("o_orderkey")
    def side(from: Int, to: Int, a: DataFrame, b: DataFrame, kind: String) =
      b.join(a, Seq("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("o_orderkey")), lit(0L)).as("sum_orderkey"))
        .selectExpr(s"$from AS from_v", s"$to AS to_v", s"'$kind' AS change",
          "n_rows", "sum_orderkey")
    def diff(from: Int, to: Int): DataFrame = {
      val a = snap(from); val b = snap(to)
      side(from, to, a, b, "insert").unionByName(side(from, to, b, a, "delete"))
    }
    diff(2, 4).unionByName(diff(3, 4)).orderBy("from_v", "change")
  }

  val q252Sql: String =
    """SELECT 2 AS from_v, 4 AS to_v, 'insert' AS change, count(*) AS n_rows,
      |  CAST(coalesce(sum(o_orderkey), 0) AS BIGINT) AS sum_orderkey
      |FROM orders WHERE o_orderkey % 4 IN (2, 3)
      |UNION ALL
      |SELECT 2, 4, 'delete', count(*), CAST(coalesce(sum(o_orderkey), 0) AS BIGINT)
      |FROM orders WHERE o_orderkey % 4 IN (0, 1)
      |UNION ALL
      |SELECT 3, 4, 'insert', count(*), CAST(coalesce(sum(o_orderkey), 0) AS BIGINT)
      |FROM orders WHERE o_orderkey % 4 = 3
      |UNION ALL
      |SELECT 3, 4, 'delete', CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      |ORDER BY from_v, change""".stripMargin

  // ---------------------------------------------------------------- q253

  private[graft] val TxlogMergeLayout = graft.SparkSupport.Layout("txlog_merge", 1)
  /** q253: transactional MERGE on the log — q127 shows what MERGE compiles
    * to; this RUNS one under [[graft.sources.TxLog]]'s commit protocol:
    * base = the %4=0 order slice; the upsert batch doubles the price of
    * every %8=0 key (matched → replace) and inserts the %4=1 slice
    * (unmatched → insert), landing as ONE commit with file-granular
    * copy-on-write (only files containing matched keys rewrite). The gate
    * reads the merged HEAD and checks per-class counts and exact decimal
    * price sums against the oracle's direct recomputation — the merge must
    * have replaced, inserted, and preserved exactly the right rows. */
  def q253TxlogMerge(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLog
    val table = graft.sources.TxLog.layoutArtifact(TxlogMergeLayout, dir) { p =>
      val o = Tables.orders(s, dir).select("o_orderkey", "o_totalprice")
      TxLog.append(s, o.filter(col("o_orderkey") % 4 === 0), p)
      val updates = o.filter(col("o_orderkey") % 8 === 0)
        .selectExpr("o_orderkey", "o_totalprice * 2 AS o_totalprice")
        .unionByName(o.filter(col("o_orderkey") % 4 === 1))
      TxLog.merge(s, updates, p, "o_orderkey")
      java.nio.file.Files.createFile(java.nio.file.Paths.get(p, "_SUCCESS"))
    }
    TxLog.read(s, table)
      .groupBy((col("o_orderkey") % 4).as("klass"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("sum_key"),
        OracleSafe.dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("klass")
  }

  val q253Sql: String =
    """SELECT o_orderkey % 4 AS klass, count(*) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
      |  CAST(sum(CAST(CASE WHEN o_orderkey % 8 = 0 THEN o_totalprice * 2
      |                     ELSE o_totalprice END AS DECIMAL(38,6)))
      |    AS DOUBLE) AS sum_price
      |FROM orders WHERE o_orderkey % 4 IN (0, 1)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q254

  private[graft] val TxlogStatsLayout = graft.SparkSupport.Layout("txlog_stats", 1)
  /** q254: manifest-level data skipping on the log — q112's min/max file
    * pruning INTEGRATED with the transaction log: [[graft.sources.TxLog
    * .appendWithStats]] records per-file (min, max) of the key in the
    * COMMIT itself (the Iceberg-manifest shape, collected in one
    * distributed pass at write time), and a bounded read prunes files
    * from metadata alone — no footer reads, no directory listing, no
    * scan of non-matching files. The write range-partitions by the key so
    * file ranges are tight; the gate reads keys below max/4, which must
    * both SKIP files (spec-asserted via the require here) and agree with
    * the oracle's direct recomputation. */
  def q254TxlogSkipping(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLog
    val table = graft.sources.TxLog.layoutArtifact(TxlogStatsLayout, dir) { p =>
      val o = Tables.orders(s, dir).select("o_orderkey", "o_totalprice")
        .repartitionByRange(16, col("o_orderkey"))
      TxLog.appendWithStats(s, o, p, "o_orderkey", partFiles = 8)
      java.nio.file.Files.createFile(java.nio.file.Paths.get(p, "_SUCCESS"))
    }
    // the one driver scalar (metadata-sized, the q117 convention)
    val hi = Tables.orders(s, dir).agg(max(col("o_orderkey"))).head().getLong(0) / 4
    val total = TxLog.liveFiles(table).size
    val kept = TxLog.pruneFiles(table, 0L, hi)
    require(kept.nonEmpty && kept.size < total,
      s"stats pruning kept ${kept.size}/$total files — nothing skipped")
    TxLog.readPruned(s, table, 0L, hi)
      .filter(col("o_orderkey") < hi)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("sum_key"),
        OracleSafe.dsum(col("o_totalprice")).as("sum_price"))
      .withColumn("files_skipped", lit(kept.size < total))
  }

  val q254Sql: String =
    """SELECT count(*) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
      |  TRUE AS files_skipped
      |FROM orders
      |WHERE o_orderkey < (SELECT max(o_orderkey) // 4 FROM orders)""".stripMargin

  // ---------------------------------------------------------------- q300

  private[graft] val IvmAggLayout = graft.SparkSupport.Layout("ivm_agg", 1)
  /** q300: incremental view maintenance on the log — a standing
    * aggregate view is MAINTAINED by merging a delta batch's partial
    * aggregate into the materialized state, never re-aggregating the
    * base: the nightly-ETL shape where yesterday's 100 TB stays folded
    * and only today's slice is scanned. The view is (priority → count,
    * decimal sum) — both self-mergeable aggregates (count adds, decimal
    * sums add exactly in any order), which is precisely the class IVM
    * handles without auxiliary state. Lifecycle lives in the versioned
    * table: v1 = the base fold (90% of orders), v2 = v1 ⊎ delta partial
    * (the other 10%), committed atomically by TxLog.overwrite; the gate
    * compares v2 against the oracle's one-shot full aggregate — the
    * incremental path must land bit-identical totals.
    *
    * Scale shape: the merge reads |groups| materialized rows + the delta
    * slice only; TableOpsSpec pins the version history and that v1 time
    * travel still shows the pre-merge state. */
  def q300IvmAgg(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLog
    val root = graft.sources.TxLog.layoutArtifact(IvmAggLayout, dir) { p =>
      val t = s"$p/agg"
      def aggOf(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(38,6)")).as("total6"))
      val orders = Tables.orders(s, dir)
      TxLog.append(s,
        aggOf(orders.filter(col("o_orderkey") % 10 =!= 7)), t, partFiles = 1)
      // the incremental step: standing view ⊎ delta partial aggregate —
      // the base slice is never re-aggregated
      val merged = TxLog.read(s, t)
        .unionByName(aggOf(orders.filter(col("o_orderkey") % 10 === 7)))
        .groupBy("o_orderpriority")
        .agg(sum(col("n")).as("n"), sum(col("total6")).as("total6"))
      TxLog.overwrite(s, merged, t, partFiles = 1)
      java.nio.file.Files.createFile(java.nio.file.Paths.get(p, "_SUCCESS"))
    }
    graft.sources.TxLog.read(s, s"$root/agg")
      .selectExpr("o_orderpriority", "n", "CAST(total6 AS DOUBLE) AS total")
      .orderBy("o_orderpriority")
  }

  /** q300's oracle: the one-shot full aggregate the incremental path must
    * reproduce exactly. */
  val q300Sql: String =
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q301

  /** Morton (Z-order) interleave of two 16-bit normalized coordinates —
    * componentwise MONOTONE (x1 ≤ x2 ∧ y1 ≤ y2 ⟹ z(x1,y1) ≤ z(x2,y2),
    * each output bit is one input bit), which is the property that makes
    * the corner-to-corner z-range of a query box a SOUND file-prune
    * interval. Emitted as a generated 32-term shift/mask expression —
    * codegen'd integer ops, no UDF. */
  private[operators] def mortonExpr(xn: String, yn: String): String =
    (0 until 16).map(i =>
      s"shiftleft(CAST(shiftright($xn, $i) & 1 AS BIGINT), ${2 * i}) + " +
        s"shiftleft(CAST(shiftright($yn, $i) & 1 AS BIGINT), ${2 * i + 1})")
      .mkString("(", " + ", ")")

  private[operators] def mortonOf(x: Long, y: Long): Long =
    (0 until 16).map(i =>
      (((x >> i) & 1L) << (2 * i)) + (((y >> i) & 1L) << (2 * i + 1))).sum

  /** The SQL normalization used to LAY OUT the z-ordered table. Must stay
    * bit-identical to [[nrm]] (the Scala twin used to compute the query
    * box's corner z-values): any divergence makes z-range pruning silently
    * UNSOUND — a missed in-box file cannot be recovered by the residual
    * filter. MortonParitySpec asserts the pair (and
    * [[mortonExpr]]/[[mortonOf]]) agree over a sampled domain. */
  private[operators] def normExpr(v: String, lo: Long, hi: Long): String =
    s"CAST(($v - $lo) * 65535L DIV ${math.max(hi - lo, 1L)}L AS INT)"

  /** Scala twin of [[normExpr]] — see its soundness note. Both sides are
    * long floor division on non-negative operands, so `DIV` and `/` agree. */
  private[operators] def nrm(v: Long, lo: Long, hi: Long): Long =
    (v - lo) * 65535 / math.max(hi - lo, 1L)

  private[graft] val ZorderTblLayout = graft.SparkSupport.Layout("zorder_tbl", 1)
  /** q301: Z-ORDER clustering for multi-dimensional data skipping — the
    * Delta/Iceberg OPTIMIZE ZORDER capability on the log: orders are
    * rewritten in Morton order of (custkey, order-day), each file's
    * commit records its z-range ([[graft.sources.TxLog.appendWithStats]]),
    * and a 2-D box query prunes files from METADATA via the box corners'
    * z-interval (sound by Morton monotonicity — the Scaladoc on
    * [[mortonExpr]]) before a residual in-box filter. A 1-D sort layout
    * can only skip along its own dimension; Z-order skips along BOTH —
    * TableOpsSpec measures exactly that contrast. The gate compares the
    * box aggregate against the oracle's full-scan recomputation.
    *
    * Scale shape: normalization bounds are 4 driver scalars (metadata);
    * the rewrite is one range-partitioned write; the read opens only
    * z-intersecting files. */
  def q301ZorderBox(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLog
    val day = "datediff(o_orderdate, DATE '1970-01-01')"
    val b = Tables.orders(s, dir)
      .selectExpr("min(o_custkey) AS klo", "max(o_custkey) AS khi",
        s"min($day) AS dlo", s"max($day) AS dhi").head()
    val (klo, khi, dlo, dhi) =
      (b.getLong(0), b.getLong(1), b.getInt(2).toLong, b.getInt(3).toLong)
    val table = graft.sources.TxLog.layoutArtifact(ZorderTblLayout, dir) { p =>
      val z = Tables.orders(s, dir)
        .selectExpr("o_custkey", s"$day AS oday", "o_totalprice",
          s"${mortonExpr(normExpr("o_custkey", klo, khi),
            normExpr(s"($day)", dlo, dhi))} AS z")
        .repartitionByRange(16, col("z"))
      TxLog.appendWithStats(s, z, p, "z", partFiles = 8)
      java.nio.file.Files.createFile(java.nio.file.Paths.get(p, "_SUCCESS"))
    }
    // the 2-D box: middle quartile of custkey × middle third of days
    val (k1, k2) = (klo + (khi - klo) / 4, klo + (khi - klo) / 2)
    val (d1, d2) = (dlo + (dhi - dlo) / 3, dlo + 2 * (dhi - dlo) / 3)
    val zLo = mortonOf(nrm(k1, klo, khi), nrm(d1, dlo, dhi))
    val zHi = mortonOf(nrm(k2, klo, khi), nrm(d2, dlo, dhi))
    val total = TxLog.liveFiles(table).size
    val kept = TxLog.pruneFiles(table, zLo, zHi + 1)
    require(kept.nonEmpty && kept.size < total,
      s"z-range pruning kept ${kept.size}/$total files — nothing skipped")
    TxLog.readPruned(s, table, zLo, zHi + 1)
      .filter(col("o_custkey").between(k1, k2) && col("oday").between(d1, d2))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_custkey")).as("sum_cust"),
        OracleSafe.dsum(col("o_totalprice")).as("sum_price"))
      .withColumn("files_skipped", lit(kept.size < total))
  }

  val q301Sql: String =
    """WITH b AS (
      |  SELECT min(o_custkey) AS klo, max(o_custkey) AS khi,
      |    min(date_diff('day', DATE '1970-01-01', o_orderdate)) AS dlo,
      |    max(date_diff('day', DATE '1970-01-01', o_orderdate)) AS dhi
      |  FROM orders)
      |SELECT count(*) AS n_rows,
      |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
      |  TRUE AS files_skipped
      |FROM orders, b
      |WHERE o_custkey BETWEEN klo + (khi - klo) // 4 AND klo + (khi - klo) // 2
      |  AND date_diff('day', DATE '1970-01-01', o_orderdate)
      |    BETWEEN dlo + (dhi - dlo) // 3 AND dlo + 2 * (dhi - dlo) // 3""".stripMargin

  // ---------------------------------------------------------------- q307

  private[graft] val BloomidxLayout = graft.SparkSupport.Layout("bloomidx", 1)
  /** q307: per-file BLOOM-FILTER skipping index — the point-lookup
    * complement to min/max skipping (q112) and z-range pruning (q301).
    * The layout is range-clustered by ship date, so a point lookup on
    * l_orderkey gets NO help from min/max stats (every file's orderkey
    * range is wide open); a per-file Bloom filter answers "might this
    * file contain key k" from METADATA instead. The index is
    * |files| blooms sized from the largest per-file row count (8 bits/item
    * ≈ 2% FPP, never saturating as SF grows) — collected driver-side like a lakehouse manifest
    * (the q112 stats-collect pattern) — and the planner opens only files
    * whose bloom admits ≥1 probe key. False positives cost an extra file
    * read, never correctness: the residual equi-filter runs on the
    * survivors, and the gate compares against the oracle's full scan.
    *
    * Probe keys are deterministic data-derived scalars (min, max, and
    * the largest key ≤ midpoint — all guaranteed present at every SF).
    * An order's lineitems ship within ~4 months, so each probe key lives
    * in 1-2 of the 16 date-ranged files and the guard asserts real
    * skipping happened.
    *
    * Scale shape: the bloom build is one agg over the layout (each
    * executor ORs its partial bit arrays — order-independent); the index
    * rows are manifest metadata; the probe-side work is |files| × |keys|
    * driver bit-tests. At 100 TB this is the file-skipping index a
    * lakehouse stores next to its min/max stats for exactly the
    * high-cardinality point-lookup columns clustering can't serve. */
  def q307BloomSkipping(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.SparkSupport.layoutArtifact(BloomidxLayout, dir) { p =>
      Tables.lineitem(s, dir)
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_shipdate")
        .repartitionByRange(16, col("l_shipdate"))
        .write.mode("overwrite").parquet(p)
    }
    val b = Tables.lineitem(s, dir)
      .agg(min("l_orderkey").as("klo"), max("l_orderkey").as("khi")).head()
    val (klo, khi) = (b.getLong(0), b.getLong(1))
    val kmid = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") <= (klo + khi) / 2)
      .agg(max("l_orderkey")).head().getLong(0)
    val probes = Seq(klo, kmid, khi).distinct
    // Size each file's bloom from the LARGEST per-file row count (distinct
    // keys per file ≤ rows per file), at 8 bits/item ≈ 2% FPP. A fixed
    // 50k-item sizing saturates once per-file cardinality outgrows it
    // (FPP→1 admits every file and the skipping guard aborts); sizing from
    // the data defers that point to Spark's own BloomFilterAggregate conf
    // caps (~4M items / 67M bits by default), past which FPP degrades
    // again — the honest bound on this scheme (ADVICE r8). The sizing
    // pass prunes to zero columns (row positions only); floors keep
    // small-SF behavior identical to the previous fixed 50000/400000
    // sizing, and the max(..., 50000) floor also covers an empty layout
    // (max over zero rows is NULL → treated as 0).
    val maxRowsRow = Tables.parquet(s, tmp)
      .groupBy(input_file_name()).count()
      .agg(max("count")).head()
    val maxFileRows = if (maxRowsRow.isNullAt(0)) 0L else maxRowsRow.getLong(0)
    val expectedItems = math.max(50000L, maxFileRows)
    val numBits = 8L * expectedItems
    val index = Tables.parquet(s, tmp)
      .groupBy(input_file_name().as("f"))
      .agg(expr(s"bloom_filter_agg(l_orderkey, CAST($expectedItems AS " +
        s"BIGINT), CAST($numBits AS BIGINT))").as("bf"))
      .collect() // |files| rows of manifest metadata, like q112's stats
    val keep = index.filter { r =>
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bf")))
      probes.exists(bf.mightContainLong)
    }.map(_.getString(0))
    require(keep.nonEmpty && keep.length < index.length,
      s"bloom index kept ${keep.length}/${index.length} files — no skipping")
    Tables.parquet(s, keep.toIndexedSeq: _*)
      .filter(col("l_orderkey").isInCollection(probes))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"),
        OracleSafe.dsum(col("l_quantity")).as("sum_qty"),
        OracleSafe.dsum(col("l_extendedprice")).as("sum_price"))
      .withColumn("files_skipped", lit(keep.length < index.length))
      .orderBy("l_orderkey")
  }

  val q307Sql: String =
    """WITH b AS (
      |  SELECT min(l_orderkey) AS klo, max(l_orderkey) AS khi FROM lineitem),
      |p AS (
      |  SELECT DISTINCT k FROM (
      |    SELECT klo AS k FROM b
      |    UNION ALL SELECT khi FROM b
      |    UNION ALL
      |    SELECT max(l_orderkey) FROM lineitem, b
      |    WHERE l_orderkey <= (klo + khi) // 2))
      |SELECT l_orderkey, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
      |    AS sum_price,
      |  TRUE AS files_skipped
      |FROM lineitem JOIN p ON l_orderkey = k
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q336

  private[graft] val TxlogDeleteLayout = graft.SparkSupport.Layout("txlog_delete", 1)
  /** q336: transactional DELETE WHERE on the log — the takedown verb an
    * LLM-training-data table runs daily (GDPR erasure, license removal,
    * contamination purges): [[graft.sources.TxLog.deleteWhere]] removes
    * the matching rows as ONE commit with FILE-GRANULAR copy-on-write —
    * only files containing a matching row rewrite; the rest carry over by
    * reference, so a point takedown on 100 TB rewrites a handful of
    * files (TableOpsSpec pins exactly that). The gate reads the
    * post-delete HEAD and checks per-status counts and exact decimal sums
    * against the oracle's NOT-predicate recomputation — the delete must
    * have removed exactly the TRUE-predicate rows. */
  def q336TxlogDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLog
    val table = graft.sources.TxLog.layoutArtifact(TxlogDeleteLayout, dir) { p =>
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      // two generations → several files, so file-granularity is real
      TxLog.append(s, o.filter(col("o_orderkey") % 2 === 0), p)
      TxLog.append(s, o.filter(col("o_orderkey") % 2 === 1), p)
      TxLog.deleteWhere(s, p,
        "o_orderstatus = 'F' AND o_custkey % 10 = 3")
      java.nio.file.Files.createFile(java.nio.file.Paths.get(p, "_SUCCESS"))
    }
    TxLog.read(s, table)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("sum_key"),
        OracleSafe.dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  val q336Sql: String =
    """SELECT o_orderstatus, count(*) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE NOT (o_orderstatus = 'F' AND o_custkey % 10 = 3)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q337

  private[graft] val TxlogUpdateLayout = graft.SparkSupport.Layout("txlog_update", 1)
  /** q337: transactional UPDATE WHERE on the log — label/score rewrites in
    * place (re-scored quality tiers, corrected licenses) without touching
    * non-matching rows or files: [[graft.sources.TxLog.updateWhere]]
    * evaluates the SET expressions on the OLD row (SQL UPDATE semantics)
    * and lands as ONE file-granular copy-on-write commit. The doubling is
    * exact in binary floating point (×2 shifts the exponent), so the
    * post-update decimal sums are oracle-exact without a cents detour. */
  def q337TxlogUpdate(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLog
    val table = graft.sources.TxLog.layoutArtifact(TxlogUpdateLayout, dir) { p =>
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderpriority", "o_orderstatus",
          "o_totalprice")
      TxLog.append(s, o.filter(col("o_orderkey") % 2 === 0), p)
      TxLog.append(s, o.filter(col("o_orderkey") % 2 === 1), p)
      TxLog.updateWhere(s, p, "o_orderpriority = '1-URGENT'",
        Map("o_totalprice"   -> "o_totalprice * 2",
            "o_orderstatus"  -> "'X'"))
      java.nio.file.Files.createFile(java.nio.file.Paths.get(p, "_SUCCESS"))
    }
    TxLog.read(s, table)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("o_orderstatus") === "X", 1).otherwise(0))
          .as("n_escalated"),
        OracleSafe.dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  val q337Sql: String =
    """SELECT o_orderpriority, count(*) AS n_rows,
      |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_escalated,
      |  CAST(sum(CAST(CASE WHEN o_orderpriority = '1-URGENT'
      |                     THEN o_totalprice * 2 ELSE o_totalprice END
      |               AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q338

  private[graft] val TxlogRestoreLayout = graft.SparkSupport.Layout("txlog_restore", 1)
  /** q338: RESTORE — roll the table back to a pre-mutation version as ONE
    * new commit of pure log arithmetic ([[graft.sources.TxLog.restore]]):
    * no data file is read or copied, so un-doing a bad 100 TB mutation is
    * a metadata operation, and history is preserved (the rolled-back
    * delete is still time-travelable — TableOpsSpec pins that). The gate
    * deletes a slice, restores to the pre-delete version, and must read
    * back the COMPLETE original table. */
  def q338TxlogRestore(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLog
    val table = graft.sources.TxLog.layoutArtifact(TxlogRestoreLayout, dir) { p =>
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      TxLog.append(s, o.filter(col("o_orderkey") % 2 === 0), p)
      TxLog.append(s, o.filter(col("o_orderkey") % 2 === 1), p) // v2
      TxLog.deleteWhere(s, p, "o_orderstatus = 'O'")            // v3
      TxLog.restore(s, p, 2)                                    // v4 = v2
      java.nio.file.Files.createFile(java.nio.file.Paths.get(p, "_SUCCESS"))
    }
    TxLog.read(s, table)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        OracleSafe.dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  val q338Sql: String =
    """SELECT o_orderstatus, count(*) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q340

  private[graft] val TxlogPartDmlLayout = graft.SparkSupport.Layout("txlog_part_dml", 1)
  /** q340: partition-aware DML — DELETE WHERE and UPDATE WHERE on a
    * HIVE-PARTITIONED log table, the reference's actual gold shape
    * (`partitionBy(institution_type, state)` / `(year, quarter, state)`,
    * BuildGoldLayer.py:217-226). The rewrite kernel re-attaches the
    * path-borne partition values on read (so the predicate can mix
    * partition and data columns) and re-stages survivors under re-derived
    * `col=value` paths; unhit partitions carry over by reference
    * (TxLogSpec pins the by-reference law and partition-moving SET). The
    * gate reads the post-DML head back through [[graft.sources
    * .DeltaBridge]] — partition values come from the logged layout, not
    * the data files — and checks per-partition counts and exact sums. */
  def q340PartitionedDml(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{DeltaBridge, TxLog}
    val table = graft.sources.TxLog.layoutArtifact(TxlogPartDmlLayout, dir) { p =>
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      // two generations per partition → file-granularity is real
      TxLog.appendPartitioned(s, o.filter(col("o_orderkey") % 2 === 0), p,
        Seq("o_orderstatus"))
      TxLog.appendPartitioned(s, o.filter(col("o_orderkey") % 2 === 1), p,
        Seq("o_orderstatus"))
      // takedown predicate MIXES the partition column with a data column
      TxLog.deleteWhere(s, p, "o_orderstatus = 'F' AND o_custkey % 10 = 3")
      // partition-predicate UPDATE on a data column (×2 is fp-exact)
      TxLog.updateWhere(s, p, "o_orderstatus = 'P'",
        Map("o_totalprice" -> "o_totalprice * 2"))
      java.nio.file.Files.createFile(java.nio.file.Paths.get(p, "_SUCCESS"))
    }
    DeltaBridge.read(s, table)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("sum_key"),
        OracleSafe.dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  val q340Sql: String =
    """SELECT o_orderstatus, count(*) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
      |  CAST(sum(CAST(CASE WHEN o_orderstatus = 'P' THEN o_totalprice * 2
      |                     ELSE o_totalprice END
      |               AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE NOT (o_orderstatus = 'F' AND o_custkey % 10 = 3)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q347

  private[graft] val TxlogDvDeleteLayout = graft.SparkSupport.Layout("txlog_dv_delete", 1)
  /** q347: WRITER-SIDE DELETION VECTORS — merge-on-read DELETE
    * ([[graft.sources.TxLog.deleteWhereDv]]): a takedown hitting ~1% of
    * rows across an 8-file table writes spec-format sidecar vectors and
    * re-publishes the SAME data files (the build asserts every original
    * path survives and the log shows DV entries — no rewrite), the
    * commit upgrades the protocol to readerVersion 3 + deletionVectors
    * and publishes the descriptors, and the gate reads the post-delete
    * head through the SQL catalog (the extended mount) with the bridge
    * read asserted equal. At 100 TB this is the difference between a
    * point-delete costing O(deleted rows) and rewriting every hit
    * gigabyte-file. */
  def q347DvDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{DeltaBridge, TxLog}
    s.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.v2.GraftDeltaCatalog].getName)
    val table = graft.sources.TxLog.layoutArtifact(TxlogDvDeleteLayout, dir) { p =>
      val c = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .repartitionByRange(8, col("c_custkey"))
      TxLog.append(s, c, p, partFiles = 8)
      val before = TxLog.liveFiles(p).map(TxLog.entryPath).toSet
      TxLog.deleteWhereDv(s, p, "c_custkey % 97 = 0", maxDvFraction = 0.5)
      val after = TxLog.liveFiles(p)
      require(after.map(TxLog.entryPath).toSet == before,
        "a sub-threshold DV delete must keep every data file in place")
      require(after.exists(_.contains("#dv:")),
        s"the log must show DV entries, got $after")
      // bridge/catalog agreement asserted ONCE per corpus (see q349)
      require(DeltaBridge.read(s, p).count() ==
        s.sql(s"SELECT count(*) FROM graft.`$p`").head().getLong(0),
        "bridge and catalog disagree on the DV'd table")
      java.nio.file.Files.createFile(java.nio.file.Paths.get(p, "_SUCCESS"))
    }
    s.sql(
      s"""SELECT c_mktsegment, count(*) AS n_rows,
         |  CAST(sum(c_custkey) AS BIGINT) AS sum_key,
         |  CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
         |FROM graft.`$table`
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  }

  val q347Sql: String =
    """SELECT c_mktsegment, count(*) AS n_rows,
      |  CAST(sum(c_custkey) AS BIGINT) AS sum_key,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      |FROM customer WHERE c_custkey % 97 <> 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q349

  private[graft] val TxlogDvMergeLayout = graft.SparkSupport.Layout("txlog_dv_merge", 1)
  /** q349: DELETION VECTORS FROM MERGE — the q347 economics applied to
    * `MERGE … WHEN MATCHED THEN DELETE` ([[graft.sources.TxLog
    * .mergeClauses]]'s maxDvFraction): a takedown-shaped merge whose
    * matched rows resolve only to DELETE, touching ~1% of each hit
    * file, publishes sidecar deletion vectors instead of rewriting the
    * files (the build asserts every pre-merge data file survives in
    * place and the log carries DV entries), while the same statement's
    * NOT MATCHED rows still INSERT as ordinary staged adds — one
    * commit. Hit files whose matched rows fire NO clause (the
    * `c_acctbal >= 9000` survivors) carry over by reference. The commit
    * publishes the vectors as Delta descriptors and the gate reads
    * the post-merge head through the SQL catalog with the bridge read
    * asserted equal — delta-spark's merge-on-read MERGE, writer side. */
  def q349DvMerge(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{DeltaBridge, TxLog}
    s.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.v2.GraftDeltaCatalog].getName)
    val table = graft.sources.TxLog.layoutArtifact(TxlogDvMergeLayout, dir) { p =>
      val c = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .repartitionByRange(8, col("c_custkey"))
      TxLog.append(s, c, p, partFiles = 8)
      val before = TxLog.liveFiles(p).map(TxLog.entryPath).toSet
      val vBefore = TxLog.versions(p).last
      // takedown-with-backfill: matched keys whose balance is under the
      // bar DELETE (sub-threshold per file → DVs); three synthetic rows
      // match nothing and INSERT
      val src = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .filter(col("c_custkey") % 89 === 0)
        .unionByName(s.createDataFrame(Seq(
          (9000001L, "Customer#9000001", 111.25, "SYNTH"),
          (9000002L, "Customer#9000002", 222.50, "SYNTH"),
          (9000003L, "Customer#9000003", 333.75, "SYNTH")))
          .toDF("c_custkey", "c_name", "c_acctbal", "c_mktsegment"))
      TxLog.mergeClauses(s, src, p,
        keys = Seq("c_custkey"),
        tableCols = Seq("c_custkey", "c_name", "c_acctbal", "c_mktsegment"),
        matched = Seq((Some("c_acctbal < 9000"), TxLog.MergeDelete)),
        notMatchedInsert = Seq((None, Seq(
          "c_custkey" -> "__src_c_custkey",
          "c_name" -> "__src_c_name",
          "c_acctbal" -> "__src_c_acctbal",
          "c_mktsegment" -> "__src_c_mktsegment"))),
        notMatchedBySource = Seq.empty,
        maxDvFraction = 0.1)
      val after = TxLog.liveFiles(p)
      require(TxLog.versions(p).last == vBefore + 1,
        "the whole MERGE must land as ONE commit")
      require(before.subsetOf(after.map(TxLog.entryPath).toSet),
        "a sub-threshold matched-DELETE must keep every data file in place")
      require(after.exists(_.contains("#dv:")),
        s"the log must show DV entries from the MERGE, got $after")
      // bridge/catalog agreement asserted ONCE per corpus, here in the
      // build (the artifact is immutable behind its fingerprinted
      // marker — re-asserting per run tripled the gated query's work,
      // review r15)
      require(DeltaBridge.read(s, p).count() ==
        s.sql(s"SELECT count(*) FROM graft.`$p`").head().getLong(0),
        "bridge and catalog disagree on the post-merge DV'd table")
      java.nio.file.Files.createFile(java.nio.file.Paths.get(p, "_SUCCESS"))
    }
    s.sql(
      s"""SELECT c_mktsegment, count(*) AS n_rows,
         |  CAST(sum(c_custkey) AS BIGINT) AS sum_key,
         |  CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
         |FROM graft.`$table`
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  }

  val q349Sql: String =
    """SELECT c_mktsegment, count(*) AS n_rows,
      |  CAST(sum(c_custkey) AS BIGINT) AS sum_key,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      |FROM (
      |  SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
      |  WHERE NOT (c_custkey % 89 = 0 AND c_acctbal < 9000)
      |  UNION ALL SELECT 9000001, 111.25, 'SYNTH'
      |  UNION ALL SELECT 9000002, 222.50, 'SYNTH'
      |  UNION ALL SELECT 9000003, 333.75, 'SYNTH')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q340_partitioned_dml" -> q340PartitionedDml,
    "q347_dv_delete"      -> q347DvDelete,
    "q349_dv_merge"       -> q349DvMerge,
    "q307_bloom_skipping" -> q307BloomSkipping,
    "q111_table_checksum" -> q111TableChecksum,
    "q112_file_skipping"  -> q112FileSkipping,
    "q113_compaction"     -> q113Compaction,
    "q186_schema_evolution" -> q186SchemaEvolution,
    "q251_txlog_time_travel" -> q251TxlogTimeTravel,
    "q252_txlog_cdc"      -> q252TxlogCdc,
    "q253_txlog_merge"    -> q253TxlogMerge,
    "q254_txlog_skipping" -> q254TxlogSkipping,
    "q300_ivm_agg"        -> q300IvmAgg,
    "q301_zorder_box"     -> q301ZorderBox,
    "q336_txlog_delete"   -> q336TxlogDelete,
    "q337_txlog_update"   -> q337TxlogUpdate,
    "q338_txlog_restore"  -> q338TxlogRestore)

  val oracle: Map[String, String] = Map(
    "q340_partitioned_dml" -> q340Sql,
    "q347_dv_delete"      -> q347Sql,
    "q349_dv_merge"       -> q349Sql,
    "q307_bloom_skipping" -> q307Sql,
    "q111_table_checksum" -> q111Sql,
    "q112_file_skipping"  -> q112Sql,
    "q113_compaction"     -> q113Sql,
    "q186_schema_evolution" -> q186Sql,
    "q251_txlog_time_travel" -> q251Sql,
    "q252_txlog_cdc"      -> q252Sql,
    "q253_txlog_merge"    -> q253Sql,
    "q254_txlog_skipping" -> q254Sql,
    "q300_ivm_agg"        -> q300Sql,
    "q301_zorder_box"     -> q301Sql,
    "q336_txlog_delete"   -> q336Sql,
    "q337_txlog_update"   -> q337Sql,
    "q338_txlog_restore"  -> q338Sql)
}
