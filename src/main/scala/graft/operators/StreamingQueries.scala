package graft.operators

import graft.Tables
import graft.streaming.EventStreams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch twins of the streaming transforms — the SAME `DataFrame =>
  * DataFrame` functions run here on the batch events table (Structured
  * Streaming's unification guarantee), hash-checked against DuckDB; the
  * incremental/stateful execution of the identical plans is covered by
  * StreamingSpec with MemoryStream.
  */
object StreamingQueries {

  def q41Sliding(s: SparkSession, dir: String): DataFrame =
    EventStreams.slidingCounts(Tables.events(s, dir))
      .orderBy("wstart")

  val q41Sql: String =
    """SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS wstart, count(*) AS n_events
      |FROM (
      |  SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
      |                 time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS wstart
      |  FROM events)
      |GROUP BY wstart ORDER BY wstart""".stripMargin

  def q42Sessions(s: SparkSession, dir: String): DataFrame =
    EventStreams.sessions(Tables.events(s, dir))
      .orderBy("user_id", "session_start")

  val q42Sql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL 1 DAY THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |sess AS (
      |  SELECT user_id, ts, value,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS sid
      |  FROM marked)
      |SELECT user_id,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  count(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  def q43HourlyByType(s: SparkSession, dir: String): DataFrame =
    EventStreams.hourlyByType(Tables.events(s, dir))
      .orderBy("hour", "event_type")

  val q43Sql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  /** Batch twin of the streaming exact-dedup: events ∪ replayed copies of
    * every 5th event (an at-least-once delivery corpus with known
    * duplicates), deduped on event_id. The replayed rows are bit-identical
    * to the originals, so subset-dedup is deterministic here (event_id is
    * unique in the base table — any survivor is the same row). The
    * streaming execution (watermark-bounded state, cross-batch eviction) is
    * covered in StreamingSpec. */
  def q51StreamDedup(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val replayed = ev.unionByName(ev.filter(col("event_id") % 5 === 0))
    EventStreams.dedupEvents(replayed)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id")
  }

  val q51Sql: String =
    """WITH corpus AS (
      |  SELECT * FROM events
      |  UNION ALL
      |  SELECT * FROM events WHERE event_id % 5 = 0)
      |SELECT DISTINCT event_id, user_id, event_type, value
      |FROM corpus ORDER BY event_id""".stripMargin

  /** Batch twin of the stream-stream interval join: view events joined to
    * click events of the same user within the following hour. */
  def q53StreamJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    EventStreams.attributedClicks(
      ev.filter(col("event_type") === "view"),
      ev.filter(col("event_type") === "click"))
      .select("user_id", "view_id", "click_id")
      .orderBy("user_id", "view_id", "click_id")
  }

  val q53Sql: String =
    """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
      |FROM (SELECT * FROM events WHERE event_type = 'view') v
      |JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON v.user_id = c.user_id
      |  AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
      |ORDER BY 1, 2, 3""".stripMargin

  /** q79: batch twin of the stream-static enrichment join — events ⟕ a
    * 150-row user-tier dimension (broadcast), aggregated per tier. The
    * streaming execution of the same `EventStreams.enriched` transform is
    * exercised in StreamingSpec over MemoryStream. */
  def q79StreamStatic(s: SparkSession, dir: String): DataFrame = {
    val dim = s.range(150).select(col("id").as("user_id"),
      concat(lit("tier_"), col("id") % 3).as("tier"))
    EventStreams.enriched(Tables.events(s, dir), dim)
      .groupBy("tier")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(38,6)")).cast("double").as("sum_value"))
      .orderBy("tier")
  }

  // the CASE mirrors the LEFT join: events whose user_id falls outside the
  // 150-row static dim surface as a NULL tier group (first seen at sf0.1,
  // where user_ids exceed the dim domain)
  val q79Sql: String =
    """SELECT CASE WHEN user_id < 150
      |    THEN concat('tier_', CAST(user_id % 3 AS VARCHAR)) END AS tier,
      |  count(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1 ORDER BY tier NULLS FIRST""".stripMargin

  /** q348: PARTITIONED streaming sink through the SQL catalog — a REAL
    * streaming query (`writeStream.toTable`) lands the odd-key half of
    * customers into a Hive-partitioned graft-delta table whose even-key
    * half was batch-seeded: executors split each epoch across
    * per-partition writers (values escaped on the paths, data files
    * exclude the partition column — [[graft.sources.v2
    * .GraftDeltaStreamingWrite]]), the commit is ONE exactly-once
    * TxLog/Delta version, and the gate reads the union back through the
    * catalog scan with partition pruning live. StreamingSpec /
    * GraftDeltaCatalogSpec cover restart-replay and null/escaped values;
    * this pins the VALUES of the batch+stream union against DuckDB.
    * Build-once per JVM (the stream replays as a no-op only against its
    * own checkpoint — reruns skip the stream entirely). */
  def q348StreamPartitionedSink(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLog
    s.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.v2.GraftDeltaCatalog].getName)
    val tmp = graft.SparkSupport.roundtripPath("stream_part_rt", dir)
    // completion marker OUTSIDE the table dir (a file inside would be a
    // foreign object in TxLog's layout): the build spans a batch seed AND
    // a streaming write, and gating on log non-emptiness would let a
    // crash between them leave a half-built fixture that later runs
    // silently accept (ADVICE r14). No marker + a non-empty log = a
    // half-build — wipe and rebuild.
    val done = new java.io.File(tmp + ".complete")
    if (!done.isFile) {
      if (TxLog.head(tmp) > 0)
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      val c = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      TxLog.appendPartitioned(s, c.filter(col("c_custkey") % 2 === 0),
        tmp, Seq("c_mktsegment"))
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        s.sqlContext.asInstanceOf[org.apache.spark.sql.SQLContext]
      val mem = MemoryStream[(Long, String, Double, String)]
      mem.addData(c.filter(col("c_custkey") % 2 === 1).collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
          r.getString(3))))
      val q = mem.toDF()
        .toDF("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .writeStream
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("q348_ckpt").toString)
        .outputMode("append")
        .toTable(s"graft.`$tmp`")
      try q.processAllAvailable() finally q.stop()
      require(done.createNewFile() || done.isFile,
        s"q348: cannot write the completion marker $done")
    }
    s.sql(
      s"""SELECT c_mktsegment, count(*) AS n_rows,
         |  CAST(sum(c_custkey) AS BIGINT) AS sum_key,
         |  CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
         |FROM graft.`$tmp`
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  }

  val q348Sql: String =
    """SELECT c_mktsegment, count(*) AS n_rows,
      |  CAST(sum(c_custkey) AS BIGINT) AS sum_key,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  private[graft] val StreamDvSrcLayout = graft.SparkSupport.Layout("stream_dv_src", 1)
  /** q350: STREAMING over a DELETION-VECTOR delete — the readStream
    * contract of [[graft.sources.DeltaBridgeRelation]] extended to
    * merge-on-read tables (VERDICT r14 directive 6): the fixture's
    * version history is an append then a sub-threshold DV DELETE
    * (remove + re-add-with-vector of the SAME file), and the gate
    * replays it from `startingVersion=0` with `ignoreChanges=true` —
    * version 0 delivers the file's full rows, the DV version delivers
    * its POST-DELETE row set (never the raw physical rows: a vector-
    * blind batch would resurrect the deleted keys into every consumer).
    * The streamed union is aggregated and pinned against DuckDB; the
    * refusal path (no ignoreChanges) and batch-zero-over-DV'd-head are
    * spec'd in DeltaBridgeSpec. Each run drives a REAL stream into a
    * fresh memory sink over the build-once fixture. */
  def q350StreamDvDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLog
    val table = graft.sources.TxLog.layoutArtifact(StreamDvSrcLayout, dir) { p =>
      val c = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .filter(col("c_custkey") % 5 === 0)
      TxLog.append(s, c, p, partFiles = 1)
      TxLog.deleteWhereDv(s, p, "c_custkey % 485 = 0", maxDvFraction = 0.5)
      require(TxLog.liveFiles(p).exists(_.contains("#dv:")),
        "q350 fixture must carry a DV entry")
      java.nio.file.Files.createFile(java.nio.file.Paths.get(p, "_SUCCESS"))
    }
    // fresh sink per run (bench reps share the session): drop the old view
    scala.util.Try(s.catalog.dropTempView("q350_sink"))
    // the stream checkpoint lives under the session's scratch dir and is
    // deleted after the run — a per-run system-temp dir accumulated
    // unboundedly across gate rounds (review r15)
    val ckpt = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(graft.SparkSupport.scratchDir), "q350_ckpt")
    val q = s.readStream.format("graft-delta")
      .option("ignoreChanges", "true").option("startingVersion", "0")
      .load(table)
      .writeStream.format("memory").queryName("q350_sink")
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try q.processAllAvailable() finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(ckpt.toFile): Unit
    }
    s.sql(
      """SELECT c_mktsegment, count(*) AS n_rows,
        |  CAST(sum(c_custkey) AS BIGINT) AS sum_key,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
        |FROM q350_sink
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  }

  val q350Sql: String =
    """WITH s AS (
      |  SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
      |  WHERE c_custkey % 5 = 0),
      |u AS (
      |  SELECT * FROM s
      |  UNION ALL SELECT * FROM s WHERE c_custkey % 485 <> 0)
      |SELECT c_mktsegment, count(*) AS n_rows,
      |  CAST(sum(c_custkey) AS BIGINT) AS sum_key,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      |FROM u GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q348_stream_partitioned_sink" -> q348StreamPartitionedSink,
    "q350_stream_dv_delete" -> q350StreamDvDelete,
    "q79_stream_static"   -> q79StreamStatic,
    "q41_sliding_window"  -> q41Sliding,
    "q42_session_window"  -> q42Sessions,
    "q43_hourly_by_type"  -> q43HourlyByType,
    "q51_stream_dedup"    -> q51StreamDedup,
    "q53_stream_join"     -> q53StreamJoin)

  val oracle: Map[String, String] = Map(
    "q348_stream_partitioned_sink" -> q348Sql,
    "q350_stream_dv_delete" -> q350Sql,
    "q79_stream_static"   -> q79Sql,
    "q41_sliding_window"  -> q41Sql,
    "q42_session_window"  -> q42Sql,
    "q43_hourly_by_type"  -> q43Sql,
    "q51_stream_dedup"    -> q51Sql,
    "q53_stream_join"     -> q53Sql)
}
