package graft.sources.v2

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.sources.{DeltaBridge, TxLog}
import org.apache.spark.sql.functions.col

/** The SQL-catalog mount: SELECT / time travel / INSERT / DELETE over
  * `graft.`/path`` identifiers, planned through the log-driven V2 index. */
class GraftDeltaCatalogSpec extends SparkSpec {

  private lazy val catalogReady: Unit =
    spark.conf.set("spark.sql.catalog.graft",
      classOf[GraftDeltaCatalog].getName)

  private def freshTable(): String = { catalogReady; tmpDir("graft_cat") }

  import org.apache.spark.sql.DataFrame
  private def sqlDf(q: String): DataFrame = { catalogReady; spark.sql(q) }

  test("SELECT through the catalog: values, column pruning, VERSION AS OF " +
    "and TIMESTAMP AS OF time travel — all against the exported log") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
    TxLog.overwrite(spark, Seq((3L, "c")).toDF("id", "v"), t)
    assert(sqlDf(s"SELECT id, v FROM graft.`$t` ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((3L, "c")))
    assert(sqlDf(s"SELECT id FROM graft.`$t` VERSION AS OF 0 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // pin commit mtimes for the timestamp form (UTC session)
    val ld = Paths.get(t, "_delta_log")
    val t0 = 1700000000000L
    Files.setLastModifiedTime(ld.resolve(f"${0L}%020d.json"),
      java.nio.file.attribute.FileTime.fromMillis(t0))
    Files.setLastModifiedTime(ld.resolve(f"${1L}%020d.json"),
      java.nio.file.attribute.FileTime.fromMillis(t0 + 3600000L))
    // 2023-11-14 22:14:00 UTC = t0 + 40 s: between the commits → version 0
    assert(sqlDf(s"SELECT id FROM graft.`$t` " +
        "TIMESTAMP AS OF '2023-11-14 22:14:00' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("catalog reads PRUNE like the native relation: partition predicates " +
    "drop non-matching partitions' files at the metadata level") {
    import spark.implicits._
    val t = freshTable()
    Seq((1L, "US"), (2L, "US"), (3L, "DE"))
      .toDF("id", "country")
      .write.format("graft-delta").option("partitionBy", "country")
      .mode("append").save(t)
    val q = sqlDf(s"SELECT id FROM graft.`$t` WHERE country = 'US'")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // the planned scan must carry the partition predicate, and the
    // index's listing under it must surface the US partition's files only
    import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
    val scan = q.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b }.get
    val fs = scan.scan.asInstanceOf[FileScan]
    assert(fs.partitionFilters.nonEmpty,
      "the country predicate must plan as a partition filter")
    val listed = fs.fileIndex.listFiles(fs.partitionFilters, fs.dataFilters)
      .flatMap(_.files.map(_.getPath.toString))
    assert(listed.nonEmpty && listed.forall(_.contains("country=US")),
      s"only the US partition may reach the scan, got: $listed")
  }

  test("INSERT INTO appends a new Delta version; INSERT OVERWRITE replaces " +
    "the live set — both land as TxLog commits visible to every mount") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "v"), t)
    sqlDf(s"INSERT INTO graft.`$t` VALUES (2L, 'b')")
    assert(sqlDf(s"SELECT id FROM graft.`$t` ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // visible through the non-catalog mounts too (one log, three mounts)
    assert(spark.read.format("graft-delta").load(t).count() == 2)
    assert(TxLog.read(spark, t).count() == 2)
    sqlDf(s"INSERT OVERWRITE graft.`$t` VALUES (9L, 'z')")
    assert(sqlDf(s"SELECT id, v FROM graft.`$t`")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((9L, "z")))
    // history preserved: the pre-overwrite state time-travels
    assert(sqlDf(s"SELECT count(*) AS n FROM graft.`$t` VERSION AS OF 1")
      .head().getLong(0) == 2L)
  }

  test("DELETE FROM translates the pushed predicates to the file-granular " +
    "copy-on-write delete: TRUE rows go, untouched files carry over by " +
    "reference, and the delete is a new time-travelable version") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t,
      partFiles = 1)
    TxLog.append(spark, Seq((10L, "x")).toDF("id", "v"), t, partFiles = 1)
    val filesBefore = TxLog.liveFiles(t)
    sqlDf(s"DELETE FROM graft.`$t` WHERE id = 1 AND v = 'a'")
    assert(sqlDf(s"SELECT id FROM graft.`$t` ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 10L))
    assert(TxLog.liveFiles(t).contains(filesBefore(1)),
      "the matchless file must survive by reference")
    assert(!TxLog.liveFiles(t).contains(filesBefore.head),
      "the hit file must be rewritten out")
    // the delete exported as a Delta version; pre-delete state travels
    assert(spark.read.format("graft-delta").option("versionAsOf", "1")
      .load(t).count() == 3)
    // IN + IS NULL forms translate too
    sqlDf(s"DELETE FROM graft.`$t` WHERE id IN (10L, 11L) OR v IS NULL")
    assert(sqlDf(s"SELECT id FROM graft.`$t`")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("DELETE with a predicate outside the proven translation set fails " +
    "LOUD (never a wrong or partial delete); time-travel loads and " +
    "foreign Delta logs are read-only") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "ab")).toDF("id", "v"), t)
    val e = intercept[Exception] {
      sqlDf(s"DELETE FROM graft.`$t` WHERE length(v) > 1")
    }
    assert(TxLog.read(spark, t).count() == 1,
      s"an untranslatable DELETE must not remove rows (failed with: $e)")
    // a foreign _delta_log (no TxLog behind it) mounts read-only
    val f = tmpDir("graft_foreign")
    TxLog.append(spark, Seq((5L, "q")).toDF("id", "v"), f)
    // strip the TxLog marker: what remains is a foreign-producer Delta table
    graft.sources.ForeignLog.strip(f)
    assert(sqlDf(s"SELECT id FROM graft.`$f`").head().getLong(0) == 5L,
      "foreign logs read fine")
    intercept[Exception] {
      sqlDf(s"DELETE FROM graft.`$f` WHERE id = 5")
    }
    assert(spark.read.format("graft-delta").load(f).count() == 1,
      "a foreign table's rows must survive the refused delete")
  }

  test("a missing table raises the catalog's NoSuchTable, and namespaced " +
    "identifiers are rejected with the path-catalog contract") {
    val missing = intercept[Exception] {
      sqlDf(s"SELECT * FROM graft.`/definitely/not/a/table`").collect()
    }
    assert(missing.getMessage.toLowerCase.contains("table"))
    val ns = intercept[Exception] {
      sqlDf("SELECT * FROM graft.db.tbl").collect()
    }
    assert(ns.getMessage.contains("path catalog") ||
      ns.getMessage.toLowerCase.contains("table"))
  }

  test("TIMESTAMP AS OF on a TxLog table that was NEVER exported works: " +
    "the catalog exports pending commits BEFORE resolving the instant " +
    "(same prologue as plain loads and VERSION AS OF)") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
    TxLog.overwrite(spark, Seq((3L, "c")).toDF("id", "v"), t)
    // no exportLog here — the catalog must export, then resolve. A
    // far-past instant proves resolution ran against a real log (the
    // pre-fix path failed earlier with a 'no JSON commits' require).
    val past = intercept[Exception] {
      sqlDf(s"SELECT id FROM graft.`$t` " +
        "TIMESTAMP AS OF '1999-01-01 00:00:00'").collect()
    }
    assert(past.getMessage.contains("predates"),
      s"resolution must see the freshly exported log, got: $past")
    assert(Files.exists(Paths.get(t, "_delta_log", f"${1L}%020d.json")),
      "the timestamp load path must have exported the TxLog commits")
    // with the export in place, pin mtimes and resolve for real
    val t0 = 1700000000000L
    val ld = Paths.get(t, "_delta_log")
    Files.setLastModifiedTime(ld.resolve(f"${0L}%020d.json"),
      java.nio.file.attribute.FileTime.fromMillis(t0))
    Files.setLastModifiedTime(ld.resolve(f"${1L}%020d.json"),
      java.nio.file.attribute.FileTime.fromMillis(t0 + 3600000L))
    assert(sqlDf(s"SELECT id FROM graft.`$t` " +
        "TIMESTAMP AS OF '2023-11-14 22:14:00' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L),
      "between the commits resolves to the pre-overwrite version")
  }

  test("writeStream.toTable lands each micro-batch as ONE Delta version " +
    "through the V2 streaming sink, exactly once across a checkpoint " +
    "restart, with batch/stream parquet byte-compatibility") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.SQLContext]
    val t = freshTable()
    // the table must exist (the catalog creates through writes, not DDL)
    TxLog.append(spark, Seq((0L, "seed")).toDF("id", "v"), t)
    val ckpt = Files.createTempDirectory("cat_sink_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    def start() = mem.toDF().toDF("id", "v")
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append").toTable(s"graft.`$t`")
    mem.addData((1L, "a"), (2L, "b"))
    val q = start()
    try {
      q.processAllAvailable()
      mem.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    // seed + two micro-batches → three log versions
    assert(DeltaBridge.versions(t).size == 3,
      s"got versions ${DeltaBridge.versions(t)}")
    assert(sqlDf(s"SELECT id, v FROM graft.`$t` ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((0L, "seed"), (1L, "a"), (2L, "b"), (3L, "c")))
    // restart against the same checkpoint: replayed offsets, no version
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(DeltaBridge.versions(t).size == 3,
      "a restart's replay must not create a new version")
    // streamed files are ordinary parquet a plain batch reader mounts
    val streamed = TxLog.liveFiles(t)
      .filter(_.contains("stage-stream-e"))
    assert(streamed.nonEmpty, "streamed epochs must be in the live set")
    assert(spark.read.parquet(
        streamed.map(e => s"$t/${TxLog.entryPath(e)}"): _*)
      .count() == 3)
  }

  test("writeStream.toTable: a ZERO-ROW epoch commits NOTHING — no " +
    "version churn, no empty exported commit file (ADVICE r13)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.SQLContext]
    val t = freshTable()
    TxLog.append(spark, Seq((200L, "seed")).toDF("id", "v"), t)
    val mem = MemoryStream[(Long, String)]
    // the filter drops everything below 100 — epochs still FIRE, with
    // zero rows after the transform
    val q = mem.toDF().toDF("id", "v").filter($"id" > 100)
      .writeStream.option("checkpointLocation",
        Files.createTempDirectory("cat_sink_empty").toString)
      .outputMode("append").toTable(s"graft.`$t`")
    try {
      mem.addData((1L, "dropped"), (2L, "dropped"))
      q.processAllAvailable()
      assert(TxLog.versions(t).size == 1 &&
        DeltaBridge.versions(t).size == 1,
        "a zero-row epoch must not mint a version or an exported commit")
      // a later non-empty epoch still lands normally
      mem.addData((101L, "kept"))
      q.processAllAvailable()
    } finally q.stop()
    assert(DeltaBridge.versions(t).size == 2)
    assert(sqlDf(s"SELECT id FROM graft.`$t` ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(101L, 200L))
  }

  test("writeStream.toTable on a PARTITIONED target: epochs land under " +
    "Hive col=value paths (values escaped, nulls defaulted), partition " +
    "pruning works on the streamed rows, exactly-once across restart") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.SQLContext]
    val t = freshTable()
    TxLog.appendPartitioned(spark,
      Seq((1L, "a", "US")).toDF("id", "v", "country"), t, Seq("country"))
    val ckpt = Files.createTempDirectory("cat_sink_part").toString
    val mem = MemoryStream[(Long, String, String)]
    def start() = mem.toDF().toDF("id", "v", "country")
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append").toTable(s"graft.`$t`")
    // a URI-hostile value and a NULL partition value ride the paths
    mem.addData((2L, "b", "DE"), (3L, "c", "a b/c"), (4L, "d", null))
    val q = start()
    try q.processAllAvailable() finally q.stop()
    val live = TxLog.liveFiles(t).map(TxLog.entryPath)
    assert(live.exists(_.contains("country=DE")) &&
      live.exists(_.contains("country=a b%2Fc")) &&
      live.exists(_.contains("country=__HIVE_DEFAULT_PARTITION__")),
      s"streamed rows must land under escaped Hive paths: $live")
    // partition pruning + values through the catalog scan
    assert(sqlDf(s"SELECT id FROM graft.`$t` WHERE country = 'a b/c'")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    assert(sqlDf(s"SELECT id, v, country FROM graft.`$t` ORDER BY id")
      .collect().map(r => (r.getLong(0), Option(r.getString(2)))).toSeq ==
      Seq((1L, Some("US")), (2L, Some("DE")), (3L, Some("a b/c")),
        (4L, None)))
    // restart against the same checkpoint: replayed epoch, no version
    val versions = DeltaBridge.versions(t).size
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(DeltaBridge.versions(t).size == versions,
      "a restart's replay must not create a new version")
  }

  test("writeStream.toTable refuses non-TxLog (foreign) targets loudly " +
    "at stream start") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.SQLContext]
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "v"), t)
    // strip the TxLog marker: what remains is a foreign _delta_log mount
    graft.sources.ForeignLog.strip(t)
    val mem = MemoryStream[(Long, String)]
    mem.addData((2L, "b"))
    val q = mem.toDF().toDF("id", "v")
      .writeStream.option("checkpointLocation",
        Files.createTempDirectory("cat_sink_bad").toString)
      .toTable(s"graft.`$t`")
    val e = intercept[Exception] {
      try q.processAllAvailable() finally q.stop()
    }
    def msgs(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(t0 =>
        Option(t0.getMessage).toSeq ++ msgs(t0.getCause))
    assert(msgs(e).exists(_.contains("TxLog-backed")),
      s"got: ${msgs(e)}")
  }

  test("CALL procedures: history / optimize / restore / vacuum run the " +
    "lifecycle verbs from pure SQL and return metadata-sized rows") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      t, partFiles = 2)
    TxLog.append(spark, Seq((3L, "c")).toDF("id", "v"), t)
    // history exports pending commits first, like every catalog load
    val h = sqlDf(s"CALL graft.history('$t')").collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(0L, 1L),
      s"history must list the exported versions, got ${h.toSeq}")
    assert(h.map(r => (r.getLong(2), r.getLong(3))).toSeq ==
      Seq((2L, 0L), (1L, 0L)), "per-version add/remove counts")
    // optimize compacts to one file and lands one new version
    val ov = sqlDf(s"CALL graft.optimize('$t')").collect()
    assert(ov.map(_.getLong(0)).toSeq == Seq(3L))
    assert(TxLog.liveFiles(t).size == 1)
    assert(sqlDf(s"SELECT count(*) AS n FROM graft.`$t`")
      .collect().head.getLong(0) == 3L)
    // restore rolls back to the pre-optimize state (named argument form)
    sqlDf(s"CALL graft.restore('$t', version => 2)").collect()
    assert(TxLog.liveFiles(t).size == 3,
      "restore must re-reference the pre-compaction files")
    // vacuum: the compacted file (now unreferenced by the retained
    // window after another optimize) gets swept; counts come back
    sqlDf(s"CALL graft.optimize('$t')").collect()
    val vc = sqlDf(
      s"CALL graft.vacuum('$t', retain_versions => 1, min_age_ms => 0)")
      .collect()
    assert(vc.length == 1 && vc.head.getLong(0) >= 3L,
      s"vacuum must sweep the unreferenced generations, got ${vc.toSeq}")
    assert(sqlDf(s"SELECT count(*) AS n FROM graft.`$t`")
      .collect().head.getLong(0) == 3L, "the head must survive vacuum")
    // CALL checkpoint pins the head; history then reports the covered
    // prefix as checkpointed and vacuum may retire its JSON
    val cv = sqlDf(s"CALL graft.checkpoint('$t')").collect()
    assert(cv.length == 1 &&
      cv.head.getLong(0) == TxLog.versions(t).length - 1L,
      s"checkpoint must pin the exported head, got ${cv.toSeq}")
    val hc = sqlDf(s"CALL graft.history('$t')").collect()
    assert(hc.forall(_.getBoolean(5)),
      s"every version at or below the pinned head is checkpointed: " +
        s"${hc.toSeq}")
    assert(sqlDf(s"SELECT count(*) AS n FROM graft.`$t`")
      .collect().head.getLong(0) == 3L,
      "the snapshot must survive the explicit checkpoint")
    // merge-on-read delete from SQL: the sub-threshold file keeps its
    // data file and gains a deletion vector; the catalog read honors it
    sqlDf(s"CALL graft.delete_dv('$t', 'id = 1', " +
      "max_dv_fraction => 0.5)").collect()
    assert(TxLog.liveFiles(t).exists(_.contains("#dv:")),
      s"delete_dv must publish a DV entry: ${TxLog.liveFiles(t)}")
    assert(sqlDf(s"SELECT id FROM graft.`$t` ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 3L),
      "the catalog scan must drop exactly the DV'd row")
    // unknown procedure and foreign-table mutation refuse loudly
    val unknown = intercept[Exception] {
      sqlDf(s"CALL graft.nonsense('$t')").collect()
    }
    assert(unknown.getMessage.contains("no procedure") ||
      unknown.getMessage.contains("Failed to load routine"),
      s"got: $unknown")
    val foreign = freshTable()
    assert(intercept[Exception] {
      sqlDf(s"CALL graft.optimize('$foreign')").collect()
    }.getMessage.contains("TxLog-backed"))
  }

  test("two INDEPENDENT streaming queries into the same table both land: " +
    "epoch dedup is keyed on (queryId, epoch), not epoch alone") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.SQLContext]
    val t = freshTable()
    TxLog.append(spark, Seq((0L, "seed")).toDF("id", "v"), t)
    def runOne(tag: String, k: Long): Unit = {
      val mem = MemoryStream[(Long, String)]
      mem.addData((k, tag))
      val q = mem.toDF().toDF("id", "v")
        .writeStream.option("checkpointLocation",
          Files.createTempDirectory(s"cat_sink_$tag").toString)
        .outputMode("append").toTable(s"graft.`$t`")
      try q.processAllAvailable() finally q.stop()
    }
    runOne("qa", 1L) // query A, epoch 0
    runOne("qb", 2L) // query B, ALSO epoch 0 — must not be swallowed
    assert(sqlDf(s"SELECT id, v FROM graft.`$t` ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((0L, "seed"), (1L, "qa"), (2L, "qb")),
      "the second query's epoch-0 batch must land, not dedup against A's")
  }

  test("CALL optimize on a PARTITIONED table compacts per partition and " +
    "preserves path-borne values") {
    import spark.implicits._
    val t = freshTable()
    TxLog.appendPartitioned(spark,
      Seq((1L, "US"), (2L, "DE")).toDF("id", "country"), t, Seq("country"))
    TxLog.appendPartitioned(spark,
      Seq((3L, "US"), (4L, "DE")).toDF("id", "country"), t, Seq("country"))
    sqlDf(s"CALL graft.optimize('$t')").collect()
    val live = TxLog.liveFiles(t).map(TxLog.entryPath)
    assert(live.size == 2 && live.count(_.contains("country=US")) == 1 &&
      live.count(_.contains("country=DE")) == 1,
      s"one compacted file per partition expected: $live")
    assert(sqlDf(s"SELECT id FROM graft.`$t` WHERE country = 'US' " +
        "ORDER BY id").collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
  }
}
