package graft.pipeline

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import java.sql.Date

/** End-to-end medallion test on FIXTURES.md-shaped inputs: staged FDIC JSON
  * + NCUA CSVs → bronze parquet → silver → gold, golden-row asserted.
  * Covers every cleanse edge: ACTIVE filter, regex date gates (good + bad),
  * casing, both website imputation branches, unknown-state quarantine,
  * ACCT_671 drop, mixed-case Acct_891, and the drop-incomplete wide table.
  */
class MedallionSpec extends SparkSpec {

  private def writeText(dir: String, name: String, content: String): String = {
    val p = Paths.get(dir, name)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
    p.toString
  }

  private lazy val base = tmpDir("medallion")
  private lazy val paths = LayerPaths(base)

  private def stageBronze(): Unit = {
    val staging = tmpDir("staging")
    // FDIC staged JSON — one {"data": {...}} per line (K5 shape).
    val instJson = writeText(staging, "inst.json",
      """{"data": {"ACTIVE": "1", "CERT": "1", "CITY": "CHARLOTTE", "ID": "1", "NAME": "First Bank", "REPDTE": "3/31/2020", "STNAME": "NORTH CAROLINA", "WEBADDR": "WWW.FIRST.COM"}}
        |{"data": {"ACTIVE": "1", "CERT": "2", "CITY": "austin", "ID": "2", "NAME": "Second Bank", "REPDTE": "3/31/2020", "STNAME": "TEXAS", "WEBADDR": ""}}
        |{"data": {"ACTIVE": "0", "CERT": "3", "CITY": "DENVER", "ID": "3", "NAME": "Closed Bank", "REPDTE": "3/31/2020", "STNAME": "COLORADO", "WEBADDR": "www.closed.com"}}
        |""".stripMargin)
    val finJson = writeText(staging, "fin.json",
      """{"data": {"ASSET": "1000", "CERT": "1", "DEP": "800", "ID": "1_20200331", "REPDTE": "20200331"}}
        |{"data": {"ASSET": "1100", "CERT": "1", "DEP": "850", "ID": "1_20200630", "REPDTE": "20200630"}}
        |{"data": {"ASSET": "2000", "CERT": "2", "DEP": "1500", "ID": "2_20200331", "REPDTE": "20200331"}}
        |{"data": {"ASSET": "2100", "CERT": "2", "DEP": "1600", "ID": "2_bad", "REPDTE": "garbage"}}
        |""".stripMargin)
    Bronze.appendParquet(
      Bronze.readStagedFdicJson(spark, instJson, Schemas.bankInstitutionFields),
      paths.bronze("institutions"))
    Bronze.appendParquet(
      Bronze.readStagedFdicJson(spark, finJson, Schemas.bankFinancialFields),
      paths.bronze("financials"))
    // NCUA CSVs (header + inferSchema). CU 200's STATE is unknown → null
    // after map lookup → quarantined by na.drop.
    val foicu = writeText(staging, "FOICU.txt",
      """CU_NUMBER,CU_NAME,CITY,STATE,CYCLE_DATE,EXTRA
        |100,NAVY FEDERAL,vienna,VA,3/31/2020 0:00:00,x
        |100,NAVY FEDERAL,vienna,VA,6/30/2020 0:00:00,x
        |200,LOST STATE,nowhere,XX,3/31/2020 0:00:00,x
        |""".stripMargin)
    val fs220 = writeText(staging, "FS220.txt",
      """CU_NUMBER,CYCLE_DATE,ACCT_010,ACCT_018,ACCT_671
        |100,3/31/2020 0:00:00,5000,4000,0
        |100,6/30/2020 0:00:00,5500,4300,0
        |200,3/31/2020 0:00:00,9000,7000,0
        |""".stripMargin)
    val fs220d = writeText(staging, "FS220D.txt",
      """CU_NUMBER,CYCLE_DATE,Acct_891
        |100,3/31/2020 0:00:00,NavyFederal.ORG
        |100,6/30/2020 0:00:00,NavyFederal.ORG
        |200,3/31/2020 0:00:00,
        |""".stripMargin)
    Bronze.appendParquet(Bronze.readNcuaCsv(spark, foicu), paths.bronze("foicu"))
    Bronze.appendParquet(Bronze.readNcuaCsv(spark, fs220), paths.bronze("fs220"))
    Bronze.appendParquet(Bronze.readNcuaCsv(spark, fs220d), paths.bronze("fs220d"))
  }

  test("bronze → silver: cleanse, conform, join, union") {
    stageBronze()
    Medallion.updateSilverLayer(spark, paths, numPartitions = 2)
    val silver = Medallion.readSilver(spark, paths)
    assert(silver.columns.toSeq == Schemas.silver.fieldNames.toSeq)

    val rows = silver.collect().map(r =>
      (r.getInt(0), r.getString(1), r.getString(2), r.getDate(3).toString,
        r.getString(4), r.getString(5), r.getLong(6), r.getLong(7), r.getString(8)))
      .toSet
    val expected = Set(
      (1, "Charlotte", "FIRST BANK", "2020-03-31", "North Carolina",
        "www.first.com", 1000L, 800L, "bank"),
      (1, "Charlotte", "FIRST BANK", "2020-06-30", "North Carolina",
        "www.first.com", 1100L, 850L, "bank"),
      (2, "Austin", "SECOND BANK", "2020-03-31", "Texas",
        "Not Provided", 2000L, 1500L, "bank"),
      (100, "Vienna", "NAVY FEDERAL", "2020-03-31", "Virginia",
        "navyfederal.org", 5000L, 4000L, "credit union"),
      (100, "Vienna", "NAVY FEDERAL", "2020-06-30", "Virginia",
        "navyfederal.org", 5500L, 4300L, "credit union"))
    assert(rows == expected)
  }

  test("silver → gold: directory, state table, quarterly wide tables") {
    Medallion.updateGoldLayerDelta(spark, paths)
    import graft.sources.{DeltaBridge, TxLog}

    val dir = DeltaBridge.read(spark, paths.gold("institution_directory_by_type"))
    assert(dir.count() == 3)
    assert(dir.columns.toSet ==
      Set("name", "charter_number", "institution_type", "city", "state", "website"))
    // partitionBy(institution_type, state) → a live add under Hive-style dirs
    assert(TxLog.liveFiles(paths.gold("institution_directory_by_type"))
      .map(TxLog.entryPath)
      .exists(_.contains("institution_type=credit union/state=Virginia/")))

    val byState = DeltaBridge.read(spark, paths.gold("assets_deposits_by_state"))
    val q2 = byState.filter("year = 2020 AND quarter = 2").collect()
    assert(q2.map(_.getAs[Long]("assets_total")).toSet == Set(1100L, 5500L))

    val qa = DeltaBridge.read(spark, paths.gold("quarterly_assets_table"))
    // pinned cols first, then date cols sorted desc (P8)
    assert(qa.columns.toSeq == Seq("charter_number", "institution_type", "name",
      "2020-06-30", "2020-03-31"))
    // cert 2 lacks Q2 → dropped by the reference's na.drop contract
    val wide = qa.collect().map(r => (r.getInt(0),
      r.getAs[Long]("2020-06-30"), r.getAs[Long]("2020-03-31"))).toSet
    assert(wide == Set((1, 1100L, 1000L), (100, 5500L, 5000L)))
  }

  test("K4 Delta form: quarterly wide-table overwriteSchema through the " +
    "TxLog + _delta_log bridge, with time travel across refreshes") {
    import spark.implicits._
    val p = s"${tmpDir("gold_delta")}/quarterly_assets"
    // quarter 1 refresh: one date column
    Medallion.writeGoldWideDelta(spark,
      Seq((1, "bank", 1000L)).toDF("charter_number", "institution_type",
        "2020-03-31"), p)
    // quarter 2 refresh: the column SET changes — overwriteSchema
    Medallion.writeGoldWideDelta(spark,
      Seq((1, "bank", 1000L, 1100L)).toDF("charter_number",
        "institution_type", "2020-03-31", "2020-06-30"), p)
    val head = Medallion.readGoldWideDelta(spark, p)
    assert(head.columns.toSeq == Seq("charter_number", "institution_type",
      "2020-03-31", "2020-06-30"))
    assert(head.collect().map(r => (r.getInt(0), r.getLong(3))).toSeq ==
      Seq((1, 1100L)))
    // time travel: version 0 is the pre-refresh schema AND data
    val v0 = graft.sources.DeltaBridge.read(spark, p, versionAsOf = Some(0L))
    assert(v0.columns.toSeq == Seq("charter_number", "institution_type",
      "2020-03-31"))
    assert(v0.collect().map(_.getLong(2)).toSeq == Seq(1000L))
    // the published log is a real _delta_log an external reader can mount
    assert(Files.exists(Paths.get(p, "_delta_log", f"${0L}%020d.json")) &&
      Files.exists(Paths.get(p, "_delta_log", f"${1L}%020d.json")))
  }

  test("K3 Delta form: partitioned gold published as partitioned Delta — " +
    "partitionColumns in the log, pruned reads, refresh keeps identity") {
    import spark.implicits._
    val p = s"${tmpDir("gold_delta_part")}/institution_directory_by_type"
    val rows = Seq(
      ("First Bank", 1, "bank", "Richmond", "Virginia"),
      ("Coastal CU", 2, "credit union", "Norfolk", "Virginia"),
      ("Metro Bank", 3, "bank", "Austin", "Texas"))
      .toDF("name", "charter_number", "institution_type", "city", "state")
    Medallion.writeGoldPartitionedDelta(spark, rows, p,
      Seq("institution_type", "state"))
    // the published log carries the partition spec an external Delta
    // reader prunes on
    val v0 = Files.readString(Paths.get(p, "_delta_log", f"${0L}%020d.json"))
    assert(v0.contains("\"partitionColumns\":[\"institution_type\",\"state\"]"))
    assert(v0.contains("\"institution_type\":\"credit union\""))
    // pruned read through the bridge: metadata-level, typed columns back
    val cu = Medallion.readGoldPartitionedDelta(spark, p,
      Map("institution_type" -> "credit union"))
    assert(cu.collect().map(_.getAs[String]("name")).toSeq ==
      Seq("Coastal CU"))
    // escape-agnostic prefix: Spark percent-encodes the space in the dir
    assert(cu.inputFiles.nonEmpty &&
      cu.inputFiles.forall(_.contains("institution_type=credit")))
    // quarterly refresh (overwrite): same table id, version 1 replaces
    Medallion.writeGoldPartitionedDelta(spark,
      rows.filter($"charter_number" =!= 3), p,
      Seq("institution_type", "state"))
    assert(Medallion.readGoldPartitionedDelta(spark, p).count() == 2)
    val full = Medallion.readGoldPartitionedDelta(spark, p)
    assert(full.schema.fieldNames.contains("state") &&
      full.filter($"state" === "Virginia").count() == 2)
  }

  test("updateGoldLayerDelta publishes all four gold tables in the " +
    "reference's exact Delta shape — partitioned + wide, mountable logs, " +
    "pruned reads") {
    import spark.implicits._
    val p2 = LayerPaths(tmpDir("medallion_delta"))
    // minimal conforming silver (Schemas.silver column order)
    val silver = Seq(
      (1, "Richmond", "FIRST BANK", Date.valueOf("2020-03-31"), "Virginia",
        "www.first.com", 1000L, 800L, "bank"),
      (1, "Richmond", "FIRST BANK", Date.valueOf("2020-06-30"), "Virginia",
        "www.first.com", 1100L, 850L, "bank"),
      (100, "Vienna", "NAVY FEDERAL", Date.valueOf("2020-03-31"), "Virginia",
        "navyfederal.org", 5000L, 4000L, "credit union"),
      (100, "Vienna", "NAVY FEDERAL", Date.valueOf("2020-06-30"), "Virginia",
        "navyfederal.org", 5500L, 4300L, "credit union"))
      .toDF(Schemas.silver.fieldNames.toIndexedSeq: _*)
    Medallion.writeSilver(silver, p2)
    Medallion.updateGoldLayerDelta(spark, p2)
    // every gold table carries a mountable _delta_log
    Seq("institution_directory_by_type", "assets_deposits_by_state",
      "quarterly_assets_table", "quarterly_deposits_table").foreach { t =>
      assert(Files.exists(Paths.get(p2.gold(t), "_delta_log",
        f"${0L}%020d.json")), s"$t must publish a _delta_log")
    }
    // partitioned directory: pruned read through the bridge
    val cu = Medallion.readGoldPartitionedDelta(spark,
      p2.gold("institution_directory_by_type"),
      Map("institution_type" -> "credit union"))
    assert(cu.collect().map(_.getAs[String]("name")).toSeq ==
      Seq("NAVY FEDERAL"))
    // state table partitioned by (year, quarter, state) — year/quarter
    // come back TYPED through partition reconstruction
    val q2rows = Medallion.readGoldPartitionedDelta(spark,
      p2.gold("assets_deposits_by_state"),
      Map("quarter" -> "2"))
    assert(q2rows.collect().map(_.getAs[Long]("assets_total")).toSet ==
      Set(1100L, 5500L))
    // wide table via the bridge head snapshot
    val qa = Medallion.readGoldWideDelta(spark,
      p2.gold("quarterly_assets_table"))
    assert(qa.columns.toSeq == Seq("charter_number", "institution_type",
      "name", "2020-06-30", "2020-03-31"))
    assert(qa.count() == 2)
  }

  /** Three quarters of conforming silver; charter 2 misses the last
    * quarter, so the wide tables' na.drop removes it. */
  private def goldFixture(): LayerPaths = {
    import spark.implicits._
    val p = LayerPaths(tmpDir("medallion_gold_jobs"))
    val rows = for {
      (cn, city, name, state, web, kind) <- Seq(
        (1, "Richmond", "FIRST BANK", "Virginia", "www.first.com", "bank"),
        (2, "Austin", "SECOND BANK", "Texas", "Not Provided", "bank"),
        (100, "Vienna", "NAVY FEDERAL", "Virginia", "navyfederal.org", "credit union"))
      (q, i) <- Seq("2020-03-31", "2020-06-30", "2020-09-30").zipWithIndex
      if !(cn == 2 && i == 2)
    } yield (cn, city, name, Date.valueOf(q), state, web,
      1000L * cn + 10 * i, 800L * cn + 10 * i, kind)
    Medallion.writeSilver(rows.toDF(Schemas.silver.fieldNames.toIndexedSeq: _*), p)
    p
  }

  private val goldTables = Seq("institution_directory_by_type",
    "assets_deposits_by_state", "quarterly_assets_table", "quarterly_deposits_table")

  /** Version 0's metaData schemaString and first add path of a gold table. */
  private def exported(table: String): (String, String) = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val actions = Files.readAllLines(Paths.get(table, "_delta_log", f"${0L}%020d.json"))
      .toArray.map(l => mapper.readValue(l.toString, classOf[java.util.Map[String, AnyRef]]))
    def field(action: String, key: String): String = actions
      .flatMap(a => Option(a.get(action))).head
      .asInstanceOf[java.util.Map[String, AnyRef]].get(key).asInstanceOf[String]
    (field("metaData", "schemaString"), field("add", "path"))
  }

  /** The schema Spark infers for one add (a schema-inference job), with
    * partition columns discovered Hive-style below the stage prefix. */
  private def inferred(table: String, add: String): String = {
    val prefix = add.split('/').dropRight(1).takeWhile(!_.contains('='))
    val reader = if (add.split('/').dropRight(1).length == prefix.length) spark.read
      else spark.read.option("basePath", (table +: prefix).mkString("/"))
    reader.parquet(s"$table/$add").schema.json
  }

  test("gold wide tables from one quarter discovery equal Spark's implicit " +
    "pivot: same columns in the same order, same rows") {
    import org.apache.spark.sql.functions._
    val p = goldFixture()
    Medallion.updateGoldLayerDelta(spark, p)
    val silver = Medallion.readSilver(spark, p)
    assert(Gold.quarters(silver) == Seq("2020-03-31", "2020-06-30", "2020-09-30"))
    Seq("quarterly_assets_table" -> "assets_total",
      "quarterly_deposits_table" -> "deposits_total").foreach { case (t, v) =>
      val implicitPivot = Gold.selectSortDatedCols(
        silver.select(col("charter_number"), col("institution_type"), col("name"),
            date_format(col("quarter_date"), "yyyy-MM-dd").as("qd"), col(v))
          .groupBy("charter_number", "institution_type", "name").pivot("qd")
          .agg(max(col(v))),
        Seq("charter_number", "institution_type", "name")).na.drop()
      val got = graft.sources.DeltaBridge.read(spark, p.gold(t))
      assert(got.columns.toSeq == implicitPivot.columns.toSeq, t)
      assert(got.collect().toSet == implicitPivot.collect().toSet, t)
      assert(got.count() == 2, s"$t: charter 2 lacks a quarter and is dropped")
    }
  }

  test("Gold.quarters keeps a null quarter first and fails above " +
    "spark.sql.pivotMaxValues as the implicit pivot does") {
    import spark.implicits._
    val silver = Seq(Some("2020-06-30"), None, Some("2020-03-31"), Some("2020-06-30"))
      .map(_.map(Date.valueOf)).toDF("quarter_date")
    assert(Gold.quarters(silver) == Seq(null, "2020-03-31", "2020-06-30"))
    withSQLConf("spark.sql.pivotMaxValues" -> "2") {
      val ours = intercept[org.apache.spark.sql.AnalysisException](Gold.quarters(silver))
      val spark4 = intercept[org.apache.spark.sql.AnalysisException](
        silver.select(org.apache.spark.sql.functions.date_format($"quarter_date", "yyyy-MM-dd")
          .as("qd")).groupBy().pivot("qd").count())
      assert(ours.getMessage == spark4.getMessage)
    }
  }

  test("exported gold schemaStrings equal the schema-inference path, and " +
    "a footer without Spark metadata falls back to inference") {
    val p = goldFixture()
    Medallion.updateGoldLayerDelta(spark, p)
    goldTables.foreach { t =>
      val (schemaString, add) = exported(p.gold(t))
      assert(schemaString == inferred(p.gold(t), add), t)
    }
    // a foreign writer's file: parquet's example writer stores no Spark schema
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
    import org.apache.parquet.schema.MessageTypeParser
    val t = tmpDir("foreign_footer")
    val file = new org.apache.hadoop.fs.Path(s"$t/stage-foreign/part-0.parquet")
    val conf = spark.sessionState.newHadoopConf()
    val msg = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary name (UTF8); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
      .withType(msg).withConf(conf).build()
    try w.write(new SimpleGroupFactory(msg).newGroup().append("id", 1L).append("name", "a"))
    finally w.close()
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try assert(!r.getFooter.getFileMetaData.getKeyValueMetaData
      .containsKey("org.apache.spark.sql.parquet.row.metadata"))
    finally r.close()
    graft.sources.TxLog.commit(t, Seq("stage-foreign/part-0.parquet"), Seq.empty)
    val (schemaString, add) = exported(t)
    assert(schemaString == inferred(t, add))
    assert(graft.sources.DeltaBridge.read(spark, t).collect().map(_.getString(1)).toSeq == Seq("a"))
  }

  test("updateGoldLayerDelta runs an exact number of jobs: no implicit " +
    "pivot discovery and no schema-inference job at export") {
    val p = goldFixture()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftSchedulerBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      Medallion.updateGoldLayerDelta(spark, p)
      org.apache.spark.GraftSchedulerBridge.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == GoldDeltaJobs, s"updateGoldLayerDelta ran ${jobs.get()} jobs")
  }

  /** Jobs of one `updateGoldLayerDelta` on [[goldFixture]]: the four
    * tables' writes plus one two-job quarter discovery. Spark's implicit
    * pivot would instead run 4 jobs for each wide table, and a schema
    * inference at export 1 more per exported version. */
  private val GoldDeltaJobs = 14

  test("bronze parquet append accumulates quarterly loads (K1)") {
    val p = s"${tmpDir("append")}/t"
    import spark.implicits._
    Bronze.appendParquet(Seq((1, "a")).toDF("k", "v"), p)
    Bronze.appendParquet(Seq((2, "b")).toDF("k", "v"), p)
    assert(spark.read.parquet(p).count() == 2)
  }

  test("run-state: runLog parse, month→quarter fix, cert paging") {
    val log = s"${tmpDir("runlog")}/runLog.txt"
    val today = java.time.LocalDate.parse("2020-06-30")
    val fresh = RunParams.fromRunLog(log, today)
    assert(fresh.previousRun.isEmpty)
    RunParams.logRun(log, fresh)
    val next = RunParams.fromRunLog(log, today.plusMonths(3))
    assert(next.previousRun.contains(today))
    // the reference's bitwise-OR dict returns None for months 6/9/12
    // (SURVEY.md §2.14.1); the arithmetic fix covers all 12 months
    assert(next.previousQuarter.contains(2))
    assert(RunParams(Some(java.time.LocalDate.parse("2020-12-31")), today)
      .previousQuarter.contains(4))
    val ranges = RunParams.certRanges()
    // disjoint inclusive pages, reference-exact (certNumStop = 9999): the
    // rendered CERT:[lo TO hi] filter is inclusive, so page boundaries
    // must not repeat
    assert(ranges.head == (0, 9999) && ranges.size == 10)
    assert(ranges.sliding(2).forall { case Seq(a, b) => a._2 + 1 == b._1 })
  }
}
