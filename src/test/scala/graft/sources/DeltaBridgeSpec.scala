package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DeltaBridgeSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("delta_bridge").toString

  test("exportLog + read roundtrip: appends and an overwrite reconstruct " +
    "exactly, with time travel at every version") {
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
    TxLog.append(spark, Seq((3L, "c")).toDF("id", "v"), t)
    TxLog.overwrite(spark, Seq((9L, "z")).toDF("id", "v"), t)
    val n = DeltaBridge.versions(t).size
    assert(n == 3)
    // delta versions are 0-based and contiguous regardless of TxLog's own
    assert(DeltaBridge.versions(t) == Seq(0L, 1L, 2L))
    assert(DeltaBridge.read(spark, t).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((9L, "z")))
    assert(DeltaBridge.read(spark, t, versionAsOf = Some(0L)).orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(DeltaBridge.read(spark, t, versionAsOf = Some(1L))
      .count() == 3)
    // re-export is idempotent: version files are immutable
    val before = Files.readString(
      Paths.get(t, "_delta_log", f"${0L}%020d.json"))
    assert(Files.readString(
      Paths.get(t, "_delta_log", f"${0L}%020d.json")) == before)
  }

  test("exported log is structurally spec-compliant: version-0 carries " +
    "protocol v1 + metaData with a Spark schemaString; adds carry " +
    "size/modificationTime/dataChange") {
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "v"), t)
    val lines = Files.readAllLines(
      Paths.get(t, "_delta_log", f"${0L}%020d.json"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val actions = lines.toArray.map(l =>
      mapper.readValue(l.toString, classOf[java.util.Map[String, AnyRef]]))
    val proto = actions.flatMap(m => Option(m.get("protocol"))).head
      .asInstanceOf[java.util.Map[String, AnyRef]]
    assert(proto.get("minReaderVersion") == Integer.valueOf(1))
    val md = actions.flatMap(m => Option(m.get("metaData"))).head
      .asInstanceOf[java.util.Map[String, AnyRef]]
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(md.get("schemaString").asInstanceOf[String])
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(schema.fieldNames.toSeq == Seq("id", "v"))
    assert(md.get("format").asInstanceOf[java.util.Map[String, AnyRef]]
      .get("provider") == "parquet")
    val add = actions.flatMap(m => Option(m.get("add"))).head
      .asInstanceOf[java.util.Map[String, AnyRef]]
    assert(add.get("size").asInstanceOf[Number].longValue() > 0)
    assert(add.get("modificationTime").asInstanceOf[Number].longValue() > 0)
    assert(add.get("dataChange") == java.lang.Boolean.TRUE)
    assert(Files.exists(Paths.get(t, add.get("path").asInstanceOf[String])))
  }

  test("reads a FOREIGN log written by a real Delta writer: commitInfo/txn " +
    "noise, per-add stats, a remove in a later version") {
    val t = freshTable()
    // data files written as plain parquet, log hand-authored in the shapes
    // delta-spark emits (field order, commitInfo first, stats payloads)
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1).write.parquet(s"$t/f0")
    Seq((3L, "c")).toDF("id", "v")
      .coalesce(1).write.parquet(s"$t/f1")
    def partOf(dir: String): String = {
      val d = Paths.get(t, dir)
      val s = Files.list(d)
      try s.iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
        .next() + "" finally s.close()
      }
    val f0 = s"f0/${partOf("f0")}"
    val f1 = s"f1/${partOf("f1")}"
    val schemaJson = spark.read.parquet(s"$t/f0").schema.json
      .replace("\"", "\\\"")
    Files.createDirectories(Paths.get(t, "_delta_log"))
    Files.writeString(Paths.get(t, "_delta_log", f"${0L}%020d.json"),
      s"""{"commitInfo":{"timestamp":1700000000000,"operation":"WRITE","operationParameters":{"mode":"ErrorIfExists"},"engineInfo":"Apache-Spark/3.5.0 Delta-Lake/3.1.0"}}
         |{"metaData":{"id":"11111111-2222-3333-4444-555555555555","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{},"createdTime":1700000000000}}
         |{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}
         |{"add":{"path":"$f0","partitionValues":{},"size":${Files.size(Paths.get(t, f0))},"modificationTime":1700000000000,"dataChange":true,"stats":"{\\"numRecords\\":2,\\"minValues\\":{\\"id\\":1},\\"maxValues\\":{\\"id\\":2},\\"nullCount\\":{\\"id\\":0}}"}}
         |""".stripMargin)
    Files.writeString(Paths.get(t, "_delta_log", f"${1L}%020d.json"),
      s"""{"commitInfo":{"timestamp":1700000001000,"operation":"WRITE","operationParameters":{"mode":"Overwrite"}}}
         |{"txn":{"appId":"upstream-etl","version":7}}
         |{"add":{"path":"$f1","partitionValues":{},"size":${Files.size(Paths.get(t, f1))},"modificationTime":1700000001000,"dataChange":true}}
         |{"remove":{"path":"$f0","deletionTimestamp":1700000001000,"dataChange":true,"extendedFileMetadata":true,"partitionValues":{},"size":1}}
         |""".stripMargin)
    assert(DeltaBridge.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((3L, "c")))
    assert(DeltaBridge.read(spark, t, versionAsOf = Some(0L)).orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("bootstraps from _last_checkpoint and replays only versions above " +
    "it — the vacuumed-log shape a long-lived table presents") {
    val t = freshTable()
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(s"$t/f0")
    Seq((2L, "b")).toDF("id", "v").coalesce(1).write.parquet(s"$t/f1")
    def partOf(dir: String): String = {
      val s = Files.list(Paths.get(t, dir))
      try s.iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
        .next() + "" finally s.close()
    }
    val f0 = s"f0/${partOf("f0")}"
    val f1 = s"f1/${partOf("f1")}"
    val schemaJson = spark.read.parquet(s"$t/f0").schema.json
    Files.createDirectories(Paths.get(t, "_delta_log"))
    // checkpoint at version 3 (versions 0-3 vacuumed away): one parquet in
    // the published checkpoint shape — one action struct per row
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val ckptSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType))))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("size", LongType),
        StructField("dataChange", BooleanType))))))
    val ckptRows = Seq(
      Row(Row(1, 2), null, null),
      Row(null, Row("abc", schemaJson, Seq.empty[String]), null),
      Row(null, null, Row(f0, Files.size(Paths.get(t, f0)), true)))
    val tmpCkpt = Files.createTempDirectory("ckpt")
    spark.createDataFrame(
        spark.sparkContext.parallelize(ckptRows, 1), ckptSchema)
      .coalesce(1).write.mode("overwrite").parquet(tmpCkpt.toString)
    val part = {
      val s = Files.list(tmpCkpt)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).next() + "" finally s.close()
    }
    Files.copy(tmpCkpt.resolve(part),
      Paths.get(t, "_delta_log", f"${3L}%020d.checkpoint.parquet"))
    Files.writeString(Paths.get(t, "_delta_log", "_last_checkpoint"),
      """{"version":3,"size":3}""")
    // version 4: add f1 on top of the checkpointed state
    Files.writeString(Paths.get(t, "_delta_log", f"${4L}%020d.json"),
      s"""{"add":{"path":"$f1","partitionValues":{},"size":${Files.size(Paths.get(t, f1))},"modificationTime":1700000002000,"dataChange":true}}
         |""".stripMargin)
    assert(DeltaBridge.read(spark, t).orderBy("id")
      .collect().map(_.getString(1)).toSeq == Seq("a", "b"))
  }

  test("bootstraps from a MULTI-PART checkpoint (_last_checkpoint.parts) " +
    "and fails loud when a part is missing — foreign large-table layout") {
    val t = freshTable()
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(s"$t/f0")
    Seq((2L, "b")).toDF("id", "v").coalesce(1).write.parquet(s"$t/f1")
    def partOf(dir: String): String = {
      val s = Files.list(Paths.get(t, dir))
      try s.iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
        .next() + "" finally s.close()
    }
    val f0 = s"f0/${partOf("f0")}"
    val f1 = s"f1/${partOf("f1")}"
    val schemaJson = spark.read.parquet(s"$t/f0").schema.json
    Files.createDirectories(Paths.get(t, "_delta_log"))
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val ckptSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType))))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("size", LongType),
        StructField("dataChange", BooleanType))))))
    def writeCkptPart(rows: Seq[Row], name: String): Unit = {
      val tmp = Files.createTempDirectory("ckpt_mp")
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), ckptSchema)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = {
        val s = Files.list(tmp)
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).next() + "" finally s.close()
      }
      Files.copy(tmp.resolve(part), Paths.get(t, "_delta_log", name))
    }
    // the spec's multi-part names: N.checkpoint.<part>.<parts>.parquet
    writeCkptPart(Seq(
        Row(Row(1, 2), null, null),
        Row(null, Row("mp", schemaJson, Seq.empty[String]), null),
        Row(null, null, Row(f0, Files.size(Paths.get(t, f0)), true))),
      f"${3L}%020d.checkpoint.${1}%010d.${2}%010d.parquet")
    writeCkptPart(Seq(
        Row(null, null, Row(f1, Files.size(Paths.get(t, f1)), true))),
      f"${3L}%020d.checkpoint.${2}%010d.${2}%010d.parquet")
    Files.writeString(Paths.get(t, "_delta_log", "_last_checkpoint"),
      """{"version":3,"size":4,"parts":2}""")
    assert(DeltaBridge.read(spark, t).orderBy("id")
      .collect().map(_.getString(1)).toSeq == Seq("a", "b"),
      "both parts' adds must replay")
    // a missing part must fail LOUD, never a silently smaller snapshot
    Files.delete(Paths.get(t, "_delta_log",
      f"${3L}%020d.checkpoint.${2}%010d.${2}%010d.parquet"))
    val e = intercept[Exception] { DeltaBridge.read(spark, t).collect() }
    assert(e.getMessage.contains("part"), s"got: $e")
  }

  test("explicit DeltaBridge.checkpoint pins the head; vacuumLog then " +
    "retires the covered JSON and the snapshot survives") {
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "v"), t, partFiles = 1)
    TxLog.append(spark, Seq((2L, "b")).toDF("id", "v"), t, partFiles = 1)
    TxLog.append(spark, Seq((3L, "c")).toDF("id", "v"), t, partFiles = 1)
    // head is version 2 — far below the automatic 10-version cadence
    assert(DeltaBridge.checkpoint(spark, t) == 2L)
    assert(Files.exists(
      Paths.get(t, "_delta_log", f"${2L}%020d.checkpoint.parquet")))
    assert(DeltaBridge.vacuumLog(t).nonEmpty,
      "the covered JSON prefix becomes retention-eligible")
    assert(DeltaBridge.read(spark, t).orderBy("id")
      .collect().map(_.getString(1)).toSeq == Seq("a", "b", "c"),
      "the head must survive on the explicit checkpoint alone")
    // idempotent: a second call re-uses the published checkpoint
    assert(DeltaBridge.checkpoint(spark, t) == 2L)
  }

  test("checkpoint over a DV'd table preserves the vectors, protocol " +
    "and stats: the bootstrap-served snapshot still drops deleted rows " +
    "through every mount") {
    val t = freshTable()
    TxLog.append(spark,
      (0L until 50L).map(i => (i, s"v$i")).toDF("id", "v"), t, partFiles = 1)
    TxLog.deleteWhereDv(spark, t, "id IN (3, 7)", maxDvFraction = 0.2)
    assert(DeltaBridge.checkpoint(spark, t) == 1L)
    assert(DeltaBridge.vacuumLog(t).nonEmpty,
      "the covered JSON retires — the snapshot must survive on the " +
        "checkpoint alone")
    val got = DeltaBridge.read(spark, t).collect().map(_.getLong(0)).toSet
    assert(got == (0L until 50L).toSet -- Set(3L, 7L),
      s"the checkpointed DV must still apply, got ${got.size} rows")
    // the catalog mount over the checkpoint-only log routes through the
    // extended path too (the descriptor survived the parquet roundtrip)
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.v2.GraftDeltaCatalog].getName)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$t`")
      .collect().head.getLong(0) == 48L)
  }

  test("exportLog WRITES a checkpoint every 10 versions; a vacuumed log " +
    "reads back through it — the full protocol roundtrip") {
    val t = freshTable()
    (1 to 11).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "v"), t)
    }
    val ld = Paths.get(t, "_delta_log")
    assert(Files.exists(ld.resolve(f"${10L}%020d.checkpoint.parquet")))
    assert(Files.exists(ld.resolve("_last_checkpoint")))
    // vacuum the JSON prefix the checkpoint covers — the long-lived-table
    // shape; the snapshot must survive on the checkpoint alone
    (0L to 10L).foreach { v =>
      Files.deleteIfExists(ld.resolve(f"$v%020d.json"))
    }
    val back = DeltaBridge.read(spark, t).orderBy("id").collect()
    assert(back.map(_.getLong(0)).toSeq == (1L to 11L))
    assert(back.map(_.getString(1)).toSeq == (1 to 11).map(i => s"v$i"))
    // a 12th commit after the vacuum: export extends, replay starts at 11
    TxLog.append(spark, Seq((12L, "v12")).toDF("id", "v"), t)
    assert(DeltaBridge.read(spark, t).count() == 12)
  }

  test("adds carry Delta data-skipping STATS from the parquet footer: " +
    "numRecords + min/max/nullCount for long, double and string columns") {
    val t = freshTable()
    TxLog.append(spark,
      Seq((5L, "bb", 2.5d), (1L, "aa", -0.5d), (9L, "zz", 7.25d))
        .toDF("id", "v", "x").coalesce(1), t, partFiles = 1)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val add = Files.readAllLines(
      Paths.get(t, "_delta_log", f"${0L}%020d.json")).asScala
      .filter(_.nonEmpty)
      .map(l => mapper.readValue(l, classOf[java.util.Map[String, AnyRef]]))
      .flatMap(m => Option(m.get("add"))).head
      .asInstanceOf[java.util.Map[String, AnyRef]]
    val statsJson = add.get("stats").asInstanceOf[String]
    assert(statsJson != null, "add must carry a stats payload")
    val stats = mapper.readValue(statsJson,
      classOf[java.util.Map[String, AnyRef]])
    assert(stats.get("numRecords").asInstanceOf[Number].longValue() == 3L)
    val mins = stats.get("minValues").asInstanceOf[java.util.Map[String, AnyRef]]
    val maxs = stats.get("maxValues").asInstanceOf[java.util.Map[String, AnyRef]]
    val nulls = stats.get("nullCount").asInstanceOf[java.util.Map[String, AnyRef]]
    assert(mins.get("id").asInstanceOf[Number].longValue() == 1L)
    assert(maxs.get("id").asInstanceOf[Number].longValue() == 9L)
    assert(mins.get("v") == "aa" && maxs.get("v") == "zz")
    assert(mins.get("x").asInstanceOf[Number].doubleValue() == -0.5d)
    assert(maxs.get("x").asInstanceOf[Number].doubleValue() == 7.25d)
    assert(nulls.get("id").asInstanceOf[Number].longValue() == 0L)
  }

  test("readPruned SKIPS files whose logged stats prove disjointness and " +
    "keeps stats-less adds conservatively") {
    val t = freshTable()
    // three range-disjoint files (one commit each, 1 part-file per commit)
    TxLog.append(spark,
      Seq((1L, "a"), (5L, "b")).toDF("id", "v").coalesce(1), t, 1)
    TxLog.append(spark,
      Seq((10L, "c"), (15L, "d")).toDF("id", "v").coalesce(1), t, 1)
    TxLog.append(spark,
      Seq((20L, "e"), (25L, "f")).toDF("id", "v").coalesce(1), t, 1)
    val full = DeltaBridge.read(spark, t)
    assert(full.inputFiles.length == 3)
    val pruned = DeltaBridge.readPruned(spark, t, "id", 10L, 16L)
    assert(pruned.inputFiles.length == 1,
      s"stats must prune to the one overlapping file: " +
        s"${pruned.inputFiles.toSeq}")
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(10L, 15L))
    // string bounds prune in byte order too
    val sPruned = DeltaBridge.readPruned(spark, t, "v", "c", "e")
    assert(sPruned.inputFiles.length == 1 &&
      sPruned.collect().map(_.getString(1)).sorted.toSeq == Seq("c", "d"))
    // a hand-stripped stats field keeps the file (conservative)
    val ld = Paths.get(t, "_delta_log")
    val v0 = ld.resolve(f"${0L}%020d.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val stripped = Files.readAllLines(v0).asScala.filter(_.nonEmpty)
      .map { line =>
        val m = mapper.readValue(line, classOf[java.util.Map[String, AnyRef]])
        Option(m.get("add")).foreach(
          _.asInstanceOf[java.util.Map[String, AnyRef]].remove("stats"))
        mapper.writeValueAsString(m)
      }.mkString("", "\n", "\n")
    Files.writeString(v0, stripped)
    val afterStrip = DeltaBridge.readPruned(spark, t, "id", 100L, 200L)
    assert(afterStrip.inputFiles.length == 1,
      "stats-less adds must never be skipped")
    assert(afterStrip.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 5L), "the stripped file is kept, the proven-out ones drop")
  }

  test("FLOAT stats never prove a false disjointness: a float literal " +
    "widens to its exact double before meeting the logged (widened) " +
    "bounds, so files holding exact matches are kept") {
    import spark.implicits._
    val t = freshTable()
    // 1.1f widens to 1.100000023841858: the logged min/max carry the
    // widened rendering while the literal's own toString is "1.1" — a
    // decimal-rendering comparison would "prove" mn > v and drop the file
    TxLog.append(spark,
      Seq((1L, 1.1f), (2L, 2.2f)).toDF("id", "f").coalesce(1), t, 1)
    TxLog.append(spark,
      Seq((9L, 9.9f)).toDF("id", "f").coalesce(1), t, 1)
    val hit = spark.read.format("graft-delta").load(t)
      .filter($"f" === 1.1f)
    assert(hit.collect().map(_.getLong(0)).toSeq == Seq(1L),
      "the file containing the exact float match must not be stats-dropped")
    // real skipping still works in the widened domain
    import org.apache.spark.sql.execution.FileSourceScanExec
    val miss = spark.read.format("graft-delta").load(t)
      .filter($"f" > 5.0f)
    assert(miss.collect().map(_.getLong(0)).toSeq == Seq(9L))
    val scan = miss.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f }.get
    assert(scan.metrics("numFiles").value == 1,
      s"float stats must still skip the provably-disjoint file, read " +
        s"${scan.metrics("numFiles").value}")
  }

  test("NATIVE relation: spark.read.format mounts the log, Catalyst prunes " +
    "partitions through the log-backed FileIndex, stats skip files at " +
    "planning time, versionAsOf time-travels") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val fmt = classOf[DeltaBridgeSource].getName
    val t = freshTable()
    val df0 = Seq(
      (1L, "a", "CA"), (2L, "b", "CA"), (3L, "c", "NY"), (4L, "d", "TX"))
      .toDF("id", "v", "state")
    TxLog.appendPartitioned(spark, df0, t, Seq("state"))

    val full = spark.read.format(fmt).load(t)
    assert(full.schema.fieldNames.toSeq == Seq("id", "v", "state"))
    assert(full.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(2))).toSeq ==
      Seq((1L, "CA"), (2L, "CA"), (3L, "NY"), (4L, "TX")))

    // Catalyst partition pruning: a plain filter reaches the log-backed
    // listing — PartitionFilters in the scan node, 1 of 3 partitions read
    val ca = full.filter($"state" === "CA")
    assert(ca.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    val scan = ca.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f }.get
    assert(scan.toString.contains("PartitionFilters"), scan.toString)
    assert(scan.metrics("numPartitions").value == 1,
      s"partition pruning must read 1 partition, read " +
        s"${scan.metrics("numPartitions").value}")
    assert(scan.metrics("numFiles").value < full.inputFiles.length,
      "pruned scan must touch fewer files than the table holds")

    // planner-time stats skipping on an UNPARTITIONED table: three
    // range-disjoint commits, a range filter reads one file
    val t2 = freshTable()
    TxLog.append(spark, Seq((1L, "x"), (5L, "y")).toDF("id", "v")
      .coalesce(1), t2, 1)
    TxLog.append(spark, Seq((10L, "x"), (15L, "y")).toDF("id", "v")
      .coalesce(1), t2, 1)
    TxLog.append(spark, Seq((20L, "x"), (25L, "y")).toDF("id", "v")
      .coalesce(1), t2, 1)
    val ranged = spark.read.format(fmt).load(t2)
      .filter($"id" >= 10L && $"id" < 16L)
    assert(ranged.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(10L, 15L))
    val scan2 = ranged.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f }.get
    assert(scan2.metrics("numFiles").value == 1,
      s"stats skipping must read 1 of 3 files, read " +
        s"${scan2.metrics("numFiles").value}")

    // versionAsOf rides the same option surface
    TxLog.overwrite(spark, Seq((9L, "z")).toDF("id", "v"), t2)
    assert(spark.read.format(fmt).load(t2).count() == 1)
    assert(spark.read.format(fmt).option("versionAsOf", "2")
      .load(t2).count() == 6)
  }

  test("WRITE through the Spark API: format(graft-delta) append/overwrite " +
    "land as transactional Delta versions; short name + SQL USING resolve") {
    import spark.implicits._
    val t = freshTable()
    // short-name resolution comes from the META-INF services registration
    Seq((1L, "a", "CA"), (2L, "b", "NY")).toDF("id", "v", "state")
      .write.format("graft-delta").option("partitionBy", "state")
      .mode("append").save(t)
    Seq((3L, "c", "CA")).toDF("id", "v", "state")
      .write.format("graft-delta").option("partitionBy", "state")
      .mode("append").save(t)
    assert(DeltaBridge.versions(t) == Seq(0L, 1L))
    val back = spark.read.format("graft-delta").load(t)
    assert(back.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(2))).toSeq ==
      Seq((1L, "CA"), (2L, "NY"), (3L, "CA")))
    // snapshot-isolated overwrite is one more version; v1 still readable
    Seq((9L, "z", "TX")).toDF("id", "v", "state")
      .write.format("graft-delta").option("partitionBy", "state")
      .mode("overwrite").save(t)
    assert(spark.read.format("graft-delta").load(t).count() == 1)
    assert(spark.read.format("graft-delta").option("versionAsOf", "1")
      .load(t).count() == 3)
    // SQL surface: CREATE TABLE ... USING graft-delta
    spark.sql(s"CREATE TABLE graft_delta_sql USING `graft-delta` " +
      s"LOCATION '$t'")
    try {
      assert(spark.sql(
        "SELECT id FROM graft_delta_sql WHERE state = 'TX'")
        .collect().map(_.getLong(0)).toSeq == Seq(9L))
    } finally spark.sql("DROP TABLE graft_delta_sql")
    // unsupported save modes fail loud
    val e = intercept[Exception] {
      Seq((1L, "x", "CA")).toDF("id", "v", "state")
        .write.format("graft-delta").mode("ignore").save(t)
    }
    assert(e.getMessage.contains("Append/Overwrite"))
  }

  test("RECOVERY replay of an uncommitted batch zero serves the snapshot " +
    "AT THE RECOVERED OFFSET, and the commit callback re-bases pacing — " +
    "versions committed while the stream was down deliver exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val t = freshTable()
    (1 to 5).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "v"), t)
    } // delta versions 0..4
    // a fresh source instance pins head=4, but the engine recovers an
    // offset-log entry from a crashed run whose batch zero ended at 1
    val src = new DeltaBridgeStreamSource(spark, t,
      Map("maxVersionsPerTrigger" -> "1"))
    // getBatch returns streaming-tagged frames; flip back for collection
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      org.apache.spark.sql.GraftSqlBridge.unStream(df)
        .collect().map(_.getLong(0)).sorted.toSeq
    val replayed = rows(src.getBatch(None, LongOffset(1L)))
    assert(replayed == Seq(1L, 2L),
      s"batch zero's replay must be the snapshot AT offset 1, not at the " +
        s"re-pinned head (got $replayed)")
    // the engine then signals the recovered commit; pacing resumes FROM
    // IT — one version per trigger, not a head-sized flood
    src.commit(LongOffset(1L))
    val next = src.getOffset.get.json().toLong
    assert(next == 2L, s"paced catch-up must advance by 1 from the " +
      s"recovered offset, got $next")
    val caught = rows(src.getBatch(Some(LongOffset(1L)), LongOffset(next)))
    assert(caught == Seq(3L), s"exactly version 2's rows, got $caught")
    src.stop()
  }

  test("maxVersionsPerTrigger paces a backfill into bounded micro-batches " +
    "and stays exactly-once across a checkpoint restart") {
    import spark.implicits._
    val t = freshTable()
    (1 to 6).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "v"), t)
    }
    val ckpt = Files.createTempDirectory("delta_paced_ckpt").toString
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Long]())
    val batchSizes = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Int]())
    def start() = spark.readStream.format("graft-delta")
      .option("startingVersion", "0")
      .option("maxVersionsPerTrigger", "2")
      .load(t)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = batch.select("id").collect().map(_.getLong(0))
        ids.foreach(id => seen.add(id))
        batchSizes.add(ids.length)
        () }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(seen.toArray.map(_.asInstanceOf[Long]).sorted.toSeq ==
      (1L to 6L), s"backfill must deliver everything: ${seen.toArray.toSeq}")
    assert(batchSizes.size() >= 3,
      s"6 versions at <=2/trigger need >=3 batches, got $batchSizes")
    assert(batchSizes.toArray.forall(_.asInstanceOf[Int] <= 2),
      s"no batch may exceed the cap: $batchSizes")
    // two more commits while down; restart must resume at the checkpoint
    // (never re-deliver a committed version) and pace the rest
    Seq((7L, "w")).toDF("id", "v")
      .write.format("graft-delta").mode("append").save(t)
    Seq((8L, "x")).toDF("id", "v")
      .write.format("graft-delta").mode("append").save(t)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(seen.toArray.map(_.asInstanceOf[Long]).sorted.toSeq ==
      (1L to 8L),
      s"exactly-once across the paced restart: ${seen.toArray.toSeq}")
  }

  test("VACUUM lifecycle: vacuumLog deletes the checkpoint-covered JSON " +
    "and exportLog leaves it deleted; TxLog.vacuum then drops the old " +
    "data files and the table keeps reading, exporting and streaming") {
    import spark.implicits._
    val t = freshTable()
    (1 to 11).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "v"), t)
    }
    assert(DeltaBridge.vacuumLog(t) == (0L to 10L))
    assert(DeltaBridge.versions(t).isEmpty)
    // head read bootstraps from the checkpoint
    assert(DeltaBridge.read(spark, t).count() == 11)
    // a new commit exports WITHOUT recreating the covered prefix
    TxLog.append(spark, Seq((12L, "v12")).toDF("id", "v"), t)
    assert(DeltaBridge.versions(t) == Seq(11L),
      "export must not undo log retention by recreating covered versions")
    assert(DeltaBridge.read(spark, t).count() == 12)
    // data-file half: TxLog keeps 11 commits live-identical at the head
    // (append-only history), so retainVersions=1 deletes nothing here —
    // make removable garbage with an overwrite first
    TxLog.overwrite(spark,
      Seq((100L, "w1"), (101L, "w2")).toDF("id", "v"), t)
    val dropped = TxLog.vacuum(t, retainVersions = 1)
    assert(dropped.nonEmpty, "the pre-overwrite files are unreferenced now")
    assert(DeltaBridge.read(spark, t).count() == 2)
    assert(spark.read.format("graft-delta").load(t).count() == 2)
    // export still extends cleanly after BOTH vacuum halves
    TxLog.append(spark, Seq((102L, "w3")).toDF("id", "v"), t)
    assert(DeltaBridge.read(spark, t).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(100L, 101L, 102L))
  }

  test("a ZERO-ADD first commit is a spec-compliant version 0 (protocol + " +
    "metaData with an empty schema); the first data-bearing commit " +
    "declares the real schema and partition layout") {
    import spark.implicits._
    val t = freshTable()
    // partitionBy staging writes files lazily, so an empty frame commits
    // a version with ZERO adds — an empty first micro-batch's shape
    val empty = Seq.empty[(Long, String)].toDF("id", "state")
    TxLog.appendPartitioned(spark, empty, t, Seq("state"))
    assert(DeltaBridge.versions(t) == Seq(0L),
      "the empty commit is Delta version 0 as soon as it lands")
    TxLog.appendPartitioned(spark,
      Seq((1L, "CA")).toDF("id", "state"), t, Seq("state"))
    assert(DeltaBridge.streamSnapshot(spark, t, None).partitionCols == Seq("state"))
    val v0 = Files.readAllLines(
      Paths.get(t, "_delta_log", f"${0L}%020d.json")).asScala
      .filter(_.nonEmpty)
    assert(v0.exists(_.contains("\"metaData\"")),
      "version 0 must declare metaData even with zero adds")
    assert(v0.exists(_.contains("\"protocol\"")))
    assert(DeltaBridge.read(spark, t).collect()
      .map(_.getAs[Long]("id")).toSeq == Seq(1L))
    assert(DeltaBridge.read(spark, t, versionAsOf = Some(0L)).count() == 0,
      "time travel to the empty version resolves under its empty schema")
  }

  test("STREAMING over a CHECKPOINT-ONLY log (JSON commits cleaned up) " +
    "still serves the head snapshot as batch zero and tails new commits") {
    import spark.implicits._
    val t = freshTable()
    (1 to 11).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "v"), t)
    }
    val ld = Paths.get(t, "_delta_log")
    (0L to 10L).foreach { v =>
      Files.deleteIfExists(ld.resolve(f"$v%020d.json"))
    }
    assert(DeltaBridge.versions(t).isEmpty, "precondition: checkpoint-only")
    val ckpt = Files.createTempDirectory("delta_ckptonly_stream").toString
    val q = spark.readStream.format("graft-delta").load(t)
      .writeStream.format("memory").queryName("ckptonly_tail")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM ckptonly_tail").head().getLong(0)
        == 11, "batch zero must serve the checkpoint snapshot")
      Seq((12L, "v12")).toDF("id", "v")
        .write.format("graft-delta").mode("append").save(t)
      q.processAllAvailable()
      assert(spark.sql("SELECT id FROM ckptonly_tail ORDER BY id").collect()
        .map(_.getLong(0)).toSeq == (1L to 12L))
    } finally q.stop()
  }

  test("STREAMING WRITE: writeStream.format(graft-delta) lands each " +
    "micro-batch as a mountable Delta version exactly once across a " +
    "checkpoint restart, and partitionBy flows through the V1 sink") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.SQLContext]
    val t = freshTable()
    val ckpt = Files.createTempDirectory("delta_sink_ckpt").toString
    val mem = MemoryStream[(Long, String, String)]
    def start() = mem.toDF().toDF("id", "v", "state")
      .writeStream.format("graft-delta").partitionBy("state")
      .option("checkpointLocation", ckpt).outputMode("append")
      .start(t)
    mem.addData((1L, "a", "CA"), (2L, "b", "NY"))
    val q = start()
    try {
      q.processAllAvailable()
      mem.addData((3L, "c", "CA"))
      q.processAllAvailable()
    } finally q.stop()
    // two micro-batches → two log versions, both mountable
    assert(DeltaBridge.versions(t).size == 2)
    val back = spark.read.format("graft-delta").load(t)
    assert(back.orderBy("id").collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[String]("state"))).toSeq ==
      Seq((1L, "CA"), (2L, "NY"), (3L, "CA")))
    // partitioned Hive layout: pruning works at the metadata level
    assert(back.filter($"state" === "NY").collect()
      .map(_.getAs[Long]("id")).toSeq == Seq(2L))
    // restart against the same checkpoint: nothing new to process, and
    // the replayed offsets create NO versions
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(DeltaBridge.versions(t).size == 2,
      "a restart's replay must not create a new version")
    assert(spark.read.format("graft-delta").load(t).count() == 3)
    // Complete mode fails loud
    val mem2 = MemoryStream[(Long, String, String)]
    val e = intercept[Exception] {
      mem2.toDF().toDF("id", "v", "state")
        .groupBy("state").count()
        .writeStream.format("graft-delta")
        .option("checkpointLocation",
          Files.createTempDirectory("delta_sink_bad").toString)
        .outputMode("complete").start(freshTable())
    }
    assert(e.getMessage.contains("Append output mode") ||
      Option(e.getCause).exists(_.getMessage.contains("Append output mode")))
  }

  test("STREAMING first batch is the HEAD SNAPSHOT, not a history replay: " +
    "overwritten rows never resurrect, pre-start schema evolution is fine, " +
    "and post-start commits still tail with full checks") {
    import spark.implicits._
    val t = freshTable()
    // history a gold table produces: an append, then an overwrite that
    // CHANGES THE SCHEMA (quarterly overwriteSchema) — version 1 carries
    // removes AND a fresh metaData action
    Seq((1L, "dead")).toDF("id", "v")
      .write.format("graft-delta").mode("append").save(t)
    Seq((10L, "x", 7), (11L, "y", 8)).toDF("id", "v", "extra")
      .write.format("graft-delta").mode("overwrite").save(t)
    // a brand-new stream over this table needs NO ignoreChanges and must
    // not trip the mid-stream schema check: batch zero is the head
    // snapshot's live files under the head schema
    val ckpt = Files.createTempDirectory("delta_snap_ckpt").toString
    val q = spark.readStream.format("graft-delta").load(t)
      .writeStream.format("memory").queryName("delta_snap_tail")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      val first = spark.sql(
        "SELECT id, extra FROM delta_snap_tail ORDER BY id").collect()
      assert(first.map(_.getLong(0)).toSeq == Seq(10L, 11L),
        "the overwrite-removed row (id=1) must never resurrect")
      assert(first.map(_.getInt(1)).toSeq == Seq(7, 8),
        "snapshot rows read under the evolved head schema")
      // post-start appends tail incrementally (never re-deliver the
      // snapshot), and a post-start remove still fails loud
      Seq((12L, "z", 9)).toDF("id", "v", "extra")
        .write.format("graft-delta").mode("append").save(t)
      q.processAllAvailable()
      assert(spark.sql("SELECT id FROM delta_snap_tail ORDER BY id")
        .collect().map(_.getLong(0)).toSeq == Seq(10L, 11L, 12L))
      Seq((13L, "w", 1)).toDF("id", "v", "extra")
        .write.format("graft-delta").mode("overwrite").save(t)
      val err = intercept[Exception](q.processAllAvailable())
      assert(err.getMessage.contains("ignoreChanges") ||
        Option(err.getCause).exists(_.getMessage.contains("ignoreChanges")))
    } finally q.stop()
  }

  test("STREAMING read: one exactly-once batch per committed version, " +
    "partition columns reconstructed, removes refused without " +
    "ignoreChanges, startingVersion honored") {
    import spark.implicits._
    val t = freshTable()
    val ckpt = Files.createTempDirectory("delta_stream_ckpt").toString
    Seq((1L, "a", "CA"), (2L, "b", "NY")).toDF("id", "v", "state")
      .write.format("graft-delta").option("partitionBy", "state")
      .mode("append").save(t)
    val q = spark.readStream.format("graft-delta").load(t)
      .writeStream.format("memory").queryName("delta_tail")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      // the first batch replays the existing table, partition cols intact
      assert(spark.sql("SELECT id, state FROM delta_tail ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "CA"), (2L, "NY")))
      // a new commit streams exactly once
      Seq((3L, "c", "CA")).toDF("id", "v", "state")
        .write.format("graft-delta").option("partitionBy", "state")
        .mode("append").save(t)
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM delta_tail").head().getLong(0)
        == 3)
      // an OVERWRITE (remove-bearing version) fails the stream loud
      Seq((9L, "z", "TX")).toDF("id", "v", "state")
        .write.format("graft-delta").option("partitionBy", "state")
        .mode("overwrite").save(t)
      val err = intercept[Exception](q.processAllAvailable())
      assert(err.getMessage.contains("ignoreChanges") ||
        Option(err.getCause).exists(_.getMessage.contains("ignoreChanges")))
    } finally q.stop()

    // ignoreChanges streams the overwrite's adds; startingVersion skips
    // the history
    val ckpt2 = Files.createTempDirectory("delta_stream_ckpt2").toString
    val q2 = spark.readStream.format("graft-delta")
      .option("ignoreChanges", "true").option("startingVersion", "2")
      .load(t)
      .writeStream.format("memory").queryName("delta_tail2")
      .option("checkpointLocation", ckpt2).outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(spark.sql("SELECT id FROM delta_tail2").collect()
        .map(_.getLong(0)).toSeq == Seq(9L))
    } finally q2.stop()
  }

  test("ADVERSARIAL partition values survive the Hive escaping roundtrip: " +
    "'=', '%', ':', spaces, slashes — path-parsed partitionValues match " +
    "the data exactly") {
    import spark.implicits._
    // non-ASCII values are excluded NOT because of the bridge: this
    // JVM's POSIX-locale filesystem encoding rejects them at Hadoop's
    // RawLocalFileSystem before any Spark partitionBy write (verified —
    // plain df.write.partitionBy fails identically); the escaping logic
    // under test operates on the percent-encoded ASCII forms either way
    val nasty = Seq("a=b", "50%", "x:y", "two words", "a/b..")
    val t = freshTable()
    val df = nasty.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "k")
    TxLog.appendPartitioned(spark, df, t, Seq("k"))
    // log values must be the RAW strings (unescaped), path-parse = log
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val pvs = Files.readAllLines(
      Paths.get(t, "_delta_log", f"${0L}%020d.json")).asScala
      .filter(_.nonEmpty)
      .map(l => mapper.readValue(l, classOf[java.util.Map[String, AnyRef]]))
      .flatMap(m => Option(m.get("add")))
      .map(_.asInstanceOf[java.util.Map[String, AnyRef]]
        .get("partitionValues").asInstanceOf[java.util.Map[String, String]]
        .get("k")).toSet
    assert(pvs == nasty.toSet, s"logged values must be unescaped: $pvs")
    // roundtrip through the snapshot reader AND the native relation
    val back = DeltaBridge.read(spark, t).orderBy("id").collect()
    assert(back.map(_.getString(1)).toSeq == nasty)
    val native = spark.read.format("graft-delta").load(t)
    assert(native.orderBy("id").collect().map(_.getString(1)).toSeq == nasty)
    // partition pruning still works on an escaped value
    val one = DeltaBridge.read(spark, t,
      partitionFilter = Map("k" -> "a=b"))
    assert(one.collect().map(_.getLong(0)).toSeq == Seq(0L))
    assert(native.filter($"k" === "50%").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("STREAMING restart from checkpoint: the recovered SerializedOffset " +
    "replays nothing already committed — rows land exactly once across " +
    "process boundaries") {
    import spark.implicits._
    val t = freshTable()
    val ckpt = Files.createTempDirectory("delta_restart_ckpt").toString
    // foreachBatch sink: supports checkpoint recovery (the memory sink
    // deliberately does not); rows land in a synchronized driver buffer
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Long]())
    def start() = spark.readStream.format("graft-delta").load(t)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("id").collect().foreach(r => seen.add(r.getLong(0)))
        () }
      .option("checkpointLocation", ckpt).start()
    Seq((1L, "a")).toDF("id", "v")
      .write.format("graft-delta").mode("append").save(t)
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(seen.toArray.toSeq == Seq(1L))
    // two more commits while the stream is DOWN
    Seq((2L, "b")).toDF("id", "v")
      .write.format("graft-delta").mode("append").save(t)
    Seq((3L, "c")).toDF("id", "v")
      .write.format("graft-delta").mode("append").save(t)
    // restart against the SAME checkpoint: the offset comes back as a
    // SerializedOffset — getBatch must resume at version 0's successor,
    // not replay it
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()
    assert(seen.toArray.map(_.asInstanceOf[Long]).sorted.toSeq ==
      Seq(1L, 2L, 3L),
      s"exactly-once across restart; saw ${seen.toArray.toSeq}")
  }

  test("LAW: the exported bridge agrees with TxLog at EVERY version — " +
    "time travel through the _delta_log is the same snapshot function") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
    TxLog.append(spark, Seq((3L, "c")).toDF("id", "v"), t)
    TxLog.overwrite(spark, Seq((7L, "x"), (8L, "y")).toDF("id", "v"), t)
    TxLog.append(spark, Seq((9L, "z")).toDF("id", "v"), t)
    val txVersions = TxLog.versions(t)
    txVersions.zipWithIndex.foreach { case (txv, dv) =>
      val viaTx = TxLog.read(spark, t, asOf = Some(txv))
        .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      val viaDelta = DeltaBridge.read(spark, t, versionAsOf = Some(dv.toLong))
        .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      assert(viaTx.toSeq == viaDelta.toSeq,
        s"TxLog v$txv and Delta v$dv must be the same snapshot")
    }
  }

  test("schema cursor survives re-creating a vacuumed prefix: a skipped " +
    "published version's metaData still anchors the comparison, so a " +
    "flip-back schema change cannot lose its metaData action") {
    import spark.implicits._
    val t = freshTable()
    // 11 commits of schema A -> export writes delta 0..10 + checkpoint@10
    (1 to 11).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "v"), t)
    }
    // commit 12: schema B (new column) -> delta 11 carries metaData B
    TxLog.append(spark, Seq((12L, "v12", 1.5)).toDF("id", "v", "w"), t)
    val ld = Paths.get(t, "_delta_log")
    // vacuum the checkpoint-covered JSON prefix, as the long-lived-table
    // workflow invites; delta 11 (the schema-B metaData) survives
    (0L to 10L).foreach(v => Files.deleteIfExists(ld.resolve(f"$v%020d.json")))
    // commit 13 flips BACK to schema A; the re-export (leaving the
    // checkpoint-covered prefix deleted — retention semantics) must
    // still see delta 11's B when deciding whether dv12 needs
    // metaData — without the cursor discipline it would compare against
    // dv10's A, omit the action, and readers would resolve dv12's files
    // under schema B
    TxLog.append(spark, Seq((13L, "v13")).toDF("id", "v"), t)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val md12 = Files.readAllLines(ld.resolve(f"${12L}%020d.json")).asScala
      .filter(_.nonEmpty)
      .map(l => mapper.readValue(l, classOf[java.util.Map[String, AnyRef]]))
      .flatMap(m => Option(m.get("metaData")))
      .map(_.asInstanceOf[java.util.Map[String, AnyRef]]).headOption
    assert(md12.isDefined,
      "delta 12 must re-declare the flipped-back schema")
    val fields12 = org.apache.spark.sql.types.DataType
      .fromJson(md12.get.get("schemaString").asInstanceOf[String])
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
    assert(fields12 == Seq("id", "v"))
    // and the head snapshot resolves under schema A
    assert(DeltaBridge.read(spark, t).columns.toSeq == Seq("id", "v"))
  }

  test("stats bounds compare EXACTLY above 2^53 — long boundaries never " +
    "collapse through a double cast") {
    import spark.implicits._
    val big = 1L << 53
    val t = freshTable()
    TxLog.append(spark,
      Seq((big + 1, "x")).toDF("id", "v").coalesce(1), t, 1)
    // value big+1: [big+1, big+2) keeps, adjacent windows drop — each
    // verdict hinges on a ±1 comparison at 2^53 where doubles cannot
    // represent the boundary
    assert(DeltaBridge.readPruned(spark, t, "id", big + 1, big + 2)
      .inputFiles.length == 1)
    assert(DeltaBridge.readPruned(spark, t, "id", big + 2, big + 3)
      .count() == 0)
    assert(DeltaBridge.readPruned(spark, t, "id", big, big + 1)
      .count() == 0)
    assert(DeltaBridge.readPruned(spark, t, "id", big + 1, big + 2)
      .collect().map(_.getLong(0)).toSeq == Seq(big + 1))
  }

  test("fails loud on newer reader protocols (v2/v3 with supported " +
    "features now read; anything beyond still refuses)") {
    val t2 = freshTable()
    Files.createDirectories(Paths.get(t2, "_delta_log"))
    Files.writeString(Paths.get(t2, "_delta_log", f"${0L}%020d.json"),
      """{"protocol":{"minReaderVersion":4,"minWriterVersion":8}}
        |""".stripMargin)
    val e2 = intercept[IllegalArgumentException](DeltaBridge.read(spark, t2))
    assert(e2.getMessage.contains("reader version"))
  }

  test("PARTITIONED export: metaData carries partitionColumns, every add " +
    "carries partitionValues parsed from its Hive path, and the snapshot " +
    "reads back with typed partition columns — the delta-rs wire shape") {
    val t = freshTable()
    val df = Seq(
      (1L, "a", "CA", 2023), (2L, "b", "CA", 2024),
      (3L, "c", "NY", 2023), (4L, "d", "NY", 2024))
      .toDF("id", "v", "state", "year")
    TxLog.appendPartitioned(spark, df.filter($"id" <= 2), t,
      Seq("state", "year"))
    TxLog.appendPartitioned(spark, df.filter($"id" > 2), t,
      Seq("state", "year"))
    // log contents: the external-reader contract
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val v0 = Files.readAllLines(
      Paths.get(t, "_delta_log", f"${0L}%020d.json")).asScala
      .filter(_.nonEmpty)
      .map(l => mapper.readValue(l, classOf[java.util.Map[String, AnyRef]]))
    val md = v0.flatMap(m => Option(m.get("metaData"))).head
      .asInstanceOf[java.util.Map[String, AnyRef]]
    assert(md.get("partitionColumns")
      .asInstanceOf[java.util.List[String]].asScala.toSeq ==
      Seq("state", "year"))
    val adds = v0.flatMap(m => Option(m.get("add")))
      .map(_.asInstanceOf[java.util.Map[String, AnyRef]])
    assert(adds.nonEmpty)
    adds.foreach { a =>
      val p = a.get("path").asInstanceOf[String]
      val pv = a.get("partitionValues")
        .asInstanceOf[java.util.Map[String, String]].asScala
      assert(p.contains(s"state=${pv("state")}") &&
        p.contains(s"year=${pv("year")}"),
        s"partitionValues $pv must match the Hive path $p")
    }
    // snapshot roundtrip: partition columns come back TYPED per the
    // declared schema (year stays IntegerType, not a string)
    val back = DeltaBridge.read(spark, t)
    assert(back.schema("year").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(back.schema("state").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(back.orderBy("id").collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[String]("v"),
        r.getAs[String]("state"), r.getAs[Int]("year"))).toSeq ==
      Seq((1L, "a", "CA", 2023), (2L, "b", "CA", 2024),
        (3L, "c", "NY", 2023), (4L, "d", "NY", 2024)))
  }

  test("partitionFilter prunes at the METADATA level: only matching " +
    "partitions' files reach the scan") {
    val t = freshTable()
    val df = Seq((1L, "CA"), (2L, "CA"), (3L, "NY"), (4L, "TX"))
      .toDF("id", "state")
    TxLog.appendPartitioned(spark, df, t, Seq("state"))
    val pruned = DeltaBridge.read(spark, t,
      partitionFilter = Map("state" -> "CA"))
    assert(pruned.orderBy("id").collect().map(_.getAs[Long]("id")).toSeq ==
      Seq(1L, 2L))
    // the pruning is in the FILE LIST handed to the scan, not a row filter
    assert(pruned.inputFiles.nonEmpty &&
      pruned.inputFiles.forall(_.contains("state=CA")),
      s"scan must only see state=CA files: ${pruned.inputFiles.toSeq}")
    // filtering on a non-partition column fails loud
    val e = intercept[IllegalArgumentException](
      DeltaBridge.read(spark, t, partitionFilter = Map("id" -> "1")))
    assert(e.getMessage.contains("non-partition"))
  }

  test("null partition values roundtrip through __HIVE_DEFAULT_PARTITION__ " +
    "and a FOREIGN non-Hive layout reads through the partitionValues " +
    "fallback") {
    val t = freshTable()
    val df = Seq((1L, Some("CA")), (2L, None), (3L, Some("NY")))
      .toDF("id", "state")
    TxLog.appendPartitioned(spark, df, t, Seq("state"))
    val back = DeltaBridge.read(spark, t).orderBy("id").collect()
    assert(back.map(r => Option(r.getAs[String]("state"))).toSeq ==
      Seq(Some("CA"), None, Some("NY")))

    // foreign layout: flat file names, partitionValues only in the log —
    // the values are authoritative, reconstruction must not need the path
    val t2 = freshTable()
    Seq((1L, "x")).toDF("id", "v").coalesce(1).write.parquet(s"$t2/d0")
    val part = {
      val s = Files.list(Paths.get(t2, "d0"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).next() + "" finally s.close()
    }
    val full = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType)
      .add("v", org.apache.spark.sql.types.StringType)
      .add("year", org.apache.spark.sql.types.IntegerType)
    val schemaJson = full.json.replace("\"", "\\\"")
    Files.createDirectories(Paths.get(t2, "_delta_log"))
    Files.writeString(Paths.get(t2, "_delta_log", f"${0L}%020d.json"),
      s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}
         |{"metaData":{"id":"f-1","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":["year"],"configuration":{}}}
         |{"add":{"path":"d0/$part","partitionValues":{"year":"2024"},"size":${Files.size(Paths.get(t2, s"d0/$part"))},"modificationTime":1700000000000,"dataChange":true}}
         |""".stripMargin)
    val fb = DeltaBridge.read(spark, t2).collect()
    assert(fb.map(r => (r.getAs[Long]("id"), r.getAs[String]("v"),
      r.getAs[Int]("year"))).toSeq == Seq((1L, "x", 2024)))
  }

  test("re-export EXTENDING a published log keeps version 0's table id and " +
    "emits metaData only on schema change — the immutable-id rule") {
    val t = freshTable()
    TxLog.overwrite(spark, Seq((1L, "a")).toDF("id", "v"), t)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def metaOf(v: Long): Option[java.util.Map[String, AnyRef]] = {
      val f = Paths.get(t, "_delta_log", f"$v%020d.json")
      Files.readAllLines(f).asScala.filter(_.nonEmpty)
        .map(l => mapper.readValue(l, classOf[java.util.Map[String, AnyRef]]))
        .flatMap(m => Option(m.get("metaData")))
        .map(_.asInstanceOf[java.util.Map[String, AnyRef]]).headOption
    }
    val id0 = metaOf(0L).get.get("id").asInstanceOf[String]
    // second refresh, SAME schema → the extending export must add NO
    // metaData action (redundant metaData on an unchanged schema is spec
    // noise, and a fresh id would change the table's identity mid-log)
    TxLog.overwrite(spark, Seq((2L, "b")).toDF("id", "v"), t)
    assert(metaOf(1L).isEmpty,
      "unchanged schema must not re-emit metaData on re-export")
    // third refresh with a NEW column → metaData fires, id is STABLE
    TxLog.overwrite(spark, Seq((3L, "c", 1.5)).toDF("id", "v", "w"), t)
    val md2 = metaOf(2L).get
    assert(md2.get("id").asInstanceOf[String] == id0,
      "schema evolution must keep version 0's immutable table id")
    assert(DeltaBridge.read(spark, t).columns.toSeq == Seq("id", "v", "w"))
  }

  test("DESCRIBE HISTORY: per-version add/remove counts and schema-change " +
    "flags from the log alone; vacuumLog shrinks it to the retained " +
    "suffix (delta's retention behavior)") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t,
      partFiles = 2)                                        // delta 0
    TxLog.overwrite(spark, Seq((3L, "c")).toDF("id", "v"), t,
      partFiles = 1)                                        // delta 1
    TxLog.append(spark, Seq((4L, "d", 1.5)).toDF("id", "v", "w"), t,
      partFiles = 1)                                        // delta 2: schema B
    val h = DeltaBridge.history(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(h.toSeq == Seq(
      (0L, 2L, 0L, true),   // creation: 2 adds + the initial metaData
      (1L, 1L, 2L, false),  // overwrite: 1 add, 2 removes
      (2L, 1L, 0L, true)),  // evolution: 1 add + re-declared schema
      s"got ${h.toSeq}")
    // timestamps are the same clock timestampAsOf resolves against
    val ts = DeltaBridge.history(spark, t).collect().map(_.getLong(1))
    assert(ts.sorted.toSeq == ts.toSeq, "commit times must be monotone here")
    assert(DeltaBridge.versionAtTimestamp(t, ts.last) == 2L)
    // retention: 11 more appends → checkpoint at 10; vacuumLog drops the
    // covered JSON prefix and history shows only the surviving suffix
    (1 to 11).foreach { i =>
      TxLog.append(spark, Seq((10L + i, "x", 0.0)).toDF("id", "v", "w"), t)
    }
    DeltaBridge.vacuumLog(t)
    val left = DeltaBridge.history(spark, t).collect().map(_.getLong(0))
    assert(left.nonEmpty && left.forall(_ > 10L),
      s"history must shrink to the post-checkpoint suffix, got ${left.toSeq}")
  }

  test("timestampAsOf resolves to the latest commit at-or-before the " +
    "instant (commit time = log-file mtime, the delta-spark rule); " +
    "instants outside the log fail loud; exclusive with versionAsOf") {
    import spark.implicits._
    import java.nio.file.attribute.FileTime
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "v"), t)
    TxLog.append(spark, Seq((2L, "b")).toDF("id", "v"), t)
    // pin deterministic commit times an hour apart
    val ld = Paths.get(t, "_delta_log")
    val t0 = 1700000000000L; val t1 = t0 + 3600000L
    Files.setLastModifiedTime(ld.resolve(f"${0L}%020d.json"),
      FileTime.fromMillis(t0))
    Files.setLastModifiedTime(ld.resolve(f"${1L}%020d.json"),
      FileTime.fromMillis(t1))
    def idsAt(ts: String): Seq[Long] =
      spark.read.format("graft-delta").option("timestampAsOf", ts)
        .load(t).collect().map(_.getLong(0)).sorted.toSeq
    assert(idsAt((t0 + 60000L).toString) == Seq(1L),
      "between the commits resolves to the earlier version")
    assert(idsAt(t1.toString) == Seq(1L, 2L),
      "at the exact commit instant resolves to that commit")
    assert(idsAt("2023-11-14T22:14:00Z") == Seq(1L),
      "ISO-8601 instants parse (60 s after t0)")
    val before = intercept[Exception] { idsAt((t0 - 1L).toString) }
    assert(before.getMessage.contains("predates"))
    val after = intercept[Exception] { idsAt((t1 + 1L).toString) }
    assert(after.getMessage.contains("after the latest commit"))
    val both = intercept[Exception] {
      spark.read.format("graft-delta").option("timestampAsOf", t1.toString)
        .option("versionAsOf", "0").load(t).collect()
    }
    assert(both.getMessage.contains("not both"))
  }

  test("DML verbs flow through the bridge: deleteWhere/updateWhere/restore " +
    "export as Delta versions, the native relation serves each state by " +
    "versionAsOf, and a restore's re-ADDED file (removed by an earlier " +
    "Delta version) survives the export roundtrip") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t,
      partFiles = 1)                                     // tx v1 → delta 0
    TxLog.append(spark, Seq((3L, "c")).toDF("id", "v"), t,
      partFiles = 1)                                     // tx v2 → delta 1
    TxLog.deleteWhere(spark, t, "id = 1")                // tx v3 → delta 2
    TxLog.updateWhere(spark, t, "id = 2", Map("v" -> "upper(v)")) // delta 3
    TxLog.restore(spark, t, 2)                           // tx v5 → delta 4
    def stateAt(dv: Long): Map[Long, String] =
      DeltaBridge.read(spark, t, versionAsOf = Some(dv)).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(stateAt(2) == Map(2L -> "b", 3L -> "c"), "post-delete state")
    assert(stateAt(3) == Map(2L -> "B", 3L -> "c"), "post-update state")
    assert(stateAt(4) == Map(1L -> "a", 2L -> "b", 3L -> "c"),
      "the restore must resurrect the ORIGINAL rows — including a file " +
        "the exported delta 2 explicitly removed")
    // and the native relation's head agrees
    assert(spark.read.format("graft-delta").load(t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
      == Map(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("LATEST-mode paced restart resumes from the checkpoint frontier — " +
    "versions committed while the stream was down deliver (no stall " +
    "below the re-pinned head)") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark, Seq((0L, "base")).toDF("id", "v"), t)
    val ckpt = Files.createTempDirectory("delta_latest_ckpt").toString
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Long]())
    def start() = spark.readStream.format("graft-delta")
      .option("startingVersion", "latest")
      .option("maxVersionsPerTrigger", "1")
      .load(t)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("id").collect().foreach(r => seen.add(r.getLong(0)))
        () }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      q1.processAllAvailable() // latest: nothing historical delivers
      Seq((1L, "a")).toDF("id", "v")
        .write.format("graft-delta").mode("append").save(t)
      q1.processAllAvailable()
    } finally q1.stop()
    assert(seen.toArray.toSeq == Seq(1L),
      s"latest must tail only new commits, saw ${seen.toArray.toSeq}")
    // two commits while the stream is DOWN; a fresh instance re-pins
    // startingVersion=latest at the NEW head — the checkpoint frontier
    // (not the re-pinned head) must floor the availability check, else
    // the backlog never reports as available and the stream stalls
    Seq((2L, "b")).toDF("id", "v")
      .write.format("graft-delta").mode("append").save(t)
    Seq((3L, "c")).toDF("id", "v")
      .write.format("graft-delta").mode("append").save(t)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(seen.toArray.map(_.asInstanceOf[Long]).sorted.toSeq ==
      Seq(1L, 2L, 3L),
      s"paced latest restart must deliver the downtime backlog exactly " +
        s"once, saw ${seen.toArray.toSeq}")
  }

  test("catch-up range that CROSSES a schema change into the current " +
    "schema fails loud — old-schema files never silently read under " +
    "the re-pinned head schema") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "v"), t)
    val ckpt = Files.createTempDirectory("delta_schema_ckpt").toString
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Long]())
    def start() = spark.readStream.format("graft-delta").load(t)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("id").collect().foreach(r => seen.add(r.getLong(0)))
        () }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      q1.processAllAvailable() // batch zero: the snapshot
      // one committed DELTA batch before going down, so the restart's
      // batch replay is a plain (0..1] range and the DOWNTIME range is
      // what crosses the change — exercising the catch-up check, not
      // the batch-zero snapshot check
      Seq((2L, "b")).toDF("id", "v")
        .write.format("graft-delta").mode("append").save(t)
      q1.processAllAvailable()
    } finally q1.stop()
    assert(seen.toArray.map(_.asInstanceOf[Long]).sorted.toSeq ==
      Seq(1L, 2L))
    // while the stream is down: one more OLD-schema append, then a
    // NEW-schema append (delta metaData that EQUALS the head schema a
    // restarted instance pins — the shape the != check alone misses)
    TxLog.append(spark, Seq((3L, "c")).toDF("id", "v"), t)
    TxLog.append(spark, Seq((4L, "d", 1.5)).toDF("id", "v", "w"), t)
    val q2 = start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q2.processAllAvailable() finally q2.stop()
    }
    def messages(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(t => Option(t.getMessage).toSeq ++
        messages(t.getCause))
    assert(messages(e).exists(_.contains("cross a schema change")),
      s"must fail with the range-start schema contract, got: $e")
    assert(seen.toArray.map(_.asInstanceOf[Long]).sorted.toSeq == Seq(1L, 2L),
      "no old-schema row may slip through under the new schema")
  }

  test("RECOVERY batch zero across a schema change fails loud: the " +
    "snapshot at the recovered offset cannot be served under the " +
    "re-pinned head schema") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "v"), t)
    TxLog.append(spark, Seq((2L, "b", 1.5)).toDF("id", "v", "w"), t)
    // fresh instance pins head=1 (schema B); the engine recovers an
    // uncommitted batch zero that ended at offset 0 (schema A)
    val src = new DeltaBridgeStreamSource(spark, t, Map.empty)
    val e = intercept[IllegalStateException] {
      src.getBatch(None, LongOffset(0L))
    }
    assert(e.getMessage.contains("delete the checkpoint"),
      s"recovered snapshot under a moved schema must fail loud, got: $e")
    src.stop()
  }

  test("versionAtTimestamp MONOTONIZES non-monotone log-file mtimes " +
    "(running max over version order — clock skew / restored logs), " +
    "and history publishes the same monotonized clock") {
    import spark.implicits._
    import java.nio.file.attribute.FileTime
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "v"), t)
    TxLog.append(spark, Seq((2L, "b")).toDF("id", "v"), t)
    // a restored/copied log: version 1's mtime is BEHIND version 0's
    val ld = Paths.get(t, "_delta_log")
    Files.setLastModifiedTime(ld.resolve(f"${0L}%020d.json"),
      FileTime.fromMillis(5000L))
    Files.setLastModifiedTime(ld.resolve(f"${1L}%020d.json"),
      FileTime.fromMillis(1000L))
    // monotonized clock: v0 -> 5000, v1 -> max(5000, 1000) = 5000; raw
    // mtimes would make the head/last bound checks unsatisfiable (head
    // 5000 > last 1000 rejects every instant)
    assert(DeltaBridge.versionAtTimestamp(t, 5000L) == 1L,
      "at the monotonized instant the LATEST version wins")
    val before = intercept[Exception] {
      DeltaBridge.versionAtTimestamp(t, 4999L) }
    assert(before.getMessage.contains("predates"))
    val h = DeltaBridge.history(spark, t).collect().map(_.getLong(1))
    assert(h.toSeq == Seq(5000L, 5000L),
      s"history must publish the monotonized clock, got ${h.toSeq}")
  }

  // ------------------------- reader features: DVs and column mapping

  /** Hand-write a foreign `_delta_log` version file. */
  private def writeLogJson(t: String, v: Long, lines: Seq[String]): Unit = {
    val ld = Paths.get(t, "_delta_log")
    Files.createDirectories(ld)
    Files.writeString(ld.resolve(f"$v%020d.json"),
      lines.mkString("", "\n", "\n"))
  }

  /** Stage `df` as ONE parquet file directly under `t`; returns the
    * file's table-relative name. Row order is preserved (single task),
    * so `_metadata.row_index` positions are the input order. */
  private def stageOneFile(df: org.apache.spark.sql.DataFrame,
                           t: String, name: String): String = {
    val tmp = Files.createTempDirectory("dv_stage").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
      .find(p => p.endsWith(".parquet") && p.contains("part-")).get
    Files.copy(Paths.get(part), Paths.get(t, name))
    name
  }

  test("DELETION VECTORS: a foreign reader-v3 log with file-based and " +
    "inline DVs reads minus exactly the deleted row indices; the native " +
    "relation path refuses the same table loudly") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType)))
    val f1 = stageOneFile((0L until 10L).map(i => (i, s"r$i"))
      .toDF("id", "v"), t, "part-dv1.parquet")
    val f2 = stageOneFile((10L until 20L).map(i => (i, s"r$i"))
      .toDF("id", "v"), t, "part-dv2.parquet")
    // file-based DV over f1 (drop row positions 1 and 3) and an inline
    // DV over f2 (drop position 0)
    val (enc, spans) = DeletionVectors.writeDvFile(t, Seq(Array(1L, 3L)))
    val inline = {
      val data = DeletionVectors.serialize(Array(0L))
      val padded = data ++ Array.fill((4 - data.length % 4) % 4)(0.toByte)
      (DeletionVectors.z85Encode(padded), data.length)
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    writeLogJson(t, 0L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],""" +
        """"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"t-dv","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(schema.json)},"partitionColumns":[],"configuration":{}}}""",
      s"""{"add":{"path":"$f1","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true,"deletionVector":{"storageType":"u","pathOrInlineDv":"$enc","offset":${spans(0)._1},"sizeInBytes":${spans(0)._2},"cardinality":2}}}""",
      s"""{"add":{"path":"$f2","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"${inline._1}","sizeInBytes":${inline._2},"cardinality":1}}}"""))
    val got = DeltaBridge.read(spark, t).orderBy("id")
      .collect().map(_.getLong(0)).toSeq
    assert(got == ((0L until 20L).toSet -- Set(1L, 3L, 10L)).toSeq.sorted,
      s"DV'd rows must be dropped by ROW INDEX, got $got")
    // the native relation mounts DV'd tables through the extended branch
    // (round 13 refused here) — same rows, filters/pruning composable
    val nat = spark.read.format("graft-delta").load(t)
      .filter($"id" >= 5L).orderBy("id")
      .collect().map(_.getLong(0)).toSeq
    assert(nat == got.filter(_ >= 5L),
      s"format() mount must apply the DVs, got $nat")
  }

  test("COLUMN MAPPING (name mode): logical schema over physically-named " +
    "parquet columns, mapped partitionValues, stats keyed physically") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    // data files store physical names; the partition column is NOT in
    // the data file at all (delta semantics)
    val f1 = stageOneFile(Seq((1L, "a"), (2L, "b"))
      .toDF("col-9f1", "col-2ab"), t, "part-m1.parquet")
    val f2 = stageOneFile(Seq((3L, "c")).toDF("col-9f1", "col-2ab"),
      t, "part-m2.parquet")
    def fld(name: String, dt: DataType, phys: String, id: Int) =
      StructField(name, dt, nullable = true,
        new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", phys)
          .putLong("delta.columnMapping.id", id.toLong).build())
    val schema = StructType(Seq(
      fld("id", LongType, "col-9f1", 1),
      fld("v", StringType, "col-2ab", 2),
      fld("part", StringType, "col-777", 3)))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    writeLogJson(t, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"t-cm","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(schema.json)},"partitionColumns":["part"],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"3"}}}""",
      s"""{"add":{"path":"$f1","partitionValues":{"col-777":"x"},"size":1,"modificationTime":0,"dataChange":true,"stats":"{\\"numRecords\\":2,\\"minValues\\":{\\"col-9f1\\":1},\\"maxValues\\":{\\"col-9f1\\":2}}"}}""",
      s"""{"add":{"path":"$f2","partitionValues":{"col-777":"y"},"size":1,"modificationTime":0,"dataChange":true,"stats":"{\\"numRecords\\":1,\\"minValues\\":{\\"col-9f1\\":3},\\"maxValues\\":{\\"col-9f1\\":3}}"}}"""))
    val got = DeltaBridge.read(spark, t).orderBy("id")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("v"),
        r.getAs[String]("part"))).toSeq
    assert(got == Seq((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y")),
      s"logical names must map onto physical columns, got $got")
    // partitionFilter speaks LOGICAL names; the log's keys are physical
    assert(DeltaBridge.read(spark, t,
        partitionFilter = Map("part" -> "y"))
      .collect().map(_.getAs[Long]("id")).toSeq == Seq(3L))
    // stats pruning translates the logical column to the physical key
    assert(DeltaBridge.readPruned(spark, t, "id", 3L, 99L)
      .collect().map(_.getAs[Long]("id")).toSeq == Seq(3L))
    // the native relation mounts mapped tables through the extended
    // branch (round 13 refused here): logical names, pruning, filters
    val nat = spark.read.format("graft-delta").load(t)
      .filter($"part" === "x").select("v").orderBy("v")
      .collect().map(_.getString(0)).toSeq
    assert(nat == Seq("a", "b"),
      s"format() mount must serve logical names over the mapping, got $nat")
    // and the SQL catalog serves the same table via the V1Scan adapter
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.v2.GraftDeltaCatalog].getName)
    val viaSql = spark.sql(
        s"SELECT id FROM graft.`$t` WHERE v <> 'b' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(viaSql == Seq(1L, 3L),
      s"catalog mount must serve the mapped table, got $viaSql")
  }

  test("COLUMN MAPPING (id mode): parquet columns match by FIELD ID even " +
    "when physical names disagree with the files") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    // the data file's columns carry parquet field ids 1 and 2 under
    // arbitrary names — id-mode readers must match by id, not name
    val writeSchema = StructType(Seq(
      StructField("anything", LongType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 1L).build()),
      StructField("whatever", StringType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 2L).build())))
    val df = spark.createDataFrame(
      Seq((5L, "e"), (6L, "f")).toDF("a", "b").rdd, writeSchema)
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val f1 = stageOneFile(df, t, "part-id1.parquet")
    def fld(name: String, dt: DataType, phys: String, id: Int) =
      StructField(name, dt, nullable = true,
        new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", phys)
          .putLong("delta.columnMapping.id", id.toLong).build())
    val schema = StructType(Seq(
      fld("id", LongType, "col-AAA", 1),
      fld("v", StringType, "col-BBB", 2)))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    writeLogJson(t, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"t-cmid","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(schema.json)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id"}}}""",
      s"""{"add":{"path":"$f1","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""))
    val got = DeltaBridge.read(spark, t).orderBy("id")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("v"))).toSeq
    assert(got == Seq((5L, "e"), (6L, "f")),
      s"id-mode must match by parquet field id, got $got")
  }

  test("timestampNtz reads through a v3 log (the type is native here); " +
    "vacuumProtocolCheck is a reader no-op — both features mount") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    val df = spark.sql(
      "SELECT id, TIMESTAMP_NTZ '2024-02-29 12:34:56' AS ts " +
        "FROM VALUES (1L), (2L) AS v(id)")
    val f1 = stageOneFile(df, t, "part-ntz.parquet")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("ts", TimestampNTZType)))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    writeLogJson(t, 0L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["timestampNtz","vacuumProtocolCheck"],""" +
        """"writerFeatures":["timestampNtz","vacuumProtocolCheck"]}}""",
      s"""{"metaData":{"id":"t-ntz","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(schema.json)},"partitionColumns":[],"configuration":{}}}""",
      s"""{"add":{"path":"$f1","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""))
    val got = DeltaBridge.read(spark, t).orderBy("id").collect()
      .map(r => (r.getLong(0),
        r.getAs[java.time.LocalDateTime]("ts").toString)).toSeq
    assert(got == Seq((1L, "2024-02-29T12:34:56"),
      (2L, "2024-02-29T12:34:56")),
      s"TIMESTAMP_NTZ must read zone-free, got $got")
  }

  test("an UNSUPPORTED reader feature still refuses loudly") {
    val t = freshTable()
    writeLogJson(t, 0L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors","v2Checkpoint"]}}""",
      """{"metaData":{"id":"t-x","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[]}","partitionColumns":[],"configuration":{}}}"""))
    val e = intercept[IllegalArgumentException] {
      DeltaBridge.read(spark, t).collect()
    }
    assert(e.getMessage.contains("v2Checkpoint"), e.getMessage)
  }

  test("within-commit reconciliation is ORDER-FREE: a version whose add " +
    "line precedes its remove line for the SAME path (the foreign DV " +
    "rewrite shape) keeps the file live under the new add") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    val f1 = stageOneFile((0L until 6L).map(i => (i, s"r$i"))
      .toDF("id", "v"), t, "part-rw.parquet")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType)))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    writeLogJson(t, 0L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],""" +
        """"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"t-rw","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(schema.json)},"partitionColumns":[],"configuration":{}}}""",
      s"""{"add":{"path":"$f1","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""))
    // version 1: a DELETE-with-DV rewrite — ADD (with the new DV)
    // serialized BEFORE the REMOVE of the same path, the order the spec
    // explicitly allows; row index 2 is deleted
    val inline = {
      val data = DeletionVectors.serialize(Array(2L))
      val padded = data ++ Array.fill((4 - data.length % 4) % 4)(0.toByte)
      (DeletionVectors.z85Encode(padded), data.length)
    }
    writeLogJson(t, 1L, Seq(
      s"""{"add":{"path":"$f1","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"${inline._1}","sizeInBytes":${inline._2},"cardinality":1}}}""",
      s"""{"remove":{"path":"$f1","dataChange":true}}"""))
    val got = DeltaBridge.read(spark, t).orderBy("id")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 1L, 3L, 4L, 5L),
      s"the add must win over the same-version remove, got $got")
    // at version 0 the file is DV-free
    assert(DeltaBridge.read(spark, t, versionAsOf = Some(0L)).count() == 6)
  }

  test("checkpoint preserves txn actions and IN-RETENTION remove " +
    "tombstones (spec completeness, ADVICE r14); expired tombstones age " +
    "out; both survive a bootstrap → re-checkpoint chain") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    val f0 = stageOneFile(Seq((1L, "a")).toDF("id", "v"), t, "p0.parquet")
    val f1 = stageOneFile(Seq((2L, "b")).toDF("id", "v"), t, "p1.parquet")
    val f2 = stageOneFile(Seq((3L, "c")).toDF("id", "v"), t, "p2.parquet")
    val f3 = stageOneFile(Seq((4L, "d")).toDF("id", "v"), t, "p3.parquet")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType)))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val recent = System.currentTimeMillis() - 3600 * 1000 // 1h: in retention
    val expired = 1700000000000L // 2023: far past the 1-week default
    writeLogJson(t, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"t-ckpt","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(schema.json)},"partitionColumns":[],"configuration":{}}}""",
      s"""{"add":{"path":"$f0","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""))
    writeLogJson(t, 1L, Seq(
      """{"txn":{"appId":"upstream-etl","version":7,"lastUpdated":1700000001000}}""",
      s"""{"add":{"path":"$f1","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""",
      s"""{"remove":{"path":"$f0","deletionTimestamp":$recent,"dataChange":true}}"""))
    writeLogJson(t, 2L, Seq(
      s"""{"add":{"path":"$f2","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""",
      s"""{"remove":{"path":"$f1","deletionTimestamp":$expired,"dataChange":true}}"""))
    assert(DeltaBridge.checkpoint(spark, t) == 2L)
    def ckptActions(cv: Long) = {
      val rows = spark.read.parquet(
        Paths.get(t, "_delta_log", f"$cv%020d.checkpoint.parquet").toString)
      (rows.filter(col("txn").isNotNull)
         .select("txn.appId", "txn.version").collect()
         .map(r => (r.getString(0), r.getLong(1))).toSet,
       rows.filter(col("remove").isNotNull)
         .select("remove.path").collect().map(_.getString(0)).toSet,
       rows.filter(col("add").isNotNull)
         .select("add.path").collect().map(_.getString(0)).toSet)
    }
    val (txns, tombs, adds) = ckptActions(2L)
    assert(txns == Set(("upstream-etl", 7L)),
      s"the SetTransaction state must ride the checkpoint: $txns")
    assert(tombs == Set(f0),
      s"the in-retention tombstone survives, the expired one ages out: $tombs")
    assert(adds == Set(f2), s"live set: $adds")
    // log cleanup under the checkpoint, then a new version + a NEW
    // checkpoint: the chain must carry the state THROUGH the bootstrap
    assert(DeltaBridge.vacuumLog(t) == Seq(0L, 1L, 2L))
    writeLogJson(t, 3L, Seq(
      s"""{"add":{"path":"$f3","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""))
    assert(DeltaBridge.checkpoint(spark, t) == 3L)
    val (txns3, tombs3, adds3) = ckptActions(3L)
    assert(txns3 == Set(("upstream-etl", 7L)),
      s"txn must survive bootstrap → re-checkpoint: $txns3")
    assert(tombs3 == Set(f0), s"tombstone chain: $tombs3")
    assert(adds3 == Set(f2, f3), s"live set at 3: $adds3")
    // the snapshot read itself is unchanged by the carried state
    assert(DeltaBridge.read(spark, t).orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(3L, 4L))
  }

  test("STREAMING over DV deletes: a mid-stream DV delete refuses " +
    "without ignoreChanges, delivers POST-DELETE rows with it, and a " +
    "fresh stream over the DV'd head serves the post-DV snapshot") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark,
      (0L until 100L).map(i => (i, s"v$i")).toDF("k", "s"), t, partFiles = 1)
    // stream 1: default start, no opt-in — the DV delete (a logical
    // remove) must fail the stream loud, like any remove-bearing version
    val ckpt1 = Files.createTempDirectory("dv_stream_ckpt1").toString
    val q1 = spark.readStream.format("graft-delta").load(t)
      .writeStream.format("memory").queryName("dv_tail1")
      .option("checkpointLocation", ckpt1).outputMode("append").start()
    try {
      q1.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM dv_tail1").head().getLong(0)
        == 100)
      TxLog.deleteWhereDv(spark, t, "k IN (5, 17)", maxDvFraction = 0.05)
      val err = intercept[Exception](q1.processAllAvailable())
      assert(err.getMessage.contains("ignoreChanges") ||
        Option(err.getCause).exists(_.getMessage.contains("ignoreChanges")),
        s"a DV'd version must refuse with the opt-in named: $err")
    } finally q1.stop()
    // stream 2: fresh default start over the NOW-DV'd head — batch zero
    // must serve the post-DV snapshot (98 rows), not refuse and not
    // resurrect deleted rows
    val ckpt2 = Files.createTempDirectory("dv_stream_ckpt2").toString
    val q2 = spark.readStream.format("graft-delta")
      .option("ignoreChanges", "true").load(t)
      .writeStream.format("memory").queryName("dv_tail2")
      .option("checkpointLocation", ckpt2).outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM dv_tail2").head().getLong(0)
        == 98, "batch zero over a DV'd table is its post-DV live set")
      // mid-stream DV delete under ignoreChanges: the re-published add
      // re-delivers the file's POST-DELETE rows (the documented
      // ignoreChanges trade) — never the raw physical rows
      TxLog.deleteWhereDv(spark, t, "k = 30", maxDvFraction = 0.05)
      q2.processAllAvailable()
      val byK = spark.sql("SELECT k, count(*) AS n FROM dv_tail2 GROUP BY k")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(!byK.contains(5L) && !byK.contains(17L),
        "rows deleted before the stream started must never appear")
      assert(byK(30L) == 1,
        "the mid-stream-deleted row appears only from batch zero — the " +
          s"re-delivered add must exclude it, got ${byK.get(30L)}")
      assert(byK(31L) == 2, "surviving rows of the DV'd file re-deliver")
      assert(byK.values.sum == 98 + 97,
        s"98 snapshot + 97 post-DV re-delivered, got ${byK.values.sum}")
    } finally q2.stop()
  }

  test("exportLog's cadence checkpoint never regresses an explicitly " +
    "pinned one (regression r15: after vacuumLog it would publish an " +
    "EMPTY checkpoint at the cadence version and brick the table)") {
    import spark.implicits._
    val t = freshTable()
    (1 to 12).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, "x")).toDF("id", "v"), t,
        partFiles = 1)
    }
    def lcVersion(): Long = {
      val m = new com.fasterxml.jackson.databind.ObjectMapper().readValue(
        Files.readString(Paths.get(t, "_delta_log", "_last_checkpoint")),
        classOf[java.util.Map[String, AnyRef]])
      m.get("version").asInstanceOf[Number].longValue()
    }
    assert(lcVersion() == 10L)
    assert(DeltaBridge.checkpoint(spark, t) == 11L) // explicit pin above
    assert(DeltaBridge.vacuumLog(t).nonEmpty)       // JSON 0..11 retired
    TxLog.append(spark, Seq((13L, "x")).toDF("id", "v"), t, partFiles = 1)
    assert(lcVersion() == 11L,
      "the cadence checkpoint below the pin must be skipped")
    assert(DeltaBridge.read(spark, t).count() == 13,
      "the table must stay readable through the pin + vacuum + export")
    // and an explicitly-requested unreconstructible version refuses
    // loud instead of publishing an empty state
    val e = intercept[IllegalArgumentException] {
      DeltaBridge.writeCheckpoint(spark, t, 5L)
    }
    assert(e.getMessage.contains("cannot be reconstructed"),
      s"got: ${e.getMessage}")
  }

  test("MULTI-PART checkpoint WRITE: above the part-row threshold the " +
    "checkpoint lands as the spec's part layout, bootstraps after log " +
    "cleanup, and carries txn/tombstone state") {
    import spark.implicits._
    val t = freshTable()
    (1 to 6).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "v"), t,
        partFiles = 1)
    }
    TxLog.appendBatch(spark, Seq((100L, "s")).toDF("id", "v"), t,
      batchId = 3L)
    // protocol + metaData + 7 adds + 1 txn = 10 rows; 3 rows/part → 4
    assert(DeltaBridge.checkpoint(spark, t, partRows = 3) == 6L)
    val ld = Paths.get(t, "_delta_log")
    val parts = TxLog.listDir(ld).map(_.getFileName.toString)
      .filter(_.matches("\\d{20}\\.checkpoint\\.\\d{10}\\.\\d{10}\\.parquet"))
      .sorted
    assert(parts.size == 4 && parts.head.contains(".0000000001.0000000004."),
      s"expected a 4-part layout, got $parts")
    assert(!Files.exists(ld.resolve(f"${6L}%020d.checkpoint.parquet")),
      "no single-file checkpoint alongside the part set")
    val lc = Files.readString(ld.resolve("_last_checkpoint"))
    assert(lc.contains("\"parts\":4"), s"_last_checkpoint declares parts: $lc")
    // log cleanup under it, then bootstrap from the part set alone
    assert(DeltaBridge.vacuumLog(t).nonEmpty)
    assert(DeltaBridge.read(spark, t).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L, 100L))
    // carried state: the streaming frontier survives into the next
    // (single-file) checkpoint built ON the multi-part bootstrap
    writeLogJson(t, 7L, Seq(
      s"""{"add":{"path":"${stageOneFile(Seq((200L, "w")).toDF("id", "v"),
        t, "pW.parquet")}","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""))
    assert(DeltaBridge.checkpoint(spark, t) == 7L)
    val txns = spark.read.parquet(
        ld.resolve(f"${7L}%020d.checkpoint.parquet").toString)
      .filter(col("txn").isNotNull).select("txn.appId", "txn.version")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(txns == Seq(("graft-stream-v1", 3L)),
      s"txn must survive the multi-part bootstrap chain: $txns")
  }

  test("catch-up range over a DV'd table crossing a metaData that " +
    "re-declares the current schema still streams (regression r15: the " +
    "range-start schema check used the DV-refusing snapshot)") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark,
      (0L until 50L).map(i => (i, s"v$i")).toDF("k", "s"), t, partFiles = 1)
    TxLog.deleteWhereDv(spark, t, "k = 5", maxDvFraction = 0.1)
    // v2: a foreign writer re-declares the SAME schema alongside an add
    // — the shape that flips the range-start schema check on
    val schemaJson = DeltaBridge.streamSnapshot(spark, t, None).schemaJson
    val f = stageOneFile(Seq((100L, "x")).toDF("k", "s"), t, "pX.parquet")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    writeLogJson(t, 2L, Seq(
      s"""{"metaData":{"id":"t-redecl","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(schemaJson)},"partitionColumns":[],"configuration":{}}}""",
      s"""{"add":{"path":"$f","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""))
    val ckpt = Files.createTempDirectory("dv_redecl_ckpt").toString
    val q = spark.readStream.format("graft-delta")
      .option("ignoreChanges", "true").option("startingVersion", "1")
      .load(t)
      .writeStream.format("memory").queryName("dv_redecl_tail")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      val ks = spark.sql("SELECT k FROM dv_redecl_tail").collect()
        .map(_.getLong(0)).toSet
      assert(!ks.contains(5L), "the DV'd add must exclude the deleted row")
      assert(ks.contains(100L), "the post-metaData add must stream")
      assert(ks.size == 50, s"49 post-DV rows + the new add, got ${ks.size}")
    } finally q.stop()
  }

  test("streaming batch commits export as Delta txn actions and the " +
    "checkpoint carries the latest frontier per appId") {
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "v"), t)
    TxLog.appendBatch(spark, Seq((2L, "b")).toDF("id", "v"), t, batchId = 6L)
    TxLog.appendBatch(spark, Seq((3L, "c")).toDF("id", "v"), t, batchId = 7L)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val txns = (0L to 2L).flatMap { v =>
      Files.readAllLines(Paths.get(t, "_delta_log", f"$v%020d.json"))
        .asScala.filter(_.nonEmpty)
        .map(mapper.readValue(_, classOf[java.util.Map[String, AnyRef]]))
        .flatMap(m => Option(m.get("txn"))
          .map(_.asInstanceOf[java.util.Map[String, AnyRef]]))
    }
    assert(txns.map(tx => (tx.get("appId").asInstanceOf[String],
        tx.get("version").asInstanceOf[Number].longValue())) ==
      Seq(("graft-stream-v1", 6L), ("graft-stream-v1", 7L)),
      s"each batch commit must export its SetTransaction: $txns")
    assert(DeltaBridge.checkpoint(spark, t) == 2L)
    val ck = spark.read.parquet(Paths.get(t, "_delta_log",
      f"${2L}%020d.checkpoint.parquet").toString)
    val rows = ck.filter(col("txn").isNotNull)
      .select("txn.appId", "txn.version").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("graft-stream-v1", 7L)),
      s"the checkpoint keeps the LATEST version per appId: $rows")
  }

  test("tombstoneRetentionMs parses the spec's interval forms and " +
    "defaults to one week") {
    val week = 7L * 24 * 3600 * 1000
    assert(DeltaBridge.tombstoneRetentionMs(Map.empty) == week)
    assert(DeltaBridge.tombstoneRetentionMs(Map(
      "delta.deletedFileRetentionDuration" -> "interval 2 days")) ==
      2 * 24 * 3600 * 1000L)
    assert(DeltaBridge.tombstoneRetentionMs(Map(
      "delta.deletedFileRetentionDuration" -> "INTERVAL 12 HOURS")) ==
      12 * 3600 * 1000L)
    assert(DeltaBridge.tombstoneRetentionMs(Map(
      "delta.deletedFileRetentionDuration" -> "interval 1 week")) == week)
    assert(DeltaBridge.tombstoneRetentionMs(Map(
      "delta.deletedFileRetentionDuration" -> "not an interval")) == week,
      "unparseable → conservative default")
  }
}
