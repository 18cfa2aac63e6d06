package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.{col, lit}

/** Every clean snapshot plans as ONE scan over the log-backed index
  * (`DeltaBridge.logRelation`), whatever its commit count, file count,
  * directory layout or partition types, and the checkpoint it bootstraps
  * from is read on the driver. */
class DeltaLogScanSpec extends SparkSpec {

  import spark.implicits._

  private def scans(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }.size

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private def assertOneScan(t: String, expected: Seq[String]): Unit = {
    DeltaBridge.clearReadCache()
    assert(jobsOf(DeltaBridge.read(spark, t).queryExecution.executedPlan) == 0,
      s"planning a read of $t must schedule no job")
    Seq("DeltaBridge.read" -> DeltaBridge.read(spark, t),
      "TxLog.read" -> TxLog.read(spark, t),
      "graft-delta" -> spark.read.format("graft-delta").load(t)).foreach {
      case (how, df) =>
        assert(scans(df) == 1, s"$how of $t: ${df.queryExecution.sparkPlan}")
        assert(rows(df) == expected, s"$how of $t")
    }
    // one snapshot read twice is one relation, so a query shares its exchanges
    assert(DeltaBridge.read(spark, t).queryExecution.optimizedPlan
      .sameResult(TxLog.read(spark, t).queryExecution.optimizedPlan))
  }

  test("one scan at 1, 8 and 32 partitioned commits and above 32 flat " +
    "files; planning a read schedules no job") {
    val t = tmpDir("one_scan_part")
    var expected = Seq.empty[String]
    (1 to 32).foreach { i =>
      val batch = Seq((i.toLong, s"v$i", "CA"), (-i.toLong, s"w$i", "NY"))
      TxLog.appendPartitioned(spark, batch.toDF("id", "v", "state"), t, Seq("state"))
      expected = (expected ++ batch.map(_.productIterator.mkString("|"))).sorted
      if (Set(1, 8, 32)(i)) assertOneScan(t, expected)
    }
    val flat = tmpDir("one_scan_flat")
    TxLog.append(spark, (1L to 80L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(40), flat, partFiles = 40)
    assert(TxLog.liveFiles(flat).size > 32)
    assertOneScan(flat, (1L to 80L).map(i => s"$i|v$i").sorted)
  }

  test("TIMESTAMP and DECIMAL partition columns of a foreign log type " +
    "alike through graft-delta, the SQL catalog and DeltaBridge.read, and " +
    "a predicate on each prunes") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.v2.GraftDeltaCatalog].getName)
    val t = tmpDir("typed_parts")
    // flat data files: the partition values live only in the log
    def stage(dir: String, id: Long): String = {
      Seq((id, s"v$id")).toDF("id", "v").coalesce(1).write.parquet(s"$t/$dir")
      val s = Files.list(Paths.get(t, dir))
      try s"$dir/" + s.iterator().asScala.map(_.getFileName.toString)
        .find(_.endsWith(".parquet")).get
      finally s.close()
    }
    val files = Seq(stage("d0", 1L), stage("d1", 2L))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("v", "string").add("ts", "timestamp")
      .add("amt", "decimal(10,2)")
    val mapper = DeltaBridge.mapper
    val adds = files.zip(Seq(("2024-01-01 10:00:00", "1.50"),
        ("2024-06-30 23:59:59.5", "20.25"))).map { case (f, (ts, amt)) =>
      s"""{"add":{"path":"$f","partitionValues":{"ts":"$ts","amt":"$amt"},"size":${Files.size(Paths.get(t, f))},"modificationTime":1700000000000,"dataChange":true}}"""
    }
    Files.createDirectories(DeltaBridge.deltaLogDir(t))
    Files.writeString(DeltaBridge.deltaVersionFile(t, 0L), (Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"typed","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(schema.json)},"partitionColumns":["ts","amt"],"configuration":{}}}""")
      ++ adds).mkString("", "\n", "\n"))

    val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    def instant(s: String) = java.time.LocalDateTime.parse(s).atZone(zone).toInstant
    val expected = Seq(
      (1L, "v1", instant("2024-01-01T10:00:00"), BigDecimal("1.50")),
      (2L, "v2", instant("2024-06-30T23:59:59.5"), BigDecimal("20.25")))
    def typed(df: DataFrame) = df.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getTimestamp(2).toInstant,
        BigDecimal(r.getDecimal(3)))).toSeq
    val mounts = Seq(
      "graft-delta" -> (() => spark.read.format("graft-delta").load(t)),
      "catalog" -> (() => spark.sql(s"SELECT * FROM graft.`$t`")),
      "DeltaBridge.read" -> (() => DeltaBridge.read(spark, t)))
    mounts.foreach { case (how, df) => assert(typed(df()) == expected, how) }

    // a predicate on either partition column keeps one file of two
    Seq(col("ts") > lit(java.sql.Timestamp.from(instant("2024-03-01T00:00:00"))),
      col("amt") > lit(BigDecimal("10")).cast("decimal(10,2)")).foreach { p =>
      mounts.foreach { case (how, df) =>
        val q = df().filter(p)
        assert(q.collect().map(_.getLong(0)).toSeq == Seq(2L), s"$how $p")
        val listed = q.queryExecution.executedPlan.collectFirst {
          case s: FileSourceScanExec => s.metrics("numFiles").value
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            val fs = b.scan.asInstanceOf[
              org.apache.spark.sql.execution.datasources.v2.FileScan]
            fs.fileIndex.listFiles(fs.partitionFilters, fs.dataFilters)
              .map(_.files.size).sum.toLong
        }
        assert(listed.contains(1L), s"$how must prune $p to one file: $listed")
      }
    }
  }

  test("the first replay above a fresh cadence checkpoint reads it on the " +
    "driver: no job") {
    val t = tmpDir("ckpt_driver")
    (1 to 11).foreach(i => TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "v"), t))
    assert(DeltaBridge.lastCheckpointVersion(t).contains(10L))
    var live = 0
    assert(jobsOf { live = DeltaBridge.readState(spark, t, None).live.size } == 0)
    assert(live == TxLog.liveFiles(t).size && live > 0)
  }
}
