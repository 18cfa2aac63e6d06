package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{BinaryType, MetadataBuilder, StringType}

/** [[Tables.parquet]], the one untyped parquet reader: its reads equal
  * plain `spark.read.parquet` (schema with nullability and metadata, and
  * rows), a repeat read of an unchanged input plans with no job, every
  * change to the listed files or the SQL conf re-infers, failures are
  * the plain read's and are never remembered, and the memo is bounded. */
class TablesParquetSpec extends SparkSpec {

  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.map {
    case b: Array[Byte] => new String(b, "UTF-8")
    case v              => String.valueOf(v)
  }.mkString("[", ",", "]")).toSeq.sorted

  /** Schema (names, types, nullability, metadata) and rows of `df` equal
    * those of `plain`. */
  private def assertSameRead(df: DataFrame, plain: DataFrame): Unit = {
    assert(df.schema == plain.schema, s"${df.schema.treeString} vs ${plain.schema.treeString}")
    assert(rows(df) == rows(plain))
  }

  /** The read runs its inference job on the first call only; both calls
    * equal the plain read. */
  private def assertMemoized(read: => DataFrame, plain: => DataFrame): Unit = {
    var first, second: DataFrame = null
    assert(jobsOf { first = read } == 1)
    assert(jobsOf { second = read } == 0)
    assertSameRead(first, plain)
    assertSameRead(second, plain)
  }

  /** One parquet file written by parquet's example writer: no Spark
    * schema in its footer, so Spark infers from the parquet types alone. */
  private def foreignFile(file: String, message: String)(
      fill: org.apache.parquet.example.data.simple.SimpleGroupFactory =>
        Seq[org.apache.parquet.example.data.Group]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val conf = spark.sessionState.newHadoopConf()
    val msg = MessageTypeParser.parseMessageType(message)
    val w = ExampleParquetWriter.builder(
        HadoopOutputFile.fromPath(new org.apache.hadoop.fs.Path(file), conf))
      .withType(msg).withConf(conf).build()
    try fill(new SimpleGroupFactory(msg)).foreach(w.write) finally w.close()
  }

  /** `df` written as the single parquet file `file`, replacing any file
    * already there (a rename: new inode, same name). */
  private def singleFile(df: DataFrame, file: String): Unit = {
    val staged = tmpDir("single")
    df.coalesce(1).write.mode("overwrite").parquet(staged)
    val part = Files.list(Paths.get(staged)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.startsWith("part-")).get
    Files.move(part, Paths.get(file), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a corpus table reads as the plain read, with column metadata, " +
    "and a repeat read runs no inference job") {
    val d = tmpDir("corpus")
    val note = new MetadataBuilder().putString("comment", "document body").build()
    Seq((1L, "a b c", "web"), (2L, "b c d", null))
      .toDF("doc_id", "text", "source")
      .withColumn("text", col("text").as("text", note))
      .write.parquet(s"$d/documents.parquet")
    assertMemoized(Tables.documents(spark, d), spark.read.parquet(s"$d/documents.parquet"))
    assert(Tables.documents(spark, d).schema("text").metadata == note)
  }

  test("a Hive-partitioned TxLog stage directory reads as the plain read") {
    val t = tmpDir("stage_read")
    graft.sources.TxLog.appendPartitioned(spark,
      Seq((1L, 2020, "ne"), (2L, 2021, null), (3L, 2021, "sw"))
        .toDF("id", "year", "region"), t, Seq("year", "region"))
    val stage = Files.list(Paths.get(t)).toArray.map(_.toString)
      .filter(_.contains("stage-")).head
    assertMemoized(Tables.parquet(spark, stage), spark.read.parquet(stage))
  }

  test("a multi-path read in d189's gen0 + compact shape reads as the " +
    "plain read") {
    val root = tmpDir("gen_compact")
    Seq((10L, 1L), (11L, 2L)).toDF("band_key", "doc_id").write.parquet(s"$root/gen0")
    Seq((10L, 3L)).toDF("band_key", "doc_id").repartition(2).write.parquet(s"$root/compact")
    assertMemoized(Tables.parquet(spark, s"$root/gen0", s"$root/compact"),
      spark.read.parquet(s"$root/gen0", s"$root/compact"))
  }

  test("Tables.events over TIMESTAMP(NANOS) reads as the plain read " +
    "under nanosAsLong") {
    val d = tmpDir("events_nanos")
    foreignFile(s"$d/events.parquet",
      "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }") { f =>
      Seq(f.newGroup().append("id", 1L).append("ts", 1700000000123456789L),
        f.newGroup().append("id", 2L).append("ts", 1700000001987654321L))
    }
    withSQLConf("spark.sql.legacy.parquet.nanosAsLong" -> "true",
        "spark.sql.session.timeZone" -> "UTC") {
      val plain = spark.read.parquet(s"$d/events.parquet")
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      assertMemoized(Tables.events(spark, d), plain)
      assert(rows(Tables.events(spark, d).select(expr("unix_micros(ts)"))) ==
        Seq("[1700000000123456]", "[1700000001987654]"))
    }
  }

  test("a plain read of the same files runs the inference job the " +
    "reader skips") {
    val p = tmpDir("plain_job")
    Seq(1L, 2L).toDF("id").write.mode("overwrite").parquet(p)
    Tables.parquet(spark, p)
    assert(jobsOf(spark.read.parquet(p)) == 1)
    assert(jobsOf(Tables.parquet(spark, p)) == 0)
  }

  test("an appended file forces re-inference") {
    val p = tmpDir("appended")
    Seq(1L).toDF("id").write.mode("overwrite").parquet(p)
    assertMemoized(Tables.parquet(spark, p), spark.read.parquet(p))
    Seq(2L).toDF("id").write.mode("append").parquet(p)
    var df: DataFrame = null
    assert(jobsOf { df = Tables.parquet(spark, p) } == 1)
    assertSameRead(df, spark.read.parquet(p))
    assert(rows(df) == Seq("[1]", "[2]"))
  }

  test("a rewrite under the same name with a different schema forces " +
    "re-inference") {
    val f = s"${tmpDir("rewritten")}/x.parquet"
    singleFile(Seq((1L, "a")).toDF("id", "v"), f)
    assertMemoized(Tables.parquet(spark, f), spark.read.parquet(f))
    val before = Files.readAttributes(Paths.get(f),
      classOf[java.nio.file.attribute.BasicFileAttributes])
    singleFile(Seq((1L, "a")).toDF("id", "w"), f)
    // same name, size and modification time: only the file key differs
    Files.setLastModifiedTime(Paths.get(f), before.lastModifiedTime)
    assert(Files.size(Paths.get(f)) == before.size)
    var df: DataFrame = null
    assert(jobsOf { df = Tables.parquet(spark, f) } == 1)
    assert(df.columns.toSeq == Seq("id", "w"))
    assertSameRead(df, spark.read.parquet(f))
  }

  test("a spark.sql.parquet.binaryAsString flip forces re-inference") {
    val f = s"${tmpDir("binary")}/b.parquet"
    foreignFile(f, "message m { required int64 id; optional binary name; }") { g =>
      Seq(g.newGroup().append("id", 1L).append("name", "a"))
    }
    withSQLConf("spark.sql.parquet.binaryAsString" -> "false") {
      assertMemoized(Tables.parquet(spark, f), spark.read.parquet(f))
      assert(Tables.parquet(spark, f).schema("name").dataType == BinaryType)
    }
    withSQLConf("spark.sql.parquet.binaryAsString" -> "true") {
      assertMemoized(Tables.parquet(spark, f), spark.read.parquet(f))
      assert(Tables.parquet(spark, f).schema("name").dataType == StringType)
      assert(rows(Tables.parquet(spark, f)) == Seq("[1,a]"))
    }
  }

  test("a partition column also stored in the data files is never " +
    "remembered, and reads as the plain read") {
    val p = tmpDir("part_in_data")
    Seq((1L, 7)).toDF("id", "q").write.parquet(s"$p/q=7")
    var df: DataFrame = null
    assert(jobsOf { df = Tables.parquet(spark, p) } == 1)
    assert(jobsOf { df = Tables.parquet(spark, p) } == 1)
    assertSameRead(df, spark.read.parquet(p))
  }

  /** Both reads fail with the same exception class and message. */
  private def failsAsPlain(path: String): Unit = {
    val ours = intercept[Exception](Tables.parquet(spark, path))
    val plain = intercept[Exception](spark.read.parquet(path))
    assert(ours.getClass == plain.getClass && ours.getMessage == plain.getMessage,
      s"$ours vs $plain")
  }

  test("a missing path and an empty directory fail as the plain read, " +
    "and the read succeeds once the path is fixed") {
    val missing = s"${tmpDir("missing")}/absent"
    failsAsPlain(missing)
    Seq(1L).toDF("id").write.parquet(missing)
    assertMemoized(Tables.parquet(spark, missing), spark.read.parquet(missing))

    val empty = tmpDir("empty")
    failsAsPlain(empty)
    failsAsPlain(empty)
    Seq(2L).toDF("id").write.mode("overwrite").parquet(empty)
    assertMemoized(Tables.parquet(spark, empty), spark.read.parquet(empty))
  }

  test("a remembered path that is deleted fails as the plain read") {
    val p = s"${tmpDir("deleted")}/t"
    Seq(1L).toDF("id").write.parquet(p)
    assertMemoized(Tables.parquet(spark, p), spark.read.parquet(p))
    Files.list(Paths.get(p)).toArray.foreach(f => Files.delete(f.asInstanceOf[java.nio.file.Path]))
    Files.delete(Paths.get(p))
    failsAsPlain(p)
  }

  test("the memo is an LRU bounded at SchemaMemoEntries") {
    val p = tmpDir("lru")
    Seq(1L).toDF("id").write.mode("overwrite").parquet(p)
    // distinct keys through an option the parquet source ignores
    def read(i: Int): Int = jobsOf(Tables.parquet(spark, Map("graft.memo.probe" -> i.toString), p))
    (0 until Tables.SchemaMemoEntries).foreach(i => assert(read(i) == 1))
    assert(read(0) == 0) // key 0 becomes the most recently used
    assert(read(Tables.SchemaMemoEntries) == 1) // evicts key 1, the eldest
    assert(read(0) == 0)
    assert(read(2) == 0)
    assert(read(1) == 1)
  }
}
