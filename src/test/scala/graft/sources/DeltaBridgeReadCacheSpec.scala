package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The prepared-read cache behind [[DeltaBridge.read]]: a repeated read
  * returns the planned DataFrame itself, and every part of the validity
  * token (the `_delta_log` listing, the session's SQL conf, the files the
  * scan reads, the session itself) and the LRU bound has a case that
  * fails without it. */
class DeltaBridgeReadCacheSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("delta_read_cache").toString

  private def ids(df: DataFrame): Set[Long] = df.collect().map(_.getLong(0)).toSet

  /** `read` must fail with the message an uncached read gives. */
  private def failsAsUncached(read: => DataFrame): Unit = {
    val cached = intercept[Exception](read)
    DeltaBridge.clearReadCache()
    val uncached = intercept[Exception](read)
    assert(cached.getClass == uncached.getClass &&
      cached.getMessage == uncached.getMessage, s"$cached vs $uncached")
  }

  test("a repeated read returns the same planned DataFrame, and its " +
    "second collect runs exactly one job") {
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
    val a = DeltaBridge.read(spark, t)
    assert(ids(a) == Set(1L, 2L))
    val b = DeltaBridge.read(spark, t)
    assert(a eq b)
    var rows = 0
    assert(jobsOf { rows = b.collect().length } == 1)
    assert(rows == 2)
  }

  test("a new commit and export re-resolve the head; time travel to the " +
    "old version still returns the old rows") {
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
    assert(ids(DeltaBridge.read(spark, t)) == Set(1L, 2L))
    assert(ids(DeltaBridge.read(spark, t, Some(0L))) == Set(1L, 2L))
    TxLog.append(spark, Seq((3L, "c")).toDF("id", "v"), t)
    assert(ids(DeltaBridge.read(spark, t)) == Set(1L, 2L, 3L))
    assert(ids(DeltaBridge.read(spark, t, Some(0L))) == Set(1L, 2L))
  }

  test("vacuumLog below the retention horizon fails time travel exactly " +
    "as an uncached read does") {
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "v"), t)
    TxLog.append(spark, Seq((2L, "b")).toDF("id", "v"), t)
    assert(ids(DeltaBridge.read(spark, t, Some(0L))) == Set(1L))
    assert(DeltaBridge.checkpoint(spark, t) == 1L)
    assert(DeltaBridge.vacuumLog(t) == Seq(0L, 1L))
    failsAsUncached(DeltaBridge.read(spark, t, Some(0L)))
    // the head still reads, from the checkpoint alone
    assert(ids(DeltaBridge.read(spark, t)) == Set(1L, 2L))
  }

  test("a deleted part of a multi-part checkpoint fails the head read " +
    "exactly as an uncached read does") {
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "v"), t)
    TxLog.append(spark, Seq((2L, "b")).toDF("id", "v"), t)
    DeltaBridge.checkpoint(spark, t, partRows = 1)
    assert(ids(DeltaBridge.read(spark, t)) == Set(1L, 2L))
    val ld = Paths.get(t, "_delta_log")
    val parts = TxLog.listDir(ld).map(_.getFileName.toString)
      .filter(_.matches("""\d{20}\.checkpoint\.\d{10}\.\d{10}\.parquet""")).sorted
    assert(parts.size > 1, s"expected a multi-part checkpoint, got $parts")
    Files.delete(ld.resolve(parts.last))
    failsAsUncached(DeltaBridge.read(spark, t))
  }

  test("a vacuumed data file fails time travel exactly as an uncached " +
    "read does, though the _delta_log is unchanged") {
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "v"), t)
    TxLog.overwrite(spark, Seq((2L, "b")).toDF("id", "v"), t)
    val log = TxLog.listDir(Paths.get(t, "_delta_log")).map(_.getFileName.toString).toSet
    assert(ids(DeltaBridge.read(spark, t, Some(0L))) == Set(1L))
    assert(TxLog.vacuum(t, retainVersions = 1).nonEmpty)
    assert(TxLog.listDir(Paths.get(t, "_delta_log")).map(_.getFileName.toString).toSet == log)
    failsAsUncached(DeltaBridge.read(spark, t, Some(0L)))
    assert(ids(DeltaBridge.read(spark, t)) == Set(2L))
  }

  test("a deleted deletion-vector sidecar fails the read exactly as an " +
    "uncached read does") {
    val t = freshTable()
    TxLog.append(spark,
      (0L until 50L).map(i => (i, s"v$i")).toDF("id", "v"), t, partFiles = 1)
    TxLog.deleteWhereDv(spark, t, "id IN (3, 7)", maxDvFraction = 0.2)
    assert(ids(DeltaBridge.read(spark, t)) == (0L until 50L).toSet -- Set(3L, 7L))
    val sidecars = TxLog.listDir(Paths.get(t))
      .filter(_.getFileName.toString.startsWith("deletion_vector_"))
    assert(sidecars.size == 1, s"expected one sidecar, got $sidecars")
    Files.delete(sidecars.head)
    failsAsUncached(DeltaBridge.read(spark, t))
  }

  test("a spark.sql.caseSensitive change re-resolves the read") {
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "v"), t)
    val before = DeltaBridge.read(spark, t)
    assert(DeltaBridge.read(spark, t) eq before)
    val flipped = (!spark.conf.get("spark.sql.caseSensitive").toBoolean).toString
    withSQLConf("spark.sql.caseSensitive" -> flipped) {
      val after = DeltaBridge.read(spark, t)
      assert(!(after eq before))
      assert(ids(after) == Set(1L))
    }
  }

  test("a second session with the same conf re-resolves the read and gets " +
    "a DataFrame of its own") {
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "v"), t)
    val mine = DeltaBridge.read(spark, t)
    val other = spark.newSession()
    // static and core confs are shared and refuse a set; the rest copy
    spark.conf.getAll.foreach { case (k, v) => scala.util.Try(other.conf.set(k, v)) }
    assert(other.conf.getAll == spark.conf.getAll,
      "only the session may differ, or the conf alone would re-resolve")
    val theirs = DeltaBridge.read(other, t)
    assert(!(theirs eq mine))
    assert(theirs.sparkSession eq other)
    assert(ids(theirs) == Set(1L))
    assert(DeltaBridge.read(spark, t) eq mine)
  }

  test("the 65th distinct key evicts the least recently used entry") {
    val t = freshTable()
    TxLog.overwritePartitioned(spark,
      Seq((1L, "k0"), (2L, "k1")).toDF("id", "p"), t, Seq("p"))
    DeltaBridge.clearReadCache()
    def readKey(i: Int): DataFrame =
      DeltaBridge.read(spark, t, partitionFilter = Map("p" -> s"k$i"))
    val first = (0 until 64).map(readKey)
    assert(ids(first(0)) == Set(1L) && ids(first(1)) == Set(2L))
    assert(readKey(0) eq first(0)) // key 0 is now the most recent
    readKey(64) // evicts key 1, the least recently used
    assert(readKey(0) eq first(0))
    assert(readKey(63) eq first(63))
    assert(!(readKey(1) eq first(1)))
  }
}
