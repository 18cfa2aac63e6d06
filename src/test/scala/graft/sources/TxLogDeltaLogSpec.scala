package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** TxLog and the Delta log are one log: every TxLog operation's snapshot
  * is the [[DeltaBridge]] snapshot of the same version, a commit is
  * visible to Delta readers the moment it lands, and a persisted TxLog
  * layout built under an older log format is rebuilt. */
class TxLogDeltaLogSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable(): String = tmpDir("txlog_delta")

  /** At every TxLog version v (Delta version v − 1): the same live paths,
    * the same deletion-vector cardinalities, and the same schema and rows
    * from `TxLog.read` and `DeltaBridge.read`. */
  private def assertAgree(t: String, from: Int = 1): Unit = {
    val vs = TxLog.versions(t).filter(_ >= from)
    assert(vs.nonEmpty && vs == DeltaBridge.versions(t).map(_.toInt + 1)
      .filter(_ >= from), s"versions of $t")
    vs.foreach { v =>
      val tx = TxLog.liveFiles(t, Some(v))
        .map(e => TxLog.entryPath(e) -> TxLog.entryDv(e).map(_.cardinality))
      val delta = DeltaBridge.snapshot(spark, t, Some(v - 1L)).live.toSeq
        .map { case (p, e) => p -> e.dv.map(_.cardinality) }
      assert(tx.sorted == delta.sorted, s"live files of $t at version $v")
      val bridge = DeltaBridge.read(spark, t, Some(v - 1L))
      if (tx.isEmpty) assert(bridge.count() == 0, s"rows of $t at version $v")
      else {
        val txlog = TxLog.read(spark, t, Some(v))
        assert(txlog.schema == bridge.schema, s"schema of $t at version $v")
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
        assert(rows(txlog) == rows(bridge), s"rows of $t at version $v")
      }
    }
  }

  test("every TxLog operation's snapshot equals the DeltaBridge snapshot " +
    "at every version") {
    val t = freshTable()
    def rows(r: Range) = r.map(i => (i.toLong, s"v$i")).toDF("k", "s")
    TxLog.append(spark, rows(0 until 40), t, partFiles = 2)
    TxLog.append(spark, rows(100 until 140), t, partFiles = 2)
    TxLog.overwrite(spark, rows(0 until 60), t, partFiles = 3)
    assertAgree(t)
    TxLog.merge(spark, Seq((5L, "m"), (500L, "n")).toDF("k", "s"), t, "k")
    TxLog.mergeClauses(spark, Seq((7L, "x"), (8L, "y"), (600L, "z"))
        .toDF("k", "s"), t, keys = Seq("k"), tableCols = Seq("k", "s"),
      matched = Seq((Some("k = 7"), TxLog.MergeDelete),
        (None, TxLog.MergeUpdate(Seq("s" -> "__src_s")))),
      notMatchedInsert = Seq((None, Seq("k" -> "__src_k", "s" -> "__src_s"))),
      notMatchedBySource = Seq.empty)
    TxLog.deleteWhere(spark, t, "k BETWEEN 10 AND 12")
    TxLog.deleteWhereDv(spark, t, "k = 30", maxDvFraction = 0.5)
    TxLog.updateWhere(spark, t, "k = 40", Map("s" -> "'u'"))
    assertAgree(t)
    TxLog.optimize(spark, t)
    TxLog.restore(spark, t, 3)
    TxLog.appendBatch(spark, rows(700 until 705), t, batchId = 0L)
    TxLog.appendBatch(spark, rows(700 until 705), t, batchId = 0L) // replay
    val staged = TxLog.liveFiles(t, Some(1)).map(TxLog.entryPath)
    TxLog.appendBatchStaged(t, 0L, staged, appId = Some("q"))
    assertAgree(t)
    assert(TxLog.vacuum(t, retainVersions = 1).nonEmpty)
    assertAgree(t, from = TxLog.versions(t).last)

    val p = freshTable()
    val byState = Seq((1L, "CA"), (2L, "NY"), (3L, "CA")).toDF("k", "state")
    TxLog.appendPartitioned(spark, byState, p, Seq("state"))
    TxLog.overwritePartitioned(spark, byState.filter($"k" > 1), p, Seq("state"))
    assertAgree(p)

    // partition values whose type only the whole snapshot decides
    val zeros = freshTable()
    TxLog.appendPartitioned(spark, Seq((1L, "0123"), (2L, "7")).toDF("k", "code"),
      zeros, Seq("code"))
    val mixed = freshTable()
    TxLog.appendPartitioned(spark, Seq((1L, "7"), (2L, "abc")).toDF("k", "code"),
      mixed, Seq("code"))
    val years = freshTable()
    TxLog.appendPartitioned(spark, Seq((1L, 2024), (2L, 2025)).toDF("k", "year"),
      years, Seq("year"))
    TxLog.appendPartitioned(spark, Seq((3L, "2026a")).toDF("k", "year"),
      years, Seq("year"))
    Seq(zeros, mixed, years).foreach(assertAgree(_))
  }

  test("a comma inside a partition value survives the log: TxLog.read " +
    "and DeltaBridge.read both see every row") {
    val t = freshTable()
    TxLog.appendPartitioned(spark, Seq((1L, "a,b"), (2L, "c")).toDF("k", "p"),
      t, Seq("p"))
    Seq(TxLog.read(spark, t), DeltaBridge.read(spark, t)).foreach { df =>
      assert(df.select("k", "p").orderBy("k").as[(Long, String)].collect()
        .toSeq == Seq((1L, "a,b"), (2L, "c")))
    }
  }

  test("a TxLog commit is a Delta version the moment it lands — no " +
    "export step, no window where Delta readers see the previous version") {
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "a")).toDF("k", "s"), t)
    assert(DeltaBridge.versions(t) == Seq(0L))
    TxLog.append(spark, Seq((2L, "b")).toDF("k", "s"), t)
    assert(DeltaBridge.versions(t) == Seq(0L, 1L))
    assert(DeltaBridge.read(spark, t).orderBy("k").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "b")))
    assert(TxLog.owns(t), "version 0's metaData carries the TxLog marker")
  }

  test("partition columns are typed over every value in the snapshot: " +
    "both readers keep '0123' and 'abc' as strings and integer years as INT") {
    val zeros = freshTable()
    TxLog.appendPartitioned(spark, Seq((1L, "0123"), (2L, "7")).toDF("k", "code"),
      zeros, Seq("code"))
    Seq(TxLog.read(spark, zeros), DeltaBridge.read(spark, zeros)).foreach { df =>
      assert(df.schema("code").dataType == org.apache.spark.sql.types.StringType)
      assert(df.orderBy("k").select("code").as[String].collect().toSeq == Seq("0123", "7"))
    }
    val mixed = freshTable()
    TxLog.appendPartitioned(spark, Seq((1L, "7"), (2L, "abc")).toDF("k", "code"),
      mixed, Seq("code"))
    assert(DeltaBridge.read(spark, mixed).orderBy("k").select("code").as[String]
      .collect().toSeq == Seq("7", "abc"))
    val years = freshTable()
    TxLog.appendPartitioned(spark, Seq((1L, 2024), (2L, 2025)).toDF("k", "year"),
      years, Seq("year"))
    Seq(TxLog.read(spark, years), DeltaBridge.read(spark, years)).foreach { df =>
      assert(df.schema("year").dataType == org.apache.spark.sql.types.IntegerType)
      assert(df.orderBy("k").select("year").as[Int].collect().toSeq == Seq(2024, 2025))
    }
  }

  test("a log whose JSON a checkpoint retired is not empty: head counts " +
    "the checkpoint and the next commit lands above it") {
    val t = freshTable()
    TxLog.append(spark, Seq((1L, "a")).toDF("k", "s"), t)
    TxLog.append(spark, Seq((2L, "b")).toDF("k", "s"), t)
    DeltaBridge.checkpoint(spark, t)
    DeltaBridge.vacuumLog(t)
    assert(TxLog.versions(t).isEmpty && TxLog.head(t) == 2)
    assert(TxLog.append(spark, Seq((3L, "c")).toDF("k", "s"), t) == 3)
    assert(TxLog.read(spark, t).count() == 3)
  }

  test("a TxLog layout artifact stored under the pre-Delta-log key is " +
    "rebuilt, not served") {
    val corpus = tmpDir("txlog_corpus")
    Files.writeString(Paths.get(corpus, "docs.txt"), "one corpus")
    def build(tag: String)(p: String): Unit = {
      Files.createDirectories(Paths.get(p))
      Files.writeString(Paths.get(p, "built_by"), tag)
      Files.createFile(Paths.get(p, "_SUCCESS")): Unit
    }
    val demo = graft.operators.TableOps.TxlogDemoLayout
    val old = graft.SparkSupport.layoutArtifact(demo, corpus)(build("old"))
    val fresh = TxLog.layoutArtifact(demo, corpus)(build("new"))
    try {
      assert(fresh != old)
      assert(Files.readString(Paths.get(fresh, "built_by")) == "new",
        "the artifact under the old key must not be served")
    } finally Seq(old, fresh).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }
}
