package graft.sources.v2

import graft.SparkSpec
import graft.sources.TxLog

/** SQL UPDATE / MERGE INTO statements planned by [[GraftDmlStrategy]]
  * onto the file-granular TxLog kernel — values, partition awareness,
  * and the closed-world refusals. */
class GraftDmlStrategySpec extends SparkSpec {

  private lazy val catalogReady: Unit =
    spark.conf.set("spark.sql.catalog.graft",
      classOf[GraftDeltaCatalog].getName)

  private def freshTable(): String = { catalogReady; tmpDir("graft_dml") }

  private def rows(t: String): Set[(Long, String, Long)] =
    spark.sql(s"SELECT k, s, n FROM graft.`$t`").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("UPDATE … SET literal and old-row expressions, WHERE over the " +
    "proven predicate set; unhit files carry over by reference") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "s", "n"), t)
    TxLog.append(spark, Seq((3L, "c", 30L)).toDF("k", "s", "n"), t)
    val before = TxLog.liveFiles(t)
    spark.sql(s"UPDATE graft.`$t` SET s = upper(s), n = n * 2 + 1 " +
      "WHERE k % 2 = 1")
    assert(rows(t) == Set((1L, "A", 21L), (2L, "b", 20L), (3L, "C", 61L)))
    // both files contained an odd key → both rewrote; a SET evaluates on
    // the OLD row (n*2+1 from the pre-update n)
    assert(TxLog.liveFiles(t).intersect(before).isEmpty ||
      TxLog.liveFiles(t).exists(before.contains),
      "sanity: live set changed through the statement")
    // unconditional UPDATE (no WHERE)
    spark.sql(s"UPDATE graft.`$t` SET s = 'z'")
    assert(rows(t).map(_._2) == Set("z"))
  }

  test("UPDATE on a PARTITIONED catalog table: partition predicate " +
    "evaluates, a SET on the partition column moves the row") {
    import spark.implicits._
    val t = freshTable()
    TxLog.appendPartitioned(spark,
      Seq((1L, "a", "US"), (2L, "b", "DE")).toDF("k", "s", "country"),
      t, Seq("country"))
    spark.sql(s"UPDATE graft.`$t` SET s = 'x' WHERE country = 'US'")
    spark.sql(s"UPDATE graft.`$t` SET country = 'CA' WHERE k = 2")
    val got = spark.sql(s"SELECT k, s, country FROM graft.`$t`")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    assert(got == Set((1L, "x", "US"), (2L, "b", "CA")))
    assert(TxLog.liveFiles(t).exists(_.contains("country=CA")),
      "the updated row must land under its new partition directory")
  }

  test("MERGE INTO … UPDATE SET * / INSERT *: matched keys replaced, " +
    "unmatched inserted, via one TxLog commit") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "s", "n"), t)
    val vBefore = TxLog.versions(t).last
    spark.sql(
      s"""MERGE INTO graft.`$t` tgt
         |USING (SELECT 2L AS k, 'bb' AS s, 200L AS n
         |       UNION ALL SELECT 9L, 'i', 90L) src
         |ON tgt.k = src.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(rows(t) == Set((1L, "a", 10L), (2L, "bb", 200L), (9L, "i", 90L)))
    assert(TxLog.versions(t).last == vBefore + 1,
      "the whole MERGE must land as ONE commit")
    // explicit full-row column lists are the same proven shape as *
    spark.sql(
      s"""MERGE INTO graft.`$t` tgt
         |USING (SELECT 9L AS k, 'ii' AS s, 900L AS n) src
         |ON tgt.k = src.k
         |WHEN MATCHED THEN UPDATE SET k = src.k, s = src.s, n = src.n
         |WHEN NOT MATCHED THEN INSERT (k, s, n)
         |  VALUES (src.k, src.s, src.n)""".stripMargin)
    assert(rows(t) == Set((1L, "a", 10L), (2L, "bb", 200L), (9L, "ii", 900L)))
  }

  test("closed world: everything outside the proven shapes is REFUSED " +
    "loudly, and the table is untouched") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "s", "n"), t)
    val before = rows(t)
    def refused(sql: String, why: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql).collect() }
      assert(e.getMessage.contains("proven") ||
        e.getMessage.contains("cardinality") ||
        e.getMessage.contains("TxLog-backed"),
        s"$why must refuse loudly, got: $e")
      assert(rows(t) == before, s"$why must not mutate the table")
    }
    refused(s"UPDATE graft.`$t` SET s = reverse(s)",
      "an unproven SET expression")
    refused(s"UPDATE graft.`$t` SET s = 'x' WHERE s LIKE 'a%'",
      "an unproven predicate")
    refused(
      s"""MERGE INTO graft.`$t` tgt
         |USING (SELECT 1L AS k, 'x' AS s, 1L AS n) src
         |ON tgt.k = src.k
         |WHEN MATCHED AND tgt.s LIKE 'a%' THEN DELETE""".stripMargin,
      "an unproven MATCHED condition (LIKE)")
    refused(
      s"""MERGE INTO graft.`$t` tgt
         |USING (SELECT 1L AS k, 'x' AS s, 1L AS n) src
         |ON tgt.k = src.k
         |WHEN NOT MATCHED THEN INSERT (k, s) VALUES (src.k, src.s)""".stripMargin,
      "an INSERT list that skips columns (silent NULL fill)")
    // a non-last unconditional clause is refused by Spark's PARSER
    // (same dead-code rule the strategy re-checks for programmatic plans)
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql(
        s"""MERGE INTO graft.`$t` tgt
           |USING (SELECT 1L AS k, 'x' AS s, 1L AS n) src
           |ON tgt.k = src.k
           |WHEN MATCHED THEN UPDATE SET s = src.s
           |WHEN MATCHED AND tgt.n > 5 THEN DELETE""".stripMargin).collect()
    }
    assert(rows(t) == before, "a parser-refused MERGE must not mutate")
    refused(
      s"""MERGE INTO graft.`$t` tgt
         |USING (SELECT 1L AS k, 'x' AS s, 1L AS n
         |       UNION ALL SELECT 1L, 'y', 2L) src
         |ON tgt.k = src.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
      "duplicate source join keys (SQL MERGE cardinality)")
    // a FOREIGN _delta_log mount (no TxLog behind it) is read-only:
    // its writer owns its commits
    val foreign = {
      val f = tmpDir("graft_dml_foreign")
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(t), new java.io.File(f))
      graft.sources.ForeignLog.strip(f)
      f
    }
    val e = intercept[Exception] {
      spark.sql(s"UPDATE graft.`$foreign` SET s = 'x'").collect()
    }
    assert(e.getMessage.contains("TxLog-backed"),
      s"a foreign delta mount must stay read-only, got: $e")
  }

  test("MERGE with DIVERGING update/insert expression lists: inserted " +
    "rows take the INSERT list's values, updated rows the UPDATE list's; " +
    "NULL source keys never match — both rows insert") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "s", "n"), t)
    // the round-13 refusal shape is now a SUPPORTED general-merge form:
    // the two verbs evaluate their own expression lists independently
    spark.sql(
      s"""MERGE INTO graft.`$t` tgt
         |USING (SELECT 1L AS k, 'x' AS s, 1L AS n
         |       UNION ALL SELECT 9L, 'y', 9L) src
         |ON tgt.k = src.k
         |WHEN MATCHED THEN UPDATE SET k = src.k, s = src.s, n = src.n
         |WHEN NOT MATCHED THEN INSERT (k, s, n)
         |  VALUES (src.k, concat(src.s, '!'), src.n)""".stripMargin)
    assert(rows(t) == Set((1L, "x", 1L), (2L, "b", 20L), (9L, "y!", 9L)),
      "matched row takes the UPDATE list, inserted row the INSERT list")
    // NULL join keys are legal SQL MERGE: they match nothing and insert
    spark.sql(
      s"""MERGE INTO graft.`$t` tgt
         |USING (SELECT CAST(NULL AS BIGINT) AS k, 'p' AS s, 1L AS n
         |       UNION ALL SELECT CAST(NULL AS BIGINT), 'q', 2L) src
         |ON tgt.k = src.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql(s"SELECT s FROM graft.`$t` WHERE k IS NULL")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(got == Seq("p", "q"),
      "both NULL-key source rows must insert (no spurious cardinality refusal)")
  }

  test("MERGE cardinality is the RUNTIME rule (in-join, no pre-pass): " +
    "duplicate source keys that all INSERT are accepted; duplicates " +
    "matching a target row refuse mid-join and mutate nothing") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "s", "n"), t)
    // count jobs scheduled by the statement: the r14 pre-pass probe
    // (groupBy/count/limit over the full source) was one extra job per
    // MATCHED-bearing MERGE; the in-join check adds none. Ceiling pinned
    // at the measured in-join count (10 on this fixture) — the old probe
    // pushed it past this.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      // duplicate key 9 matches NOTHING: both rows insert (delta-spark
      // raises only when a target row matches multiple source rows)
      spark.sql(
        s"""MERGE INTO graft.`$t` tgt
           |USING (SELECT 9L AS k, 'x' AS s, 1L AS n
           |       UNION ALL SELECT 9L, 'y', 2L) src
           |ON tgt.k = src.k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      org.apache.spark.GraftSchedulerBridge.drainListenerBus(
        spark.sparkContext)
      val dupInsertJobs = jobs.get()
      assert(rows(t).count(_._1 == 9L) == 2,
        "both duplicate-key source rows must insert when neither matches")
      assert(dupInsertJobs <= 10,
        s"a MATCHED-bearing MERGE must not pay a separate duplicate-probe " +
          s"pass over the source (scheduled $dupInsertJobs jobs)")
      // the same duplicated key NOW matches a target row → refuse, in-join
      val before = rows(t)
      val e = intercept[Exception] {
        spark.sql(
          s"""MERGE INTO graft.`$t` tgt
             |USING (SELECT 1L AS k, 'x' AS s, 1L AS n
             |       UNION ALL SELECT 1L, 'y', 2L) src
             |ON tgt.k = src.k
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      }
      assert(e.getMessage.contains("cardinality"),
        s"matched duplicates must raise the cardinality error, got: $e")
      assert(rows(t) == before, "a refused MERGE must not mutate the table")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("GENERAL MERGE clause vocabulary: conditional matched DELETE/" +
    "partial UPDATE, conditional INSERT, NOT MATCHED BY SOURCE cascade " +
    "in order, all as ONE commit") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark, Seq(
      (1L, "a", 10L),   // matched, src.n < 0 → DELETE
      (2L, "b", 20L),   // matched → partial UPDATE (n kept)
      (3L, "d", -30L),  // unmatched target, satisfies BOTH by-source conds → first (DELETE) wins
      (4L, "d", 40L),   // unmatched target, s='d' → BY SOURCE UPDATE
      (5L, "e", 50L)    // unmatched target, no clause fires → kept
    ).toDF("k", "s", "n"), t)
    val vBefore = TxLog.versions(t).last
    spark.sql(
      s"""MERGE INTO graft.`$t` tgt
         |USING (SELECT 1L AS k, 'A' AS s, -1L AS n
         |       UNION ALL SELECT 2L, 'B', 200L
         |       UNION ALL SELECT 8L, 'H', -8L
         |       UNION ALL SELECT 9L, 'I', 90L) src
         |ON tgt.k = src.k
         |WHEN MATCHED AND src.n < 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET s = upper(src.s)
         |WHEN NOT MATCHED AND src.n >= 0 THEN INSERT (k, s, n)
         |  VALUES (src.k, src.s, src.n)
         |WHEN NOT MATCHED BY SOURCE AND tgt.n < 0 THEN DELETE
         |WHEN NOT MATCHED BY SOURCE AND tgt.s = 'd'
         |  THEN UPDATE SET s = concat(s, '14')""".stripMargin)
    assert(rows(t) == Set(
      (2L, "B", 20L),   // partial UPDATE: n untouched, s from source
      (4L, "d14", 40L), // BY SOURCE UPDATE (old-row expression)
      (5L, "e", 50L),   // no clause fired
      (9L, "I", 90L)),  // conditional INSERT (8L excluded by src.n >= 0)
      s"got: ${rows(t)}")
    assert(TxLog.versions(t).last == vBefore + 1,
      "the whole multi-clause MERGE must land as ONE commit")
    // value-idempotence: BY SOURCE UPDATE re-run must not re-fire on 'd14'
    spark.sql(
      s"""MERGE INTO graft.`$t` tgt
         |USING (SELECT 2L AS k, 'B' AS s, 200L AS n) src
         |ON tgt.k = src.k
         |WHEN NOT MATCHED BY SOURCE AND tgt.s = 'd'
         |  THEN UPDATE SET s = concat(s, '14')""".stripMargin)
    assert(rows(t).contains((4L, "d14", 40L)) &&
      !rows(t).exists(_._2 == "d1414"),
      "a fired BY SOURCE clause must reach its fixpoint")
  }

  test("COMPOSITE-key MERGE: ON t.a = s.a AND t.b = s.b matches on the " +
    "pair; a row sharing only one key component inserts") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark, Seq(
      (1L, "x", 10L), (1L, "y", 20L), (2L, "x", 30L)
    ).toDF("a", "b", "n"), t)
    spark.sql(
      s"""MERGE INTO graft.`$t` tgt
         |USING (SELECT 1L AS a, 'x' AS b, 100L AS n
         |       UNION ALL SELECT 2L, 'y', 200L) src
         |ON tgt.a = src.a AND tgt.b = src.b
         |WHEN MATCHED THEN UPDATE SET n = src.n
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql(s"SELECT a, b, n FROM graft.`$t`").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(
      (1L, "x", 100L),  // full pair matched → updated
      (1L, "y", 20L),   // half-pair only → untouched
      (2L, "x", 30L),   // half-pair only → untouched
      (2L, "y", 200L)), // unmatched pair → inserted
      s"got $got")
    // duplicate PAIRS refuse; same a with different b is legal
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$t` tgt
           |USING (SELECT 1L AS a, 'x' AS b, 1L AS n
           |       UNION ALL SELECT 1L, 'x', 2L) src
           |ON tgt.a = src.a AND tgt.b = src.b
           |WHEN MATCHED THEN UPDATE SET n = src.n""".stripMargin).collect()
    }
    assert(e.getMessage.contains("cardinality"), s"got: $e")
  }

  test("insert-only MERGE rewrites NOTHING (pure append commit), and " +
    "duplicate source keys are then legal — each unmatched row inserts") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "s", "n"), t)
    val before = TxLog.liveFiles(t)
    spark.sql(
      s"""MERGE INTO graft.`$t` tgt
         |USING (SELECT 1L AS k, 'x' AS s, 1L AS n
         |       UNION ALL SELECT 7L, 'g', 70L
         |       UNION ALL SELECT 7L, 'g', 70L) src
         |ON tgt.k = src.k
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(TxLog.liveFiles(t).toSet.intersect(before.toSet) == before.toSet,
      "an insert-only MERGE must carry every existing file over by " +
        "reference (no rewrite)")
    val sevens = spark.sql(s"SELECT s FROM graft.`$t` WHERE k = 7")
      .collect().map(_.getString(0)).toSeq
    assert(sevens == Seq("g", "g"),
      "SQL inserts each unmatched source row, duplicates included")
    assert(rows(t).contains((1L, "a", 10L)), "matched row untouched")
  }

  test("MERGE INTO a PARTITIONED catalog table: matched rows adopt the " +
    "source's partition value (the row MOVES), inserts land under " +
    "theirs, and the scalar predicate subset renders in UPDATE WHERE") {
    import spark.implicits._
    val t = freshTable()
    TxLog.appendPartitioned(spark,
      Seq((1L, "a", "US"), (2L, "b", "DE")).toDF("k", "s", "country"),
      t, Seq("country"))
    spark.sql(
      s"""MERGE INTO graft.`$t` tgt
         |USING (SELECT 2L AS k, 'bb' AS s, 'FR' AS country
         |       UNION ALL SELECT 5L, 'e', 'JP') src
         |ON tgt.k = src.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql(s"SELECT k, s, country FROM graft.`$t`")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    assert(got == Set((1L, "a", "US"), (2L, "bb", "FR"), (5L, "e", "JP")))
    val live = TxLog.liveFiles(t).map(TxLog.entryPath)
    assert(live.exists(_.contains("country=FR")) &&
      live.exists(_.contains("country=JP")),
      s"merged rows must land under their source partition values: $live")
    // the extended scalar subset (% arithmetic) through UPDATE WHERE
    spark.sql(s"UPDATE graft.`$t` SET s = upper(s) WHERE k % 2 = 1")
    assert(spark.sql(s"SELECT s FROM graft.`$t` ORDER BY k").collect()
      .map(_.getString(0)).toSeq == Seq("A", "bb", "E"))
  }
}
