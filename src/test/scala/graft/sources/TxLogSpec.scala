package graft.sources

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.col

/** The commit-protocol behaviors the q251 gate can't express: rename
  * arbitration under version conflicts, lost-race retry, invisibility of
  * half-commits and unreferenced stage files, and time-travel stability. */
class TxLogSpec extends SparkSpec {

  private def freshTable(): String = tmpDir("txlog")

  private def df(xs: (Long, String)*) = {
    import spark.implicits._
    xs.toDF("k", "s")
  }

  test("append/read roundtrip and version numbering") {
    val t = freshTable()
    assert(TxLog.versions(t).isEmpty)
    val v1 = TxLog.append(spark, df(1L -> "a", 2L -> "b"), t)
    val v2 = TxLog.append(spark, df(3L -> "c"), t)
    assert((v1, v2) == (1, 2))
    assert(TxLog.read(spark, t).count() == 3)
    assert(TxLog.read(spark, t, Some(1)).count() == 2)
  }

  test("VACUUM deletes only files no retained version references, keeps " +
    "young files (the in-flight-stage guard), and never touches commit " +
    "records") {
    val t = freshTable()
    TxLog.append(spark, df(1L -> "a"), t)            // v1: f1
    TxLog.append(spark, df(2L -> "b"), t)            // v2: f2
    TxLog.overwrite(spark, df(10L -> "x", 11L -> "y"), t) // v3: f3, removes f1+f2
    TxLog.append(spark, df(12L -> "z"), t)           // v4: f4
    // a fresh unreferenced staged file — the concurrent-writer shape
    val orphanDir = Paths.get(t, "stage-orphan00")
    Files.createDirectories(orphanDir)
    val orphan = orphanDir.resolve("part-orphan.parquet")
    Files.writeString(orphan, "not yet committed")
    // retention window protects the young orphan
    val d1 = TxLog.vacuum(t, retainVersions = 2, minAgeMs = 3600 * 1000L)
    assert(Files.exists(orphan), "a young staged file must survive vacuum")
    assert(d1.isEmpty, s"v1/v2 files are young too: $d1")
    // age 0: v1+v2's files (unreferenced by v3/v4) and the orphan go
    val d2 = TxLog.vacuum(t, retainVersions = 2)
    assert(d2.nonEmpty)
    assert(!Files.exists(orphan))
    assert(TxLog.versions(t) == Seq(1, 2, 3, 4),
      "commit records are never deleted")
    // head and the retained version still read
    assert(TxLog.read(spark, t).count() == 3)
    assert(TxLog.read(spark, t, Some(3)).count() == 2)
    // time travel BELOW the retention window fails at scan time on the
    // missing files — the Delta VACUUM trade
    intercept[Exception] {
      TxLog.read(spark, t, Some(1)).count()
    }
    // the vacuumed table keeps working
    TxLog.append(spark, df(13L -> "w"), t)
    assert(TxLog.read(spark, t).count() == 4)
  }

  test("overwrite replaces the live set; time travel still sees the past") {
    val t = freshTable()
    TxLog.append(spark, df(1L -> "a"), t)
    TxLog.append(spark, df(2L -> "b"), t)
    TxLog.overwrite(spark, df(9L -> "z"), t)
    val head = TxLog.read(spark, t).collect().map(_.getLong(0)).toSet
    assert(head == Set(9L), "overwrite must REPLACE, not add")
    // the pre-overwrite snapshot is unchanged — immutable log prefix
    val v2 = TxLog.read(spark, t, Some(2)).collect().map(_.getLong(0)).toSet
    assert(v2 == Set(1L, 2L))
    // a later append lands on top of the overwrite only
    TxLog.append(spark, df(10L -> "y"), t)
    assert(TxLog.read(spark, t).collect().map(_.getLong(0)).toSet == Set(9L, 10L))
  }

  test("arbitration primitive: claiming an EXISTING version fails and " +
    "leaves the winner's commit record untouched") {
    val t = freshTable()
    TxLog.append(spark, df(1L -> "a"), t)
    val before = TxLog.read(spark, t).collect().map(_.getLong(0)).toSet
    // rename(2) would silently REPLACE v00001.json here — both racers
    // would 'succeed' and the winner's add-entries would vanish from every
    // snapshot; link(2) must refuse
    assert(!TxLog.tryCommitAt(t, 1, add = Seq("bogus/part-x.parquet"),
      remove = Seq.empty), "claiming a taken version must fail")
    assert(TxLog.versions(t) == Seq(1))
    assert(TxLog.read(spark, t).collect().map(_.getLong(0)).toSet == before,
      "the winner's committed data must survive the losing claim")
  }

  test("version conflict: a squatting commit forces the loser to retry and " +
    "land on the next version with its actions intact") {
    val t = freshTable()
    TxLog.append(spark, df(1L -> "a"), t)
    // another writer claims version 2 out from under us
    TxLog.commit(t, add = Seq.empty, remove = Seq.empty)
    val v = TxLog.append(spark, df(2L -> "b"), t)
    assert(v == 3, "loser must re-read and land one version later")
    assert(TxLog.read(spark, t).collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("half-commits and unreferenced stage files are invisible to readers") {
    val t = freshTable()
    TxLog.append(spark, df(1L -> "a"), t)
    // a crashed writer's temp commit file — replay must ignore it
    Files.writeString(Paths.get(t, "_delta_log", ".tmp-crashed.json"),
      """{"add":{"path":"bogus/part-x.parquet","partitionValues":{},""" +
        """"size":1,"modificationTime":1,"dataChange":true}}""" + "\n")
    // a fully staged but never-committed data dir — also invisible
    df(666L -> "ghost").write.parquet(Paths.get(t, "stage-ghost").toString)
    assert(TxLog.versions(t) == Seq(1))
    assert(TxLog.read(spark, t).collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("overwrite recomputes its remove set on retry — a commit that lands " +
    "between stage and publish still gets replaced") {
    val t = freshTable()
    TxLog.append(spark, df(1L -> "a"), t)
    // squat the version an overwrite will first try, after it would have
    // read the live set: simulate by committing an extra add first
    val extra = TxLog.append(spark, df(2L -> "b"), t)
    assert(extra == 2)
    TxLog.overwrite(spark, df(9L -> "z"), t)
    assert(TxLog.read(spark, t).collect().map(_.getLong(0)).toSet == Set(9L))
  }

  test("optimize compacts the live set in one commit without changing rows, " +
    "and refuses to land over a concurrent commit") {
    val t = freshTable()
    TxLog.append(spark, df(1L -> "a", 2L -> "b"), t)
    TxLog.append(spark, df(3L -> "c"), t)
    val before = TxLog.read(spark, t).collect().map(_.getLong(0)).toSet
    val filesBefore = TxLog.liveFiles(t).size
    val v = TxLog.optimize(spark, t, partFiles = 1)
    assert(v == 3)
    assert(TxLog.liveFiles(t).size == 1 && filesBefore > 1)
    assert(TxLog.read(spark, t).collect().map(_.getLong(0)).toSet == before)
    // conflict path: squat the next version, optimize must land AFTER it
    // with the squatter's effect preserved (re-ran against the new head)
    TxLog.commit(t, add = Seq.empty, remove = Seq.empty)
    val v2 = TxLog.optimize(spark, t)
    assert(v2 == 5, "optimize re-runs against the post-conflict head")
    assert(TxLog.read(spark, t).collect().map(_.getLong(0)).toSet == before)
  }

  test("merge: matched keys replaced, unmatched inserted, files without a " +
    "matched key carry over untouched (copy-on-write is file-granular)") {
    import spark.implicits._
    val t = freshTable()
    // two separate commits → two disjoint file sets
    TxLog.append(spark, df(1L -> "a", 2L -> "b"), t, partFiles = 1)
    TxLog.append(spark, df(10L -> "x", 11L -> "y"), t, partFiles = 1)
    val filesBefore = TxLog.liveFiles(t)
    TxLog.merge(spark, Seq(2L -> "B!", 5L -> "new").toDF("k", "s"), t, "k")
    val out = TxLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a", 2L -> "B!", 5L -> "new",
      10L -> "x", 11L -> "y"))
    // the (10, 11) file contains no matched key — it must survive BY
    // REFERENCE, not be rewritten
    val untouched = filesBefore(1)
    assert(TxLog.liveFiles(t).contains(untouched),
      "file without matched keys must carry over")
    assert(!TxLog.liveFiles(t).contains(filesBefore.head),
      "file with the matched key must be rewritten out")
  }

  test("merge conflict: a commit landing mid-merge forces a re-run that " +
    "preserves the concurrent writer's rows") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark, df(1L -> "a"), t)
    // squat the version merge will first try
    TxLog.commit(t, add = Seq.empty, remove = Seq.empty)
    val v = TxLog.merge(spark, Seq(1L -> "A!").toDF("k", "s"), t, "k")
    assert(v == 3, "merge must re-run and land after the squatter")
    assert(TxLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == Map(1L -> "A!"))
  }

  test("file statistics: pruned reads skip non-matching files, keep " +
    "stat-less files conservatively, and agree with the full scan") {
    import spark.implicits._
    val t = freshTable()
    // two stats-bearing commits with disjoint key ranges + one legacy
    // (stat-less) append that pruning must never drop
    TxLog.appendWithStats(spark,
      (1L to 10L).map(k => (k, s"v$k")).toDF("k", "s"), t, "k", partFiles = 1)
    TxLog.appendWithStats(spark,
      (100L to 110L).map(k => (k, s"v$k")).toDF("k", "s"), t, "k", partFiles = 1)
    TxLog.append(spark, Seq((5000L, "legacy")).toDF("k", "s"), t, partFiles = 1)
    assert(TxLog.liveFilesWithStats(t).count(_._2.isDefined) == 2)
    // [0, 50) matches only the first file — plus the stat-less one
    val kept = TxLog.pruneFiles(t, 0L, 50L)
    assert(kept.size == 2, s"expected first + legacy file, got $kept")
    val pruned = TxLog.readPruned(spark, t, 0L, 50L)
      .filter(col("k") < 50L).collect().map(_.getLong(0)).toSet
    val full = TxLog.read(spark, t)
      .filter(col("k") < 50L).collect().map(_.getLong(0)).toSet
    assert(pruned == full && full == (1L to 10L).toSet)
    // stats survive the log round-trip with exact bounds
    val stats = TxLog.liveFilesWithStats(t).flatMap(_._2).sortBy(_._1)
    assert(stats == Seq((1L, 10L), (100L, 110L)))
    // merge/vacuum interop: entries with stats still resolve to paths
    TxLog.merge(spark, Seq((5L, "V5")).toDF("k", "s"), t, "k")
    assert(TxLog.read(spark, t).filter(col("k") === 5L)
      .head().getString(1) == "V5")
  }

  test("vacuum deletes only unreferenced files; head reads survive, " +
    "pre-horizon time travel dies") {
    val t = freshTable()
    TxLog.append(spark, df(1L -> "a"), t)
    TxLog.overwrite(spark, df(9L -> "z"), t)
    TxLog.optimize(spark, t)
    val deleted = TxLog.vacuum(t, retainVersions = 1)
    assert(deleted.nonEmpty, "the overwritten + pre-compaction files must go")
    assert(TxLog.read(spark, t).collect().map(_.getLong(0)).toSet == Set(9L))
    // version-1 files are vacuumed: the old snapshot is no longer readable
    intercept[Exception] {
      TxLog.read(spark, t, Some(1)).collect()
    }
  }

  test("overwrite racing concurrent appends always removes exactly the " +
    "live set at its own claimed version") {
    // the lost-update hazard: an overwrite that computes its remove list
    // from a DIFFERENT log read than the one that picks its version lets
    // an append landing in between survive the "replace". The invariant
    // that closes it: for the overwrite's commit v, remove == live(v−1) —
    // checked here against real interleaving (10 appends racing one
    // overwrite), whatever order the OCC loop resolved them in.
    val t = freshTable()
    TxLog.append(spark, df(0L -> "base"), t)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val appends = (1 to 10).map { i =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = TxLog.append(spark, df(i.toLong -> s"a$i"), t)
        })
      }
      val ow = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = TxLog.overwrite(spark, df(99L -> "ow"), t)
      })
      appends.foreach(_.get())
      val owV = ow.get()
      // the snapshot AT the overwrite's version contains exactly its rows
      assert(TxLog.read(spark, t, Some(owV)).collect()
        .map(_.getLong(0)).toSet == Set(99L),
        "overwrite must replace everything live at its version")
      // appends that landed AFTER the overwrite (by version order) are the
      // only other live data at head
      val later = (owV + 1 to TxLog.versions(t).max)
      val head = TxLog.read(spark, t).collect().map(_.getLong(0)).toSet
      assert(head.contains(99L) && head.size == 1 + later.size,
        s"head=$head owV=$owV versions=${TxLog.versions(t)}")
    } finally pool.shutdown()
  }

  test("typed stats: string and date columns prune, doubles round-trip, " +
    "legacy untagged entries still parse, cross-type bounds keep") {
    import spark.implicits._
    import TxLog.StatValue
    val t = freshTable()
    // string-keyed table: two files with disjoint lexical ranges
    TxLog.appendWithStats(spark,
      Seq("apple", "banana", "cherry").map(s => (s, 1L)).toDF("name", "x"),
      t, "name", partFiles = 1)
    TxLog.appendWithStats(spark,
      Seq("melon", "peach", "zz#q:u\"ote").map(s => (s, 2L)).toDF("name", "x"),
      t, "name", partFiles = 1)
    val typed = TxLog.liveFilesWithTypedStats(t).flatMap(_._2)
    assert(typed == Seq(
      (StatValue.S("apple"), StatValue.S("cherry")),
      (StatValue.S("melon"), StatValue.S("zz#q:u\"ote"))),
      s"string stats must round-trip exactly (incl. '#', ':' and quotes): $typed")
    // ["a", "d") proves the second file can't match
    val kept = TxLog.pruneFilesTyped(t, StatValue.S("a"), StatValue.S("d"))
    assert(kept.size == 1)
    // a LONG bound over string stats is incomparable → keep everything
    assert(TxLog.pruneFilesTyped(t, StatValue.L(0), StatValue.L(9)).size == 2)
    // and the legacy long API sees no long stats → keeps everything
    assert(TxLog.pruneFiles(t, 0L, 9L).size == 2)

    // double stats round-trip exactly (Double.toString is injective)
    val td = freshTable()
    TxLog.appendWithStats(spark,
      Seq(0.1, 2.5000000001, -3.75).map(d => (d, 1L)).toDF("v", "x"),
      td, "v", partFiles = 1)
    assert(TxLog.liveFilesWithTypedStats(td).flatMap(_._2) ==
      Seq((StatValue.D(-3.75), StatValue.D(2.5000000001))))
    assert(TxLog.pruneFilesTyped(td, StatValue.D(3.0), StatValue.D(9.0)).isEmpty)
    assert(TxLog.pruneFilesTyped(td, StatValue.D(0.0), StatValue.D(1.0)).size == 1)

    // date stats land as epoch-day 'a' tags and prune half-open
    val ta = freshTable()
    TxLog.appendWithStats(spark,
      Seq("2024-01-01", "2024-06-30").map(s => (java.sql.Date.valueOf(s), 1L))
        .toDF("d", "x"), ta, "d", partFiles = 1)
    val day = (s: String) =>
      StatValue.Dt(java.time.LocalDate.parse(s).toEpochDay)
    assert(TxLog.pruneFilesTyped(ta, day("2024-07-01"), day("2025-01-01")).isEmpty)
    assert(TxLog.pruneFilesTyped(ta, day("2024-06-30"), day("2025-01-01")).size == 1)

    // legacy untagged entry written by an old log parses as long stats
    val tl = freshTable()
    TxLog.append(spark, df(3L -> "a"), tl, partFiles = 1)
    val legacy = TxLog.liveFiles(tl).head
    TxLog.commit(tl, add = Seq(s"$legacy#3#9"), remove = Seq(legacy))
    assert(TxLog.liveFilesWithStats(tl).flatMap(_._2) == Seq((3L, 9L)))
    assert(TxLog.pruneFiles(tl, 10L, 20L).isEmpty)
    assert(TxLog.pruneFiles(tl, 9L, 20L).size == 1)

    // a CORRUPT percent sequence in a string stat degrades to None (file
    // kept, no error) — one bad log entry must never fail the whole read
    for (bad <- Seq("s:%", "s:%zz", "s:abc%f")) {
      assert(StatValue.decode(bad).isEmpty, s"'$bad' must decode to None")
    }
    val tc = freshTable()
    TxLog.append(spark, df(5L -> "a"), tc, partFiles = 1)
    val entry = TxLog.liveFiles(tc).head
    TxLog.commit(tc, add = Seq(s"$entry#s:%#s:%zz"), remove = Seq(entry))
    assert(TxLog.liveFilesWithTypedStats(tc) ==
      Seq((entry, None)), "corrupt stats must keep the file, statless")
    assert(TxLog.pruneFilesTyped(tc,
      StatValue.S("x"), StatValue.S("y")).size == 1)
  }

  test("batch index: committedBatch resolves via the O(1) side index, " +
    "backfills scan hits, and survives a missing entry") {
    val t = freshTable()
    val v = TxLog.appendBatch(spark, df(1L -> "a"), t, batchId = 7L)
    val idx = Paths.get(t, "_batch_index", "b7")
    assert(Files.exists(idx), "appendBatch must record the batch index entry")
    assert(TxLog.committedBatch(t, 7L).contains(v))
    assert(TxLog.committedBatch(t, 8L).isEmpty)
    // a redelivered batch resolves through the index, stages nothing new
    assert(TxLog.appendBatch(spark, df(9L -> "z"), t, batchId = 7L) == v)
    assert(TxLog.read(spark, t).count() == 1)
    // crash-before-record: delete the entry — the log scan still finds the
    // commit and backfills the index
    Files.delete(idx)
    assert(TxLog.committedBatch(t, 7L).contains(v))
    assert(Files.exists(idx), "a scan hit must backfill the index entry")
  }

  test("OCC hammer: barrier-released concurrent writers serialize into " +
    "contiguous versions with every commit's adds intact — no lost update") {
    // q313 / s319 / the streaming admission loop all stack on this
    // arbitration; the deterministic squat test above observes one retry,
    // THIS one drives real thread contention through the OCC path
    // (VERDICT r8 directive 3). 8 threads × 15 commits each, all released
    // on one barrier so first-attempt collisions are certain.
    val t = freshTable()
    val threads = 8
    val perThread = 15
    val barrier = new java.util.concurrent.CyclicBarrier(threads)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = (0 until threads).map { tid =>
        pool.submit(new java.util.concurrent.Callable[Seq[(String, Int)]] {
          def call(): Seq[(String, Int)] = {
            barrier.await()
            (0 until perThread).map { i =>
              val marker = s"w$tid/part-$i.parquet"
              marker -> TxLog.commit(t, add = Seq(marker), remove = Seq.empty)
            }
          }
        })
      }
      val landed = futures.flatMap(_.get(120,
        java.util.concurrent.TimeUnit.SECONDS))
      val n = threads * perThread
      // serialized: versions are exactly 1..n, each claimed by ONE commit
      assert(TxLog.versions(t) == (1 to n),
        "version sequence must be contiguous with no gaps or dupes")
      assert(landed.map(_._2).toSet == (1 to n).toSet,
        "every writer must land on a distinct version")
      // no lost update: every marker is live at head exactly once
      val live = TxLog.liveFiles(t)
      assert(live.sorted == landed.map(_._1).sorted,
        s"live set must hold all $n adds exactly once")
      // and each marker is visible from ITS version onward (snapshot reads
      // replay the same arbitration order the writers observed)
      landed.take(5).foreach { case (m, v) =>
        assert(TxLog.liveFiles(t, Some(v)).contains(m),
          s"$m must be live at its own commit version $v")
      }
    } finally pool.shutdown()
  }

  test("same batch id raced by two writers: exactly one commit holds it, " +
    "both callers converge on that version, rows land once") {
    // the exactly-once contract appendBatch gives foreachBatch replays,
    // under REAL contention: two workers staging the same micro-batch
    // concurrently (speculative retry / zombie task shape)
    val t = freshTable()
    TxLog.append(spark, df(0L -> "base"), t)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val racers = (1 to 2).map { i =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            barrier.await()
            TxLog.appendBatch(spark, df(7L -> s"racer$i"), t, batchId = 42L)
          }
        })
      }
      val vs = racers.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(vs.distinct.size == 1,
        s"both racers must converge on the winning version, got $vs")
      assert(TxLog.committedBatch(t, 42L).contains(vs.head))
      // the batch's key appears exactly once at head — the loser's staged
      // files stay unreferenced and invisible
      val rows = TxLog.read(spark, t).collect()
      assert(rows.count(_.getLong(0) == 7L) == 1,
        "a raced batch id must land its rows exactly once")
    } finally pool.shutdown()
  }

  test("deleteWhere: TRUE rows removed, FALSE and NULL-predicate rows " +
    "survive (SQL three-valued semantics), files without a match carry " +
    "over by reference, no-match delete is a no-op commit-wise") {
    import spark.implicits._
    val t = freshTable()
    // s = null makes `s = 'a'` NULL — such rows must SURVIVE a delete
    TxLog.append(spark,
      Seq((1L, "a"), (2L, null), (3L, "b")).toDF("k", "s"), t, partFiles = 1)
    TxLog.append(spark, df(10L -> "x", 11L -> "y"), t, partFiles = 1)
    val filesBefore = TxLog.liveFiles(t)
    val v = TxLog.deleteWhere(spark, t, "s = 'a'")
    assert(v == 3)
    val out = TxLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out == Map(2L -> None, 3L -> Some("b"),
      10L -> Some("x"), 11L -> Some("y")),
      s"exactly the TRUE-predicate row goes; NULL survives (got $out)")
    assert(TxLog.liveFiles(t).contains(filesBefore(1)),
      "the matchless file must carry over by reference")
    assert(!TxLog.liveFiles(t).contains(filesBefore.head),
      "the hit file must be rewritten out")
    // no row matches → no new version (a no-op mutation commits nothing)
    val vBefore = TxLog.versions(t).last
    TxLog.deleteWhere(spark, t, "s = 'zzz'")
    assert(TxLog.versions(t).last == vBefore,
      "a no-match delete must not commit")
  }

  test("deleteWhereDv: sub-threshold files take a DELETION VECTOR (same " +
    "data file, no rewrite), over-threshold files rewrite, every read " +
    "honors the vectors, and a second delete UNIONS into a fresh one") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark,
      (0L until 100L).map(i => (i, s"v$i")).toDF("k", "s"), t, partFiles = 1)
    TxLog.append(spark,
      (1000L until 1010L).map(i => (i, s"v$i")).toDF("k", "s"), t,
      partFiles = 1)
    val before = TxLog.liveFiles(t)
    // file A: 2/100 hits (DV); file B: 8/10 hits (rewrite)
    val v = TxLog.deleteWhereDv(spark, t,
      "k IN (5, 17) OR k >= 1002", maxDvFraction = 0.05)
    assert(v == 3)
    val after = TxLog.liveFiles(t)
    assert(after.exists(e => TxLog.entryPath(e) ==
        TxLog.entryPath(before.head) && TxLog.entryDv(e).isDefined),
      s"the sub-threshold file keeps its DATA FILE and gains a DV: $after")
    assert(!after.map(TxLog.entryPath).contains(
        TxLog.entryPath(before(1))),
      "the over-threshold file must rewrite out")
    val got = TxLog.read(spark, t).collect().map(_.getLong(0)).toSet
    assert(got == ((0L until 100L).toSet -- Set(5L, 17L)) ++
        Set(1000L, 1001L),
      s"reads must drop exactly the deleted rows, got ${got.size} rows")
    // second DV delete on the same file: indices UNION, path unchanged
    TxLog.deleteWhereDv(spark, t, "k = 30", maxDvFraction = 0.05)
    val dv2 = TxLog.liveFiles(t).flatMap(TxLog.entryDv).head
    assert(dv2.cardinality == 3, s"unioned vector must hold 3 rows: $dv2")
    assert(!TxLog.read(spark, t).collect().map(_.getLong(0)).contains(30L))
    // kernels see through the vectors too: an update touching a DV'd row
    // range must not resurrect deleted keys
    TxLog.updateWhere(spark, t, "k < 50", Map("s" -> "upper(s)"))
    val upd = TxLog.read(spark, t).collect().map(_.getLong(0)).toSet
    assert(!upd.exists(Set(5L, 17L, 30L)),
      "a rewrite over a DV'd file materializes the deletion, never undoes it")
    // no-match DV delete commits nothing
    val vBefore = TxLog.versions(t).last
    TxLog.deleteWhereDv(spark, t, "k = 999999")
    assert(TxLog.versions(t).last == vBefore)
    // export republishes the descriptors + the protocol upgrade; the
    // bridge and the DV-aware stats read agree with TxLog.read
    val lines = Files.readAllLines(
      Paths.get(t, "_delta_log", f"${2L}%020d.json"))
    assert(lines.toString.contains("deletionVectors") &&
      lines.toString.contains("\"deletionVector\""),
      s"the DV-introducing version must upgrade the protocol and carry " +
        s"the descriptor: $lines")
    // note: the update at v5 rewrote k<50; only k>=50 rows still sit
    // under the original DV'd file — but the SNAPSHOT must equal TxLog's
    val viaBridge = DeltaBridge.read(spark, t).collect()
      .map(_.getLong(0)).toSet
    assert(viaBridge == upd, "bridge read must equal the TxLog read")
    // the v5 update rewrote the DV'd file, orphaning both sidecars —
    // vacuum sweeps them under the same retention guard as stage files
    val swept = TxLog.vacuum(t, retainVersions = 1)
    assert(swept.exists(_.startsWith("deletion_vector_")),
      s"orphaned DV sidecars must sweep: $swept")
    assert(TxLog.read(spark, t).collect().map(_.getLong(0)).toSet == upd,
      "the head must survive the sweep")
  }

  test("mergeClauses with maxDvFraction: per-file verdicts split DV / " +
    "rewrite / carry-over, inserts still stage, ONE commit") {
    import spark.implicits._
    val t = freshTable()
    // file A: 100 rows, file B: 10 rows, file C: 50 rows
    TxLog.append(spark,
      (0L until 100L).map(i => (i, s"v$i")).toDF("k", "s"), t, partFiles = 1)
    TxLog.append(spark,
      (1000L until 1010L).map(i => (i, s"v$i")).toDF("k", "s"), t,
      partFiles = 1)
    TxLog.append(spark,
      (2000L until 2050L).map(i => (i, s"v$i")).toDF("k", "s"), t,
      partFiles = 1)
    val before = TxLog.liveFiles(t)
    val vBefore = TxLog.versions(t).last
    // A: keys 5,17 fire DELETE (2/100 <= 0.05 → DV); B: key 1000 fires
    // UPDATE (→ rewrite); C: key 2000 matches but fires NO clause
    // (→ carry over by reference); key 5000 matches nothing (→ INSERT)
    val src = Seq((5L, "x"), (17L, "x"), (1000L, "x"), (2000L, "x"),
      (5000L, "ins")).toDF("k", "s")
    TxLog.mergeClauses(spark, src, t,
      keys = Seq("k"), tableCols = Seq("k", "s"),
      matched = Seq(
        (Some("k < 999"), TxLog.MergeDelete),
        (Some("k >= 1000 AND k < 2000"),
          TxLog.MergeUpdate(Seq("s" -> "'UPD'")))),
      notMatchedInsert = Seq((None,
        Seq("k" -> "__src_k", "s" -> "__src_s"))),
      notMatchedBySource = Seq.empty,
      maxDvFraction = 0.05)
    assert(TxLog.versions(t).last == vBefore + 1, "ONE commit")
    val after = TxLog.liveFiles(t)
    val aEntry = after.find(e =>
      TxLog.entryPath(e) == TxLog.entryPath(before.head))
    assert(aEntry.exists(e => TxLog.entryDv(e).exists(_.cardinality == 2L)),
      s"file A keeps its data file and gains a 2-row DV: $after")
    assert(!after.map(TxLog.entryPath).contains(TxLog.entryPath(before(1))),
      "file B (an UPDATE fired) must rewrite out")
    assert(after.contains(before(2)),
      "file C (matched but no clause fired) must carry over VERBATIM")
    val out = TxLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!out.contains(5L) && !out.contains(17L), "DV'd rows are gone")
    assert(out(1000L) == "UPD" && out(1001L) == "v1001", "B updated")
    assert(out(2000L) == "v2000" && out.contains(2049L), "C unchanged")
    assert(out(5000L) == "ins", "the unmatched source row inserted")
    assert(out.size == 98 + 10 + 50 + 1, s"row count, got ${out.size}")
    // export + bridge agreement over the merge-written vectors
    val viaBridge = DeltaBridge.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaBridge == out, "bridge read must equal the TxLog read")
  }

  test("LAW: mergeClauses with the DV path ON reads identically to the " +
    "copy-on-write path, across mixed clause shapes") {
    import spark.implicits._
    def build(): String = {
      val t = freshTable()
      TxLog.append(spark,
        (0L until 80L).map(i => (i, s"v$i")).toDF("k", "s"), t, partFiles = 2)
      TxLog.append(spark,
        (500L until 520L).map(i => (i, s"w$i")).toDF("k", "s"), t,
        partFiles = 1)
      t
    }
    val src = Seq((3L, "x"), (7L, "x"), (41L, "x"), (505L, "x"),
      (9000L, "new")).toDF("k", "s")
    def mergeOn(t: String, dvFrac: Double): Unit =
      TxLog.mergeClauses(spark, src, t,
        keys = Seq("k"), tableCols = Seq("k", "s"),
        matched = Seq(
          (Some("k < 100"), TxLog.MergeDelete),
          (Some("k >= 500"), TxLog.MergeUpdate(Seq("s" -> "upper(s)")))),
        notMatchedInsert = Seq((None,
          Seq("k" -> "__src_k", "s" -> "__src_s"))),
        notMatchedBySource = Seq.empty,
        maxDvFraction = dvFrac)
    val (a, b) = (build(), build())
    mergeOn(a, 0.0)  // pure copy-on-write
    mergeOn(b, 0.2)  // DV path for the delete-only files
    def state(t: String) = TxLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(state(a) == state(b),
      "the two write strategies must be read-indistinguishable")
    assert(TxLog.liveFiles(b).exists(_.contains("#dv:")),
      "sanity: the DV run actually exercised the vector path")
    assert(!TxLog.liveFiles(a).exists(_.contains("#dv:")),
      "sanity: the baseline run did not")
    // and the exported logs agree with their own tables
    assert(DeltaBridge.read(spark, b).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == state(a))
  }

  test("OCC exhaustion under a deliberately-racing committer fails loud " +
    "with NO partial state") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark,
      (0L until 50L).map(i => (i, s"v$i")).toDF("k", "s"), t, partFiles = 1)
    val beforeRows = TxLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // the racer claims the next version with a no-op commit each time a
    // new stage directory appears: every updateWhere attempt stages its
    // rewrite into a fresh `stage-*` dir before it publishes, so every
    // attempt loses whatever its scan and stage cost
    def stages(): Set[String] = TxLog.listDir(java.nio.file.Paths.get(t))
      .map(_.getFileName.toString).filter(_.startsWith("stage-")).toSet
    @volatile var stop = false
    val racer = new Thread(() => {
      var seen = stages()
      while (!stop) {
        val now = stages()
        if (!now.subsetOf(seen)) {
          seen = now
          while (!TxLog.tryCommitAt(t, TxLog.head(t) + 1, add = Seq.empty,
              remove = Seq.empty)) ()
        }
        Thread.sleep(1)
      }
    })
    racer.setDaemon(true)
    racer.start()
    try {
      val e = intercept[IllegalStateException] {
        TxLog.updateWhere(spark, t, "k < 10", Map("s" -> "'X'"))
      }
      assert(e.getMessage.contains("OCC attempts") &&
        e.getMessage.contains("No partial state"),
        s"exhaustion must explain itself: ${e.getMessage}")
    } finally { stop = true; racer.join() }
    val afterRows = TxLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(afterRows == beforeRows,
      "a statement that exhausted its OCC budget must leave the data " +
        "EXACTLY as it was — no partial update, no phantom rows")
    // the losing attempts' staged files are unreferenced → vacuum sweeps
    // them; the head still reads
    TxLog.vacuum(t, retainVersions = 1)
    assert(TxLog.read(spark, t).collect().length == beforeRows.size)
  }

  test("updateWhere: SET evaluates on the OLD row, non-matching rows and " +
    "files untouched, unknown SET column fails loud") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark,
      Seq((1L, 10L, "keep"), (2L, 20L, "bump")).toDF("k", "n", "tag"), t,
      partFiles = 1)
    TxLog.append(spark,
      Seq((3L, 30L, "bump")).toDF("k", "n", "tag"), t, partFiles = 1)
    // swap-flavored SET: n := n + k must read the OLD k even though the
    // same statement also rewrites rows — both expressions see the old row
    TxLog.updateWhere(spark, t, "tag = 'bump'",
      Map("n" -> "n + k", "tag" -> "upper(tag)"))
    val out = TxLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out == Map(1L -> ((10L, "keep")), 2L -> ((22L, "BUMP")),
      3L -> ((33L, "BUMP"))), s"got $out")
    val e = intercept[IllegalArgumentException] {
      TxLog.updateWhere(spark, t, "k = 1", Map("nope" -> "1"))
    }
    assert(e.getMessage.contains("nope"))
    // a type-changing SET fails loud (mixed parquet types across files)
    val e2 = intercept[IllegalArgumentException] {
      TxLog.updateWhere(spark, t, "k = 1", Map("n" -> "CAST(n AS INT)"))
    }
    assert(e2.getMessage.contains("fixed by the log"))
  }

  test("partition-aware copy-on-write DML: rewrites preserve path-borne " +
    "partition values, untouched partitions carry over BY REFERENCE, a " +
    "SET on a partition column moves rows between partitions, and " +
    "optimize compacts per partition") {
    import spark.implicits._
    val t = freshTable()
    TxLog.appendPartitioned(spark,
      Seq((1L, "a", "US"), (2L, "b", "US"), (3L, "c", "DE"),
          (4L, "d", null.asInstanceOf[String]))
        .toDF("k", "s", "country"), t, Seq("country"))
    def snap(): Set[(Long, String, String)] = {
      DeltaBridge.read(spark, t).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[String]("s"),
          r.getAs[String]("country"))).toSet
    }
    assert(snap() == Set((1L, "a", "US"), (2L, "b", "US"), (3L, "c", "DE"),
      (4L, "d", null)))
    // DELETE with a data-column predicate: the US partition rewrites,
    // DE and null partitions carry over by reference (file-granular law)
    val deBefore = TxLog.liveFiles(t).filter(_.contains("country=DE"))
    TxLog.deleteWhere(spark, t, "k = 2")
    assert(snap() == Set((1L, "a", "US"), (3L, "c", "DE"), (4L, "d", null)))
    assert(TxLog.liveFiles(t).filter(_.contains("country=DE")) == deBefore,
      "an unhit partition's files must survive by reference, not rewrite")
    assert(TxLog.liveFiles(t).forall(e =>
      TxLog.entryPath(e).contains("country=")),
      "every rewritten file must keep the Hive layout")
    // UPDATE a data column inside a partition
    TxLog.updateWhere(spark, t, "k = 3", Map("s" -> "upper(s)"))
    assert(snap() == Set((1L, "a", "US"), (3L, "C", "DE"), (4L, "d", null)))
    // UPDATE a PARTITION column: the row must move to the new partition
    // (paths derive from the updated values — delta-spark semantics)
    TxLog.updateWhere(spark, t, "k = 1", Map("country" -> "'CA'"))
    assert(snap() == Set((1L, "a", "CA"), (3L, "C", "DE"), (4L, "d", null)))
    assert(TxLog.liveFiles(t).exists(_.contains("country=CA")),
      "the moved row must land under its new partition directory")
    // MERGE: replace k=3 (partition value from the update row) + insert
    TxLog.merge(spark,
      Seq((3L, "m", "FR"), (9L, "n", "XX")).toDF("k", "s", "country"),
      t, "k")
    assert(snap() == Set((1L, "a", "CA"), (3L, "m", "FR"), (4L, "d", null),
      (9L, "n", "XX")))
    // DELETE with a PARTITION-ONLY predicate
    TxLog.deleteWhere(spark, t, "country = 'XX'")
    assert(snap() == Set((1L, "a", "CA"), (3L, "m", "FR"), (4L, "d", null)))
    // OPTIMIZE: per-partition compaction to one file each, values intact
    TxLog.optimize(spark, t)
    val live = TxLog.liveFiles(t)
    assert(live.size == 3 && live.forall(e =>
        TxLog.entryPath(e).contains("=")),
      s"optimize must leave one Hive-layout file per live partition: $live")
    assert(snap() == Set((1L, "a", "CA"), (3L, "m", "FR"), (4L, "d", null)))
  }

  test("partition VALUES survive rewrites byte-for-byte: URI-special " +
    "characters (space) still hit-match, and numeric-looking strings " +
    "('0123') are not re-typed by the re-stage (review findings r13)") {
    import spark.implicits._
    val t = freshTable()
    TxLog.appendPartitioned(spark,
      Seq((1L, "a", "NORTH AMERICA", "0123"), (2L, "b", "EUROPE", "7"),
          (3L, "c", "NORTH AMERICA", "0123"))
        .toDF("k", "s", "region", "code"), t, Seq("region", "code"))
    // raw path VALUES must survive rewrites, `code` is logged as a
    // STRING (so every reader returns "0123"), and hit discovery must
    // work through the URI encoding input_file_name applies
    def snap(): Set[(Long, String, String)] = {
      DeltaBridge.read(spark, t).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[String]("s"),
          r.getAs[String]("region"))).toSet
    }
    // a space rides as %20 in input_file_name — the hit scan must still
    // find the file, and the delete must actually delete
    TxLog.deleteWhere(spark, t, "region = 'NORTH AMERICA' AND k = 1")
    assert(snap() == Set((2L, "b", "EUROPE"),
      (3L, "c", "NORTH AMERICA")),
      "the space-partition row must actually be deleted")
    // the surviving rewrite must keep the RAW path values: code=0123
    // (free inference would re-render it as 123) and the literal space
    val live = TxLog.liveFiles(t).map(TxLog.entryPath)
    assert(live.exists(_.contains("code=0123")),
      s"leading-zero partition values must survive the rewrite: $live")
    assert(live.exists(_.contains("region=NORTH AMERICA")),
      s"the space must survive un-mangled: $live")
    TxLog.updateWhere(spark, t, "code = '0123'", Map("s" -> "upper(s)"))
    assert(snap() == Set((2L, "b", "EUROPE"),
      (3L, "C", "NORTH AMERICA")),
      "string-typed partition predicates must match the raw path value")
    assert(TxLog.liveFiles(t).map(TxLog.entryPath)
        .exists(_.contains("code=0123")),
      "the update's re-stage must also preserve the raw value")
    val codes = DeltaBridge.read(spark, t)
    assert(codes.schema("code").dataType ==
      org.apache.spark.sql.types.StringType, "code is logged as a STRING")
    assert(codes.where("k = 3").select("code").as[String].collect().toSeq ==
      Seq("0123"), "DeltaBridge.read returns the raw value")
  }

  test("a commit that would MIX flat and partitioned layouts fails loud " +
    "(one Delta log has one partition layout) and leaves the table as it was") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark, df(1L -> "a"), t)
    val e = intercept[IllegalArgumentException] {
      TxLog.appendPartitioned(spark,
        Seq((2L, "b", "US")).toDF("k", "s", "country"), t, Seq("country"))
    }
    assert(e.getMessage.contains("layout"),
      s"mixed layouts must fail loud, got: $e")
    assert(TxLog.versions(t) == Seq(1), "the refused commit lands nothing")
    TxLog.deleteWhere(spark, t, "k = 1")
    assert(TxLog.read(spark, t).count() == 0,
      "rewrite ops still run on the one consistent layout")
  }

  test("restore: one metadata-only commit rolls the live set back; " +
    "history is preserved (the undone mutation stays time-travelable); " +
    "a vacuumed target fails loud") {
    val t = freshTable()
    TxLog.append(spark, df(1L -> "a"), t)              // v1
    TxLog.append(spark, df(2L -> "b"), t)              // v2
    TxLog.deleteWhere(spark, t, "k = 1")               // v3
    assert(TxLog.read(spark, t).count() == 1)
    val v = TxLog.restore(spark, t, 2)
    assert(v == 4, "restore is a NEW commit, not a log rewrite")
    assert(TxLog.read(spark, t).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L), "the head must be version 2's state again")
    // the rolled-back delete is still visible at v3
    assert(TxLog.read(spark, t, Some(3)).collect()
      .map(_.getLong(0)).toSeq == Seq(2L),
      "history must survive the restore")
    // restore's commit must be pure log arithmetic: v4's add entries are
    // exactly v2's live minus v3's live — no fresh files staged
    val add4 = DeltaBridge.versionDelta(t, 3L).adds.map(_._1)
    assert(add4.forall(TxLog.liveFiles(t, Some(2)).map(TxLog.entryPath).contains),
      "restore must re-add the ORIGINAL entries, never copies")
    // vacuum away the pre-restore generations, then ask for one: loud
    TxLog.overwrite(spark, df(9L -> "z"), t)           // v5
    TxLog.vacuum(t, retainVersions = 1, minAgeMs = 0L)
    val e = intercept[IllegalArgumentException] {
      TxLog.restore(spark, t, 1)
    }
    assert(e.getMessage.contains("vacuum"),
      s"a vacuumed restore target must fail with the retention contract: $e")
  }

  test("batch-id spaces are DISJOINT: a V1 (appId-less) append is never " +
    "swallowed by a V2 streaming commit sharing the numeric id, and two " +
    "query ids dedup independently") {
    val t = freshTable()
    // a "V2 streaming" epoch-0 commit under query id qa
    val s1 = TxLog.append(spark, df(1L -> "a"), t) // plain v1 for staging
    val _ = s1
    val staged = TxLog.liveFiles(t) // reuse as a stand-in staged list
    TxLog.appendBatchStaged(t, 0L, Seq.empty, appId = Some("qa"))
    // V1 appendBatch with batchId 0 must still land (no appId on record)
    val vV1 = TxLog.appendBatch(spark, df(2L -> "b"), t, batchId = 0L)
    assert(TxLog.read(spark, t).count() == 2,
      "the V1 batch must not dedup against the V2 commit")
    // replaying each id in its own space is a no-op
    assert(TxLog.appendBatch(spark, df(9L -> "x"), t, batchId = 0L) == vV1)
    assert(TxLog.appendBatchStaged(t, 0L, staged, appId = Some("qa")) <
      TxLog.versions(t).last + 1, "qa's epoch 0 must resolve to its own")
    // a SECOND query id's epoch 0 lands as a fresh commit
    val before = TxLog.versions(t).last
    TxLog.appendBatchStaged(t, 0L, Seq.empty, appId = Some("qb"))
    assert(TxLog.versions(t).last == before + 1,
      "qb's epoch 0 must not dedup against qa's")
  }
}
