package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IncrementalSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("d135 statuses partition the delta and reconcile with a driver-side check") {
    val out = Dedup.d135IncrementalDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val index = docs.filter(_._1 % 7 != 0).map(_._2).toSet
    val delta = docs.filter(_._1 % 7 == 0).sortBy(_._1)
    assert(out.keySet === delta.map(_._1).toSet)
    val seen = scala.collection.mutable.Set[String]()
    delta.foreach { case (id, h) =>
      val expected =
        if (index.contains(h)) "dup_index"
        else if (seen.contains(h)) "dup_delta"
        else "unique"
      if (!index.contains(h)) seen += h
      assert(out(id) === expected, s"doc $id")
    }
  }

  test("q136 windows are full weeks and WAU bounds hold") {
    val rows = TimeSeries.q136SlidingDistinct(spark, sf).collect()
    val ev = graft.Tables.events(spark, sf)
      .selectExpr("user_id", "date_format(date_trunc('day', ts), 'yyyy-MM-dd') AS d")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val days = ev.map(_._2).distinct.sorted
    // one window per start day that has a full 7-day horizon in the data
    assert(rows.length === days.length - 6)
    val byDay = ev.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    rows.foreach { r =>
      val w = java.time.LocalDate.parse(r.getString(0), fmt)
      val expect = (0 until 7).flatMap(i =>
        byDay.getOrElse(w.plusDays(i).format(fmt), Set.empty)).toSet
      assert(r.getLong(1) === expect.size.toLong, s"window $w")
    }
  }

  test("BandBucketCap bounds pair volume under a PLANTED pathological band: " +
    "an oversized clone cluster yields zero candidate pairs while normal " +
    "near-dups still surface") {
    import spark.implicits._
    // 120 identical docs (> BandBucketCap = 100): one minhash signature,
    // all 4 band buckets hold the whole cluster. Uncapped, d31 would
    // explode C(120,2) = 7140 candidate pairs AND C(120,2) pairs per
    // shared shingle in the common layer; capped, the oversized buckets
    // drop before pairExplodeExpr and the clones contribute nothing.
    // Docs 200/201 are a small (≤ cap) duplicate pair that must still
    // pair up normally.
    val boiler = "the quick brown fox jumps over the lazy dog again and " +
      "again in the same boilerplate navigation footer text block"
    val pairTxt = "completely different content about distributed " +
      "minhash banding with its own distinctive shingle vocabulary here"
    val corpus = Files.createTempDirectory("planted_band").toString
    val docs =
      (1 to 120).map(i => (i.toLong, boiler, "en", "web", boiler.length.toLong)) ++
      Seq((200L, pairTxt, "en", "web", pairTxt.length.toLong),
          (201L, pairTxt, "en", "web", pairTxt.length.toLong))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$corpus/documents.parquet")
    val out = Dedup.d31MinhashLsh(spark, corpus).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((200L, 201L)),
      s"only the small bucket may pair; got ${pairs.size} pairs")
    val r200 = out.head
    assert(r200.getAs[Double]("jac") == 1.0 && r200.getAs[Int]("is_dup") == 1)
  }

  test("d141 capped Jaccard matches a driver-side reduced-universe brute force") {
    def poly(str: String): Long =
      str.foldLeft(7L)((h, c) => (h * 31 + c.toLong) % graft.functions.PortableHash.P)
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val shingles = docs.map { case (id, text) =>
      val toks = text.toLowerCase.split(" ")
      id -> toks.sliding(3).map(_.mkString(" ")).toSeq.distinct.map(poly).toSet
    }.toMap
    // stop-shingle cap: drop hashes present in > 10 docs
    val df = shingles.values.flatten.groupBy(identity).view.mapValues(_.size)
    val rare = df.filter(_._2 <= 10).keySet
    val capped = shingles.view.mapValues(_.intersect(rare.toSet)).toMap
    val inverted = capped.toSeq.flatMap { case (id, hs) => hs.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted)
    val candidatePairs: Set[(Long, Long)] = inverted.values.flatMap { ids =>
      for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
    }.toSet
    val expected = candidatePairs.toSeq.flatMap { case (a, b) =>
      val common = capped(a).intersect(capped(b)).size
      val jac = BigDecimal(common.toDouble /
        (capped(a).size + capped(b).size - common))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (jac >= 0.2) Some((a, b, common.toLong, jac)) else None
    }.sortBy(p => (p._1, p._2))
    val got = Dedup.d141CappedJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got === expected)
  }

  test("d30 regime bound: gate-corpus shingle buckets stay small enough " +
    "for the exact form, and d141's df ceiling caps a PLANTED hot shingle") {
    import spark.implicits._
    // the property behind d30's Scaladoc regime boundary: pair volume is
    // Σ C(df,2) over shingle document frequencies; on the corpora d30
    // actually runs (the gate fixtures) the max df and the total pair
    // volume must stay far below explosion (documented: ≤ 25 docs/shingle
    // at sf0.1, ≤ 64·|docs| pairs)
    val df = Dedup.shingleIndex(spark, sf)
      .groupBy("h").agg(count(lit(1)).as("df"))
      .agg(max(col("df")).as("max_df"),
        sum(col("df") * (col("df") - 1) / 2).as("pairs"))
      .collect().head
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(df.getLong(0) <= 25,
      s"max shingle df ${df.getLong(0)} breaks d30's documented regime — " +
        "switch the gate entry to the capped form (d141)")
    assert(df.getAs[Number](1).longValue() <= 64L * nDocs,
      s"d30 pair volume ${df.get(1)} exceeds 64·|docs| — out of regime")
    // d141's production answer to the regime's failure mode: ONE shingle
    // shared by 60 docs (df far above the ceiling of 10) contributes
    // ZERO pairs; a rare near-dup pair still surfaces through its
    // sub-ceiling shingles.
    val boiler = "shared boilerplate footer appears in every single page " +
      "of this synthetic corpus unchanged throughout"
    val corpus = Files.createTempDirectory("planted_shingle").toString
    val docs =
      (1 to 60).map(i => (i.toLong,
        s"$boiler unique tail number $i with words w${i}a w${i}b w${i}c",
        "en", "web", 80L)) ++
      Seq((200L, "rare duplicated article body with distinctive shingle " +
            "vocabulary of its own kind", "en", "web", 80L),
          (201L, "rare duplicated article body with distinctive shingle " +
            "vocabulary of its own kind", "en", "web", 80L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$corpus/documents.parquet")
    val capped = Dedup.d141CappedJaccard(spark, corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((200L, 201L)),
      "the rare pair must survive the df ceiling")
    assert(capped.forall { case (a, b) => a >= 200L && b >= 200L },
      s"boilerplate-only pairs must be dropped by the cap; got $capped")
  }

  test("s139 covariance: diagonal is variance >= 0, one entry checks by hand") {
    val rows = Similarity.s139Covariance(spark, sf).collect()
    assert(rows.length === 136) // upper triangle of 16x16
    rows.filter(r => r.getLong(0) == r.getLong(1))
      .foreach(r => assert(r.getDouble(2) >= 0.0))
    // brute-force cov(1, 2) from collected vectors
    val vs = graft.Tables.embeddings(spark, sf)
      .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .collect().map(_.getSeq[Double](0))
    val n = vs.length.toDouble
    val (x, y) = (vs.map(_(0)), vs.map(_(1)))
    val brute = (x.zip(y).map { case (a, b) => a * b }.sum -
      x.sum * y.sum / n) / n
    val got = rows.find(r => r.getLong(0) == 1 && r.getLong(1) == 2).get.getDouble(2)
    assert(math.abs(got - brute) < 1e-9)
  }

  test("s137 drift is non-negative and covers every label once") {
    val rows = Similarity.s137CentroidDrift(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq === (0 until 10))
    rows.foreach(r => assert(r.getDouble(1) >= 0.0))
  }

  test("d142 emits only delta-touching pairs and agrees with d31 on them") {
    val inc = Dedup.d142IncrementalMinhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getInt(3), r.getString(4))).toMap
    // every pair touches the delta (doc_id % 7 == 0); src labels correctly
    inc.foreach { case ((id1, id2), (_, _, src)) =>
      assert(id1 % 7 == 0 || id2 % 7 == 0,
        s"($id1,$id2) touches no delta doc — history must never self-join")
      val expected =
        if (id1 % 7 == 0 && id2 % 7 == 0) "delta_delta" else "delta_hist"
      assert(src == expected, s"($id1,$id2)")
    }
    // the full-corpus run restricted to delta-touching pairs must agree on
    // candidates and scores (the incremental path loses nothing)
    val full = Dedup.d31MinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3)))
      .toMap
    val fullDelta = full.filter { case ((a, b), _) => a % 7 == 0 || b % 7 == 0 }
    assert(inc.keySet == fullDelta.keySet,
      s"candidate sets differ: only-inc=${inc.keySet -- fullDelta.keySet} " +
        s"only-full=${fullDelta.keySet -- inc.keySet}")
    fullDelta.foreach { case (k, (jac, dup)) =>
      assert(inc(k)._1 == jac && inc(k)._2 == dup, s"scores differ at $k")
    }
  }

  test("d142/d185 read the persisted band-index artifact — history bands " +
    "come from parquet, not recomputation") {
    // force the artifact to exist, then check both plans scan it
    Dedup.d185SnapshotIncremental(spark, sf).count()
    Seq(Dedup.d142IncrementalMinhash(spark, sf),
        Dedup.d185SnapshotIncremental(spark, sf)).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("graft_band_idx_"),
        s"expected a scan of the persisted band index:\n${plan.take(2000)}")
    }
    // d189's probe side must likewise read the history index in place
    // AND the admitted artifact's compact generation, not recompute bands
    val p189 = Dedup.d189AdmitCompact(spark, sf)
      .queryExecution.executedPlan.toString
    // (a hex key follows the history index's kind; `g2_` follows the
    // admitted one's — plan strings truncate long locations)
    assert("graft_band_idx_[0-9a-f]".r.findFirstIn(p189).isDefined,
      s"expected a scan of the history band index:\n${p189.take(2000)}")
    assert(p189.contains("graft_band_idx_g2_"),
      s"expected a scan of the admitted band index:\n${p189.take(2000)}")
  }

  test("d185 re-ingested snapshot: every batch doc rediscovers its original " +
    "at jac=1.0 via the persisted band index, and no history pair appears") {
    val rows = Dedup.d185SnapshotIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getInt(3), r.getString(4))).toMap
    // every pair touches the batch (id >= 10M); src labels are consistent
    rows.foreach { case ((id1, id2), (_, _, src)) =>
      assert(id2 >= 10000000L, s"($id1,$id2) touches no batch doc")
      val expected = if (id1 >= 10000000L) "delta_delta" else "delta_hist"
      assert(src == expected, s"($id1,$id2)")
    }
    // a re-crawl returns identical content under a fresh key: the probe
    // against the persisted history index MUST recover (orig, orig+10M)
    // as an exact match for every batch doc with at least one shingle
    // (a <3-token doc produces no shingles, hence no bands and no
    // self-pair — scope the assertion to what d185 guarantees)
    val batchIds = Dedup.shingleIndex(spark, sf)
      .filter(col("doc_id") % 3 === 0)
      .select("doc_id").distinct().collect().map(_.getLong(0))
    batchIds.foreach { id =>
      val k = (id, id + 10000000L)
      assert(rows.contains(k), s"self-pair $k not recovered")
      assert(rows(k)._1 == 1.0 && rows(k)._2 == 1, s"self-pair $k not exact")
    }
  }

  test("d189 admit+compact: compaction is row-set-identical, reduces file " +
    "count, and batch 2 rediscovers gen-1 twins through the compacted index") {
    def bandRows(paths: String*) = spark.read.parquet(paths: _*)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    def parquetFiles(p: String): Int =
      Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
        .count(f => f.getName.endsWith(".parquet") && f.length > 0)
    // admit, then read the staged micro-batch generations before the
    // compaction that folds them retires them
    val scratch = Files.createTempDirectory("admit_compact").toString
    Dedup.admitGenerations(spark, sf, scratch)
    val stagedDirs = (0 to 2).map(g => s"$scratch/delta_gen$g")
    val staged = bandRows(stagedDirs: _*)
    val stagedFiles = stagedDirs.map(parquetFiles).sum
    Dedup.compactGenerations(spark, scratch)
    // compaction invariance: the folded generation carries exactly the
    // rows of the staged generations, in fewer data files, and the staged
    // generations are gone
    val compact = bandRows(s"$scratch/compact")
    assert(compact === staged, "compaction changed the band row set")
    assert(parquetFiles(s"$scratch/compact") < stagedFiles,
      s"compact has ${parquetFiles(s"$scratch/compact")} files vs $stagedFiles staged")
    assert(stagedDirs.forall(d => !new java.io.File(d).exists),
      "compaction must delete the generations it folded")
    // the built artifact holds only the compacted generation: history is
    // read in place, never copied into it
    val root = Dedup.admittedBandIndex(spark, sf)
    assert(new java.io.File(root).list().toSet == Set("compact", "_SUCCESS"))
    assert(bandRows(s"$root/compact") === staged)
    val hist = Dedup.historyBandIndex(spark, sf).count()
    // probe gate: docs in BOTH batches (doc_id % 15 == 0) must surface the
    // original (history path) AND the batch-1 twin (append→compact path),
    // both exact — if compaction dropped batch 1's bands, the gen1 pair
    // vanishes here before the oracle ever sees it
    val rows = Dedup.d189AdmitCompact(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getInt(3), r.getString(4))).toMap
    rows.foreach { case ((id1, id2), (_, _, src)) =>
      assert(id2 >= 20000000L, s"($id1,$id2) touches no batch-2 doc")
      val expected =
        if (id1 >= 20000000L) "delta_delta"
        else if (id1 >= 10000000L) "delta_gen1"
        else "delta_hist"
      assert(src == expected, s"($id1,$id2)")
    }
    val bothIds = Dedup.shingleIndex(spark, sf)
      .filter(col("doc_id") % 15 === 0)
      .select("doc_id").distinct().collect().map(_.getLong(0))
    assert(bothIds.nonEmpty && hist > 0)
    bothIds.foreach { id =>
      val viaHist = (id, id + 20000000L)
      val viaGen1 = (id + 10000000L, id + 20000000L)
      assert(rows.contains(viaHist) && rows(viaHist)._1 == 1.0,
        s"original $viaHist not recovered exact via the history index")
      assert(rows.contains(viaGen1) && rows(viaGen1)._1 == 1.0,
        s"twin $viaGen1 not recovered exact via the compacted admit")
    }
  }
}
