package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Similarity2Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("ann recall: one row per probe, hits bounded by 3, and recall " +
    "agrees with a direct intersection of the two kernels") {
    val out = Similarity2.s163AnnRecall(spark, dir).cache()
    assert(out.count() == 16)
    assert(out.filter(col("n_hit") < 0 || col("n_hit") > 3).count() == 0)
    val truth = Similarity.s38AnnBrute(spark, dir)
      .filter(col("rank") <= 3).select("qid", "nid")
    val got = Similarity.s39AnnIvf(spark, dir).select("qid", "nid")
    val expected = truth.join(got, Seq("qid", "nid")).count()
    assert(out.agg(sum("n_hit")).head().getLong(0) == expected)
    out.unpersist()
  }

  test("pq adc search: 3 ranked rows per probe with monotone distances") {
    val out = Similarity2.s173PqAdcSearch(spark, dir).cache()
    assert(out.count() == 16 * 3)
    assert(out.filter(col("adc") < 0).count() == 0)
    // within a query, rank order IS distance order (ties broken by nid)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy("rank")
    assert(out.withColumn("prev", lag(col("adc"), 1).over(w))
      .filter(col("prev").isNotNull && col("adc") < col("prev"))
      .count() == 0)
    out.unpersist()
  }

  test("pq codes: one row per vector, 8 codes in [0,3], and the error of " +
    "a vector equals the sum of its per-subspace best distances") {
    val out = Similarity2.s166PqCodes(spark, dir).cache()
    val nVecs = graft.Tables.embeddings(spark, dir).count()
    assert(out.count() == nVecs)
    assert(out.filter(size(split(col("codes"), "-")) =!= 8).count() == 0)
    assert(out.filter(exists(transform(split(col("codes"), "-"),
      c => c.cast("int") < 0 || c.cast("int") > 3), identity[org.apache.spark.sql.Column])).count() == 0)
    // reconstruction error is non-negative and zero only if a vector sits
    // exactly on all 8 of its codewords (possible but rare)
    assert(out.filter(col("qerr") < 0).count() == 0)
    out.unpersist()
  }

  test("s188 matryoshka rerank replicates a driver-side two-stage search") {
    val vs = graft.Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Double](1).toArray).sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double], d: Int): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < d) { dot += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = vs.filter(_._1 < 16).flatMap { case (qid, qv) =>
      val shortlist = vs.filter(_._1 != qid)
        .map { case (nid, cv) => (nid, cos(qv, cv, 8)) }
        .sortBy { case (nid, p) => (-p, nid) }.take(32)
        .zipWithIndex.map { case ((nid, _), i) => (nid, i + 1) }
      shortlist
        .map { case (nid, cr) => (nid, cr, cos(qv, vs.find(_._1 == nid).get._2, 64)) }
        .sortBy { case (nid, _, c) => (-c, nid) }.take(5)
        .zipWithIndex
        .map { case ((nid, cr, c), i) => (qid, i + 1, nid, c, cr) }
    }
    val got = Similarity.s188MatryoshkaRerank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getInt(4)))
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (g, e) =>
      assert((g._1, g._2, g._3, g._5) == (e._1, e._2, e._3, e._5),
        s"ids/ranks differ: got $g expected $e")
      assert(math.abs(g._4 - e._4) <= 1e-6, s"cos differs: got $g expected $e")
    }
    // the rerank must VISIBLY reorder somewhere — otherwise the second
    // stage is dead weight and the demo demonstrates nothing
    assert(got.exists(r => r._2 != r._5))
  }

  test("s196 hybrid rrf: 20 unique docs ranked 1..20, fusion arithmetic " +
    "recomputes from the emitted leg ranks, rrf is monotone in rank") {
    val out = Similarity2.s196HybridRrf(spark, dir).collect()
    assert(out.length == 20)
    assert(out.map(_.getInt(0)).toSeq == (1 to 20))
    assert(out.map(_.getLong(1)).distinct.length == 20)
    var prev = Double.MaxValue
    out.foreach { r =>
      val lex = if (r.isNullAt(2)) 0.0 else 1.0 / (60 + r.getInt(2))
      val sem = if (r.isNullAt(3)) 0.0 else 1.0 / (60 + r.getInt(3))
      val rrf = r.getDouble(4)
      assert(math.abs(rrf - (lex + sem)) < 2e-6,
        s"fusion arithmetic off for $r")
      // an emitted leg rank is a SHORTLIST rank — never past the depth
      if (!r.isNullAt(2)) assert(r.getInt(2) <= 101)
      if (!r.isNullAt(3)) assert(r.getInt(3) <= 101)
      assert(rrf <= prev + 1e-12, "rrf must be non-increasing in rank")
      prev = rrf
    }
    // the query doc itself must never be retrieved
    assert(out.forall(_.getLong(1) != 0L))
  }

  test("s196 plan: every window is keyed or limit-bounded — the per-leg " +
    "rank and the fused rank never sort the corpus through one task") {
    val df = Similarity2.s196HybridRrf(spark, dir)
    // ≥3 windows expected: lex/sem shortlist ranks + the fused rank (the
    // rarest-8 term window also appears — twice, the shared qt subtree is
    // duplicated in the logical tree — and LimitPushDownThroughWindow
    // bounds it at 8); what matters is that EVERY one passed the check
    assert(assertWindowsKeyedOrBounded(df) >= 3)
    // and the per-leg top-101 plans as a real top-k physical operator
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def cosScala(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i)
      nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Plain-Scala replica of the s196 hybrid front-end. Returns the fused
    * top-20 (rank, id, lexRank, semRank, rrf), the 8-term query set, the
    * tokenized docs, and the embedding map — shared by the s196 fusion
    * ground truth and the s314 rerank ground truth. */
  private def hybridReplica(): (Seq[(Int, Long, Option[Int], Option[Int], Double)],
      Set[String], Map[Long, Seq[String]], Map[Long, Array[Double]]) = {
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split(" ", -1).toSeq)
      .sortBy(_._1)
    // --- lexical leg: Okapi BM25 over the 8 rarest query-doc terms
    val q0 = docs.find(_._1 == 0L).get._2.distinct.toSet
    val dfc = docs.flatMap { case (_, ts) => ts.distinct.filter(q0) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val qt = dfc.toSeq.sortBy { case (t, df) => (df, t) }.take(8).toMap
    val lens = docs.map { case (id, ts) => id -> ts.length.toLong }.toMap
    val nDocs = docs.length.toLong
    val tot = lens.values.sum
    val lexScores = docs.filter(_._1 != 0L).flatMap { case (id, ts) =>
      val contribs = ts.filter(qt.contains).groupBy(identity).map {
        case (t, occ) =>
          val tf = occ.size.toDouble
          val df = qt(t).toDouble
          val raw = (nDocs - df + 0.5) / (df + 0.5) *
            tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * lens(id) / (tot.toDouble / nDocs)))
          BigDecimal(r6(raw)).setScale(6)
      }
      if (contribs.isEmpty) None
      else Some(id -> r6(contribs.sum.toDouble))
    }
    val lexRank = lexScores.sortBy { case (id, s) => (-s, id) }.take(101)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    // --- semantic leg: strict-left-fold cosine vs vector 0
    val vs = graft.Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val v0 = vs(0L)
    val semRank = vs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, cosScala(v0, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(101)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    // --- fuse the two shortlists
    val fused = (lexRank.keySet ++ semRank.keySet).toSeq.map { id =>
      val rrf = r6(lexRank.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        semRank.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0))
      (id, lexRank.get(id), semRank.get(id), rrf)
    }.sortBy { case (id, _, _, rrf) => (-rrf, id) }.take(20)
      .zipWithIndex
      .map { case ((id, lr, sr, rrf), i) => (i + 1, id, lr, sr, rrf) }
    (fused, qt.keySet, docs.toMap, vs)
  }

  test("s196 brute-force replica: a plain-Scala BM25 + cosine + top-101 " +
    "RRF ground truth reproduces the whole fused top-20") {
    val (expected, _, _, _) = hybridReplica()
    val got = Similarity2.s196HybridRrf(spark, dir).collect().map { r =>
      (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)),
        if (r.isNullAt(3)) None else Some(r.getInt(3)),
        r.getDouble(4))
    }
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (g, e) =>
      assert((g._1, g._2, g._3, g._4) == ((e._1, e._2, e._3, e._4)),
        s"ids/ranks differ: got $g expected $e")
      assert(math.abs(g._5 - e._5) < 2e-6, s"rrf differs: got $g expected $e")
    }
  }

  test("s314 brute-force replica: the cross-encoder rerank of the fused " +
    "top-20 matches a plain-Scala feature-and-score ground truth") {
    val (fused, qtTerms, docToks, vs) = hybridReplica()
    val v0 = vs(0L)
    val expected = fused.map { case (_, id, _, _, _) =>
      val ts = docToks.getOrElse(id, Seq.empty)
      val nCover = ts.distinct.count(qtTerms).toLong
      val sumtf = ts.count(qtTerms).toLong
      val dens6 = if (sumtf == 0L) 0L else 1000000L * sumtf / ts.length
      val cos6 = vs.get(id)
        .map(v => math.floor(cosScala(v0, v) * 1000000.0).toLong)
        .getOrElse(0L)
      (id, nCover, dens6, cos6,
        45L * nCover * 125000L + 25L * dens6 + 30L * cos6)
    }.sortBy { case (id, _, _, _, s) => (-s, id) }.take(10)
      .zipWithIndex
      .map { case ((id, c, d, k, s), i) => (i + 1, id, c, d, k, s) }
    val got = Similarity2.s314CrossencoderRerank(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq === expected)
  }

  test("s315 brute-force replica: the full retrieve-fuse-rerank-diversify " +
    "chain matches a plain-Scala four-tier ground truth") {
    val (fused, qtTerms, docToks, vs) = hybridReplica()
    val v0 = vs(0L)
    // tier 3 replica (same arithmetic as the s314 test)
    val reranked = fused.map { case (_, id, _, _, _) =>
      val ts = docToks.getOrElse(id, Seq.empty)
      val nCover = ts.distinct.count(qtTerms).toLong
      val sumtf = ts.count(qtTerms).toLong
      val dens6 = if (sumtf == 0L) 0L else 1000000L * sumtf / ts.length
      val cos6 = vs.get(id)
        .map(v => math.floor(cosScala(v0, v) * 1000000.0).toLong)
        .getOrElse(0L)
      (id, 45L * nCover * 125000L + 25L * dens6 + 30L * cos6)
    }.sortBy { case (id, s) => (-s, id) }.take(10)
      .map { case (id, s) => (id, s / 100L) } // rel6 rescale
    // tier 4 replica: greedy MMR, max over existing pairs only
    def sim6(a: Long, b: Long): Option[Long] =
      for (va <- vs.get(a); vb <- vs.get(b))
        yield math.floor(cosScala(va, vb) * 1000000.0).toLong
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long, Long)]
    for (step <- 1 to 5) {
      val chosen = picked.map(_._2).toSet
      val best = reranked.iterator.filterNot(c => chosen(c._1))
        .map { case (id, rel6) =>
          val mx = chosen.iterator.flatMap(sim6(id, _)).maxOption.getOrElse(0L)
          (id, rel6, mx, 7L * rel6 - 3L * mx)
        }
        .reduceLeft((a, b) =>
          if (b._4 > a._4 || (b._4 == a._4 && b._1 < a._1)) b else a)
      picked += ((step, best._1, best._2, best._3, best._4))
    }
    val got = Similarity2.s315RagPipeline(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq === picked.toSeq)
  }

  test("s314 plan: rank window bounded by the limit(10), rerank re-sort " +
    "is a top-k physical operator, no corpus-scale stage added") {
    val df = Similarity2.s314CrossencoderRerank(spark, dir)
    assertWindowsKeyedOrBounded(df)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("s197 hard negatives: labels are disjoint from the anchor's, the " +
    "top negative matches a driver-side replica, margins are consistent") {
    val out = Similarity2.s197HardNegatives(spark, dir).collect()
    val vs = graft.Tables.embeddings(spark, dir).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    val lbl = vs.map(v => v._1 -> v._3).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    // per-anchor: at most 5 rows, ranks contiguous from 1
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to rows.length))
    }
    out.foreach { r =>
      val (aid, nid) = (r.getLong(0), r.getLong(2))
      assert(lbl(nid) != lbl(aid), s"negative shares the anchor label: $r")
      assert(r.getInt(3) == lbl(nid))
      // margin = pos_cos − cos, all rounded at 6 — consistent to quantum
      assert(math.abs(r.getDouble(6) - (r.getDouble(5) - r.getDouble(4))) < 2.1e-6)
    }
    // driver-side replica of anchor 0's hardest negative
    val (a0v, a0l) = vs.find(_._1 == 0L).map(v => (v._2, v._3)).get
    val expTop = vs.filter(v => v._1 != 0L && v._3 != a0l)
      .map(v => (cos(a0v, v._2), v._1))
      .sortBy { case (c, id) => (-c, id) }.head._2
    val gotTop = out.find(r => r.getLong(0) == 0L && r.getInt(1) == 1).get.getLong(2)
    assert(gotTop == expTop)
  }

  test("s206 ivf-pq: 3 ranked rows per probe, monotone adc, agrees with " +
    "unrestricted ADC on shared pairs, and restriction never finds a " +
    "closer candidate than the full scan") {
    val out = Similarity2.s206IvfPqSearch(spark, dir).cache()
    assert(out.count() == 16 * 3)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy("rank")
    assert(out.withColumn("prev", lag(col("adc"), 1).over(w))
      .filter(col("prev").isNotNull && col("adc") < col("prev"))
      .count() == 0)
    val full = Similarity2.s173PqAdcSearch(spark, dir).cache()
    // same (qid, nid) pair ⇒ identical ADC distance (same codes, same table)
    assert(out.as("a").join(full.as("b"), Seq("qid", "nid"))
      .filter(col("a.adc") =!= col("b.adc")).count() == 0)
    // cell restriction can only LOSE candidates: per query, the full scan's
    // best distance is a lower bound on the restricted scan's best
    val cmp = out.filter(col("rank") === 1).select(col("qid"), col("adc").as("ra"))
      .join(full.filter(col("rank") === 1).select(col("qid"), col("adc").as("fa")), "qid")
    assert(cmp.filter(col("ra") < col("fa")).count() == 0)
    out.unpersist(); full.unpersist()
  }

  test("s256 ivfpq recall: one row per probe, bounded in [0,1], and the " +
    "hit counts equal a direct intersection of the two kernels") {
    val out = Similarity2.s256IvfpqRecall(spark, dir).cache()
    assert(out.count() == 16)
    assert(out.filter(col("n_hit") < 0 || col("n_hit") > 3).count() == 0)
    val truth = Similarity.s38AnnBrute(spark, dir)
      .filter(col("rank") <= 3).select("qid", "nid")
    val got = Similarity2.s206IvfPqSearch(spark, dir).select("qid", "nid")
    val expected = truth.join(got, Seq("qid", "nid")).count()
    assert(out.agg(sum("n_hit")).head().getLong(0) == expected)
    out.unpersist()
  }

  test("s299 tombstoned search never returns a deleted id, keeps ADC " +
    "values identical on shared pairs, and the mask visibly bites") {
    val out = Similarity2.s299AnnWithDeletes(spark, dir).cache()
    // no deleted id anywhere in the results
    assert(out.filter(col("nid") >= 16 && col("nid") % 7 === 3).count() == 0)
    // per probe: exactly 3 contiguous ranks (corpus is large enough that
    // masking ~14% never empties a probed cell at this SF)
    assert(out.count() == 16 * 3)
    out.groupBy("qid").agg(collect_list(col("rank")).as("rs")).collect()
      .foreach(r => assert(r.getSeq[Int](1).sorted == Seq(1, 2, 3)))
    // shared (qid, nid) pairs carry the SAME quantized distance — the
    // mask filters candidates, it must not perturb scoring
    val base = Similarity2.s206IvfPqSearch(spark, dir).cache()
    assert(out.as("a").join(base.as("b"), Seq("qid", "nid"))
      .filter(col("a.adc") =!= col("b.adc")).count() == 0)
    // the mask BITES: the baseline top-3 contains at least one tombstoned
    // id somewhere (else this operator demonstrates nothing at this SF)
    assert(base.filter(col("nid") >= 16 && col("nid") % 7 === 3).count() > 0)
    // and the tombstone table is a real committed TxLog table
    val troot = graft.sources.TxLog.layoutArtifact(
      Similarity2.AnnTombstonesLayout, dir)(_ => ())
    assert(graft.sources.TxLog.versions(s"$troot/tombstones") == Seq(1))
    out.unpersist(); base.unpersist()
  }

  test("s275 persisted-index search is row-identical to the in-memory " +
    "build, and the index tables are real versioned logs") {
    val fromTable = Similarity2.s275IvfpqFromTable(spark, dir)
      .collect().map(_.toSeq).toSeq
    val inMemory = Similarity2.s206IvfPqSearch(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(fromTable == inMemory)
    // the artifact contains three committed TxLog tables
    val root = graft.sources.TxLog.layoutArtifact(
      Similarity2.IvfpqIndexLayout, dir)(_ => ())
    for (t <- Seq("centroids", "codebook", "postings"))
      assert(graft.sources.TxLog.versions(s"$root/$t") == Seq(1),
        s"$t must be one committed version")
  }

  test("s319 fresh-index search: admitted vectors are retrievable, " +
    "tombstones never surface, and the admit landed exactly once") {
    val out = Similarity2.s319FreshIndexSearch(spark, dir).cache()
    // shape: 3 contiguous ranks per probe
    assert(out.count() == 16 * 3)
    out.groupBy("qid").agg(collect_list(col("rank")).as("rs")).collect()
      .foreach(r => assert(r.getSeq[Int](1).sorted == Seq(1, 2, 3)))
    // the is_fresh flag is exactly the batch membership predicate
    assert(out.filter((col("is_fresh") === 1) =!=
      (col("nid") % 7 === 0 && col("nid") >= 16)).count() == 0)
    // no tombstoned id anywhere
    assert(out.filter(col("nid") >= 16 && col("nid") % 7 === 3).count() == 0)
    // the posting log holds exactly TWO commits: the history build and the
    // exactly-once admit (the build replays the batch id and requires the
    // version unchanged, so a third version would mean replay re-committed)
    val root = graft.sources.TxLog.layoutArtifact(
      Similarity2.IvfpqFreshLayout, dir)(_ => ())
    assert(graft.sources.TxLog.versions(s"$root/postings") == Seq(1, 2))
    // the admit is IN the index: the committed postings contain every
    // batch vector with its full 8-subspace code row set
    val postings = graft.sources.TxLog.read(spark, s"$root/postings").cache()
    val nBatch = graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 7 === 0 && col("vec_id") >= 16).count()
    assert(nBatch > 0)
    assert(postings.filter(col("vec_id") % 7 === 0 && col("vec_id") >= 16)
      .count() == nBatch * 8)
    // and freshness is OBSERVABLE end-to-end: at least one admitted vector
    // sits in a probed cell of some query (reachable by the searcher), so
    // the append-then-read path demonstrably feeds retrieval at this SF
    val fresh = out.filter(col("is_fresh") === 1).count()
    assert(fresh > 0, "no admitted vector reached any top-3 at sf0.001 — " +
      "the freshness demonstration is vacuous")
    postings.unpersist(); out.unpersist()
  }

  test("s309 mmr: rank 1 is the relevance argmax, selected scores are " +
    "non-increasing, and a near-duplicate of a selected result is " +
    "demoted below a diverse lower-relevance candidate") {
    import org.apache.spark.sql.{Row}
    import org.apache.spark.sql.types._
    // Planted geometry (dims: q-direction e0, then distinct axes):
    //   q  = e0                      (vec 0, the min-id query)
    //   A  = .95 e0 + .31 e3         rel ≈ .95 — picked first
    //   D1 = .90 e0 + .43 e4         rel ≈ .90
    //   D2 = D1 + .01 e5            rel ≈ .90, cos(D1,D2) ≈ .9997
    //   E  = .85 e0 + .52 e5         rel ≈ .85
    // Pure relevance ranks D2 above E; MMR (λ=.7) does not: after D1 is
    // selected, D2's max-sim penalty (≈ .9997) crushes its score while
    // E's stays ≈ its A/D similarity (≈ .8) — diversity wins.
    val d = tmpDir("mmr_fixture")
    def v(parts: (Int, Double)*): Seq[Float] = {
      val a = Array.fill(64)(0.0f)
      parts.foreach { case (i, x) => a(i) = x.toFloat }
      a.toSeq
    }
    val rows = Seq(
      Row(0L, v(0 -> 1.0), 0),
      Row(1L, v(0 -> 0.95, 3 -> 0.31), 1),
      Row(30L, v(0 -> 0.90, 4 -> 0.43), 2),
      Row(31L, v(0 -> 0.90, 4 -> 0.43, 5 -> 0.01), 2),
      Row(40L, v(0 -> 0.85, 5 -> 0.52), 3)) ++
      (0 until 8).map(i =>
        Row(50L + i, v(0 -> 0.3, (6 + i) -> 0.95), 4))
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
      .repartition(1).write.parquet(s"$d/embeddings.parquet")
    val out = Similarity2.s309MmrRerank(spark, d).collect()
    assert(out.length == 10)
    val ranks = out.map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("rank")).toMap
    val rel = out.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("rel6")).toMap
    assert(ranks(1L) == 1, s"step 1 must take the relevance argmax: $ranks")
    assert(ranks(30L) == 2, s"D1 is the step-2 argmax: $ranks")
    // the diversity assertion: relevance says D2 > E, MMR says E > D2
    assert(rel(31L) > rel(40L))
    assert(ranks(40L) < ranks(31L),
      s"MMR must demote the near-duplicate D2 below diverse E: $ranks")
    // selected objective values never increase (penalty sets only grow)
    val scores = out.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("score6"))
    assert(scores.sliding(2).forall(p => p(0) >= p(1)), scores.toSeq)
  }
}
