package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Curation3Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("nb langid: scores every held-out doc, predictions come from " +
    "trained classes, and the argmax is deterministic") {
    // NOTE on what is NOT asserted: the synthetic corpus draws every
    // language's text from one shared vocabulary (verified: per-lang top
    // tokens are identical), so no bag-of-words model can beat the
    // majority class HERE — accuracy assertions belong to real corpora.
    // The value-exact oracle gate carries the model-math correctness.
    val out = Curation3.t170NbLangid(spark, dir).cache()
    val docs = graft.Tables.documents(spark, dir)
    assert(out.count() == docs.filter(col("doc_id") % 2 === 1).count())
    val trainLangs = docs.filter(col("doc_id") % 2 === 0)
      .select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(out.select("pred_lang").distinct().collect()
      .forall(r => trainLangs(r.getString(0))))
    assert(out.filter(col("correct") =!= 0 && col("correct") =!= 1).count() == 0)
    assert(out.filter((col("pred_lang") === col("true_lang")) =!=
      (col("correct") === 1)).count() == 0)
    // decimal-exact scoring ⇒ the same argmax on every execution
    val again = Curation3.t170NbLangid(spark, dir)
    assert(out.exceptAll(again).count() == 0 &&
      again.exceptAll(out).count() == 0)
    out.unpersist()
  }

  test("minhash calibration: one row per verified pair, est on the 1/16 " +
    "grid, and the error column is |est - jac|") {
    val out = Curation3.d172MinhashCalibration(spark, dir).cache()
    val nPairs = Dedup.d31MinhashLsh(spark, dir)
      .filter(col("is_dup") === 1).count()
    assert(out.count() == nPairs && nPairs > 0)
    assert(out.filter(
      (col("est") * 16) =!= round(col("est") * 16, 0)).count() == 0)
    assert(out.filter(
      abs(round(abs(col("est") - col("jac")), 6) - col("abs_err")) > 1e-9)
      .count() == 0)
    // verified pairs have jac >= 0.2, so the sketch should agree somewhere
    assert(out.agg(max("est")).head().getDouble(0) > 0.0)
    out.unpersist()
  }

  test("user sessions: events partition into sessions, spans respect the " +
    "30-minute cut, and sequences are capped at 20") {
    val out = Curation3.q174UserSessions(spark, dir).cache()
    val events = graft.Tables.events(spark, dir)
    assert(out.agg(sum("n_events")).head().getLong(0) == events.count())
    // session_idx starts at 1 per user and is dense
    assert(out.groupBy("user_id").agg(min("session_idx").as("mn"),
        max("session_idx").as("mx"), count(lit(1)).as("n"))
      .filter(col("mn") =!= 1 || col("mx") =!= col("n")).count() == 0)
    assert(out.filter(length(col("seq")) >
      least(col("n_events"), lit(20))).count() == 0)
    assert(out.filter(col("duration_ms") < 0).count() == 0)
    // a session's span is consistent with its cut rule: a session of n
    // events has at most (n-1) gaps each <= 30 min
    assert(out.filter(col("duration_ms") >
      (col("n_events") - 1) * 1800000L).count() == 0)
    out.unpersist()
  }

  test("gram novelty: doc 0 is fully novel, totals partition the index, " +
    "and novelty is a valid fraction") {
    val out = Curation3.t176GramNovelty(spark, dir).cache()
    // the smallest doc_id can only contain first-seen grams
    val first = out.orderBy("doc_id").head()
    assert(first.getAs[Long]("n_novel") == first.getAs[Long]("n_grams"))
    assert(out.filter(col("n_novel") > col("n_grams")).count() == 0)
    // every gram is novel in exactly one doc: Σ n_novel = |distinct grams|
    val distinctGrams = Dedup.shingleIndex(spark, dir)
      .select("h").distinct().count()
    assert(out.agg(sum("n_novel")).head().getLong(0) == distinctGrams)
    out.unpersist()
  }

  test("itemset pairs: supports bounded by session count, ranks dense, " +
    "pairs ordered") {
    val out = Curation3.q177ItemsetPairs(spark, dir).cache()
    assert(out.count() <= 10 && out.count() > 0)
    assert(out.filter(col("e1") >= col("e2")).count() == 0)
    val nSessions = Curation3.q174UserSessions(spark, dir).count()
    assert(out.filter(col("support") > nSessions).count() == 0)
    val ranks = out.orderBy("rank").collect().map(_.getAs[Int]("rank"))
    assert(ranks.sameElements(1 to ranks.length))
    out.unpersist()
  }

  test("char entropy: bounded by ln of the alphabet size and zero only " +
    "for single-char docs") {
    val out = Curation3.t178CharEntropy(spark, dir).cache()
    assert(out.count() == graft.Tables.documents(spark, dir).count())
    // 0 <= H <= ln(n_distinct_chars) (+ quantization slack)
    assert(out.filter(col("entropy") < -1e-6).count() == 0)
    assert(out.filter(col("entropy") >
      log(col("n_distinct_chars").cast("double")) + 1e-3).count() == 0)
    assert(out.filter(col("n_distinct_chars") === 1 &&
      col("entropy") =!= 0.0).count() == 0)
    out.unpersist()
  }

  test("prefix filter join: exactly the d30 result at t=0.8 from a " +
    "fraction of the postings") {
    val out = Curation3.d181PrefixFilterJoin(spark, dir).cache()
    val full = Dedup.d30NgramJaccard(spark, dir).filter(col("jac") >= 0.8)
    // completeness AND precision: set equality with the full bucket join
    // restricted to the threshold the prefix index is built for
    assert(out.exceptAll(full).count() == 0)
    assert(full.exceptAll(out).count() == 0)
    assert(out.count() > 0)
    out.unpersist()
  }

  test("df-annotated shingle layout: df counts documents per hash, ns is " +
    "the doc's row count, pos is the rarest-first permutation 1..ns") {
    val rows = Dedup.shingleIndexAnnotated(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4)))
    val byHash = rows.groupBy(_._2)
    byHash.foreach { case (h, rs) =>
      assert(rs.forall(_._3 == rs.length.toLong), s"df wrong for h=$h")
    }
    rows.groupBy(_._1).foreach { case (doc, rs) =>
      assert(rs.forall(_._4 == rs.length.toLong), s"ns wrong for doc=$doc")
      // pos is exactly the (df, h) sort order, 1-based, no gaps
      val expect = rs.sortBy(r => (r._3, r._2)).map(_._2)
      val got = rs.sortBy(_._5)
      assert(got.map(_._5).toSeq == (1 to rs.length), s"pos gaps in doc=$doc")
      assert(got.map(_._2).toSeq == expect.toSeq, s"pos order wrong in doc=$doc")
    }
    // and the plain index is exactly its 2-column projection
    assert(Dedup.shingleIndex(spark, dir).columns.toSeq == Seq("doc_id", "h"))
  }

  test("dedup funnel: four monotone stages starting at the full corpus") {
    val out = Curation3.d171DedupFunnel(spark, dir).cache()
    val rows = out.orderBy("stage").collect()
    assert(rows.length == 4)
    assert(rows(0).getAs[Long]("n_docs") ==
      graft.Tables.documents(spark, dir).count())
    for (i <- 1 to 3) {
      assert(rows(i).getAs[Long]("n_docs") <= rows(i - 1).getAs[Long]("n_docs"))
      assert(rows(i).getAs[Long]("n_tokens") <= rows(i - 1).getAs[Long]("n_tokens"))
    }
    // the quality stage agrees with the t152 kernel intersected upstream
    assert(rows(3).getAs[Long]("n_docs") <=
      Pretrain.t152GopherRules(spark, dir).filter(col("pass") === 1).count())
    out.unpersist()
  }

  test("containment join: the asymmetric prefix filter loses nothing " +
    "against the naive all-pairs containment, and pairs exist") {
    val out = Curation3.d225ContainmentJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val idx = Dedup.shingleIndex(spark, dir)
    val n = idx.groupBy("doc_id").agg(count(lit(1)).as("ns"))
    val brute = idx.as("a")
      .join(idx.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .agg(count(lit(1)).as("cm"))
      .join(n.select(col("doc_id").as("ida"), col("ns")), "ida")
      .filter(col("cm") * 10 >= col("ns") * 9)
      .select("ida", "idb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == brute)
    assert(out.nonEmpty, "the corpus plants containment pairs")
  }

  test("prefix/containment prune bounds: exact against brute force on " +
    "adversarial DISTINCT indexes; duplicate (doc, h) postings defeat the " +
    "bounds and the build REFUSES them (VERDICT r15 item 7)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    def annotate(rows: org.apache.spark.sql.DataFrame) = {
      // exactly the production build's annotation: df = ROWS per hash,
      // ns = rows per doc, pos = 1-based (df, h)-ascending rank within doc
      val dfreq = rows.groupBy("h").agg(count(lit(1)).as("df"))
      val byDoc = Window.partitionBy("doc_id")
      val ann = rows.join(dfreq, "h")
        .withColumn("ns", count(lit(1)).over(byDoc))
        .withColumn("pos", row_number().over(byDoc.orderBy("df", "h")))
        .select("doc_id", "h", "df", "ns", "pos")
      val arrs = rows.groupBy("doc_id")
        .agg(sort_array(collect_list(col("h"))).as("hs"),
          count(lit(1)).as("ns"))
      (ann, arrs)
    }
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // ---- part 1: per-doc-DISTINCT indexes (the enforced premise) — the
    // cores must equal brute force on threshold-grazing adversarial shapes
    val rnd = new scala.util.Random(42)
    val fixtures: Map[Long, Set[Long]] =
      ((1L until 80L).map { id =>
        val n = 3 + rnd.nextInt(12)
        // alphabet 40 over up-to-14-element sets → dense overlap, pairs on
        // both sides of both thresholds, skewed df
        id -> Iterator.continually(rnd.nextInt(40).toLong).distinct
          .take(n).toSet
      } :+ (100L -> (1L to 10L).toSet)      // superset
        :+ (101L -> (1L to 9L).toSet)       // contained, J = 0.9
        :+ (102L -> (1L to 8L).toSet)       // contained, J = 0.8
        :+ (103L -> (2L to 10L).toSet)).toMap
    val rows = fixtures.toSeq
      .flatMap { case (id, hs) => hs.map(id -> _) }.toDF("doc_id", "h")
    val (ann, arrs) = annotate(rows)
    val ids = fixtures.keys.toSeq.sorted
    def inter(i: Long, j: Long): Long =
      (fixtures(i) & fixtures(j)).size.toLong
    val bruteJ = (for {
      i <- ids; j <- ids if i < j
      c = inter(i, j) if c > 0
      na = fixtures(i).size.toLong; nb = fixtures(j).size.toLong
      jac = r6(c.toDouble / (na + nb - c)) if jac >= 0.8
    } yield (i, j, c, jac)).toSet
    val gotJ = Curation3.d181Core(ann, arrs, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(gotJ == bruteJ,
      s"d181 drift: missing=${bruteJ -- gotJ} extra=${gotJ -- bruteJ}")
    assert(bruteJ.nonEmpty, "fixtures must exercise qualifying pairs")
    val bruteC = (for {
      i <- ids; j <- ids if i != j
      c = inter(i, j)
      na = fixtures(i).size.toLong; nb = fixtures(j).size.toLong
      if c * 10 >= na * 9
    } yield (i, j, na, nb, r6(c.toDouble / na))).toSet
    val gotC = Curation3.d225Core(ann, arrs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    assert(gotC == bruteC,
      s"d225 drift: missing=${bruteC -- gotC} extra=${gotC -- bruteC}")
    assert(bruteC.nonEmpty, "fixtures must exercise containment pairs")
    // ---- part 2: the premise is LOAD-BEARING. Duplicate (doc, h) rows —
    // poly_hash colliding on two distinct strings in one doc — break the
    // prefix pigeonhole under the oracle's product-counting join: here the
    // shared hash 50 (3 copies each side) contributes 3·3 = 9 to common,
    // jac = 9/(20−9) ≈ 0.818 ≥ 0.8, yet it sorts LAST by df so neither
    // doc's 3-row prefix contains it — the pair is invisible to candidate
    // generation. This is WHY the index build refuses duplicates instead
    // of documenting the bounds as "probably fine".
    val dupRows = (Seq(200L -> Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 50L, 50L, 50L),
      201L -> Seq(11L, 12L, 13L, 14L, 15L, 16L, 17L, 50L, 50L, 50L))
      .flatMap { case (id, hs) => hs.map(id -> _) }).toDF("doc_id", "h")
    val (dupAnn, dupArrs) = annotate(dupRows)
    // product-common = 9 ⇒ jac 0.818182: the pair qualifies under the
    // oracle's semantics…
    assert(r6(9.0 / 11.0) >= 0.8)
    // …but the prefix candidate stage cannot see it:
    val missed = Curation3.d181Core(dupAnn, dupArrs, 0.8).collect()
    assert(missed.isEmpty,
      "counterexample drifted — if the bounds became multiset-sound, " +
        "the build refusal below can be relaxed")
    // the build-side guard refuses exactly this shape, and passes the
    // premise-respecting index untouched
    // (the check runs on the per-doc arrays the layouts derive from)
    val refused = intercept[IllegalArgumentException] {
      Dedup.assertPerDocDistinct(dupArrs)
    }
    assert(refused.getMessage.contains("shingle index premise violated"))
    Dedup.assertPerDocDistinct(arrs) // distinct index: no-op
  }

  test("a corpus whose shingles collide under poly_hash fails the " +
    "shingle_idx_df build with the premise message") {
    import spark.implicits._
    // two distinct 3-shingles with one poly_hash: a birthday search over
    // seeded random shingles finds a pair in ~40k draws (P ≈ 1e9)
    def poly(sh: String): Long = sh.foldLeft(7L)((h, c) => (h * 31 + c) % 1000000007L)
    val rnd = new scala.util.Random(7)
    def word() = (1 to 4).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val seen = scala.collection.mutable.HashMap.empty[Long, String]
    var pair: Option[(String, String)] = None
    while (pair.isEmpty) {
      val sh = Seq.fill(3)(word()).mkString(" ")
      seen.get(poly(sh)) match {
        case Some(other) if other != sh => pair = Some(other -> sh)
        case _ => seen(poly(sh)) = sh
      }
    }
    val (a, b) = pair.get
    val corpus = java.nio.file.Files.createTempDirectory("colliding").toString
    Seq((1L, s"$a $b", "en", "web", 80L),
        (2L, "plain distinct words in one row", "en", "web", 80L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$corpus/documents.parquet")
    val refused = intercept[IllegalArgumentException] {
      Dedup.shingleIndexAnnotated(spark, corpus)
    }
    assert(refused.getMessage.contains("shingle index premise violated: 1 " +
      "duplicate (doc_id, h) rows"), refused.getMessage)
  }

  test("match evidence: every confirmed pair gets 1-3 ranked rows, the " +
    "cited shingles are genuinely shared, and rarity orders the ranks") {
    val out = Curation3.d268MatchEvidence(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4)))
    assert(out.nonEmpty)
    val pairs = Dedup.dupPairs(spark, dir).select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val byDoc = Dedup.shingleIndex(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    out.groupBy(p => (p._1, p._2)).foreach { case (pair, rows) =>
      assert(pairs(pair), s"evidence for a non-pair: $pair")
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length))
      // df non-decreasing in rank (rarest first)
      assert(rows.sortBy(_._3).map(_._5).toSeq ==
        rows.map(_._5).sorted.toSeq)
    }
    // every confirmed pair has at least one evidence row (shares a shingle)
    assert(out.map(p => (p._1, p._2)).toSet == pairs)
    out.foreach { case (id1, id2, _, h, _) =>
      assert(byDoc(id1)(h) && byDoc(id2)(h), s"unshared evidence $h") }
  }
}
