package graft.operators

import graft.SparkSpec
import graft.functions.PortableHash
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property-based invariants (SURVEY.md §5.2.2) over the operator kernel,
  * checked on ScalaCheck-generated in-memory frames (raw Gen sampling — the
  * scalatest/scalacheck bridge artifact is not in the offline cache). */
class OperatorPropertiesSpec extends SparkSpec {

  private def forAll[A](g: Gen[A], minSuccessful: Int = 10)(body: A => Unit): Unit = {
    val seed = org.scalacheck.rng.Seed(42L)
    var s = seed
    var produced = 0
    while (produced < minSuccessful) {
      g.apply(Gen.Parameters.default, s).foreach { a => body(a); produced += 1 }
      s = s.next
    }
  }

  private val rowsGen: Gen[List[(Int, String, Double)]] =
    Gen.listOfN(30, for {
      k <- Gen.choose(0, 5)
      s <- Gen.oneOf("a", "b", "c", "dd", "ee")
      v <- Gen.choose(-1000, 1000).map(_ / 7.0)
    } yield (k, s, v))

  test("unionByName is column-order invariant") {
    import spark.implicits._
    forAll(rowsGen) { rows =>
      if (rows.nonEmpty) {
        val df = rows.toDF("k", "s", "v")
        val permuted = df.select("v", "k", "s")
        val u1 = df.unionByName(permuted)
        val u2 = df.unionByName(df)
        assert(u1.columns.toSeq == Seq("k", "s", "v"))
        assert(u1.collect().map(_.toSeq).sortBy(_.toString).toSeq ==
          u2.collect().map(_.toSeq).sortBy(_.toString).toSeq)
      }
    }
  }

  test("dropDuplicates is idempotent and bounded by distinct key count") {
    import spark.implicits._
    forAll(rowsGen) { rows =>
      if (rows.nonEmpty) {
        val df = rows.toDF("k", "s", "v")
        val once = df.dropDuplicates("k", "s")
        assert(once.dropDuplicates("k", "s").count() == once.count())
        assert(once.count() == rows.map(r => (r._1, r._2)).distinct.size)
      }
    }
  }

  test("pivot row count equals distinct group-key count") {
    import spark.implicits._
    forAll(rowsGen) { rows =>
      if (rows.nonEmpty) {
        val df = rows.toDF("k", "s", "v")
        val p = df.groupBy("k").pivot("s", Seq("a", "b", "c", "dd", "ee"))
          .agg(max(col("v")))
        assert(p.count() == rows.map(_._1).distinct.size)
      }
    }
  }

  test("regex date gate: output is a valid date or null, never garbage") {
    import spark.implicits._
    val strGen = Gen.oneOf(
      Gen.const("3/31/2020"), Gen.const("12/1/1999"), Gen.const("garbage"),
      Gen.const(""), Gen.const("13/45/20"), Gen.alphaNumStr.map(_.take(12)))
    forAll(Gen.listOfN(20, strGen)) { strs =>
      val out = strs.toDF("s")
        .select(when(col("s").rlike("""^\d{1,2}/\d{1,2}/\d{4}$"""),
          to_date(col("s"), "M/d/yyyy")).as("d"),
          col("s"))
        .collect()
      out.foreach { r =>
        if (!r.isNullAt(0))
          assert(r.getString(1).matches("""\d{1,2}/\d{1,2}/\d{4}"""))
      }
    }
  }

  test("portable polyhash: bounded by modulus, deterministic, order-sensitive") {
    import spark.implicits._
    forAll(Gen.listOfN(15, Gen.alphaNumStr.map(_.take(20)))) { strs =>
      if (strs.nonEmpty) {
        val out = strs.toDF("text").selectExpr(
          s"${PortableHash.polyHash("text")} AS h1",
          s"${PortableHash.polyHash("text")} AS h2")
          .collect()
        out.foreach { r =>
          assert(r.getLong(0) >= 0 && r.getLong(0) < PortableHash.P)
          assert(r.getLong(0) == r.getLong(1))
        }
      }
    }
  }

  test("decimal-quantized sum is partitioning-invariant") {
    import spark.implicits._
    import graft.functions.OracleSafe.dsum
    forAll(rowsGen) { rows =>
      if (rows.nonEmpty) {
        val df = rows.toDF("k", "s", "v")
        val a = df.repartition(1).agg(dsum(col("v"))).head.getDouble(0)
        val b = df.repartition(7).agg(dsum(col("v"))).head.getDouble(0)
        val c = df.orderBy(col("v").desc).coalesce(2).agg(dsum(col("v"))).head.getDouble(0)
        assert(java.lang.Double.compare(a, b) == 0)
        assert(java.lang.Double.compare(a, c) == 0)
      }
    }
  }

  test("jaccard from integer counts stays in [0, 1] and detects identity") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup
      (3L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("documents")
    val idx = docs.selectExpr("doc_id",
        s"explode(${PortableHash.shingles(3)}) AS sh")
      .selectExpr("doc_id", s"${PortableHash.polyHash("sh")} AS h")
    val n = idx.groupBy("doc_id").agg(count(lit(1)).as("ns"))
    val pairs = idx.as("a").join(idx.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("common"))
      .join(n.withColumnRenamed("doc_id", "id1").withColumnRenamed("ns", "n1"), "id1")
      .join(n.withColumnRenamed("doc_id", "id2").withColumnRenamed("ns", "n2"), "id2")
      .withColumn("jac", col("common") / (col("n1") + col("n2") - col("common")))
      .select("id1", "id2", "jac")
      .collect()
    assert(pairs.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
    val dup = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(dup.exists(_.getDouble(2) == 1.0), "exact duplicate must score J=1")
  }

  test("t182 exact-merge fold equals a reference greedy scan on random " +
    "words and rule lists") {
    import spark.implicits._
    // reference: leftmost-greedy single-pass application of one rule
    def applyRule(syms: List[String], x: String, y: String): List[String] =
      syms match {
        case a :: b :: rest if a == x && b == y => (x + y) :: applyRule(rest, x, y)
        case a :: rest => a :: applyRule(rest, x, y)
        case Nil => Nil
      }
    val wordGen = Gen.listOfN(8, Gen.oneOf("a", "b", "c")).map(_.mkString)
    val rulesGen = Gen.listOfN(3, for {
      x <- Gen.oneOf("a", "b", "c", "ab", "aa", "bc")
      y <- Gen.oneOf("a", "b", "c", "ab", "aa", "bc")
    } yield s"$x $y")
    forAll(Gen.zip(wordGen, rulesGen), minSuccessful = 20) { case (w, rules) =>
      if (w.nonEmpty) {
        val expected = rules.foldLeft(w.split("").toList) { (syms, r) =>
          val Array(x, y) = r.split(" ", 2)
          applyRule(syms, x, y)
        }
        val got = Seq(w).toDF("w")
          .withColumn("rules", typedLit(rules))
          .selectExpr(
            Pretrain3.exactMergeExpr("split(w, '')", "rules") + " AS toks")
          .head().getAs[scala.collection.Seq[String]]("toks").toList
        assert(got == expected, s"word=$w rules=$rules")
      }
    }
  }

  test("morton interleave is componentwise monotone and bijective on " +
    "16-bit inputs — the soundness lemma for q301's z-range file pruning") {
    val coord = Gen.choose(0L, 65535L)
    val quad = for {
      x1 <- coord; y1 <- coord; x2 <- coord; y2 <- coord
    } yield (x1, y1, x2, y2)
    forAll(quad, minSuccessful = 200) { case (x1, y1, x2, y2) =>
      // monotone: dominance in both coordinates implies z-order
      val (xl, xh) = (math.min(x1, x2), math.max(x1, x2))
      val (yl, yh) = (math.min(y1, y2), math.max(y1, y2))
      assert(TableOps.mortonOf(xl, yl) <= TableOps.mortonOf(xh, yh))
      // any in-box point's z lies within the corner z-interval — the
      // exact property z-range pruning (DeltaBridge.filesInRange) relies on
      val (px, py) = ((xl + xh) / 2, (yl + yh) / 2)
      val z = TableOps.mortonOf(px, py)
      assert(TableOps.mortonOf(xl, yl) <= z && z <= TableOps.mortonOf(xh, yh))
      // injective: distinct coordinates give distinct codes (bit
      // interleaving is a bijection onto 32-bit codes)
      if ((x1, y1) != (x2, y2))
        assert(TableOps.mortonOf(x1, y1) != TableOps.mortonOf(x2, y2))
    }
  }
}
