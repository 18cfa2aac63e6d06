package graft.catalyst

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BandedLevenshteinSpec extends SparkSpec {

  private def brute(s: String, t: String): Int = {
    val dp = Array.tabulate(s.length + 1, t.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to s.length; j <- 1 to t.length) {
      val cost = if (s(i - 1) == t(j - 1)) 0 else 1
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + cost)
    }
    dp(s.length)(t.length)
  }

  test("kernel agrees with full-matrix Levenshtein under every cutoff") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abcde" // small alphabet → many near-collisions
    def word() = (0 until 1 + rnd.nextInt(12))
      .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    (1 to 2000).foreach { _ =>
      val (s, t) = (word(), word())
      val d = brute(s, t)
      (0 to 4).foreach { k =>
        val expected = math.min(d, k + 1)
        assert(BandedLevenshtein.compute(s, t, k) === expected,
          s"s=$s t=$t k=$k d=$d")
      }
    }
  }

  test("edge cases: empties, equals, k=0") {
    assert(BandedLevenshtein.compute("", "", 2) === 0)
    assert(BandedLevenshtein.compute("", "abc", 2) === 3)
    assert(BandedLevenshtein.compute("", "abcd", 2) === 3) // capped at k+1
    assert(BandedLevenshtein.compute("same", "same", 0) === 0)
    assert(BandedLevenshtein.compute("same", "tame", 0) === 1) // sentinel
  }

  test("expression matches built-in levenshtein in-plan (codegen path)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val words = (1 to 500).map(_ =>
      (0 until 3 + rnd.nextInt(10)).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString)
    val df = words.zip(words.reverse).toDF("s", "t")
    val mismatches = df.selectExpr(
        "lev_within(s, t, 3) AS banded",
        "least(levenshtein(s, t), 4) AS reference")
      .filter(col("banded") =!= col("reference")).count()
    assert(mismatches === 0L)
  }

  test("supplementary characters count as one symbol, matching built-in " +
    "levenshtein") {
    // U+1D49C (𝒜) is a surrogate PAIR in UTF-16: a char-unit kernel sees 2
    // symbols where the built-in (code-point) levenshtein sees 1, and an
    // entity-resolution match at k=1 silently disappears
    val script = "𝒜" // 𝒜
    assert(BandedLevenshtein.compute(script, "A", 1) == 1)
    assert(BandedLevenshtein.compute(script + "BC", "ABC", 1) == 1)
    assert(BandedLevenshtein.compute(script, script, 0) == 0)
    // emoji swap: one substitution, not two
    assert(BandedLevenshtein.compute("a😀b", "a😁b", 1) == 1)
    // cross-check the in-plan expression against the built-in on the same
    // strings (built-in operates on code points)
    import spark.implicits._
    val rows = Seq((script, "A"), (script + "BC", "ABC"),
        ("a😀b", "a😁b"))
      .toDF("s", "t")
      .selectExpr("lev_within(s, t, 3) AS banded", "levenshtein(s, t) AS ref")
      .collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
  }

  test("q133 native fuzzy match equals q60's built-in result") {
    val sf = "/root/testdata/sf0.01" // sf0.001 has no near-dup supplier pairs
    val native = graft.operators.TextRanking.q133FuzzyNative(spark, sf)
      .collect().map(_.toSeq).toSeq
    val builtin = graft.operators.TextRanking.q60FuzzyEntity(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(native === builtin && native.nonEmpty)
  }
}
