package graft.catalyst

import graft.SparkSpec
import graft.functions.PortableHash.seqAsc
import org.scalacheck.Gen

/** The r15-opt native text kernels vs the regexp/HOF formulations they
  * replace at the hot sites (t35/t36/t199/t154/t219/d302/t192/q138/d144 …).
  * Every kernel must be VALUE-identical on arbitrary strings — including
  * multi-space runs, leading/trailing spaces, empty strings, non-ASCII and
  * astral (surrogate-pair) code points — because the DuckDB oracle SQL is
  * unchanged and the gate hash-compares results. */
class TextKernelExprsSpec extends SparkSpec {

  private def forAll[A](g: Gen[A], minSuccessful: Int = 8)(body: A => Unit): Unit = {
    var s = org.scalacheck.rng.Seed(7L)
    var produced = 0
    while (produced < minSuccessful) {
      g.apply(Gen.Parameters.default, s).foreach { a => body(a); produced += 1 }
      s = s.next
    }
  }

  // adversarial corpus: spaces in every position, unicode incl. astral
  private val textGen: Gen[List[String]] = Gen.listOfN(40, Gen.oneOf(
    Gen.alphaNumStr.map(_.take(40)),
    Gen.const(""),
    Gen.const(" "),
    Gen.const("  the  a of and  to in is  "),
    Gen.const("the quick brown fox is in the den"),
    Gen.const("café 𝄞 müsli the 𝄞 of"),
    Gen.const("a|b;c the. and, of"),
    Gen.listOfN(12, Gen.oneOf("the", "a", "of", "zz", "", "é",
      "𝄞")).map(_.mkString(" "))))

  private val stopArr = "array('the', 'a', 'of', 'and', 'to', 'in', 'is')"

  test("ascii_count matches size(regexp_extract_all) on [a-z] and space") {
    import spark.implicits._
    forAll(textGen) { strs =>
      strs.toDF("text")
        .selectExpr(
          "ascii_count(lower(text), 97, 122) AS nat_a",
          "size(regexp_extract_all(lower(text), '[a-z]', 0)) AS hof_a",
          "ascii_count(text, 32, 32) AS nat_sp",
          "size(regexp_extract_all(text, '[ ]', 0)) AS hof_sp")
        .collect().foreach { r =>
          assert(r.getInt(0) == r.getInt(1), s"alpha: $r")
          assert(r.getInt(2) == r.getInt(3), s"space: $r")
        }
    }
  }

  test("token-count identities: size(split) and sum(token lengths)") {
    import spark.implicits._
    forAll(textGen) { strs =>
      strs.toDF("text")
        .selectExpr(
          "ascii_count(text, 32, 32) + 1 AS nat_n",
          "size(split(text, ' ')) AS hof_n",
          "length(text) - ascii_count(text, 32, 32) AS nat_tc",
          "aggregate(transform(split(text, ' '), t -> length(t)), 0, (a, x) -> a + x) AS hof_tc")
        .collect().foreach { r =>
          assert(r.getInt(0) == r.getInt(1), s"n_tokens: $r")
          assert(r.getInt(2) == r.getInt(3), s"tok_chars: $r")
        }
    }
  }

  test("stop_count matches the filter+array_contains HOF") {
    import spark.implicits._
    forAll(textGen) { strs =>
      strs.toDF("text")
        .selectExpr(
          s"stop_count(lower(text), $stopArr) AS nat",
          s"size(filter(split(lower(text), ' '), t -> array_contains($stopArr, t))) AS hof")
        .collect().foreach(r => assert(r.getInt(0) == r.getInt(1), s"$r"))
    }
  }

  test("words_present matches the reversed membership HOF") {
    import spark.implicits._
    forAll(textGen) { strs =>
      strs.toDF("text")
        .selectExpr(
          s"words_present(lower(text), $stopArr) AS nat",
          s"size(filter($stopArr, w -> array_contains(split(lower(text), ' '), w))) AS hof")
        .collect().foreach(r => assert(r.getInt(0) == r.getInt(1), s"$r"))
    }
  }

  test("seg_in_range matches the rlike-per-token HOF") {
    import spark.implicits._
    forAll(textGen) { strs =>
      strs.toDF("text")
        .selectExpr(
          "seg_in_range(lower(text), 97, 122) AS nat",
          "size(filter(split(lower(text), ' '), t -> t rlike '^[a-z]+$')) AS hof")
        .collect().foreach(r => assert(r.getInt(0) == r.getInt(1), s"$r"))
    }
  }

  test("gram_hashes matches poly_hash over concat_ws slices") {
    import spark.implicits._
    for (k <- Seq(1, 2, 5)) {
      forAll(textGen, minSuccessful = 4) { strs =>
        strs.toDF("text")
          .selectExpr("split(lower(text), ' ') AS toks")
          .selectExpr(
            s"gram_hashes(toks, $k) AS nat",
            s"""transform(${seqAsc("1", s"size(toks) - ${k - 1}")},
               |  i -> poly_hash(concat_ws(' ', slice(toks, i, $k)))) AS hof""".stripMargin)
          .collect().foreach { r =>
            assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"k=$k: $r")
          }
      }
    }
  }

  test("cdc_chunk_hashes matches the boundary+cut+hash HOF pipeline") {
    import spark.implicits._
    // the exact Pretrain2.chunkRows formulation, win=4, mod=16
    forAll(textGen) { strs =>
      strs.toDF("t")
        .selectExpr("t", "length(t) AS len",
          s"""filter(${seqAsc("4", "length(t)")}, i ->
             |  poly_hash(substring(t, i - 3, 4)) % 16 = 0) AS bnds""".stripMargin)
        .selectExpr("t", "len", "filter(bnds, b -> b < len) AS cb")
        .selectExpr(
          "cdc_chunk_hashes(t, 4, 16) AS nat",
          """transform(sequence(0, size(cb)), k ->
            |  poly_hash(substring(t,
            |    IF(k = 0, 1, element_at(cb, k) + 1),
            |    IF(k = size(cb), len, element_at(cb, k + 1))
            |      - IF(k = 0, 1, element_at(cb, k) + 1) + 1))) AS hof""".stripMargin)
        .collect().foreach { r =>
          assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"$r")
        }
    }
  }
}
