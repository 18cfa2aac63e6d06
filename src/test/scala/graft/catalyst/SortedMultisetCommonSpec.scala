package graft.catalyst

import graft.SparkSpec
import org.scalacheck.Gen

/** sorted_multiset_common vs the join-count formulation it replaces in the
  * d181/d225 verification stage: for any two multisets of longs, the kernel
  * over the SORTED arrays must equal the row count of the equi-join between
  * them (Σ_v cnt_a(v)·cnt_b(v)) — multiplicities multiply, they don't
  * min(), because the oracle scores candidate pairs with a posting join. */
class SortedMultisetCommonSpec extends SparkSpec {

  private def joinCount(a: Seq[Long], b: Seq[Long]): Long = {
    val cb = b.groupBy(identity).view.mapValues(_.size.toLong).toMap
    a.map(v => cb.getOrElse(v, 0L)).sum
  }

  private def kernel(a: Seq[Long], b: Seq[Long]): Long = {
    import spark.implicits._
    Seq((a.sorted, b.sorted)).toDF("a", "b")
      .selectExpr("sorted_multiset_common(a, b) AS c")
      .head().getLong(0)
  }

  test("equals the equi-join row count on arbitrary multisets") {
    // small value domain forces heavy multiplicity collisions
    val g = for {
      n <- Gen.choose(0, 30)
      a <- Gen.listOfN(n, Gen.choose(0L, 7L))
      m <- Gen.choose(0, 30)
      b <- Gen.listOfN(m, Gen.choose(0L, 7L))
    } yield (a, b)
    var s = org.scalacheck.rng.Seed(15L)
    (1 to 24).foreach { _ =>
      g.apply(Gen.Parameters.default, s).foreach { case (a, b) =>
        assert(kernel(a, b) === joinCount(a, b), s"a=$a b=$b")
      }
      s = s.next
    }
  }

  test("disjoint, identical, empty and single-run edges") {
    assert(kernel(Nil, Nil) === 0L)
    assert(kernel(Seq(1L, 2L, 3L), Nil) === 0L)
    assert(kernel(Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)) === 0L)
    assert(kernel(Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)) === 3L)
    // run of 3 × run of 2 on the same value → 6 joined rows
    assert(kernel(Seq(9L, 9L, 9L), Seq(9L, 9L)) === 6L)
    assert(kernel(Seq(Long.MinValue, Long.MaxValue),
      Seq(Long.MinValue, Long.MaxValue)) === 2L)
  }

  test("null array yields null") {
    val r = spark.sql(
      "SELECT sorted_multiset_common(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS c")
      .head()
    assert(r.isNullAt(0))
  }
}
