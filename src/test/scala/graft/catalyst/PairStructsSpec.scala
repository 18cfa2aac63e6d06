package graft.catalyst

import graft.SparkSpec
import org.scalacheck.Gen

/** pair_structs vs the HOF chain it replaced at the bucket-explosion
  * sites: identical pair arrays (same order, same fields) on arbitrary
  * long arrays, including duplicates, empty and 1-element buckets. */
class PairStructsSpec extends SparkSpec {

  private val hofForm =
    """flatten(transform(ids, (x, i) ->
      |  transform(slice(ids, i + 2, size(ids) - i - 1),
      |    y -> struct(x AS id1, y AS id2))))""".stripMargin

  test("equals the HOF pair chain on arbitrary arrays") {
    import spark.implicits._
    val g = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, Gen.choose(-5L, 5L)))
    var s = org.scalacheck.rng.Seed(15L)
    val samples = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    while (samples.length < 20) {
      g.apply(Gen.Parameters.default, s).foreach(a => samples += a)
      s = s.next
    }
    val bad = samples.toSeq.toDF("ids")
      .selectExpr(s"pair_structs(ids) AS a", s"$hofForm AS b")
      .selectExpr("sum(CASE WHEN a = b THEN 0 ELSE 1 END) AS bad")
      .head().getLong(0)
    assert(bad === 0L)
  }

  test("empty and singleton buckets emit no pairs; explode matches") {
    import spark.implicits._
    val df = Seq(Seq.empty[Long], Seq(7L), Seq(1L, 2L, 3L)).toDF("ids")
    val n = df.selectExpr("explode(pair_structs(ids)) AS p").count()
    assert(n === 3L) // only the 3-element bucket pairs: (1,2),(1,3),(2,3)
    val rows = df.selectExpr("explode(pair_structs(ids)) AS p")
      .selectExpr("p.id1", "p.id2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq === Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }
}
