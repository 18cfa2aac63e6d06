package graft.catalyst

import graft.SparkSpec
import graft.functions.PortableHash
import org.scalacheck.Gen

/** Native codegen'd kernels vs their interpreted HOF specifications — every
  * expression in [[GraftFunctions]] must be bit-identical to the
  * [[graft.functions.PortableHash]] formulation it replaces (the oracle gate
  * then guarantees DuckDB parity transitively). Generated inputs via raw
  * ScalaCheck Gen sampling, as in OperatorPropertiesSpec. */
class PortableHashExprsSpec extends SparkSpec {

  private def forAll[A](g: Gen[A], minSuccessful: Int = 8)(body: A => Unit): Unit = {
    var s = org.scalacheck.rng.Seed(7L)
    var produced = 0
    while (produced < minSuccessful) {
      g.apply(Gen.Parameters.default, s).foreach { a => body(a); produced += 1 }
      s = s.next
    }
  }

  test("poly_hash matches the HOF char fold on generated strings") {
    import spark.implicits._
    val strGen = Gen.listOfN(25, Gen.oneOf(
      Gen.alphaNumStr.map(_.take(30)), Gen.const(""),
      Gen.const("the quick brown fox"), Gen.const("punct!@# and spaces  ")))
    forAll(strGen) { strs =>
      val rows = strs.toDF("text")
        .selectExpr("poly_hash(text) AS native",
          s"${PortableHash.polyHash("text")} AS hof",
          "poly_hash(text, 99) AS native_seeded",
          s"${PortableHash.polyHash("text", 99L)} AS hof_seeded")
        .collect()
      rows.foreach { r =>
        assert(r.getLong(0) == r.getLong(1))
        assert(r.getLong(2) == r.getLong(3))
      }
    }
  }

  test("simhash30 matches the HOF bit fold") {
    import spark.implicits._
    val hashListGen = Gen.listOfN(12, Gen.choose(0L, 1000000006L))
    forAll(Gen.listOfN(10, hashListGen)) { lists =>
      val rows = lists.map(Tuple1(_)).toDF("th")
        .selectExpr("simhash30(th) AS native",
          """aggregate(transform(sequence(0, 29), j ->
            |  CASE WHEN aggregate(transform(th, h ->
            |      CASE WHEN (shiftright(h, j) & 1) = 1 THEN 1 ELSE -1 END),
            |    0, (a, x) -> a + x) > 0
            |  THEN shiftleft(CAST(1 AS BIGINT), j) ELSE CAST(0 AS BIGINT) END),
            |CAST(0 AS BIGINT), (a, b) -> a + b) AS hof""".stripMargin)
        .collect()
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
      // signature uses only the low 30 bits
      rows.foreach(r => assert(r.getLong(0) >= 0 && r.getLong(0) < (1L << 30)))
    }
  }

  test("minhash16 matches the HOF permutation mins") {
    import spark.implicits._
    val hashListGen = Gen.nonEmptyListOf(Gen.choose(0L, 1000000006L)).map(_.take(20))
    forAll(Gen.listOfN(10, hashListGen)) { lists =>
      val rows = lists.map(Tuple1(_)).toDF("hs")
        .selectExpr("minhash16(hs) AS native",
          s"""transform(sequence(0, 15), i -> array_min(transform(hs,
             |  h -> ((2*i + 1) * h + i*12345 + 678) % ${PortableHash.P}))) AS hof"""
            .stripMargin)
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1))
        assert(r.getSeq[Long](0).size == 16)
      }
    }
  }

  test("lsh_bucket8 matches the HOF plane fold") {
    import spark.implicits._
    val vecGen = Gen.listOfN(64, Gen.choose(-1000, 1000).map(_ / 997.0))
    val planeW =
      "CAST((CAST(1103515245 AS BIGINT) * (p * 64 + k) + 12345) % 2147483648 % 2001 - 1000 AS DOUBLE)"
    forAll(Gen.listOfN(8, vecGen)) { vecs =>
      val rows = vecs.map(Tuple1(_)).toDF("v")
        .selectExpr("lsh_bucket8(v) AS native",
          s"""aggregate(transform(sequence(0, 7), p ->
             |  CASE WHEN aggregate(transform(sequence(0, 63), k ->
             |      element_at(v, k + 1) * $planeW), 0D, (a, x) -> a + x) >= 0
             |  THEN shiftleft(1, p) ELSE 0 END), 0, (a, b) -> a + b) AS hof"""
            .stripMargin)
        .collect()
      rows.foreach { r =>
        assert(r.getInt(0) == r.getInt(1))
        assert(r.getInt(0) >= 0 && r.getInt(0) < 256)
      }
    }
  }

  test("null array elements null the result identically in codegen and " +
    "interpreted eval") {
    // without the explicit element checks the interpreted path NPEs on
    // GenericArrayData while codegen over UnsafeArrayData silently reads
    // the null slot as 0 — the two paths the design promises are
    // bit-identical would diverge
    val exprs = Seq(
      "simhash30(array(CAST(7 AS BIGINT), CAST(NULL AS BIGINT)))",
      "minhash16(array(CAST(7 AS BIGINT), CAST(NULL AS BIGINT)))",
      "lsh_bucket8(array(1.0D, CAST(NULL AS DOUBLE)))")
    def nulls(sql: String): Boolean = spark.sql(sql).head().isNullAt(0)
    for (e <- exprs) {
      assert(nulls(s"SELECT $e"), s"codegen path: $e")
    }
    val old = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try for (e <- exprs) assert(nulls(s"SELECT $e"), s"interpreted path: $e")
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      old match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None    => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    // null-free inputs still compute (regression against over-nulling)
    assert(!spark.sql(
      "SELECT simhash30(array(CAST(7 AS BIGINT), CAST(9 AS BIGINT)))")
      .head().isNullAt(0))
  }

  test("native kernels stay inside whole-stage codegen") {
    // non-foldable input (range), else constant folding collapses the plan
    val plan = spark.range(4)
      .selectExpr("concat('a b c ', CAST(id AS STRING)) AS text")
      .selectExpr("poly_hash(text) AS h")
      .queryExecution.executedPlan.toString
    // '*(n)' prefixes mark operators fused into a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [poly_hash("),
      s"expected poly_hash inside a codegen stage in:\n$plan")
  }
}
