package graft.catalyst

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CosineSimilaritySpec extends SparkSpec {

  private def df = {
    import spark.implicits._
    Seq(
      (1L, Array(1.0, 0.0, 0.0), Array(1.0, 0.0, 0.0)),
      (2L, Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0)),
      (3L, Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (4L, Array(1.0, 1.0, 0.0), Array(1.0, -1.0, 0.0)))
      .toDF("id", "a", "b")
  }

  test("cosine_sim matches the higher-order-function formulation exactly") {
    val rows = df.selectExpr("id",
      "cosine_sim(a, b) AS native",
      """aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x) /
        |(sqrt(aggregate(transform(a, x -> x * x), 0D, (acc, x) -> acc + x)) *
        | sqrt(aggregate(transform(b, x -> x * x), 0D, (acc, x) -> acc + x))) AS hof"""
        .stripMargin)
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.compare(r.getDouble(1), r.getDouble(2)) == 0,
        s"id=${r.getLong(0)}: native=${r.getDouble(1)} hof=${r.getDouble(2)}")
    }
    val byId = rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byId(1L) == 1.0)
    assert(byId(2L) == 0.0)
    assert(byId(4L) == 0.0)
  }

  test("interpreted eval matches codegen") {
    val base = df.selectExpr("id", "cosine_sim(a, b) AS c").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interp = df.selectExpr("id", "cosine_sim(a, b) AS c").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(interp == base)
    }
  }

  test("null and length-mismatch semantics") {
    import spark.implicits._
    // mismatch/null inputs yield NULL (no silent truncation); a zero norm
    // yields NaN exactly like the HOF twin and the DuckDB oracle — both
    // engines rank NaN as the largest double, so null here would flip
    // top-k membership against the gate
    val rows = Seq(
      (1L, Some(Array(1.0, 0.0)), Some(Array(1.0, 0.0))),      // well-formed
      (2L, None: Option[Array[Double]], Some(Array(1.0))),     // null input
      (3L, Some(Array(1.0, 0.0)), Some(Array(1.0, 0.0, 9.9))), // length mismatch
      (4L, Some(Array(0.0, 0.0)), Some(Array(1.0, 0.0))))      // zero norm
      .toDF("id", "a", "b")
      .selectExpr("id", "cosine_sim(a, b) AS c").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getDouble(1) == 1.0)
    for (id <- Seq(2L, 3L)) assert(rows(id).isNullAt(1), s"id $id")
    assert(rows(4L).getDouble(1).isNaN, "zero norm must be NaN, as the HOF is")
    // a null ELEMENT also nulls the result — identically in codegen and
    // interpreted eval (the unsafe path would otherwise read the slot as 0
    // while the generic path NPEs)
    val withNullElem = spark.sql(
      "SELECT cosine_sim(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) AS c")
    assert(withNullElem.head().isNullAt(0))
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(spark.sql(
        "SELECT cosine_sim(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) AS c")
        .head().isNullAt(0))
    }
  }

  test("registration is per-session and idempotent") {
    val s2 = spark.newSession()
    GraftExtensions.install(s2)
    GraftExtensions.install(s2) // second call must not throw
    import s2.implicits._
    val v = Seq((Array(1.0, 0.0), Array(1.0, 0.0))).toDF("a", "b")
      .selectExpr("cosine_sim(a, b)").head().getDouble(0)
    assert(v == 1.0)
  }
}
