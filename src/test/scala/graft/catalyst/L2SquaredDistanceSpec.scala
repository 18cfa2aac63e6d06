package graft.catalyst

import graft.SparkSpec
import org.apache.spark.sql.functions._

class L2SquaredDistanceSpec extends SparkSpec {

  private def df = {
    import spark.implicits._
    Seq(
      (1L, Array(1.0, 0.0, 0.0), Array(1.0, 0.0, 0.0)),
      (2L, Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0)),
      (3L, Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (4L, Array(-1.5, 2.25, 0.125), Array(0.5, -0.75, 8.0)))
      .toDF("id", "a", "b")
  }

  test("l2_sq matches the higher-order-function formulation bit-exactly") {
    val rows = df.selectExpr("id",
      "l2_sq(a, b) AS native",
      """aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0D,
        |  (acc, x) -> acc + x) AS hof""".stripMargin)
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.compare(r.getDouble(1), r.getDouble(2)) == 0,
        s"id=${r.getLong(0)}: native=${r.getDouble(1)} hof=${r.getDouble(2)}")
    }
    val byId = rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byId(1L) == 0.0)
    assert(byId(2L) == 2.0)
    assert(byId(3L) == 27.0)
  }

  test("interpreted eval matches codegen") {
    val base = df.selectExpr("id", "l2_sq(a, b) AS c").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interp = df.selectExpr("id", "l2_sq(a, b) AS c").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(interp == base)
    }
  }

  test("null and length-mismatch semantics match zip_with's") {
    import spark.implicits._
    val rows = Seq(
      (1L, Some(Array(1.0, 0.0)), Some(Array(0.0, 0.0))),      // well-formed
      (2L, None: Option[Array[Double]], Some(Array(1.0))),     // null input
      (3L, Some(Array(1.0, 0.0)), Some(Array(1.0, 0.0, 9.9))), // length mismatch
      (4L, Some(Array.empty[Double]), Some(Array.empty[Double]))) // empty
      .toDF("id", "a", "b")
      .selectExpr("id", "l2_sq(a, b) AS c").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getDouble(1) == 1.0)
    for (id <- Seq(2L, 3L)) assert(rows(id).isNullAt(1), s"id $id")
    assert(rows(4L).getDouble(1) == 0.0, "empty arrays fold to 0, as the HOF does")
    // a null ELEMENT nulls the result in both execution modes
    val q = "SELECT l2_sq(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) AS c"
    assert(spark.sql(q).head().isNullAt(0))
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(spark.sql(q).head().isNullAt(0))
    }
  }
}
