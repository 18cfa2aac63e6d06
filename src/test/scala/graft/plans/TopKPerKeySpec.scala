package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The custom TopKPerKey logical/physical operator vs the Window row_number
  * idiom it replaces: identical result sets, no sort of the input, map-side
  * partial reduction before the exchange. The idiom reference is planned
  * with the TopK rewrite excluded, so it runs on the stock Window. */
class TopKPerKeySpec extends SparkSpec {

  private lazy val df = {
    import spark.implicits._
    // 6 keys × 200 rows with ties and negatives, scattered across partitions
    (0 until 1200).map { i =>
      (i % 6, (i * 7919) % 101 - 50, i.toLong)
    }.toDF("key", "score", "id").repartition(8)
  }

  private def windowed(k: Int) =
    df.withColumn("rn", row_number().over(
        Window.partitionBy("key").orderBy(col("score").desc, col("id"))))
      .filter(col("rn") <= k).drop("rn")

  test("matches the window row_number formulation exactly") {
    for (k <- Seq(1, 3, 10)) {
      val ours = TopKPerKey(df, Seq("key"), Seq("score" -> false, "id" -> true), k)
        .collect().map(_.toSeq).sortBy(_.toString)
      val ref = collectWithoutTopKRewrite(windowed(k))
        .map(_.toSeq).sortBy(_.toString)
      assert(ours.toSeq == ref.toSeq, s"mismatch at k=$k")
    }
  }

  test("k larger than any group returns every row") {
    val out = TopKPerKey(df, Seq("key"), Seq("score" -> false, "id" -> true), 1000)
    assert(out.count() == df.count())
  }

  test("multi-column keys and ascending order") {
    import spark.implicits._
    val d2 = df.withColumn("key2", col("id") % 2)
    val ours = TopKPerKey(d2, Seq("key", "key2"), Seq("score" -> true, "id" -> true), 2)
      .collect().map(_.toSeq).sortBy(_.toString)
    val ref = collectWithoutTopKRewrite(d2.withColumn("rn", row_number().over(
        Window.partitionBy("key", "key2").orderBy(col("score"), col("id"))))
      .filter(col("rn") <= 2).drop("rn"))
      .map(_.toSeq).sortBy(_.toString)
    assert(ours.toSeq == ref.toSeq)
  }

  test("physical plan: partial below the exchange, final above, no sort") {
    val plan = TopKPerKey(df, Seq("key"), Seq("score" -> false, "id" -> true), 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKeyFinal"), plan)
    assert(plan.contains("TopKPerKeyPartial"), plan)
    // the partial must sit BELOW the exchange (map-side reduction)
    val exchangeIdx = plan.indexOf("Exchange")
    val partialIdx = plan.indexOf("TopKPerKeyPartial")
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      s"partial should be the exchange's child:\n$plan")
    assert(!plan.contains("Sort "), s"no sort expected:\n$plan")
  }

  test("outputPartitioning propagates: a same-key consumer adds no second " +
    "exchange") {
    // TopKPerKeyFinal only prunes rows, so its output stays clustered by
    // the keys its required distribution demanded; without the
    // outputPartitioning override the exec reported UnknownPartitioning
    // and a downstream groupBy on the same keys paid a second, redundant
    // shuffle of the already-clustered k-per-key results
    val consumed = TopKPerKey(df, Seq("key"),
        Seq("score" -> false, "id" -> true), 3)
      .groupBy("key").agg(sum(col("score")).as("s"))
    val plan = consumed.queryExecution.executedPlan.toString
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n == 1, s"expected exactly one hash exchange, got $n:\n$plan")
  }

  test("final output is best-first within each key partition") {
    val rows = TopKPerKey(df, Seq("key"), Seq("score" -> false, "id" -> true), 5)
      .collect()
    // per key, collected order must be non-increasing score (ties by id asc)
    rows.groupBy(_.getInt(0)).foreach { case (_, rs) =>
      val pairs = rs.map(r => (-r.getInt(1), r.getLong(2))).toSeq
      assert(pairs == pairs.sorted, "per-key emission must follow the sort order")
    }
  }
}
