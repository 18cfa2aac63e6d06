package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The optimizer rule rewrites the untouched window idiom into the custom
  * operator — same results, different physics. The shared session always
  * carries the rule; the rule-off baseline excludes it by name. */
class TopKRewriteSpec extends SparkSpec {

  private lazy val df = {
    import spark.implicits._
    (0 until 900).map(i => (i % 5, (i * 7919) % 83, i.toLong))
      .toDF("key", "score", "id").repartition(6)
  }

  private def idiom(k: Int) =
    df.withColumn("rn", row_number().over(
        Window.partitionBy("key").orderBy(col("score").desc, col("id"))))
      .filter(col("rn") <= k)

  test("rule rewrites row_number<=k into TopKPerKey and preserves results") {
    val before = collectWithoutTopKRewrite(idiom(3))
      .map(_.toSeq).sortBy(_.toString).toSeq
    val plan = idiom(3).queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKeyPartial"), s"rewrite did not fire:\n$plan")
    val after = idiom(3).collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(after == before)
  }

  test("rule leaves rank() and multi-window plans alone") {
    val w = Window.partitionBy("key").orderBy(col("score").desc, col("id"))
    val rankPlan = df.withColumn("r", rank().over(w)).filter(col("r") <= 3)
      .queryExecution.executedPlan.toString
    assert(!rankPlan.contains("TopKPerKey"), "rank() must not be rewritten (ties)")
    val multiPlan = df
      .withColumn("rn", row_number().over(w))
      .withColumn("s", sum(col("score")).over(w))
      .filter(col("rn") <= 3)
      .queryExecution.executedPlan.toString
    assert(!multiPlan.contains("TopKPerKey"), "multi-window must not be rewritten")
  }

  test("rn = 1 (argmax idiom) rewrites with k = 1") {
    val out = df.withColumn("rn", row_number().over(
        Window.partitionBy("key").orderBy(col("score").desc, col("id"))))
      .filter(col("rn") === 1)
    assert(out.queryExecution.executedPlan.toString.contains("TopKPerKeyPartial"))
    assert(out.count() == 5)
  }
}
