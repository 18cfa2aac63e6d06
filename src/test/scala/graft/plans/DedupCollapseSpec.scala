package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._

class DedupCollapseSpec extends SparkSpec {

  private def countAggregates(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.size

  private def base = {
    import spark.implicits._
    Seq((1, "a", 10), (1, "a", 10), (2, "b", 20), (3, "a", 30))
      .toDF("k", "g", "v")
  }

  test("distinct over project over distinct collapses to one aggregate") {
    val noRule = base.dropDuplicates().select("g").distinct()
    val rows = noRule.collect().map(_.getString(0)).sorted
    assert(rows.toSeq == Seq("a", "b"))
    assert(countAggregates(noRule) == 1,
      noRule.queryExecution.optimizedPlan.toString)
  }

  test("inner dedups on both union branches collapse under an outer distinct") {
    val u = base.dropDuplicates().unionByName(base.dropDuplicates())
      .select("g", "k").distinct()
    assert(countAggregates(u) == 1, u.queryExecution.optimizedPlan.toString)
    assert(u.count() == 3) // (a,1) (b,2) (a,3)
    // rule-off baseline: the session carries the rule, excluded here by name
    withSQLConf(
        "spark.sql.optimizer.excludedRules" -> DedupCollapseRule.ruleName) {
      val off = base.dropDuplicates().unionByName(base.dropDuplicates())
        .select("g", "k").distinct()
      assert(countAggregates(off) == 3, off.queryExecution.optimizedPlan.toString)
      assert(off.count() == 3)
    }
  }

  test("max/min aggregates are duplicate-insensitive and absorb inner dedup") {
    val q = base.dropDuplicates()
      .groupBy("g").agg(max("v").as("mx"), min("v").as("mn"))
    assert(countAggregates(q) == 1, q.queryExecution.optimizedPlan.toString)
    val got = q.orderBy("g").collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    assert(got.toSeq == Seq(("a", 30, 10), ("b", 20, 20)))
  }

  test("count/sum aggregates do NOT absorb inner dedup (duplicate-sensitive)") {
    val q = base.dropDuplicates().groupBy("g").agg(count(lit(1)).as("n"))
    assert(countAggregates(q) == 2, q.queryExecution.optimizedPlan.toString)
    val got = q.orderBy("g").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("a", 2L), ("b", 1L)), "dedup must still apply")
  }

  test("subset-key dropDuplicates is never removed while its first() survives") {
    // keeping a non-key column in the output preserves the first()
    // aggregate (arbitrary-representative semantics) — not strippable
    val q = base.dropDuplicates("k").select("k", "g").distinct()
    assert(q.count() == 3)
    // (stock RemoveRedundantAggregates may drop the outer distinct — the
    // child is already k-distinct; what matters is that the subset dedup's
    // arbitrary-representative first() is never stripped by our rule)
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("first("), plan)
  }

  test("a GLOBAL (empty-grouping) aggregate below a distinct-like consumer " +
    "is never rewritten to a Project — one row on empty input must survive") {
    import spark.implicits._
    // inner global aggregate over an EMPTY frame emits ONE row; if the
    // rule unsoundly replaced it with Project(lit-like exprs), the empty
    // child would propagate zero rows and max would come back NULL/empty
    val empty = Seq.empty[(Int, String, Int)].toDF("k", "g", "v")
    val inner = empty.groupBy().agg(lit(1).as("x"))
    val out = inner.agg(max(col("x"))).collect()
    assert(out.length == 1 && out.head.getInt(0) == 1,
      s"global aggregate must emit its one row: ${out.toSeq}")
    // same shape over non-empty input stays correct too
    val inner2 = base.groupBy().agg(countDistinct(col("g")).as("x"))
    assert(inner2.agg(max(col("x"))).head().getLong(0) == 2L)
  }

  test("p26 gold directory plan carries exactly one dedup aggregate with the rule") {
    // the IN-PLAN derivation (p26's gate entry reads materialized silver,
    // where the branch dedups are already gone by construction)
    val p26 = graft.pipeline.Gold
      .directoryRows(graft.operators.PipelineQueries
        .silverUnified(spark, "/root/testdata/sf0.001"))
      .orderBy("institution_type", "charter_number")
    assert(countAggregates(p26) == 1, p26.queryExecution.optimizedPlan.toString)
  }
}
