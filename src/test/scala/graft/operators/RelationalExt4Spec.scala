package graft.operators

import graft.SparkSpec

class RelationalExt4Spec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("q123 plans every dimension join as a broadcast") {
    val plan = RelationalExt4.q123RegionalRevenue(spark, sf)
      .queryExecution.executedPlan.toString
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts >= 3,
      s"expected >=3 broadcast joins (customer/supplier/nation), got $broadcasts:\n$plan")
    // the only sort-merge/shuffle-keyed join allowed is lineitem ⋈ orders
    val smj = "SortMergeJoin".r.findAllIn(plan).size +
      "ShuffledHashJoin".r.findAllIn(plan).size
    assert(smj <= 1, s"fact-side joins must not multiply shuffles:\n$plan")
  }

  test("q124 subqueries rewrite to semi/anti joins, not nested loops") {
    val plan = RelationalExt4.q124SubqueryBattery(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi") || plan.contains("ExistenceJoin"),
      s"IN/EXISTS should become semi/existence joins:\n$plan")
    assert(!plan.toLowerCase.contains("cartesianproduct"),
      s"no cartesian fallback expected:\n$plan")
  }

  test("q125 computes all pivot measures in a single aggregate pass") {
    val df = RelationalExt4.q125PivotMultiAgg(spark, sf)
    assert(df.columns.toSeq ===
      Seq("c_mktsegment", "F_n", "F_rev", "O_n", "O_rev", "P_n", "P_rev"))
    // count columns reconcile with the unpivoted total
    val total = df.selectExpr("sum(F_n + O_n + P_n)").head().getLong(0)
    assert(total === graft.Tables.orders(spark, sf).count())
  }

  test("q127 merge reconciles: keeps + updates + inserts, deletes gone") {
    import org.apache.spark.sql.functions._
    val out = RelationalExt4.q127MergeUpsert(spark, sf).collect()
    val finalCount = out.map(_.getLong(1)).sum
    val target = graft.Tables.orders(spark, sf)
      .filter(col("o_orderdate") < lit("1997-01-01"))
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSet
    val src = graft.Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"),
        count(when(col("l_returnflag") === "R", lit(1))).as("r"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val deletes = target.count(k => src.get(k).exists { case (n, r) => r == n })
    val inserts = src.keySet.diff(target).size
    assert(finalCount === target.size - deletes + inserts)
    // inserted rows all carry status N
    val nRow = out.find(_.getString(0) == "N").get
    assert(nRow.getLong(1) === inserts.toLong)
  }

  test("q128 Spearman matches a driver-side computation and is in [-1,1]") {
    import org.apache.spark.sql.functions._
    val row = RelationalExt4.q128Spearman(spark, sf).head()
    val rho = row.getDouble(1)
    assert(rho >= -1.0 && rho <= 1.0)
    val xs = graft.Tables.orders(spark, sf)
      .join(graft.Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey"))
      .select("o_totalprice", "c_acctbal").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    def avgRanks(v: Array[Double]): Array[Double] = {
      val sorted = v.zipWithIndex.sortBy(_._1)
      val ranks = new Array[Double](v.length)
      var i = 0
      while (i < sorted.length) {
        var j = i
        while (j < sorted.length && sorted(j)._1 == sorted(i)._1) j += 1
        val avg = (i + 1 + j) / 2.0 // mean of ranks i+1 .. j
        (i until j).foreach(k => ranks(sorted(k)._2) = avg)
        i = j
      }
      ranks
    }
    val rx = avgRanks(xs.map(_._1)); val ry = avgRanks(xs.map(_._2))
    val n = xs.length.toDouble
    val (sx, sy) = (rx.sum, ry.sum)
    val sxy = rx.zip(ry).map { case (a, b) => a * b }.sum
    val sxx = rx.map(a => a * a).sum
    val syy = ry.map(a => a * a).sum
    val brute = (n * sxy - sx * sy) /
      (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    assert(math.abs(rho - brute) < 1e-6)
  }

  test("q128 plan: the exact ranks come from keyed range-split cumsums — " +
    "no unpartitioned window anywhere") {
    assert(assertWindowsKeyedOrBounded(
      RelationalExt4.q128Spearman(spark, sf)) >= 1)
  }

  test("q131 set-op outputs are consistent: disjointness and containment") {
    val rows = RelationalExt4.q131ArraySetOps(spark, sf).collect()
    rows.foreach { r =>
      def parts(i: Int) = r.getString(i).split(',').filter(_.nonEmpty).toSet
      val (both, any, onlyEarly) = (parts(1), parts(2), parts(3))
      assert(both.intersect(onlyEarly).isEmpty)
      assert(both.subsetOf(any) && onlyEarly.subsetOf(any))
      assert(r.getInt(4) === both.size)
    }
  }

  test("s132 k-means step conserves vectors and bounds inertia") {
    val rows = Similarity.s132KmeansStep(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum ===
      graft.Tables.embeddings(spark, sf).count())
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))     // moved ≤ assigned
      assert(r.getDouble(3) >= 0.0)            // inertia non-negative
    }
  }

  test("q126 grains reconcile: each level totals the whole table") {
    val rows = RelationalExt4.q126TimeRollup(spark, sf).collect()
    val n = graft.Tables.orders(spark, sf).count()
    // lvl 7 = grand total; lvl 3 = per-year; lvl 1 = per-quarter; 0 = month
    Seq(7L -> 1, 3L -> 0, 1L -> 0, 0L -> 0).foreach { case (lvl, _) =>
      val levelRows = rows.filter(_.getLong(5) == lvl)
      assert(levelRows.map(_.getLong(3)).sum === n, s"level $lvl")
    }
    assert(rows.count(_.getLong(5) == 7L) === 1)
  }

  test("q187 lateral subquery decorrelates: ranked join, no nested loop, " +
    "exactly 2 rows per nation with customers") {
    val df = RelationalExt4.q187LateralTopk(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"),
      s"lateral must decorrelate to a ranked join:\n$plan")
    assert(plan.contains("WindowGroupLimit") || plan.contains("Window"),
      s"expected the rank-limit formulation:\n$plan")
    val rows = df.collect()
    val perNation = rows.groupBy(_.getString(0)).view.mapValues(_.length)
    assert(perNation.values.forall(_ <= 2))
    // top-2 per nation matches the window formulation
    import org.apache.spark.sql.functions.{col, row_number}
    val expect = collectWithoutTopKRewrite(graft.Tables.customer(spark, sf)
      .join(graft.Tables.nation(spark, sf),
        col("c_nationkey") === col("n_nationkey"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("n_name")
          .orderBy(col("c_acctbal").desc, col("c_name"))))
      .filter(col("rk") <= 2)).length.toLong
    assert(rows.length.toLong == expect)
  }

  test("q320 Q21-chain de-correlates fully: semi + anti + count-threshold " +
    "as equi joins, no nested loop, no cartesian") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.catalyst.plans.{LeftSemi, LeftAnti}
    val df = RelationalExt4.q320OnlyDefaulter(spark, sf)
    val logical = df.queryExecution.optimizedPlan
    val joinTypes = logical.collect { case j: Join => j.joinType }
    assert(joinTypes.contains(LeftSemi),
      s"EXISTS must rewrite to a left semi join, got $joinTypes")
    assert(joinTypes.contains(LeftAnti),
      s"NOT EXISTS must rewrite to a left anti join, got $joinTypes")
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct") &&
      !physical.contains("BroadcastNestedLoopJoin"),
      s"the whole chain must execute as hash-keyed joins:\n$physical")
    // the COUNT-bug shape: an order with rows must pass the >= 2 gate via
    // a real aggregate, and the result must be non-empty and bounded
    val rows = df.collect()
    assert(rows.nonEmpty && rows.length <= 10)
    assert(rows.map(_.getLong(1)).forall(_ >= 2), "HAVING threshold holds")
  }
}
