package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class QualitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("quarantine: corrupted rows route to quarantine, good rows parse, totals reconcile") {
    val out = Quality.q109ParseQuarantine(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val total = graft.Tables.events(spark, dir).count()
    val expQuarantine = graft.Tables.events(spark, dir)
      .filter(col("event_id") % 17 === 0).count()
    assert(out("quarantine")._1 == expQuarantine)
    assert(out("good")._1 == total - expQuarantine)
    assert(out("quarantine")._2 == 0L) // no parsed values leak from bad rows
    assert(out("good")._2 > 0L)
  }

  test("column profile: one row per column, stats consistent with the table") {
    val out = Quality.q110ColumnProfile(spark, dir).cache()
    assert(out.count() == 5)
    val cust = graft.Tables.customer(spark, dir)
    val n = cust.count()
    assert(out.filter(col("n_rows") =!= n).count() == 0)
    val keyRow = out.filter(col("col_name") === "c_custkey").head()
    assert(keyRow.getAs[Long]("n_distinct") == n) // primary key: all distinct
    assert(keyRow.getAs[Long]("n_nulls") == 0)
    // min/max are lexical on the string rendering (documented semantics)
    val segRow = out.filter(col("col_name") === "c_mktsegment").head()
    assert(segRow.getAs[Long]("n_distinct") == 5)
    out.unpersist()
  }

  test("column profile plans WITHOUT an Expand: the multi-distinct " +
    "aggregate stays a two-phase hash aggregate over KMV sketch state") {
    // five exact count_distincts in one aggregate would make Catalyst
    // plan an Expand replicating every input row once per distinct
    // column (5× the row volume into the shuffle) — the one shape the
    // r10 plan audit flagged as unable to survive a 100 TB scan. The KMV
    // form must keep the plan Expand-free and single-scan.
    val plan = Quality.q110ColumnProfile(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"profiler must not plan an Expand:\n$plan")
    assert(plan.split("Scan parquet").length - 1 == 1,
      s"profiler must scan the table exactly once:\n$plan")
  }

  test("KMV distinct estimates above the sketch width are the pinned " +
    "deterministic (k-1)*P/h_k value, exact below it") {
    import spark.implicits._
    // 1000 distinct ids through the same hash + sketch the profiler uses:
    // estimate must be within the ~6% design error of k=256 and EXACTLY
    // reproducible from the k-th smallest hash (what the DuckDB oracle
    // re-derives)
    val spread = graft.functions.PortableHash.kmvSpread("poly_hash(v)")
    val df = (1 to 1000).map(_.toString).toDF("v")
      .selectExpr(s"coalesce($spread, -1L) AS h")
    val r = df.agg(graft.functions.KmvSketch
        .kmvSkipNull(col("h"), Quality.ProfileK).as("sk"))
      .selectExpr("sk.kth_hash", "sk.est_distinct").head()
    val (kth, est) = (r.getLong(0), r.getLong(1))
    assert(est == (Quality.ProfileK - 1).toLong * 1000000007L / kth)
    assert(math.abs(est - 1000) < 150, s"estimate too far off: $est")
    // nulls are skipped, not hashed: all-null input estimates 0
    val z = Seq[Option[String]](None, None).toDF("v")
      .selectExpr(s"coalesce($spread, -1L) AS h")
      .agg(graft.functions.KmvSketch
        .kmvSkipNull(col("h"), Quality.ProfileK).as("sk"))
      .selectExpr("sk.est_distinct").head().getLong(0)
    assert(z == 0L)
  }

  test("constraint suite: six constraints, the planted uniqueness " +
    "expectation fails with the exact duplicate ratio, the rest pass") {
    val out = Quality.q312ConstraintSuite(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out.size == 6)
    out.foreach { case (name, (m, _)) =>
      assert(m >= 0 && m <= 1000000L, s"$name metric out of range: $m") }
    // pass verdicts: everything green except the deliberately failing
    // o_custkey uniqueness (customers repeat across orders)
    val (mCust, pCust) = out("uniqueness(o_custkey)")
    assert(!pCust && mCust < 1000000L)
    val o = graft.Tables.orders(spark, dir)
    val expect = o.select("o_custkey").distinct().count() * 1000000L /
      o.count()
    assert(mCust == expect, s"metric must be the exact ratio: $mCust")
    out.removed("uniqueness(o_custkey)").foreach { case (name, (m, p)) =>
      assert(p && m == 1000000L, s"$name must pass: $m") }
  }
}
