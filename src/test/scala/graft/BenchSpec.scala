package graft

import org.apache.spark.sql.functions.expr

/** [[Bench.timeQueries]], the bench's timing loop: a query that throws —
  * while building its plan, while running, or in only one of the passes —
  * is reported as failed and has no timing. [[Bench.selectQueries]]: a
  * partial run's list may only name existing queries. */
class BenchSpec extends SparkSpec {

  test("a throwing query is reported as failed and never timed") {
    var flakyCalls = 0
    val queries: Seq[(String, SparkEntry.Query)] = Seq(
      "ok" -> ((s, _) => s.range(100).toDF()),
      "throws_building" -> ((_, _) =>
        throw new IllegalStateException("injected at plan construction")),
      "throws_running" -> ((s, _) =>
        s.range(5).toDF().filter(expr("raise_error('injected') IS NULL"))),
      "throws_second_pass" -> { (s, _) =>
        flakyCalls += 1
        if (flakyCalls == 2) throw new IllegalStateException("injected")
        s.range(10).toDF()
      })
    val (timed, failed) = Bench.timeQueries(spark, queries, "unused", 2)
    assert(failed.toSet ==
      Set("throws_building", "throws_running", "throws_second_pass"))
    assert(timed.keySet == Set("ok"))
    val (sec, jobs, stages) = timed("ok")
    assert(sec > 0 && jobs >= 1 && stages >= jobs)
  }

  test("a partial run keeps the named queries and rejects an unknown name") {
    assert(Bench.selectQueries(None).map(_._1).toSet ==
      SparkEntry.queries.keySet)
    assert(Bench.selectQueries(Some("d189_admit_compact, q110_column_profile"))
      .map(_._1).toSet == Set("d189_admit_compact", "q110_column_profile"))
    val e = intercept[RuntimeException](
      Bench.selectQueries(Some("d189_admit_compact,q110_colum_profile")))
    assert(e.getMessage == "unknown query: q110_colum_profile")
  }
}
