package graft.catalyst

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The `spark.sql.extensions` deployment path: a session built with
  * GraftExtensions gets the native functions, the top-k rewrite rule, and
  * the physical strategy — no imperative registration calls.
  *
  * `spark.sql.extensions` is a STATIC conf — it is read from the
  * SparkContext's conf at session creation, so reusing another suite's
  * context silently drops it. This suite therefore stops whatever context
  * exists, builds a fresh one with the extensions installed, and stops it
  * again afterwards; the next SparkSpec suite's lazy `getOrCreate` then
  * rebuilds cleanly (suites run sequentially in the forked test JVM). */
class GraftExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.extensions", "graft.catalyst.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", graft.SparkSupport.scratchDir)
      .getOrCreate()
  }

  override def afterAll(): Unit = {
    spark.stop()
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    super.afterAll()
  }

  test("native functions resolve through SQL without ensureRegistered") {
    val r = spark.sql("SELECT poly_hash('abc') AS h, simhash30(array(1L, 2L)) AS s")
      .collect().head
    assert(r.getLong(0) > 0 && r.getLong(1) >= 0)
  }

  test("install adds nothing to a session built with the extensions class") {
    val functions = spark.sessionState.functionRegistry.listFunction()
    val rules = spark.experimental.extraOptimizations
    val strategies = spark.experimental.extraStrategies
    GraftExtensions.install(spark)
    assert(spark.sessionState.functionRegistry.listFunction() == functions)
    assert(spark.experimental.extraOptimizations == rules && rules.isEmpty)
    assert(spark.experimental.extraStrategies == strategies && strategies.isEmpty)
  }

  test("row_number top-k idiom re-plans to TopKPerKeyExec via the injected rule") {
    val s = spark
    import s.implicits._
    val df = (1 to 100).map(i => (i % 5, i)).toDF("k", "v")
    df.createOrReplaceTempView("ext_topk_src")
    val q = spark.sql(
      """SELECT k, v FROM (
        |  SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v DESC) rn
        |  FROM ext_topk_src) WHERE rn <= 3""".stripMargin)
    assert(q.queryExecution.executedPlan.toString.contains("TopKPerKey"),
      q.queryExecution.executedPlan.toString)
    assert(q.count() == 15)
  }
}
