package graft.catalyst

import graft.{SparkEntry, SparkSupport}
import graft.plans.{DedupCollapseRule, TopKPerKeyStrategy, TopKRewriteRule}
import graft.sources.v2.GraftDmlStrategy
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftExtensions.install]] on a session from the harness factory
  * ([[SparkSupport.session]]), which is built without
  * `spark.sql.extensions`. The shared SparkSpec session is already
  * installed, so — as in GraftExtensionsSpec — this suite stops whatever
  * session exists, builds its own, and stops it again afterwards. */
class GraftInstallSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    spark = SparkSupport.session()
  }

  override def afterAll(): Unit = {
    spark.stop()
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    super.afterAll()
  }

  private def lists(s: SparkSession) = (
    s.sessionState.functionRegistry.listFunction(),
    s.catalog.listFunctions().collect().map(_.name).toSeq.sorted,
    s.experimental.extraOptimizations,
    s.experimental.extraStrategies)

  private def assertInstalled(s: SparkSession): Unit = {
    GraftFunctions.all.foreach { case (name, _, _) =>
      val described = s.sql(s"DESCRIBE FUNCTION $name").head().getString(0)
      assert(described == s"Function: $name", described)
    }
    assert(s.experimental.extraOptimizations ==
      Seq(TopKRewriteRule, DedupCollapseRule))
    assert(s.experimental.extraStrategies ==
      Seq(TopKPerKeyStrategy, GraftDmlStrategy))
  }

  test("a SparkEntry.queries entry installs the engine before its query plans") {
    assert(spark.experimental.extraOptimizations.isEmpty)
    assert(spark.experimental.extraStrategies.isEmpty)
    assert(!spark.catalog.functionExists("poly_hash"))
    // no tables here: q03 fails while planning its first scan — after the
    // entry has installed the engine
    val noTables = java.nio.file.Files.createTempDirectory("no-tables").toString
    intercept[org.apache.spark.sql.AnalysisException] {
      SparkEntry.queries("q03_join_topk")(spark, noTables)
    }
    assertInstalled(spark)
  }

  test("SparkEntry.entry installs on the session it is given") {
    val fresh = spark.newSession()
    assert(fresh.experimental.extraOptimizations.isEmpty)
    SparkEntry.entry(fresh)
    assertInstalled(fresh)
  }

  test("a second install leaves all four lists unchanged") {
    GraftExtensions.install(spark)
    val first = lists(spark)
    GraftExtensions.install(spark)
    assert(lists(spark) == first)
  }
}
