package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites. `caseSensitive=true` mirrors the
  * reference's load-bearing setting (mixed-case NCUA columns, SURVEY.md
  * §1.3). One session per JVM (Test/fork := true gives each run its own),
  * with the engine surface installed as [[SparkEntry.queries]] does. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.caseSensitive", "true")
      .config("spark.ui.enabled", "false")
      // bound plan-string rendering: iterative algorithms (CC loops) can carry
      // wide plans between checkpoints, and the listener's explainString of an
      // unbounded tree is an OOM vector in a 4-core test JVM
      .config("spark.sql.maxPlanStringLength", "100000")
      .config("spark.local.dir", SparkSupport.scratchDir)
      .getOrCreate()
    catalyst.GraftExtensions.install(s)
    s
  }

  override def afterAll(): Unit = {
    // keep the session for sibling suites in the same forked JVM
    super.afterAll()
  }

  /** Runs `f` with the given session confs set, restoring them after. */
  def withSQLConf[T](pairs: (String, String)*)(f: => T): T = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { pairs.foreach { case (k, v) => spark.conf.set(k, v) }; f }
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Plans and collects `df` with [[graft.plans.TopKRewriteRule]] excluded
    * by name, asserting no TopKPerKey node is left. A row_number()<=k
    * reference built here runs on the stock Window operator, so comparing
    * against it checks TopKPerKey instead of running it on both sides. */
  def collectWithoutTopKRewrite(df: => DataFrame): Array[Row] =
    withSQLConf("spark.sql.optimizer.excludedRules" ->
        graft.plans.TopKRewriteRule.ruleName) {
      val ref = df
      val plan = ref.queryExecution.executedPlan.toString
      assert(!plan.contains("TopKPerKey"), s"the excluded rule still fired:\n$plan")
      ref.collect()
    }

  /** Jobs `body` schedules, counted after a listener-bus drain. */
  def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftSchedulerBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.GraftSchedulerBridge.drainListenerBus(spark.sparkContext)
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Asserts every Window in `df`'s optimized plan either partitions by a
    * key or runs over a limit-bounded subtree — the structural form of
    * "no unpartitioned corpus-scale row_number" (the q242 discipline).
    * A subtree is bounded iff every leaf path passes through a Limit:
    * joins/aggregates/projections of bounded inputs stay bounded. Checked
    * on the optimized LOGICAL plan (AQE-stable; TakeOrderedAndProject is
    * GlobalLimit∘Sort here). Returns the window count so callers can
    * assert the plan actually HAS the windows they expect. */
  def assertWindowsKeyedOrBounded(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.catalyst.plans.logical._
    // GlobalLimit only (the RegistryJoinSpec rule, ADVICE r8): a bare
    // LocalLimit caps rows per partition, total = n × partitions.
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: GlobalLimit => true
      case _ if p.children.isEmpty => false
      case _ => p.children.forall(bounded)
    }
    val wins = df.queryExecution.optimizedPlan.collect { case w: Window => w }
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty || bounded(w.child),
        s"unpartitioned window over an unbounded (corpus-scale) input:\n$w")
    }
    wins.size
  }
}
