package graft.tools

/** Dev diagnostic (test scope, never shipped): per-query job/stage/task
  * counts and warm min-of-3 timings for named gate queries — the numbers
  * behind SURVEY §9's stage-floor decompositions. Usage:
  *
  *   sbt -batch "Test/runMain graft.tools.PlanProbe <sfDir> q1,q2,..."
  *
  * Prints one `RUNSTATS` line per query (min-of-3 after one untimed warm
  * pass, like Bench) plus a `PLANSTATS` line with executed-plan node
  * counts. Job/stage/task counts come from a SparkListener, so they are
  * the real scheduled work including eager construction-time jobs
  * (collects/broadcasts) that plan inspection alone misses. */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).toSet
    val spark = graft.SparkSupport.session()

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs += 1; stages += j.stageInfos.size
          tasks += j.stageInfos.map(_.numTasks).sum
        }
      })

    val qs = graft.SparkEntry.queries.filter(q => names(q._1))
    qs.foreach { case (name, fn) =>
      fn(spark, sfDir).count() // untimed warm pass (JIT + layouts)
      spark.catalog.clearCache()
      val runs = (1 to 3).map { _ =>
        jobs = 0; stages = 0; tasks = 0
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        (dt, jobs, stages, tasks)
      }
      val best = runs.minBy(_._1)
      println(f"RUNSTATS $name sec=${best._1}%.3f jobs=${best._2} " +
        f"stages=${best._3} tasks=${best._4}")
      val p = fn(spark, sfDir).queryExecution.executedPlan.toString
      def c(s: String) = s.r.findAllIn(p).size
      println(s"PLANSTATS $name exchanges=${c("Exchange")} " +
        s"inmem=${c("InMemoryTableScan")} " +
        s"takeordered=${c("TakeOrderedAndProject")} sorts=${c("Sort ")}")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
