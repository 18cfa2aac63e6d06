package graft

/** Plan auditor: dumps `explain("formatted")` for selected queries so scan
  * pushdown (PushedFilters/ReadSchema), join strategies (BroadcastHashJoin
  * vs SortMergeJoin), and WholeStageCodegen spans can be reviewed.
  * Usage: runMain graft.Explain [sfDir] [queryName ...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_pricing_summary", "q03_join_topk", "d30_dedup_ngram_jaccard")
    val spark = SparkSupport.session()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
