package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the union of per-module registries; every entry with a
  * matching `oracleSql` key is hash-compared against DuckDB on sf0.01 by the
  * driver. Entries without oracle SQL get a weaker rows>0 check.
  *
  * Every entry first installs the engine surface
  * ([[graft.catalyst.GraftExtensions.install]]) on the session it is given,
  * so a query plans the same whichever queries ran before it.
  */
object SparkEntry {
  type Query = (SparkSession, String) => DataFrame

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    installed(operators.Relational.q03JoinTopk)(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Query] =
    registry.map { case (name, fn) => name -> installed(fn) }

  private def installed(fn: Query): Query = { (spark, dir) =>
    catalyst.GraftExtensions.install(spark)
    fn(spark, dir)
  }

  private def registry: Map[String, Query] =
    operators.Relational.queries ++
      operators.RelationalExt.queries ++
      operators.PipelineQueries.queries ++
      operators.Dedup.queries ++
      operators.TextAnalysis.queries ++
      operators.Similarity.queries ++
      operators.StreamingQueries.queries ++
      operators.MultimodalQueries.queries ++
      operators.ScalePatterns.queries ++
      operators.Sketches.queries ++
      operators.TrainingPrep.queries ++
      operators.DupClusters.queries ++
      operators.TextRanking.queries ++
      operators.Temporal.queries ++
      operators.RelationalExt2.queries ++
      operators.TypedOps.queries ++
      operators.TrainingPrep2.queries ++
      operators.Curation.queries ++
      operators.ShardPrep.queries ++
      operators.RelationalExt3.queries ++
      operators.Quality.queries ++
      operators.TableOps.queries ++
      operators.TimeSeries.queries ++
      operators.GraphOps.queries ++
      operators.Drift.queries ++
      operators.RelationalExt4.queries ++
      operators.RelationalExt5.queries ++
      operators.Curation2.queries ++
      operators.GraphOps2.queries ++
      operators.Analytics.queries ++
      operators.Analytics2.queries ++
      operators.Pretrain.queries ++
      operators.Pretrain2.queries ++
      operators.Pretrain3.queries ++
      operators.Similarity2.queries ++
      operators.EmbeddingOps.queries ++
      operators.Curation3.queries ++
      operators.IncrementalCuration.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    operators.Relational.oracle ++
      operators.RelationalExt.oracle ++
      operators.PipelineQueries.oracle ++
      operators.Dedup.oracle ++
      operators.TextAnalysis.oracle ++
      operators.Similarity.oracle ++
      operators.StreamingQueries.oracle ++
      operators.MultimodalQueries.oracle ++
      operators.ScalePatterns.oracle ++
      operators.Sketches.oracle ++
      operators.TrainingPrep.oracle ++
      operators.DupClusters.oracle ++
      operators.TextRanking.oracle ++
      operators.Temporal.oracle ++
      operators.RelationalExt2.oracle ++
      operators.TypedOps.oracle ++
      operators.TrainingPrep2.oracle ++
      operators.Curation.oracle ++
      operators.ShardPrep.oracle ++
      operators.RelationalExt3.oracle ++
      operators.Quality.oracle ++
      operators.TableOps.oracle ++
      operators.TimeSeries.oracle ++
      operators.GraphOps.oracle ++
      operators.Drift.oracle ++
      operators.RelationalExt4.oracle ++
      operators.RelationalExt5.oracle ++
      operators.Curation2.oracle ++
      operators.GraphOps2.oracle ++
      operators.Analytics.oracle ++
      operators.Analytics2.oracle ++
      operators.Pretrain.oracle ++
      operators.Pretrain2.oracle ++
      operators.Pretrain3.oracle ++
      operators.Similarity2.oracle ++
      operators.EmbeddingOps.oracle ++
      operators.Curation3.oracle ++
      operators.IncrementalCuration.oracle
}
