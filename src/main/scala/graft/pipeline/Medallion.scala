package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Layer paths + end-to-end orchestration: bronze → silver → gold
  * (/root/reference/pipelineApplication/pipeline1.py:42-46).
  *
  * Gold writes: the reference writes Delta (BuildGoldLayer.py:217-236), and
  * so does [[Medallion.updateGoldLayerDelta]]: each gold table is a
  * [[graft.sources.TxLog]] table whose commits are `_delta_log` versions,
  * partitioned tables with the reference's `partitionBy` layout and the
  * wide tables with `overwriteSchema` semantics. See SURVEY.md §7.3.4.
  */
final case class LayerPaths(base: String) {
  def bronze(table: String): String = s"$base/bronze/$table"
  def silver: String = s"$base/silver/all_institutions"
  def gold(table: String): String = s"$base/gold/$table"
}

object Medallion {

  /** K2: silver full rewrite (BuildSilverLayer.py:331-338). */
  def writeSilver(df: DataFrame, paths: LayerPaths): Unit =
    df.write.mode("overwrite").parquet(paths.silver)

  def readSilver(spark: SparkSession, paths: LayerPaths): DataFrame =
    Bronze.readBronze(spark, paths.silver, Schemas.silver)

  /** K3: the reference's gold partitioned writes ARE Delta
    * (`partitionBy(institution_type, state)` / `(year, quarter, state)`,
    * BuildGoldLayer.py:217-226) — published here as ONE transactional
    * Hive-layout TxLog overwrite, committed as a `_delta_log` version
    * carrying `partitionColumns` + per-add `partitionValues`, so an
    * external Delta reader mounts the gold directory WITH partition
    * pruning (delta-rs / DuckDB delta prune on the logged partitionValues
    * exactly as they do for delta-spark output) the moment the commit
    * lands. Read back via [[readGoldPartitionedDelta]], optionally
    * pruned. */
  def writeGoldPartitionedDelta(spark: SparkSession, df: DataFrame,
                                path: String,
                                partitionCols: Seq[String]): Unit =
    graft.sources.TxLog.overwritePartitioned(spark, df, path, partitionCols): Unit

  /** Partition-pruned snapshot of a Delta-form partitioned gold table —
    * the filter drops add actions at the METADATA level before any scan. */
  def readGoldPartitionedDelta(spark: SparkSession, path: String,
                               partitionFilter: Map[String, String] = Map.empty): DataFrame =
    graft.sources.DeltaBridge.read(spark, path, None, partitionFilter)

  /** K4: the column set varies per run (one column per quarter), i.e.
    * schema evolution by overwrite; the reference writes the wide tables as Delta with
    * `overwriteSchema` (BuildGoldLayer.py:227-236). Without the delta jar
    * the transactional overwrite runs through [[graft.sources.TxLog]] (the
    * same snapshot-isolated replace semantics — a new column set in a new
    * commit IS `overwriteSchema`, since readers resolve the schema from
    * the commit's own files), and each commit is one version of a
    * spec-compliant `_delta_log`, so the gold table is MOUNTABLE by any
    * real Delta reader (delta-spark, delta-rs, DuckDB's delta extension)
    * with full time travel across quarterly refreshes. */
  def writeGoldWideDelta(spark: SparkSession, df: DataFrame,
                         path: String): Unit =
    graft.sources.TxLog.overwrite(spark, df, path): Unit

  /** Read a Delta-form gold table back (HEAD snapshot) — through the
    * bridge's own log replay, the path an external Delta reader takes. */
  def readGoldWideDelta(spark: SparkSession, path: String): DataFrame =
    graft.sources.DeltaBridge.read(spark, path)

  /** Silver layer end-to-end from bronze (update_silver_layer,
    * BuildSilverLayer.py:331-338): one lazy DAG, one action at the write. */
  def updateSilverLayer(spark: SparkSession, paths: LayerPaths,
                        numPartitions: Int = 100): Unit = {
    val inst = Silver.cleanseBankInstitutions(
      Bronze.readBronze(spark, paths.bronze("institutions"), Schemas.bankInstitutions))
    val fin = Silver.cleanseBankFinancials(
      Bronze.readBronze(spark, paths.bronze("financials"), Schemas.bankFinancials))
    val foicu = Silver.cleanseFoicu(graft.Tables.parquet(spark, paths.bronze("foicu")))
    val fs220 = Silver.cleanseFs220(Bronze.readFs220(spark, paths.bronze("fs220")))
    val fs220d = Silver.cleanseFs220d(graft.Tables.parquet(spark, paths.bronze("fs220d")))
    val silver = Silver.unified(
      Silver.bankData(inst, fin),
      Silver.creditUnionData(foicu, fs220d, fs220),
      numPartitions)
    writeSilver(silver, paths)
  }

  /** Gold layer end-to-end (update_gold_layer, BuildGoldLayer.py:212-237),
    * in the reference's EXACT wire shape: all four tables as
    * DELTA — the two directory/state tables partitioned
    * (`partitionBy(institution_type, state)` / `(year, quarter, state)`,
    * BuildGoldLayer.py:217-226) and the two quarterly wide tables with
    * overwriteSchema semantics (BuildGoldLayer.py:227-236) — published
    * through the transactional TxLog, which commits the `_delta_log`
    * directly, so every refresh is a new mountable Delta version with time travel across
    * quarters. Silver is read once and cached across the four tables —
    * the reference re-scans it up to N+2 times per wide table (SURVEY.md
    * §4.3) — and the pivot quarters are discovered once for both wide
    * tables. */
  def updateGoldLayerDelta(spark: SparkSession, paths: LayerPaths): Unit = {
    val silver = readSilver(spark, paths).cache()
    try {
      val qs = Some(Gold.quarters(silver))
      writeGoldPartitionedDelta(spark, Gold.institutionDirectoryByType(silver),
        paths.gold("institution_directory_by_type"),
        Seq("institution_type", "state"))
      writeGoldPartitionedDelta(spark, Gold.assetsDepositsByState(silver),
        paths.gold("assets_deposits_by_state"),
        Seq("year", "quarter", "state"))
      writeGoldWideDelta(spark, Gold.quarterlyWide(silver, "assets_total", qs),
        paths.gold("quarterly_assets_table"))
      writeGoldWideDelta(spark, Gold.quarterlyWide(silver, "deposits_total", qs),
        paths.gold("quarterly_deposits_table"))
    } finally silver.unpersist()
  }
}
