package graft.pipeline

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gold-layer publication tables — pure transforms over the conformed silver
  * frame (/root/reference/pipelineApplication/goldLayer/BuildGoldLayer.py:92-209).
  *
  * The headline rewrite (SURVEY.md §4.3): the reference builds its quarterly
  * wide tables by collecting the distinct quarter list to the driver and
  * full-outer-joining one per-quarter slice per date — N joins, N sorts, and
  * N+2 re-scans of silver (BuildGoldLayer.py:92-139). Here it is a single
  * native `pivot`: one scan, one shuffle, same result. At 100 TB the join
  * loop is catastrophic (a 40-quarter history = 40 shuffle joins); the pivot
  * is one hash aggregate.
  */
object Gold {

  /** Column-order convention for wide tables (P8,
    * Helpers_FunctionsDicts.py:83-103): pinned id columns first, the
    * date-named columns sorted descending. Pure metadata — no job. */
  def selectSortDatedCols(df: DataFrame, pinned: Seq[String]): DataFrame = {
    val dated = df.columns.filterNot(pinned.contains).sorted(Ordering[String].reverse)
    df.select((pinned ++ dated).map(col).toSeq: _*)
  }

  /** The directory ROWS: distinct institutions over the 6 identity columns.
    * Row semantics only — no layout. In-plan consumers (the gate queries,
    * anything that re-sorts or re-aggregates) compose from here, exactly as
    * gold consumers compose from [[Silver.conformed]]: a layout repartition
    * would be dead work under any downstream exchange. */
  def directoryRows(silver: DataFrame): DataFrame =
    silver.select("name", "charter_number", "institution_type", "city", "state", "website")
      .distinct()

  /** `institution_directory_by_type` (BuildGoldLayer.py:149-160): the
    * distinct institution directory, clustered by (type, name) with
    * name-sorted files for Athena-style consumers — [[directoryRows]] plus
    * the WRITE layout. Distinct runs BEFORE the layout repartition (the
    * reference's distinct-after-sort re-shuffles and destroys its own
    * clustering — same output set, one less shuffle). */
  def institutionDirectoryByType(silver: DataFrame): DataFrame =
    directoryRows(silver)
      .repartition(col("institution_type"), col("name"))
      .sortWithinPartitions("name")

  /** `assets_deposits_by_state` (BuildGoldLayer.py:164-179): per-quarter
    * financials keyed for (year, quarter, state) partition pruning. Year and
    * quarter derive natively (`year()`/`quarter()`) instead of the
    * reference's date_format + dict-replace + cast chain — identical values
    * (SURVEY.md §4.3), foldable expressions. */
  def assetsDepositsRows(silver: DataFrame): DataFrame =
    silver.select("charter_number", "name", "state", "city",
        "assets_total", "deposits_total", "quarter_date")
      .withColumn("year", year(col("quarter_date")))
      .withColumn("quarter", quarter(col("quarter_date")))
      .drop("quarter_date")

  def assetsDepositsByState(silver: DataFrame): DataFrame =
    assetsDepositsRows(silver)
      .repartition(col("year"), col("quarter"), col("state"))

  /** The wide tables' pivot column: the quarter date as `yyyy-MM-dd`. */
  private def quarterLabel: Column =
    date_format(col("quarter_date"), "yyyy-MM-dd").as("qd")

  /** The distinct quarter labels of `silver`, ascending with null first —
    * the values Spark's implicit `pivot("qd")` would discover, from one
    * `distinct().collect()` (2 jobs) instead of its distinct-limit-sort
    * (4 jobs). Fails above `spark.sql.pivotMaxValues` as that pivot does.
    * The labels are ASCII, so String order is Spark's byte order. */
  def quarters(silver: DataFrame): Seq[String] = {
    val qs = silver.select(quarterLabel).distinct().collect().map(_.getString(0))
    val maxValues = silver.sparkSession.conf.get("spark.sql.pivotMaxValues").toInt
    if (qs.length > maxValues)
      throw new AnalysisException("_LEGACY_ERROR_TEMP_1324", Map(
        "pivotColumn" -> "qd", "maxValues" -> maxValues.toString,
        "config" -> "spark.sql.pivotMaxValues"))
    qs.toSeq.sortBy(Option(_))
  }

  /** `quarterly_assets_table` / `quarterly_deposits_table`
    * (BuildGoldLayer.py:92-139,183-209): one date-named column per distinct
    * quarter, via native pivot.
    *
    * `quarters` pins the pivot values: pass the known quarter list (one
    * [[quarters]] call serves both wide tables of a refresh) to keep the
    * plan fully deterministic and skip the extra distinct scan; pass None
    * to discover them here with [[quarters]].
    * `max` (not `first`) aggregates the at-most-one value per
    * (charter, type, name, quarter) cell so the result is order-independent
    * even if silver ever carried a duplicate key (SURVEY.md §7.3.5).
    * Trailing `na.drop` matches the reference (BuildGoldLayer.py:194,209):
    * only institutions present in every quarter survive the wide table. */
  def quarterlyWide(silver: DataFrame, valueCol: String,
                    quarters: Option[Seq[String]] = None): DataFrame = {
    val keyed = silver.select(
      col("charter_number"), col("institution_type"), col("name"),
      quarterLabel, col(valueCol))
    val pivoted = keyed.groupBy("charter_number", "institution_type", "name")
      .pivot("qd", quarters.getOrElse(Gold.quarters(silver)))
    selectSortDatedCols(
      pivoted.agg(max(col(valueCol))),
      Seq("charter_number", "institution_type", "name"))
      .na.drop()
  }
}
