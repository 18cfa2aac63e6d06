package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bronze-layer readers/writers — the raw→parquet staging edge.
  *
  * Re-expresses /root/reference/pipelineApplication/bronzeLayer/BuildBronzeLayer.py:60-159.
  * All functions are path-injected (no hardcoded bucket), so tests and the
  * bench run on `file:///` and the production deployment points at object
  * storage — the reference hardcodes its S3 bucket in every function.
  */
object Bronze {

  /** Flatten staged FDIC JSON: each record is `{"data": {...fields}}`; the
    * reference flattens with `json_tuple(to_json(col("data")), ...)` — a
    * generator expression — then renames the generated c0..cN
    * (BuildBronzeLayer.py:181-190). Kept verbatim as the operator-surface
    * demo (P2/P3/X3/X4); `col("data.*")` would be the minimal form. */
  def flattenStagedJson(raw: DataFrame, fields: Seq[String]): DataFrame =
    raw.select(json_tuple(to_json(col("data")), fields: _*))
      .toDF(fields: _*)

  /** S1: staged FDIC JSON scan (schema inferred) + flatten. */
  def readStagedFdicJson(spark: SparkSession, path: String, fields: Seq[String]): DataFrame =
    flattenStagedJson(spark.read.json(path), fields)

  /** S2: NCUA CSV report-table scan, header + inferred schema
    * (BuildBronzeLayer.py:100-113). */
  def readNcuaCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** S4 + the ACCT_671 poison-column drop at the read edge
    * (BuildSilverLayer.py:126, SURVEY.md §2.14.5). */
  def readFs220(spark: SparkSession, path: String): DataFrame =
    graft.Tables.parquet(spark, path).drop("ACCT_671")

  /** K1: bronze parquet append — quarterly loads accumulate
    * (BuildBronzeLayer.py:80-97,116-143). */
  def appendParquet(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** S3: bronze parquet scan with a declared schema — skips inference and
    * enforces the contract (BuildSilverLayer.py:88-106). */
  def readBronze(spark: SparkSession, path: String,
                 schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).parquet(path)
}
