package graft.operators

import graft.Tables
import graft.functions.CmsSketch
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators, second batch: stratified sampling,
  * PII redaction, normalization-idempotence, and Count-Min heavy hitters.
  */
object TrainingPrep2 {

  /** q82: stratified sampling with deterministic per-stratum rates — 50% of
    * English docs, 20% of everything else, selected by a pure LCG hash of
    * the row key. No shuffle to SELECT (a map-side filter); the audit
    * aggregate here exists to make the sampled/total ratio checkable.
    * Reproducible across engines/runs/partitionings — the property
    * `sample()` (RNG-seeded per partition) cannot give. */
  def q82StratifiedSample(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("h", expr(graft.functions.PortableHash.lcgSplit("doc_id")))
      .withColumn("rate", when(col("lang") === "en", 50).otherwise(20))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("h") < col("rate"), 1).otherwise(0)).as("n_sampled"),
        min(col("rate")).as("rate_pct"))
      .orderBy("lang")

  val q82Sql: String =
    s"""SELECT lang, count(*) AS n_total,
       |  CAST(SUM(CASE WHEN ${graft.functions.PortableHash.lcgSplitDuck("doc_id")} <
       |    (CASE WHEN lang = 'en' THEN 50 ELSE 20 END) THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       |  min(CASE WHEN lang = 'en' THEN 50 ELSE 20 END) AS rate_pct
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** t83: PII redaction — email/phone patterns replaced map-side. The
    * corpus carries no real PII, so deterministic synthetic contact strings
    * are planted per doc and the redaction is verified by count and by the
    * final string hash. Pure scalar work: at 100 TB this runs at scan
    * speed with zero shuffle. */
  def t83PiiRedact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("aug", concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@mail.example or 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("aug"),
          lit("[A-Za-z0-9._]+@[A-Za-z0-9.]+"), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("aug"), lit("555-[0-9]{4}"), lit(0))).as("n_phones"),
        md5(regexp_replace(
          regexp_replace(col("aug"), "[A-Za-z0-9._]+@[A-Za-z0-9.]+", "<EMAIL>"),
          "555-[0-9]{4}", "<PHONE>")).as("redacted_md5"))
      .orderBy("doc_id")

  val t83Sql: String =
    """WITH aug AS (
      |  SELECT doc_id,
      |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example or 555-'
      |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(aug, '[A-Za-z0-9._]+@[A-Za-z0-9.]+', 0)) AS INTEGER)
      |    AS n_emails,
      |  CAST(len(regexp_extract_all(aug, '555-[0-9]{4}', 0)) AS INTEGER) AS n_phones,
      |  md5(regexp_replace(
      |    regexp_replace(aug, '[A-Za-z0-9._]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
      |    '555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
      |FROM aug ORDER BY doc_id""".stripMargin

  /** t84: text normalization (case-fold, trim, whitespace squeeze) with an
    * idempotence law built into the output: messed-up input (upper-cased,
    * padded, double-spaced) must normalize back to the original text
    * byte-for-byte, asserted via md5 equality per row. */
  def t84Normalize(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("messy",
        concat(lit("  "), upper(regexp_replace(col("text"), " ", "  ")), lit(" ")))
      .select(
        col("doc_id"),
        length(col("messy")).as("messy_len"),
        md5(regexp_replace(trim(lower(col("messy"))), " +", " ")).as("norm_md5"),
        (md5(regexp_replace(trim(lower(col("messy"))), " +", " ")) === md5(col("text")))
          .as("roundtrip_ok"))
      .orderBy("doc_id")

  val t84Sql: String =
    """WITH m AS (
      |  SELECT doc_id, text,
      |    '  ' || upper(replace(text, ' ', '  ')) || ' ' AS messy
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(length(messy) AS INTEGER) AS messy_len,
      |  md5(regexp_replace(trim(lower(messy)), ' +', ' ', 'g')) AS norm_md5,
      |  md5(regexp_replace(trim(lower(messy)), ' +', ' ', 'g')) = md5(text)
      |    AS roundtrip_ok
      |FROM m ORDER BY doc_id""".stripMargin

  /** d85: Count-Min heavy hitters — the full sketch pipeline: portable
    * token hashes → one [[CmsSketch]] typed-Aggregator pass (fixed 4×1024
    * counter state, partial-aggregated map-side) → point estimates for the
    * top-20 tokens, gated against the CMS guarantee (min-estimate never
    * under-counts; overshoot ≤ ε·N). The gate emits exact counts plus the
    * bound flags, so the oracle checks the sketch's CONTRACT exactly
    * even though the estimate itself is approximate. */
  def d85CmsHeavy(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .selectExpr("explode(split(text, ' ')) AS tok")
      .filter(length(col("tok")) > 0)
      .selectExpr("tok", "poly_hash(tok) AS h")
      // three consumers (sketch build, nTotal count, exact-count agg) —
      // persist or the scan+tokenize+hash pipeline runs three times;
      // released by the runner's clearCache (the per-query convention)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cms = new CmsSketch(4, 1024)
    val sketch = toks.select(col("h")).as[Long](Encoders.scalaLong)
      .select(cms.toColumn).head()
    val nTotal = toks.count()
    val bound = math.ceil(nTotal * math.E / 1024.0).toLong
    // the sketch is DRIVER-held state and the top-20 is metadata-sized, so
    // the point estimates probe it driver-side over the collected rows —
    // no UDF in the plan (q81 stays the repo's one deliberate UDF tier)
    val top = toks.groupBy(col("tok"), col("h"))
      .agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("tok"))
      .limit(20)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    import s.implicits._
    top.toSeq.map { case (tok, h, n) =>
      val e = cms.estimate(sketch, h)
      (tok, n, e >= n, e - n <= bound)
    }.toDF("tok", "exact_n", "never_undercounts", "within_eps")
      .orderBy(col("exact_n").desc, col("tok"))
  }

  val d85Sql: String =
    """SELECT tok, count(*) AS exact_n,
      |  TRUE AS never_undercounts, TRUE AS within_eps
      |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |WHERE len(tok) > 0
      |GROUP BY tok ORDER BY exact_n DESC, tok LIMIT 20""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q82_stratified_sample" -> q82StratifiedSample,
    "t83_pii_redact"        -> t83PiiRedact,
    "t84_normalize"         -> t84Normalize,
    "d85_cms_heavy"         -> d85CmsHeavy)

  val oracle: Map[String, String] = Map(
    "q82_stratified_sample" -> q82Sql,
    "t83_pii_redact"        -> t83Sql,
    "t84_normalize"         -> t84Sql,
    "d85_cms_heavy"         -> d85Sql)
}
