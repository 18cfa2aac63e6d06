package graft.operators

import graft.Tables
import graft.functions.OracleSafe
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution profiling and drift detection — the monitoring layer that
  * decides whether yesterday's model/aggregates still describe today's data:
  * population stability index between two time slices, and equi-depth
  * (quantile-bucket) histograms.
  *
  * Determinism notes: bin assignment is integer arithmetic on fixed edges;
  * PSI's ln() terms are rounded to 6 digits BEFORE the final sum, and the
  * sum runs in decimal — so cross-engine agreement never rests on
  * accumulation order or last-ulp transcendentals.
  */
object Drift {

  /** q120: PSI drift — `o_totalprice` distribution in the base period
    * (orders before 1998) vs the current period, over 10 fixed-width bins
    * with Laplace +1 smoothing (PSI is undefined on empty bins).
    * PSI = Σ (p−q)·ln(p/q); < 0.1 is conventionally "stable".
    *
    * Scale shape: one (bin, period) count aggregation — 20 groups out of any
    * row count — then arithmetic on the 10-row grid; the dense bin grid is
    * generated, so missing bins can't silently drop terms. The per-bin
    * contribution column is the diagnostic (WHICH price band drifted), the
    * decimal-summed total is the alarm threshold. */
  def q120PsiDrift(s: SparkSession, dir: String): DataFrame = {
    val binned = Tables.orders(s, dir)
      .selectExpr("least(CAST(floor(o_totalprice / 50000.0D) AS INT), 9) AS bin",
        "CASE WHEN o_orderdate < '1998-01-01' THEN 1 ELSE 0 END AS base")
      .groupBy("bin")
      .agg(sum(col("base")).as("n_base"),
        sum(lit(1) - col("base")).as("n_cur"))
    val grid = s.range(10).select(col("id").cast("int").as("bin"))
      .join(binned, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val tot = grid.agg(sum("n_base").as("tb"), sum("n_cur").as("tc"))
    val terms = grid.crossJoin(broadcast(tot))
      .selectExpr("bin", "n_base", "n_cur",
        "(CAST(n_base + 1 AS DOUBLE) / (tb + 10)) AS p",
        "(CAST(n_cur + 1 AS DOUBLE) / (tc + 10)) AS q")
      .selectExpr("bin", "n_base", "n_cur",
        "round((p - q) * ln(p / q), 6) AS psi_term")
    val total = terms
      .agg(expr("CAST(sum(CAST(psi_term AS DECIMAL(38,6))) AS DOUBLE) AS psi_total"))
    terms.crossJoin(broadcast(total))
      .select(col("bin"), col("n_base"), col("n_cur"), col("psi_term"),
        col("psi_total"), (col("psi_total") < 0.1).as("stable"))
      .orderBy("bin")
  }

  val q120Sql: String =
    """WITH binned AS (
      |  SELECT least(CAST(floor(o_totalprice / 50000.0) AS INT), 9) AS bin,
      |    sum(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END) AS n_base,
      |    sum(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 0 ELSE 1 END) AS n_cur
      |  FROM orders GROUP BY 1),
      |grid AS (
      |  SELECT CAST(g.range AS INT) AS bin,
      |    CAST(coalesce(n_base, 0) AS BIGINT) AS n_base,
      |    CAST(coalesce(n_cur, 0) AS BIGINT) AS n_cur
      |  FROM range(10) g LEFT JOIN binned ON binned.bin = g.range),
      |tot AS (SELECT sum(n_base) AS tb, sum(n_cur) AS tc FROM grid),
      |terms AS (
      |  SELECT bin, n_base, n_cur,
      |    round(((n_base + 1.0) / (tb + 10) - (n_cur + 1.0) / (tc + 10)) *
      |          ln(((n_base + 1.0) / (tb + 10)) / ((n_cur + 1.0) / (tc + 10))), 6)
      |      AS psi_term
      |  FROM grid, tot),
      |total AS (
      |  SELECT CAST(sum(CAST(psi_term AS DECIMAL(38,6))) AS DOUBLE) AS psi_total
      |  FROM terms)
      |SELECT bin, n_base, n_cur, psi_term, psi_total, psi_total < 0.1 AS stable
      |FROM terms, total ORDER BY bin""".stripMargin

  /** q121: equi-depth histogram — decile buckets of `o_totalprice` via
    * `ntile(10)` over a deterministic total order (price, then key — ties
    * must not leave bucket membership to the engine's sort whim), with
    * per-bucket count / min / max / decimal sum. Equi-depth edges are what
    * a cost-based optimizer stores (equi-WIDTH bins lie under skew).
    *
    * Scale shape: the global ntile is the honest cost of EXACT deciles — a
    * total-order sort (Spark runs it as one range-partitioned sort, the
    * same machinery as any global ORDER BY, parallel across range splits
    * ... then ntile needs global row positions: at 100 TB you'd take
    * boundary values from q52's KLL sketch instead and bucket map-side;
    * this operator is the exact reference implementation those
    * approximate edges are validated against. */
  def q121EquiDepthHist(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("decile",
        ntile(10).over(Window.orderBy(col("o_totalprice"), col("o_orderkey"))))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"),
        min("o_totalprice").as("lo"),
        max("o_totalprice").as("hi"),
        OracleSafe.dsum(col("o_totalprice")).as("total"))
      .orderBy("decile")

  val q121Sql: String =
    """SELECT decile, count(*) AS n, min(o_totalprice) AS lo,
      |  max(o_totalprice) AS hi,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
      |FROM (SELECT o_totalprice,
      |        CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey)
      |          AS INTEGER) AS decile
      |      FROM orders)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- s292

  /** s292: EMBEDDING drift monitor — q120's PSI lifted from a scalar
    * column to vector space: embeddings bucket through the
    * random-hyperplane signature ([[graft.catalyst.LshBucket8]], the same
    * kernel the ANN index uses, folded to 16 cells), and the PSI between
    * the two populations' cell distributions measures whether "new"
    * vectors still occupy the same directions as the standing corpus —
    * the production check that an embedding-model upgrade or a domain
    * shift hasn't silently invalidated a deployed ANN index (the s193
    * admit path flags per-VECTOR cell disagreement; this is the
    * population-level complement). Populations here: label < 5 vs
    * label >= 5 — genuinely different planted clusters, so the drift
    * signal is real, not synthetic noise.
    *
    * Scale shape: the signature is one map-side projection (codegen'd
    * kernel), the cell histogram is a 16×2 aggregate, and the PSI math
    * runs on the 16-row grid — the corpus is read once, nothing else
    * scales with it. Laplace-smoothed terms and the decimal-summed total
    * follow q120 exactly. */
  def s292EmbeddingDrift(s: SparkSession, dir: String): DataFrame = {
    val binned = Similarity.vecs(s, dir)
      .selectExpr("pmod(lsh_bucket8(v), 16) AS cell",
        "CASE WHEN label < 5 THEN 1 ELSE 0 END AS base")
      .groupBy("cell")
      .agg(sum(col("base")).as("n_base"),
        sum(lit(1) - col("base")).as("n_cur"))
    val grid = s.range(16).select(col("id").cast("int").as("cell"))
      .join(binned, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val tot = grid.agg(sum("n_base").as("tb"), sum("n_cur").as("tc"))
    val terms = grid.crossJoin(broadcast(tot))
      .selectExpr("cell", "n_base", "n_cur",
        "(CAST(n_base + 1 AS DOUBLE) / (tb + 16)) AS p",
        "(CAST(n_cur + 1 AS DOUBLE) / (tc + 16)) AS q")
      .selectExpr("cell", "n_base", "n_cur",
        "round((p - q) * ln(p / q), 6) AS psi_term")
    val total = terms
      .agg(expr("CAST(sum(CAST(psi_term AS DECIMAL(38,6))) AS DOUBLE) AS psi_total"))
    terms.crossJoin(broadcast(total))
      .select(col("cell"), col("n_base"), col("n_cur"), col("psi_term"),
        col("psi_total"), (col("psi_total") < 0.1).as("stable"))
      .orderBy("cell")
  }

  val s292Sql: String =
    s"""WITH e AS (${Similarity.vecsDuck}),
       |sig AS (
       |  SELECT ((${Similarity.lshBucketDuck}) % 16 + 16) % 16 AS cell,
       |    CASE WHEN label < 5 THEN 1 ELSE 0 END AS base
       |  FROM e),
       |binned AS (
       |  SELECT cell, sum(base) AS n_base, sum(1 - base) AS n_cur
       |  FROM sig GROUP BY 1),
       |grid AS (
       |  SELECT CAST(g.range AS INT) AS cell,
       |    CAST(coalesce(n_base, 0) AS BIGINT) AS n_base,
       |    CAST(coalesce(n_cur, 0) AS BIGINT) AS n_cur
       |  FROM range(16) g LEFT JOIN binned ON binned.cell = g.range),
       |tot AS (SELECT sum(n_base) AS tb, sum(n_cur) AS tc FROM grid),
       |terms AS (
       |  SELECT cell, n_base, n_cur,
       |    round(((n_base + 1.0) / (tb + 16) - (n_cur + 1.0) / (tc + 16)) *
       |          ln(((n_base + 1.0) / (tb + 16)) / ((n_cur + 1.0) / (tc + 16))), 6)
       |      AS psi_term
       |  FROM grid, tot),
       |total AS (
       |  SELECT CAST(sum(CAST(psi_term AS DECIMAL(38,6))) AS DOUBLE)
       |    AS psi_total FROM terms)
       |SELECT cell, n_base, n_cur, psi_term, psi_total,
       |  psi_total < 0.1 AS stable
       |FROM terms, total ORDER BY cell""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q120_psi_drift"      -> q120PsiDrift,
    "q121_equidepth_hist" -> q121EquiDepthHist,
    "s292_embedding_drift" -> s292EmbeddingDrift)

  val oracle: Map[String, String] = Map(
    "q120_psi_drift"      -> q120Sql,
    "q121_equidepth_hist" -> q121Sql,
    "s292_embedding_drift" -> s292Sql)
}
