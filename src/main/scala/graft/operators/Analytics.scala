package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Experiment analytics over the event stream: deterministic A/B arm
  * assignment and Welch's two-sample t statistics per metric — the readout
  * a product-analytics pipeline computes over billions of events.
  */
object Analytics {

  /** q149: A/B test readout — users hash-split 50/50 into arms (pure
    * integer arithmetic on user_id: reproducible across engines, reruns,
    * and partitionings — the q75 split convention), then per event_type:
    * per-arm counts, means, sample variances, and Welch's t.
    *
    * Scale shape: ONE aggregation pass — conditional aggregates fold both
    * arms' moment sums (n, Σx, Σx²) in the same map-side combine, so the
    * shuffle carries one row per (event_type) group regardless of event
    * count; everything after the aggregate is per-group scalar math.
    *
    * Determinism: moments accumulate as 6-decimal-quantized DECIMAL(38,6)
    * (order-independent, exact — the [[graft.functions.OracleSafe]]
    * convention); the t statistic derives from those exact sums through one
    * fixed chain of IEEE double ops (sub/mul/div/sqrt are all exact-rounded
    * on identical bits), so both engines compute identical doubles. */
  def q149AbTtest(s: SparkSession, dir: String): DataFrame = {
    // arm split: the ONE shared definition (PortableHash.knuthArm — its
    // scaladoc carries the overflow rationale for the prime pre-reduction)
    val armed = Tables.events(s, dir).selectExpr(
      "event_type",
      s"${graft.functions.PortableHash.knuthArm("user_id")} AS a",
      "CAST(round(value, 6) AS DECIMAL(38,6)) AS x",
      "CAST(round(value * value, 6) AS DECIMAL(38,6)) AS xx")
    armed.groupBy("event_type")
      .agg(
        sum(when(col("a") === 1, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("a") === 0, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("a") === 1, col("x"))).as("sxa"),
        sum(when(col("a") === 0, col("x"))).as("sxb"),
        sum(when(col("a") === 1, col("xx"))).as("sxxa"),
        sum(when(col("a") === 0, col("xx"))).as("sxxb"))
      .selectExpr("event_type", "n_a", "n_b",
        "CAST(sxa AS DOUBLE) / n_a AS ma",
        "CAST(sxb AS DOUBLE) / n_b AS mb",
        // sample variance from exact moment sums: (Σx² − (Σx)²/n) / (n−1)
        """(CAST(sxxa AS DOUBLE) - CAST(sxa AS DOUBLE) * CAST(sxa AS DOUBLE) / n_a)
          | / (n_a - 1) AS va""".stripMargin,
        """(CAST(sxxb AS DOUBLE) - CAST(sxb AS DOUBLE) * CAST(sxb AS DOUBLE) / n_b)
          | / (n_b - 1) AS vb""".stripMargin)
      .selectExpr("event_type", "n_a", "n_b",
        "round(ma, 6) AS mean_a", "round(mb, 6) AS mean_b",
        "round(va, 6) AS var_a", "round(vb, 6) AS var_b",
        "round((ma - mb) / sqrt(va / n_a + vb / n_b), 6) AS t_stat",
        "CAST(abs((ma - mb) / sqrt(va / n_a + vb / n_b)) > 1.96D AS INT) AS significant")
      .orderBy("event_type")
  }

  val q149Sql: String =
    s"""WITH armed AS (
      |  SELECT event_type,
      |    ${graft.functions.PortableHash.knuthArmDuck("user_id")} AS a,
      |    CAST(round(value, 6) AS DECIMAL(38,6)) AS x,
      |    CAST(round(value * value, 6) AS DECIMAL(38,6)) AS xx
      |  FROM events),
      |g AS (
      |  SELECT event_type,
      |    CAST(sum(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    sum(CASE WHEN a = 1 THEN x END) AS sxa,
      |    sum(CASE WHEN a = 0 THEN x END) AS sxb,
      |    sum(CASE WHEN a = 1 THEN xx END) AS sxxa,
      |    sum(CASE WHEN a = 0 THEN xx END) AS sxxb
      |  FROM armed GROUP BY event_type),
      |m AS (
      |  SELECT event_type, n_a, n_b,
      |    CAST(sxa AS DOUBLE) / n_a AS ma,
      |    CAST(sxb AS DOUBLE) / n_b AS mb,
      |    (CAST(sxxa AS DOUBLE) - CAST(sxa AS DOUBLE) * CAST(sxa AS DOUBLE) / n_a)
      |      / (n_a - 1) AS va,
      |    (CAST(sxxb AS DOUBLE) - CAST(sxb AS DOUBLE) * CAST(sxb AS DOUBLE) / n_b)
      |      / (n_b - 1) AS vb
      |  FROM g)
      |SELECT event_type, n_a, n_b,
      |  round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
      |  round(va, 6) AS var_a, round(vb, 6) AS var_b,
      |  round((ma - mb) / sqrt(va / n_a + vb / n_b), 6) AS t_stat,
      |  CAST(abs((ma - mb) / sqrt(va / n_a + vb / n_b)) > 1.96 AS INTEGER)
      |    AS significant
      |FROM m ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q276

  /** q276: CUPED variance reduction — the experimentation technique that
    * makes A/B tests resolve faster: each unit's post-period metric y is
    * adjusted by its own PRE-period covariate x (y* = y − θ(x − x̄), θ =
    * cov(x, y)/var(x), pooled across arms), removing the between-user
    * variance the randomization already balanced. Deng et al. 2013 — the
    * standard production upgrade of q149's plain t-test. Units are users
    * (q149's hash arms); pre/post split at the month midpoint.
    *
    * Scale shape: one pass folds events to per-user (x, y) sums; θ and x̄
    * are ONE pooled moment row (map-side combined, broadcast back); the
    * adjustment is per-row arithmetic; per-arm stats are a second 2-row
    * aggregate. No unit-level anything leaves the executors twice.
    *
    * Determinism: per-user sums are exact decimals; every cross-moment
    * (Σx, Σy, Σxy, Σx², Σy*², …) accumulates via floor-scale quantized
    * longs ([[graft.functions.OracleSafe.qsum6]] — order-independent), so
    * θ and the adjusted variances derive through one fixed IEEE chain.
    * The gate emits the per-arm variance-reduction share. On THIS corpus
    * user activity is memoryless (values are iid draws), so θ lands near
    * zero and the reduction is small (~0.3-0.7%) — which demonstrates
    * CUPED's safety property rather than its best case: the pooled θ
    * minimizes the POOLED residual sum of squares, so the pooled adjusted
    * variance can never exceed the raw one in-sample (Analytics2Spec
    * reconstructs and asserts exactly that; a single small arm can wobble
    * either way, which the spec deliberately does not forbid). */
  def q276CupedAdjust(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.OracleSafe.qsum6
    val users = Tables.events(s, dir).selectExpr(
        "user_id",
        s"${graft.functions.PortableHash.knuthArm("user_id")} AS arm",
        "CAST(ts AS DATE) >= DATE'2024-01-15' AS post",
        "CAST(round(value, 6) AS DECIMAL(38,6)) AS v")
      .groupBy("user_id", "arm")
      .agg(sum(when(col("post"), col("v"))).as("sy"),
        sum(when(!col("post"), col("v"))).as("sx"))
      .selectExpr("user_id", "arm",
        "CAST(coalesce(sy, 0) AS DOUBLE) AS y",
        "CAST(coalesce(sx, 0) AS DOUBLE) AS x")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mom = users.agg(count(lit(1)).as("n"),
        qsum6(col("x")).as("sx"), qsum6(col("y")).as("sy"),
        qsum6(expr("x * y")).as("sxy"), qsum6(expr("x * x")).as("sxx"))
      .selectExpr(
        "(sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta",
        "sx / n AS mx")
    users.crossJoin(broadcast(mom))
      .withColumn("ya", expr("y - theta * (x - mx)"))
      .groupBy("arm")
      .agg(count(lit(1)).as("n_users"),
        max(col("theta")).as("theta"),
        qsum6(col("y")).as("sy"), qsum6(expr("y * y")).as("syy"),
        qsum6(col("ya")).as("sa"), qsum6(expr("ya * ya")).as("saa"))
      .selectExpr("arm", "n_users", "theta",
        "sy / n_users AS my",
        "(syy - sy * sy / n_users) / (n_users - 1) AS vy",
        "sa / n_users AS ma",
        "(saa - sa * sa / n_users) / (n_users - 1) AS va")
      .selectExpr("arm", "n_users", "round(theta, 6) AS theta",
        "round(my, 6) AS mean_y", "round(vy, 6) AS var_y",
        "round(ma, 6) AS mean_adj", "round(va, 6) AS var_adj",
        "round(1.0D - va / vy, 6) AS var_reduction")
      .orderBy("arm")
  }

  val q276Sql: String =
    s"""WITH u AS (
      |  SELECT user_id,
      |    ${graft.functions.PortableHash.knuthArmDuck("user_id")} AS arm,
      |    CAST(coalesce(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-15'
      |      THEN CAST(round(value, 6) AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS y,
      |    CAST(coalesce(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-15'
      |      THEN CAST(round(value, 6) AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS x
      |  FROM events GROUP BY 1, 2),
      |mom AS (
      |  SELECT
      |    (CAST(sum(CAST(floor(x * y * 1e6 + 0.5e0) AS BIGINT)) AS DOUBLE) / 1e6
      |      - CAST(sum(CAST(floor(x * 1e6 + 0.5e0) AS BIGINT)) AS DOUBLE) / 1e6
      |        * (CAST(sum(CAST(floor(y * 1e6 + 0.5e0) AS BIGINT)) AS DOUBLE) / 1e6)
      |        / count(*))
      |    / (CAST(sum(CAST(floor(x * x * 1e6 + 0.5e0) AS BIGINT)) AS DOUBLE) / 1e6
      |      - CAST(sum(CAST(floor(x * 1e6 + 0.5e0) AS BIGINT)) AS DOUBLE) / 1e6
      |        * (CAST(sum(CAST(floor(x * 1e6 + 0.5e0) AS BIGINT)) AS DOUBLE) / 1e6)
      |        / count(*)) AS theta,
      |    CAST(sum(CAST(floor(x * 1e6 + 0.5e0) AS BIGINT)) AS DOUBLE) / 1e6
      |      / count(*) AS mx
      |  FROM u),
      |adj AS (SELECT arm, y, y - theta * (x - mx) AS ya FROM u, mom),
      |st AS (
      |  SELECT arm, count(*) AS n,
      |    CAST(sum(CAST(floor(y * 1e6 + 0.5e0) AS BIGINT)) AS DOUBLE) / 1e6 AS sy,
      |    CAST(sum(CAST(floor(y * y * 1e6 + 0.5e0) AS BIGINT)) AS DOUBLE) / 1e6 AS syy,
      |    CAST(sum(CAST(floor(ya * 1e6 + 0.5e0) AS BIGINT)) AS DOUBLE) / 1e6 AS sa,
      |    CAST(sum(CAST(floor(ya * ya * 1e6 + 0.5e0) AS BIGINT)) AS DOUBLE) / 1e6 AS saa
      |  FROM adj GROUP BY arm)
      |SELECT arm, CAST(n AS BIGINT) AS n_users,
      |  round((SELECT theta FROM mom), 6) AS theta,
      |  round(sy / n, 6) AS mean_y,
      |  round((syy - sy * sy / n) / (n - 1), 6) AS var_y,
      |  round(sa / n, 6) AS mean_adj,
      |  round((saa - sa * sa / n) / (n - 1), 6) AS var_adj,
      |  round(1e0 - ((saa - sa * sa / n) / (n - 1))
      |    / ((syy - sy * sy / n) / (n - 1)), 6) AS var_reduction
      |FROM st ORDER BY arm""".stripMargin

  // ---------------------------------------------------------------- q280

  /** q280: Poisson bootstrap — confidence intervals for the per-type mean
    * WITHOUT resampling rows: each row contributes to replicate b with a
    * Poisson(1) multiplicity (the m-out-of-n approximation of
    * with-replacement sampling that made the bootstrap feasible on
    * massive data — Chamandy et al. 2012), so all B = 32 replicates
    * compute in ONE pass as weighted aggregates, no per-replicate shuffle
    * and no row duplication beyond the ×B projection.
    *
    * Determinism (where textbook bootstraps die on the gate): the Poisson
    * draw is the inverse CDF applied to a HASH-derived uniform
    * (poly_hash(event_id:b)/P — reproducible anywhere), with the CDF
    * thresholds as fixed 6-decimal literals (no runtime exp); replicate
    * sums quantize to scaled longs. The interval is exact rank selection
    * over the 32 replicate means (4th/29th order statistics ≈ 10%/90%),
    * and the replicate spread (bootstrap SE) comes from quantized
    * moments. */
  def q280PoissonBootstrap(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.OracleSafe.qsum6
    import org.apache.spark.sql.expressions.Window
    val B = 32
    // ×B fan-out below: scan parallelism must reach the cores BEFORE the
    // explode (no-op at scale — see SparkSupport.parallelized)
    val rep = graft.SparkSupport.parallelized(Tables.events(s, dir))
      // the rolling hash is LINEAR, so two replicate strings differing only
      // in the b prefix hash to a CONSTANT offset of each other across all
      // ids — u(·, b₀) and u(·, b₁) correlate at 0.9999 and every replicate
      // reuses one weight pattern (measured: intervals collapsed around a
      // single biased weighted mean, excluding the point estimate). The
      // QUADRATIC finalizer (h² + h mod P) breaks the linearity: measured
      // cross-replicate correlation −0.03, mean 0.50, sd 0.289 ≈ √(1/12).
      .selectExpr("event_type", "CAST(round(value, 6) AS DECIMAL(38,6)) AS v",
        s"""explode(transform(sequence(0, ${B - 1}), b -> struct(b AS b,
           |  poly_hash(concat(CAST(b AS STRING), ':', CAST(event_id AS STRING)))
           |    AS h))) AS e""".stripMargin)
      .selectExpr("event_type", "v", "e.b AS b",
        "((e.h * e.h + e.h) % 1000000007L) / 1000000007.0D AS u")
      .selectExpr("event_type", "v", "b",
        """CASE WHEN u < 0.367879D THEN 0 WHEN u < 0.735759D THEN 1
          |     WHEN u < 0.919699D THEN 2 WHEN u < 0.981012D THEN 3
          |     WHEN u < 0.996340D THEN 4 ELSE 5 END AS w""".stripMargin)
    val means = rep.groupBy("event_type", "b")
      .agg(sum(expr("w * v")).as("swv"), sum(col("w")).as("sw"))
      .selectExpr("event_type", "b", "CAST(swv AS DOUBLE) / sw AS mb")
    val ranked = means.withColumn("rn", row_number().over(
      Window.partitionBy("event_type").orderBy(col("mb"), col("b"))))
    val ci = ranked.groupBy("event_type")
      .agg(
        max(when(col("rn") === 4, col("mb"))).as("lo"),
        max(when(col("rn") === 29, col("mb"))).as("hi"),
        count(lit(1)).as("nb"),
        qsum6(col("mb")).as("sm"), qsum6(expr("mb * mb")).as("smm"))
    val point = Tables.events(s, dir)
      .selectExpr("event_type", "CAST(round(value, 6) AS DECIMAL(38,6)) AS v")
      .groupBy("event_type")
      .agg((sum(col("v")).cast("double") / count(lit(1))).as("pm"))
    point.join(ci, "event_type")
      .selectExpr("event_type", "round(pm, 6) AS point_mean",
        "round(lo, 6) AS boot_p10", "round(hi, 6) AS boot_p90",
        "round(sqrt((smm - sm * sm / nb) / (nb - 1)), 6) AS boot_se")
      .orderBy("event_type")
  }

  val q280Sql: String =
    """WITH rep AS (
      |  SELECT event_type, CAST(round(value, 6) AS DECIMAL(38,6)) AS v, b,
      |    CASE WHEN u < 0.367879 THEN 0 WHEN u < 0.735759 THEN 1
      |         WHEN u < 0.919699 THEN 2 WHEN u < 0.981012 THEN 3
      |         WHEN u < 0.996340 THEN 4 ELSE 5 END AS w
      |  FROM (
      |    SELECT event_type, value, b,
      |      ((h * h + h) % 1000000007) / CAST(1000000007 AS DOUBLE) AS u
      |    FROM (
      |      SELECT event_type, value, b,
      |        list_reduce(list_prepend(CAST(7 AS BIGINT),
      |          list_transform(string_split(
      |            CAST(b AS VARCHAR) || ':' || CAST(event_id AS VARCHAR), ''),
      |            c -> CAST(ascii(c) AS BIGINT))),
      |          (acc, x) -> (acc * 31 + x) % 1000000007) AS h
      |      FROM events, (SELECT unnest(range(0, 32)) AS b) bs))),
      |means AS (
      |  SELECT event_type, b,
      |    CAST(sum(w * v) AS DOUBLE) / CAST(sum(w) AS BIGINT) AS mb
      |  FROM rep GROUP BY 1, 2),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type
      |    ORDER BY mb, b) AS rn
      |  FROM means),
      |ci AS (
      |  SELECT event_type,
      |    max(CASE WHEN rn = 4 THEN mb END) AS lo,
      |    max(CASE WHEN rn = 29 THEN mb END) AS hi,
      |    count(*) AS nb,
      |    CAST(sum(CAST(floor(mb * 1e6 + 0.5e0) AS BIGINT)) AS DOUBLE) / 1e6
      |      AS sm,
      |    CAST(sum(CAST(floor(mb * mb * 1e6 + 0.5e0) AS BIGINT)) AS DOUBLE)
      |      / 1e6 AS smm
      |  FROM ranked GROUP BY 1),
      |pt AS (
      |  SELECT event_type,
      |    CAST(sum(CAST(round(value, 6) AS DECIMAL(38,6))) AS DOUBLE)
      |      / count(*) AS pm
      |  FROM events GROUP BY 1)
      |SELECT pt.event_type, round(pm, 6) AS point_mean,
      |  round(lo, 6) AS boot_p10, round(hi, 6) AS boot_p90,
      |  round(sqrt((smm - sm * sm / nb) / (nb - 1)), 6) AS boot_se
      |FROM pt JOIN ci USING (event_type) ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q149_ab_ttest" -> q149AbTtest,
    "q276_cuped_adjust" -> q276CupedAdjust,
    "q280_poisson_bootstrap" -> q280PoissonBootstrap)

  val oracle: Map[String, String] = Map(
    "q149_ab_ttest" -> q149Sql,
    "q276_cuped_adjust" -> q276Sql,
    "q280_poisson_bootstrap" -> q280Sql)
}
